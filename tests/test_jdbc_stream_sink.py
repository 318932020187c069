"""Transactional exactly-once stream → JDBC sink (embedded Derby).

Covers the three delivery hazards foreachBatch exposes:
incremental catch-up (new files, same checkpoint), full-replay
no-op (same checkpoint, no new input), and the one pure idempotence
can't fix — a replayed batch id arriving with DIFFERENT data after
its transaction already committed (the ledger must win).
"""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from workhop2_etl_spark.sources.readers import read_jdbc
from workhop2_etl_spark.streaming.jdbc_sink import (
    jdbc_upsert_batch,
    stream_upsert_to_jdbc,
)

DRIVER = {"driver": "org.apache.derby.iapi.jdbc.AutoloadedDriver"}


@pytest.fixture(scope="module")
def derby_url():
    db_dir = os.path.join(tempfile.mkdtemp(prefix="w2e_derby_stream_"), "db")
    return f"jdbc:derby:{db_dir};create=true"


@pytest.fixture()
def events(spark, sf_dir):
    return (
        spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        .select("event_id", "user_id", "event_type", "value")
        .withColumn("value", F.col("value").cast("double"))
    )


def _target_rows(spark, derby_url, table):
    return {
        r.event_id: (r.user_id, r.event_type, r.value)
        for r in read_jdbc(spark, derby_url, table=table, **DRIVER).collect()
    }


def test_stream_jdbc_sink_catchup_and_exactly_once(spark, derby_url, events, tmp_path):
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    first = events.filter(F.col("event_id") % 2 == 0)
    second = events.filter(F.col("event_id") % 2 == 1)

    first.write.mode("append").parquet(src)
    stream_upsert_to_jdbc(spark, src, derby_url, "EV_SINK", ["event_id"], ckpt, **DRIVER)
    got = _target_rows(spark, derby_url, "EV_SINK")
    assert len(got) == first.count()

    # catch-up: new files land, SAME checkpoint — only the delta applies
    second.write.mode("append").parquet(src)
    stream_upsert_to_jdbc(spark, src, derby_url, "EV_SINK", ["event_id"], ckpt, **DRIVER)
    got = _target_rows(spark, derby_url, "EV_SINK")
    assert len(got) == events.count()

    # full replay with no new input: nothing changes
    before = got
    stream_upsert_to_jdbc(spark, src, derby_url, "EV_SINK", ["event_id"], ckpt, **DRIVER)
    assert _target_rows(spark, derby_url, "EV_SINK") == before

    # values round-tripped exactly
    expect = {
        r.event_id: (r.user_id, r.event_type, r.value) for r in events.collect()
    }
    assert before == expect


def test_replayed_epoch_with_different_data_is_skipped(spark, derby_url, events):
    """The transactional guarantee idempotent-upsert sinks lack: a
    batch id that already committed must be a no-op on replay even if
    the replay carries different (corrupted / re-read) data."""
    # orderBy before limit: an unordered LIMIT can pick different
    # rows when re-evaluated for the expectation below
    batch = events.orderBy("event_id").limit(10)
    assert jdbc_upsert_batch(batch, 7, derby_url, "EV_TXN", ["event_id"], **DRIVER)

    poisoned = batch.withColumn("value", F.lit(-999.0))
    assert not jdbc_upsert_batch(poisoned, 7, derby_url, "EV_TXN", ["event_id"], **DRIVER)

    got = _target_rows(spark, derby_url, "EV_TXN")
    expect = {r.event_id: (r.user_id, r.event_type, r.value) for r in batch.collect()}
    assert got == expect

    # a NEW batch id with the same keys does apply (last-writer-wins)
    assert jdbc_upsert_batch(poisoned, 8, derby_url, "EV_TXN", ["event_id"], **DRIVER)
    got = _target_rows(spark, derby_url, "EV_TXN")
    assert all(v[2] == -999.0 for v in got.values())


def test_ledger_refuses_batch_below_watermark(spark, derby_url, events):
    """A batch id strictly below the ledger's max means the stream's
    checkpoint no longer matches this ledger (deleted checkpoint
    restarting at 0, or a second pipeline sharing the target).
    Silently skipping would drop every new batch — must raise."""
    batch = events.orderBy("event_id").limit(5)
    assert jdbc_upsert_batch(batch, 3, derby_url, "EV_WM", ["event_id"], **DRIVER)
    assert jdbc_upsert_batch(batch, 4, derby_url, "EV_WM", ["event_id"], **DRIVER)
    # replay of the top batch: legitimate no-op
    assert not jdbc_upsert_batch(batch, 4, derby_url, "EV_WM", ["event_id"], **DRIVER)
    # a fresh checkpoint would restart at 0 — refuse, don't skip
    with pytest.raises(RuntimeError, match="does not match this ledger"):
        jdbc_upsert_batch(batch, 0, derby_url, "EV_WM", ["event_id"], **DRIVER)


def test_merge_updates_and_inserts_in_one_batch(spark, derby_url, events):
    """One batch mixing updates (existing keys) and inserts (new
    keys) — the MERGE must route each row correctly."""
    base = events.orderBy("event_id").limit(20)
    assert jdbc_upsert_batch(base, 1, derby_url, "EV_MIX", ["event_id"], **DRIVER)

    updated = base.orderBy("event_id").limit(5).withColumn("value", F.col("value") + 1000.0)
    fresh = events.subtract(base).orderBy("event_id").limit(5)
    mixed = updated.unionByName(fresh)
    assert jdbc_upsert_batch(mixed, 2, derby_url, "EV_MIX", ["event_id"], **DRIVER)

    got = _target_rows(spark, derby_url, "EV_MIX")
    assert len(got) == 25
    bumped = {r.event_id for r in updated.collect()}
    for r in base.collect():
        want = r.value + 1000.0 if r.event_id in bumped else r.value
        assert got[r.event_id][2] == pytest.approx(want)


def test_fresh_checkpoint_raises_and_same_checkpoint_resumes(
    spark, derby_url, events, tmp_path
):
    """The ledger's batch ids are the checkpoint's: a new checkpoint
    restarts at batch 0, which a ledger at batch 0 would take for the
    replay of its in-flight batch and skip. So the stream binds the
    ledger to its checkpoint: a different one raises before any batch
    (naming it) and leaves the target as it was; the same checkpoint
    spelled differently resumes."""
    src = str(tmp_path / "src")
    ckpt_a, ckpt_b = str(tmp_path / "ckpt_a"), str(tmp_path / "ckpt_b")
    first = events.filter(F.col("event_id") % 2 == 0)
    first.write.mode("append").parquet(src)
    stream_upsert_to_jdbc(spark, src, derby_url, "EV_FRESH", ["event_id"], ckpt_a, **DRIVER)
    n_first = first.count()
    assert len(_target_rows(spark, derby_url, "EV_FRESH")) == n_first

    events.filter(F.col("event_id") % 2 == 1).write.mode("append").parquet(src)
    with pytest.raises(ValueError, match="ckpt_b"):
        stream_upsert_to_jdbc(spark, src, derby_url, "EV_FRESH", ["event_id"], ckpt_b, **DRIVER)
    assert len(_target_rows(spark, derby_url, "EV_FRESH")) == n_first
    assert not os.path.exists(ckpt_b)

    stream_upsert_to_jdbc(
        spark, src, derby_url, "EV_FRESH", ["event_id"], f"file:{ckpt_a}/", **DRIVER
    )
    expect = {
        r.event_id: (r.user_id, r.event_type, r.value) for r in events.collect()
    }
    assert _target_rows(spark, derby_url, "EV_FRESH") == expect
