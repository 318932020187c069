"""The stream sinks — incremental near-dup ingestion
(streaming/dedup_stream.py), the streaming rollup and the join views —
and stream-static enrichment: the streaming machinery must reproduce
the batch answer across micro-batch boundaries, re-running with the
same checkpoint must add nothing, and a replay of a committed epoch
must change nothing (every sink commits through operators/ledger.py).
"""

from __future__ import annotations

import os
import re
import tempfile
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from workhop2_etl_spark.operators import ledger
from workhop2_etl_spark.operators.incremental import commit_epoch, sink_files
from workhop2_etl_spark.streaming import dedup_stream as DS
from workhop2_etl_spark.streaming import windows as SW

from tests.conftest import SF_DIR

NUM_HASHES = 16
NUM_BANDS = 4
THRESHOLD = 0.5


def _doc(i: int, words: list[str]) -> dict:
    return {"doc_id": i, "text": " ".join(words)}


def _corpus() -> tuple[list[dict], list[dict]]:
    """Two arrival batches with engineered near-dups:
    - doc 5 ≈ doc 2 (within batch 1 → 5 dropped)
    - doc 13 ≈ doc 2 (cross-batch → 13 dropped via the index)
    - doc 15 ≈ doc 14 (within batch 2 → 15 dropped)
    - doc 17 is empty (NULL signature → always unique)

    Greedy first-wins and transitive closure agree on every pair in
    this corpus (each dup family has one kept canonical and its
    satellites are all within threshold of it), so the test pins the
    documented greedy rule via the Python replay in
    _expected_survivors rather than via a distinguishing fixture —
    building an A~B~C chain with A≁C that is STABLE under a
    16-hash MinHash estimate proved too fragile at 40-token docs.
    """
    base = [f"w{k}" for k in range(40)]

    def variant(*edits: tuple[int, str]) -> list[str]:
        w = list(base)
        for pos, tok in edits:
            w[pos] = tok
        return w

    uniq = lambda i: [f"u{i}_{k}" for k in range(40)]
    batch1 = [
        _doc(0, uniq(0)),
        _doc(1, uniq(1)),
        _doc(2, variant()),                       # canonical of the family
        _doc(3, uniq(3)),
        _doc(4, uniq(4)),
        _doc(5, variant((7, "x5"))),              # ≈ doc 2
    ]
    batch2 = [
        _doc(12, uniq(12)),
        _doc(13, variant((11, "y13"))),           # ≈ doc 2 (cross-batch)
        _doc(14, uniq(14)),
        _doc(15, [w if k != 20 else "z20" for k, w in enumerate(uniq(14))]),  # ≈ doc 14
        _doc(16, uniq(16)),
        _doc(17, [""]),                           # empty-ish doc: always unique
    ]
    return batch1, batch2


@pytest.fixture(scope="module")
def staged(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("neardup")
    stream_dir = str(root / "in")
    os.makedirs(stream_dir)
    batch1, batch2 = _corpus()
    for i, batch in enumerate([batch1, batch2]):
        path = os.path.join(stream_dir, f"batch{i}.parquet")
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([d["doc_id"] for d in batch], pa.int64()),
                    "text": pa.array([d["text"] for d in batch], pa.string()),
                }
            ),
            path,
        )
        # distinct mtimes: FileStreamSource processes oldest-first
        os.utime(path, (time.time() + i, time.time() + i))
    return root, stream_dir, batch1, batch2



_ROLLUP_COLS = ["day", "event_type", "n", "sum_value", "min_value", "max_value"]


def _survivors(spark, out_dir: str) -> list[int]:
    """The doc ids the near-dup sink at ``out_dir`` committed."""
    files = sink_files(spark, out_dir, "neardup-docs")
    return [r["doc_id"] for r in spark.read.parquet(*files).collect()]


def _epoch_files(spark, table: str, epoch: int) -> list[str]:
    """The partial files the rollup sink committed for ``epoch``."""
    return ledger.batch_files(spark, table, "partials", ledger.stream_batch(epoch))


def _uncommit_last_batch(ckpt: str) -> int:
    """Drop the last entry of a streaming checkpoint's commit log, so
    the next run re-delivers that micro-batch with its epoch id — the
    at-least-once replay after a crash inside the sink."""
    commits = os.path.join(ckpt, "commits")
    last = max(int(n) for n in os.listdir(commits) if n.isdigit())
    for name in (str(last), f".{last}.crc"):
        if os.path.exists(os.path.join(commits, name)):
            os.remove(os.path.join(commits, name))
    return last


def _canon_rollup(rows):
    """Canonical comparable set for rollup rows: sum_value is a float
    accumulated in different orders by the partial-combine and
    single-pass paths, so it is compared rounded. ONE definition of
    rollup equality for every test in this file."""
    return {
        tuple(round(r[c], 4) if c == "sum_value" else r[c] for c in _ROLLUP_COLS)
        for r in rows
    }


def _expected_survivors(spark, batches) -> set[int]:
    """Independent replay of the documented FIRST-ID-WINS rule
    (drop a doc similar to the index or to ANY lower-id batch member,
    survivor or not — the operator's one-join-pass semantics, coarser
    than survivors-only greedy): exact signature similarities from
    the engine's batch banded_signatures, rule simulated in plain
    Python over the collected (tiny) corpus."""
    all_rows = [d for b in batches for d in b]
    df = spark.createDataFrame(
        [(d["doc_id"], d["text"]) for d in all_rows], "doc_id long, text string"
    )
    rows = DS.banded_signatures(df, num_hashes=NUM_HASHES, num_bands=NUM_BANDS).collect()
    sig = {}
    buckets: dict[tuple, set[int]] = {}
    for r in rows:
        sig[r["doc_id"]] = r["sig"]
        buckets.setdefault((r["band_id"], r["band_key"]), set()).add(r["doc_id"])

    def est(a: int, b: int) -> float:
        sa, sb = sig.get(a), sig.get(b)
        if sa is None or sb is None:
            return 0.0
        return sum(1 for x, y in zip(sa, sb) if x is not None and x == y) / NUM_HASHES

    def candidates(d: int) -> set[int]:
        out = set()
        for members in buckets.values():
            if d in members:
                out |= members
        out.discard(d)
        return out

    index: set[int] = set()
    survivors: set[int] = set()
    for batch in batches:
        ids = sorted(d["doc_id"] for d in batch)
        for d in ids:
            cands = candidates(d)
            dropped = any(est(d, o) >= THRESHOLD for o in cands if o in index) or any(
                est(d, o) >= THRESHOLD for o in cands if o < d and o in set(ids)
            )
            if not dropped:
                survivors.add(d)
        index |= {d for d in survivors if d in set(ids)}
    return survivors


def test_stream_neardup_ingest_matches_greedy_oracle(spark, staged):
    root, stream_dir, batch1, batch2 = staged
    out_dir = str(root / "out")
    index_dir = str(root / "index")
    ckpt = str(root / "ckpt")
    schema = "doc_id long, text string"
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    DS.stream_neardup_ingest(
        spark,
        stream_dir,
        schema,
        out_dir,
        index_dir,
        ckpt,
        num_hashes=NUM_HASHES,
        num_bands=NUM_BANDS,
        threshold=THRESHOLD,
    )
    got = set(_survivors(spark, out_dir))
    expected = _expected_survivors(spark, [batch1, batch2])
    assert got == expected
    # sanity on the engineered families (greedy, not closure):
    assert 2 in got and 5 not in got and 13 not in got
    assert 14 in got and 15 not in got
    assert 17 in got  # empty doc never matches anything

    # exactly-once: re-run with the same checkpoint adds nothing
    DS.stream_neardup_ingest(
        spark,
        stream_dir,
        schema,
        out_dir,
        index_dir,
        ckpt,
        num_hashes=NUM_HASHES,
        num_bands=NUM_BANDS,
        threshold=THRESHOLD,
    )
    again = _survivors(spark, out_dir)
    assert sorted(again) == sorted(got)  # no survivor twice


def test_stream_static_enrich_equals_batch(spark):
    """st9: the stream-static join, run as a genuine streaming query
    (append mode — joins hold no state), equals the batch join."""
    import tempfile

    from workhop2_etl_spark.session import load_table

    events_path = os.path.join(tempfile.mkdtemp(prefix="w2e_enrich_"), "events.parquet")
    load_table(spark, SF_DIR, "events").write.mode("overwrite").parquet(events_path)
    cust = load_table(spark, SF_DIR, "customer").select(
        "c_custkey", "c_mktsegment"
    ).withColumnRenamed("c_custkey", "cust_key")

    transform = lambda df, wm: SW.enrich_with_dim(df, cust, key="user_id", dim_key="cust_key")
    batch = transform(spark.read.parquet(events_path), None)
    streamed = SW.run_stream_to_memory(
        spark,
        events_path,
        transform,
        "stream_enrich",
        watermark=None,
        output_mode="append",
    )
    srows = sorted(tuple(str(c) for c in r) for r in streamed.collect())
    brows = sorted(tuple(str(c) for c in r) for r in batch.collect())
    assert srows == brows


def test_stream_rollup_equals_batch_and_exactly_once(spark, tmp_path_factory):
    """Streaming incremental rollup: events replayed as a bounded
    stream must materialize exactly the batch rollup, and a re-run
    with the same checkpoint must not double-count."""
    from workhop2_etl_spark.operators.incremental import rollup_events_daily
    from workhop2_etl_spark.session import load_table

    root = tmp_path_factory.mktemp("stream_rollup")
    src = str(root / "events.parquet")
    table = str(root / "daily")
    ckpt = str(root / "ckpt")
    ev = load_table(spark, SF_DIR, "events")
    # several files so availableNow replays multiple micro-batches
    ev.repartition(4).write.mode("overwrite").parquet(src)

    SW.stream_rollup_to_parquet(spark, src, table, ckpt, max_files_per_trigger=1)

    canon = _canon_rollup

    got = canon(SW.read_rollup(spark, table).collect())
    want = canon(rollup_events_daily(spark.read.parquet(src)).collect())
    assert got == want

    # committed re-run adds no batches
    SW.stream_rollup_to_parquet(spark, src, table, ckpt, max_files_per_trigger=1)
    again = canon(SW.read_rollup(spark, table).collect())
    assert again == got

    # retry idempotence: replaying a committed epoch's commit (the
    # at-least-once failure mode), even with different rows, skips and
    # does not change what readers combine
    assert len(ledger.commits(spark, table)) > 1  # several micro-batches ran
    replay = lambda: rollup_events_daily(spark.read.parquet(src))  # noqa: E731
    assert commit_epoch(spark, table, "stream-rollup", 0, replay) == "skipped"
    retried = canon(SW.read_rollup(spark, table).collect())
    assert retried == got


def test_failed_rollup_replay_keeps_committed_totals(spark, tmp_path_factory):
    """A replay of a committed rollup epoch whose ``rollup_fn`` fails
    after its shuffle must leave the committed totals readable: the
    ledger skips the committed epoch, so nothing is deleted and the
    failing partial is never computed."""
    from workhop2_etl_spark.operators.incremental import rollup_events_daily
    from workhop2_etl_spark.session import load_table

    root = tmp_path_factory.mktemp("rollup_failed_replay")
    src = str(root / "events.parquet")
    table = str(root / "daily")
    ckpt = str(root / "ckpt")
    load_table(spark, SF_DIR, "events").repartition(3).write.mode(
        "overwrite"
    ).parquet(src)
    SW.stream_rollup_to_parquet(spark, src, table, ckpt, max_files_per_trigger=1)
    before = _canon_rollup(SW.read_rollup(spark, table).collect())

    def failing(batch):
        part = rollup_events_daily(batch)
        return part.withColumn("n", F.when(
            F.col("n") > 0, F.raise_error(F.lit("replay failed after its shuffle"))
        ).otherwise(F.col("n")))

    assert _uncommit_last_batch(ckpt) >= 1
    SW.stream_rollup_to_parquet(
        spark, src, table, ckpt, max_files_per_trigger=1, rollup_fn=failing
    )
    assert _canon_rollup(SW.read_rollup(spark, table).collect()) == before


def test_failed_join_view_replay_keeps_view(spark, tmp_path_factory):
    """A replay of a committed join-view epoch whose fact delta fails
    after its shuffle must leave the view and its history as they
    were, so the next epoch still brings the view to the batch join.
    The failing row has a NULL key: the view's join filters it out, so
    only the fact side's own write would evaluate it — each of the
    three sinks skips the committed epoch instead."""
    from workhop2_etl_spark.operators.incremental import (
        apply_join_delta,
        read_join_view,
    )
    from workhop2_etl_spark.session import load_table

    root = tmp_path_factory.mktemp("join_view_failed_replay")
    dirs = [str(root / d) for d in ("a", "b", "view")]
    orders = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = load_table(spark, SF_DIR, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_name"
    )
    splits = [
        (orders.filter(F.col("o_orderkey") % 3 == k),
         cust.filter(F.col("o_custkey") % 3 == k))
        for k in range(3)
    ]
    for n, (da, db) in enumerate(splits[:2]):
        apply_join_delta(spark, *dirs, da, db, "o_custkey", n)
    n_rows = read_join_view(spark, dirs[2]).count()

    orphan = spark.createDataFrame([(-1, None, 0.0)], orders.schema)
    failing = (
        splits[1][0].unionByName(orphan).repartition(2)
        .withColumn("o_totalprice", F.when(
            F.col("o_custkey").isNull(), F.raise_error(F.lit("replay failed"))
        ).otherwise(F.col("o_totalprice")))
    )
    apply_join_delta(spark, *dirs, failing, splits[1][1], "o_custkey", 1)
    assert read_join_view(spark, dirs[2]).count() == n_rows

    apply_join_delta(spark, *dirs, *splits[2], "o_custkey", 2)
    assert read_join_view(spark, dirs[2]).count() == orders.join(
        cust, "o_custkey"
    ).count()


def test_rollup_epoch_compaction_preserves_totals(spark, tmp_path_factory):
    """Folding per-epoch partials into one must not change what
    read_rollup returns, and must leave one base file and no epoch
    file."""
    from workhop2_etl_spark.operators.incremental import compact_rollup_epochs
    from workhop2_etl_spark.session import load_table

    root = tmp_path_factory.mktemp("rollup_compact")
    src = str(root / "events.parquet")
    table = str(root / "daily")
    ev = load_table(spark, SF_DIR, "events")
    ev.repartition(3).write.mode("overwrite").parquet(src)
    SW.stream_rollup_to_parquet(
        spark, src, table, str(root / "ckpt"), max_files_per_trigger=1
    )

    canon = _canon_rollup

    before = canon(SW.read_rollup(spark, table).collect())
    n = compact_rollup_epochs(spark, table)
    assert n >= 2
    after = canon(SW.read_rollup(spark, table).collect())
    assert after == before
    # layout: every committed epoch folded into one base file
    assert ledger.batches(spark, table, ["partials"]) == {}
    assert len(sink_files(spark, table, "stream-rollup")) == 1

    # a second compaction with no epoch left to fold is a no-op
    assert compact_rollup_epochs(spark, table) == 0
    assert canon(SW.read_rollup(spark, table).collect()) == before


def test_folded_epoch_replay_after_compaction(spark, tmp_path_factory):
    """The at-least-once failure mode compaction must survive: after
    the epochs are folded into the base, a late replay of a folded
    epoch — re-delivered by the stream, or committed directly with
    different rows — skips at its ledger marker. Totals stay the same,
    and the next compaction finds nothing to fold."""
    from workhop2_etl_spark.operators.incremental import (
        compact_rollup_epochs,
        rollup_events_daily,
    )
    from workhop2_etl_spark.session import load_table

    root = tmp_path_factory.mktemp("rollup_replay")
    src = str(root / "events.parquet")
    table = str(root / "daily")
    ckpt = str(root / "ckpt")
    ev = load_table(spark, SF_DIR, "events")
    ev.repartition(3).write.mode("overwrite").parquet(src)
    SW.stream_rollup_to_parquet(spark, src, table, ckpt, max_files_per_trigger=1)

    canon = _canon_rollup

    before = canon(SW.read_rollup(spark, table).collect())
    assert compact_rollup_epochs(spark, table) == 3

    # the stream re-delivers its last (folded) epoch
    _uncommit_last_batch(ckpt)
    SW.stream_rollup_to_parquet(spark, src, table, ckpt, max_files_per_trigger=1)
    assert canon(SW.read_rollup(spark, table).collect()) == before

    # worst case: the replayed partial differs (e.g. a bigger batch) —
    # still skipped, because the epoch's marker outlives its files
    bigger = lambda: rollup_events_daily(spark.read.parquet(src))  # noqa: E731
    assert commit_epoch(spark, table, "stream-rollup", 0, bigger) == "skipped"
    assert canon(SW.read_rollup(spark, table).collect()) == before

    assert compact_rollup_epochs(spark, table) == 0
    assert canon(SW.read_rollup(spark, table).collect()) == before


def test_rollup_and_compaction_on_file_uri(spark, tmp_path_factory):
    """The epoch sinks' directory protocol runs through the Hadoop
    FileSystem API (sources/fs.py): exercising an explicit ``file:``
    URI — a path os.listdir cannot handle — proves the scheme-resolved
    code path end to end (refresh, streaming sink, reader, compaction)."""
    from workhop2_etl_spark.operators.incremental import (
        compact_rollup_epochs,
        refresh_daily_rollup,
        rollup_events_daily,
    )
    from workhop2_etl_spark.session import load_table
    from workhop2_etl_spark.sources import fs

    root = tmp_path_factory.mktemp("rollup_uri")
    src = str(root / "events.parquet")
    ev = load_table(spark, SF_DIR, "events")
    ev.repartition(3).write.mode("overwrite").parquet(src)

    # refresh path on a file: URI (bootstrap + incremental fold)
    table_uri = "file://" + str(root / "daily_refresh")
    lt_cut = F.to_date("ts") < F.lit("2024-01-15").cast("date")
    refresh_daily_rollup(spark, table_uri, ev.filter(lt_cut))
    refresh_daily_rollup(spark, table_uri, ev.filter(~lt_cut))
    got = {
        tuple(str(r[c]) for c in ["day", "event_type", "n"])
        for r in spark.read.parquet(table_uri).collect()
    }
    want = {
        tuple(str(r[c]) for c in ["day", "event_type", "n"])
        for r in rollup_events_daily(ev).collect()
    }
    assert got == want

    # streaming epoch sink + compaction on a file: URI
    stream_uri = "file://" + str(root / "daily_stream")
    SW.stream_rollup_to_parquet(
        spark, src, stream_uri, str(root / "ckpt"), max_files_per_trigger=1
    )
    canon = _canon_rollup
    before = canon(SW.read_rollup(spark, stream_uri).collect())
    assert compact_rollup_epochs(spark, stream_uri) >= 2
    assert canon(SW.read_rollup(spark, stream_uri).collect()) == before
    assert ledger.batches(spark, stream_uri, ["partials"]) == {}
    assert len(fs.data_files(spark, fs.join(stream_uri, "partials"))) == 1


def test_stream_neardup_ingest_on_file_uri(spark, staged):
    """Dedup ingest with out/index dirs as file: URIs — the index
    discovery inside foreachBatch must list via the Hadoop FS API."""
    root, stream_dir, batch1, batch2 = staged
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    out_uri = "file://" + str(root / "out_uri")
    index_uri = "file://" + str(root / "index_uri")
    DS.stream_neardup_ingest(
        spark,
        stream_dir,
        schema,
        out_uri,
        index_uri,
        str(root / "ckpt_uri"),
        num_hashes=NUM_HASHES,
        num_bands=NUM_BANDS,
        threshold=THRESHOLD,
    )
    got = set(_survivors(spark, out_uri))
    assert got == _expected_survivors(spark, [batch1, batch2])


def test_index_compaction_then_continued_ingest(spark, tmp_path_factory):
    """Compacting the dedup index between runs must not change
    decisions: batches 1-2 ingest, the index epochs fold into base
    files, then a NEW batch arrives and must still be checked against
    everything accepted so far (via the base) — survivors equal the
    greedy oracle over all three batches."""
    import pyarrow as _pa
    import pyarrow.parquet as _pq

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    root = tmp_path_factory.mktemp("neardup_compact")
    stream_dir = str(root / "in")
    os.makedirs(stream_dir)
    batch1, batch2 = _corpus()
    # batch3: doc 23 ≈ doc 2 (batch-1 canonical — must be caught via
    # the COMPACTED index), doc 24 unique
    base = [f"w{k}" for k in range(40)]
    v23 = list(base)
    v23[3] = "q23"
    batch3 = [_doc(23, v23), _doc(24, [f"u24_{k}" for k in range(40)])]

    def write_batch(i, batch):
        path = os.path.join(stream_dir, f"batch{i}.parquet")
        _pq.write_table(
            _pa.table(
                {
                    "doc_id": _pa.array([d["doc_id"] for d in batch], _pa.int64()),
                    "text": _pa.array([d["text"] for d in batch], _pa.string()),
                }
            ),
            path,
        )
        os.utime(path, (time.time() + i, time.time() + i))

    write_batch(0, batch1)
    write_batch(1, batch2)
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    out_dir, index_dir, ckpt = str(root / "out"), str(root / "index"), str(root / "ckpt")
    run = lambda: DS.stream_neardup_ingest(
        spark, stream_dir, schema, out_dir, index_dir, ckpt,
        num_hashes=NUM_HASHES, num_bands=NUM_BANDS, threshold=THRESHOLD,
    )
    run()

    n = DS.compact_index_epochs(spark, index_dir)
    assert n == 2  # both committed epochs folded
    assert ledger.batches(spark, index_dir, ["bands"]) == {}
    # idempotent when no epoch is left to fold
    assert DS.compact_index_epochs(spark, index_dir) == 0

    write_batch(2, batch3)
    run()  # same checkpoint: only batch3 processes, as epoch 2

    got = set(_survivors(spark, out_dir))
    expected = _expected_survivors(spark, [batch1, batch2, batch3])
    assert got == expected
    assert 23 not in got and 24 in got  # dup caught THROUGH the base


def test_stream_distinct_sketch_rollup_matches_batch(spark, tmp_path_factory):
    """The generalized epoch sink carries the HLL distinct-count
    measure: streamed per-epoch sketch partials, combined by the
    reader, must estimate EXACTLY what the single-pass batch sketch
    estimates (union of partials is bit-identical), and epoch
    compaction must not change the estimates."""
    from workhop2_etl_spark.operators.incremental import (
        combine_distinct_rollups,
        compact_rollup_epochs,
        distinct_users_estimate,
        rollup_events_daily_distinct,
    )
    from workhop2_etl_spark.session import load_table

    root = tmp_path_factory.mktemp("distinct_stream")
    src = str(root / "events.parquet")
    table = str(root / "daily_distinct")
    ev = load_table(spark, SF_DIR, "events")
    ev.repartition(3).write.mode("overwrite").parquet(src)

    SW.stream_rollup_to_parquet(
        spark,
        src,
        table,
        str(root / "ckpt"),
        max_files_per_trigger=1,
        rollup_fn=rollup_events_daily_distinct,
    )

    def estimates(df):
        return {
            (r.day, r.event_type): r.n_users_est
            for r in distinct_users_estimate(df).collect()
        }

    got = estimates(SW.read_rollup(spark, table, combine_fn=combine_distinct_rollups))
    want = estimates(rollup_events_daily_distinct(spark.read.parquet(src)))
    assert got == want  # exact, not approximate: same sketch algorithm

    # folding the epochs into the base must preserve every estimate
    assert compact_rollup_epochs(
        spark, table, combine_fn=combine_distinct_rollups
    ) >= 2
    after = estimates(SW.read_rollup(spark, table, combine_fn=combine_distinct_rollups))
    assert after == want


def test_stream_hist_rollup_and_epoch_time_travel(spark, tmp_path_factory):
    """The epoch sink carries the histogram-quantile measure, and the
    reader time-travels: as_of=N combines exactly the partials of
    epochs 0..N; compaction preserves the present but makes pre-fold
    snapshots raise instead of answering wrong, while snapshots at or
    after the fold read the base plus the later epochs."""
    import pytest as _pytest

    from workhop2_etl_spark.operators.incremental import (
        combine_hist_rollups,
        compact_rollup_epochs,
        rollup_events_daily_hist,
    )
    from workhop2_etl_spark.session import load_table

    root = tmp_path_factory.mktemp("hist_stream")
    src = str(root / "events.parquet")
    table = str(root / "daily_hist")
    ckpt = str(root / "ckpt")
    ev = load_table(spark, SF_DIR, "events")
    ev.repartition(4).write.mode("overwrite").parquet(src)

    def stream():
        SW.stream_rollup_to_parquet(
            spark, src, table, ckpt, max_files_per_trigger=1,
            rollup_fn=rollup_events_daily_hist,
        )

    def cells(df):
        return {(r.day, r.event_type): (r.n, list(r.hist)) for r in df.collect()}

    def read(as_of=None):
        return cells(SW.read_rollup(
            spark, table, combine_fn=combine_hist_rollups, as_of=as_of
        ))

    stream()
    full = read()
    want = cells(rollup_events_daily_hist(spark.read.parquet(src)))
    assert full == want  # bit-identical bin vectors, however split

    # snapshot as of epoch 1: exactly epochs {0, 1}'s partials (the
    # stream assigns files to epochs in its own order, so the
    # expectation reads the files it actually committed)
    snap1_want = cells(combine_hist_rollups(spark.read.parquet(
        *_epoch_files(spark, table, 0), *_epoch_files(spark, table, 1)
    )))
    assert read(as_of=1) == snap1_want
    assert sum(n for n, _ in snap1_want.values()) < sum(n for n, _ in full.values())

    # compaction folds epochs 0-3 into the base; present unchanged,
    # pre-fold history now refuses rather than lying
    assert compact_rollup_epochs(spark, table, combine_fn=combine_hist_rollups) == 4
    assert read() == want
    assert read(as_of=3) == want
    with _pytest.raises(ValueError, match="compacted away"):
        read(as_of=1)

    # an epoch committed after the fold: snapshots at the fold read the
    # base alone, later ones the base plus the new epoch
    ev.limit(40).write.mode("append").parquet(src)
    stream()
    assert read(as_of=3) == want
    grown = read(as_of=4)
    assert grown == read() == cells(rollup_events_daily_hist(spark.read.parquet(src)))
    assert grown != want


def test_stream_join_view_matches_batch_join(spark, tmp_path_factory):
    """Checkpointed streaming join-view maintenance: fact appends
    arrive in micro-batches, the dim seeds once, the maintained view
    equals the batch inner join; a second availableNow run with the
    same checkpoint adds nothing (exactly-once through replay-
    idempotent epoch overwrites)."""
    from workhop2_etl_spark.operators.incremental import read_join_view
    from workhop2_etl_spark.session import load_table

    root = tmp_path_factory.mktemp("join_view_stream")
    src = str(root / "orders.parquet")
    orders = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = load_table(spark, SF_DIR, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_name", "c_acctbal"
    )
    orders.repartition(3).write.mode("overwrite").parquet(src)

    kw = dict(
        fact_path=src,
        dim=cust,
        a_dir=str(root / "a"),
        b_dir=str(root / "b"),
        view_dir=str(root / "view"),
        on="o_custkey",
        checkpoint_dir=str(root / "ckpt"),
        max_files_per_trigger=1,
    )
    SW.stream_join_view_to_parquet(spark, **kw)

    got = read_join_view(spark, str(root / "view"))
    want = orders.join(cust, "o_custkey", "inner")
    key = lambda r: (r.o_custkey, r.o_orderkey)
    assert sorted(map(key, got.collect())) == sorted(map(key, want.collect()))
    n = got.count()
    assert n > 0

    # same checkpoint, no new files: nothing re-processed, view flat
    SW.stream_join_view_to_parquet(spark, **kw)
    assert read_join_view(spark, str(root / "view")).count() == n


def test_stream_two_sided_join_view(spark, tmp_path_factory):
    """Both join sides interleaved on ONE stream (CDC-feed shape):
    the maintained view equals the batch join — including pairs whose
    two sides arrived in the same micro-batch (the dA⋈dB term) — and
    a same-checkpoint re-run adds nothing."""
    from workhop2_etl_spark.operators.incremental import read_join_view
    from workhop2_etl_spark.session import load_table

    root = tmp_path_factory.mktemp("two_sided_view")
    src = str(root / "feed.parquet")
    orders = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = load_table(spark, SF_DIR, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_name", "c_acctbal"
    )
    feed = (
        orders.select(
            F.lit("a").alias("side"), "o_custkey", "o_orderkey",
            "o_totalprice", F.lit(None).cast("string").alias("c_name"),
            F.lit(None).cast("double").alias("c_acctbal"),
        )
        .unionByName(
            cust.select(
                F.lit("b").alias("side"), "o_custkey",
                F.lit(None).cast("long").alias("o_orderkey"),
                F.lit(None).cast("double").alias("o_totalprice"),
                "c_name", "c_acctbal",
            )
        )
    )
    feed.repartition(3).write.mode("overwrite").parquet(src)

    kw = dict(
        src_path=src,
        split_a=lambda b: b.filter(F.col("side") == "a").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        ),
        split_b=lambda b: b.filter(F.col("side") == "b").select(
            "o_custkey", "c_name", "c_acctbal"
        ),
        a_dir=str(root / "a"),
        b_dir=str(root / "b"),
        view_dir=str(root / "view"),
        on="o_custkey",
        checkpoint_dir=str(root / "ckpt"),
        max_files_per_trigger=1,
    )
    SW.stream_join_view_two_sided(spark, **kw)

    got = read_join_view(spark, str(root / "view"))
    want = orders.join(cust, "o_custkey", "inner")
    key = lambda r: (r.o_custkey, r.o_orderkey)
    assert sorted(map(key, got.collect())) == sorted(map(key, want.collect()))
    n = got.count()
    assert n > 0

    SW.stream_join_view_two_sided(spark, **kw)
    assert read_join_view(spark, str(root / "view")).count() == n


# ---------------------------------------------------------------------------
# Checkpoint binding: a stream epoch id is its checkpoint's batch id, so
# a FRESH checkpoint restarts at 0 and the ledger would skip its batches
# as committed. Every ledgered sink is bound to its checkpoint
# (operators/ledger.py::bind_stream) and refuses a different one; the
# same checkpoint spelled differently still resumes, also after a
# compaction.
# ---------------------------------------------------------------------------


def _spellings(ckpt: str) -> list[str]:
    """The checkpoint ``ckpt`` as a trailing-slash, a relative and a
    ``file:`` URI path: all name the same checkpoint."""
    return [ckpt + "/", os.path.relpath(ckpt), f"file://{ckpt}"]


def _check_binding(run, read, add_file, ckpt: str, fresh: str, compact) -> None:
    """Drive a sink whose ``run(checkpoint)`` committed two or more
    epochs under ``ckpt``: after ``add_file()``, a ``fresh`` checkpoint
    raises naming it and leaves ``read()`` unchanged; the other
    spellings of ``ckpt`` resume; after ``compact()`` the fresh
    checkpoint still raises and ``ckpt`` still resumes. The caller
    compares the final ``read()`` with the batch answer."""
    before = read()
    add_file()
    with pytest.raises(ValueError, match=re.escape(fresh)):
        run(fresh)
    assert read() == before
    for spelling in _spellings(ckpt):
        run(spelling)
    grown = read()
    assert grown != before
    assert compact() >= 3
    add_file()
    with pytest.raises(ValueError, match="different checkpoint"):
        run(fresh)
    assert read() == grown
    run(ckpt)
    assert read() != grown


def test_rollup_refuses_a_fresh_checkpoint(spark, tmp_path_factory):
    from workhop2_etl_spark.operators.incremental import (
        compact_rollup_epochs,
        rollup_events_daily,
    )
    from workhop2_etl_spark.session import load_table

    root = tmp_path_factory.mktemp("rollup_bind")
    src, table, ckpt = (str(root / d) for d in ("events", "daily", "ckpt"))
    ev = load_table(spark, SF_DIR, "events")
    parts = [ev.filter(F.col("event_id") % 4 == k) for k in range(4)]
    for part in parts[:2]:
        part.coalesce(1).write.mode("append").parquet(src)
    pending = iter(parts[2:])

    def run(checkpoint):
        SW.stream_rollup_to_parquet(
            spark, src, table, checkpoint, max_files_per_trigger=1
        )

    def read():
        return _canon_rollup(SW.read_rollup(spark, table).collect())

    run(ckpt)
    assert len(ledger.commits(spark, table)) == 2
    _check_binding(
        run, read,
        lambda: next(pending).coalesce(1).write.mode("append").parquet(src),
        ckpt, str(root / "fresh"),
        lambda: compact_rollup_epochs(spark, table),
    )
    assert read() == _canon_rollup(rollup_events_daily(ev).collect())


def _orders_and_customers(spark):
    from workhop2_etl_spark.session import load_table

    orders = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = load_table(spark, SF_DIR, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_name"
    )
    return orders, cust


def _view_keys(spark, view_dir: str) -> list:
    from workhop2_etl_spark.operators.incremental import read_join_view

    return sorted(
        (r.o_custkey, r.o_orderkey)
        for r in read_join_view(spark, view_dir).collect()
    )


def test_join_view_refuses_a_fresh_checkpoint(spark, tmp_path_factory):
    from workhop2_etl_spark.operators.incremental import compact_join_view

    root = tmp_path_factory.mktemp("join_view_bind")
    src, ckpt = str(root / "orders"), str(root / "ckpt")
    dirs = [str(root / d) for d in ("a", "b", "view")]
    orders, cust = _orders_and_customers(spark)
    parts = [orders.filter(F.col("o_orderkey") % 4 == k) for k in range(4)]
    parts[0].coalesce(1).write.mode("append").parquet(src)
    pending = iter(parts[1:])

    def run(checkpoint):
        SW.stream_join_view_to_parquet(
            spark, src, cust, *dirs, on="o_custkey",
            checkpoint_dir=checkpoint, max_files_per_trigger=1,
        )

    run(ckpt)  # the dim seed (epoch 0) and one fact epoch
    _check_binding(
        run, lambda: _view_keys(spark, dirs[2]),
        lambda: next(pending).coalesce(1).write.mode("append").parquet(src),
        ckpt, str(root / "fresh"),
        lambda: compact_join_view(spark, *dirs),
    )
    fact = spark.read.parquet(src)
    assert _view_keys(spark, dirs[2]) == sorted(
        (r.o_custkey, r.o_orderkey)
        for r in fact.join(cust, "o_custkey").collect()
    )


def test_two_sided_join_view_refuses_a_fresh_checkpoint(spark, tmp_path_factory):
    from workhop2_etl_spark.operators.incremental import compact_join_view

    root = tmp_path_factory.mktemp("two_sided_bind")
    src, ckpt = str(root / "feed"), str(root / "ckpt")
    dirs = [str(root / d) for d in ("a", "b", "view")]
    orders, cust = _orders_and_customers(spark)
    feed = orders.select(
        F.lit("a").alias("side"), "o_custkey", "o_orderkey", "o_totalprice",
        F.lit(None).cast("string").alias("c_name"),
    ).unionByName(cust.select(
        F.lit("b").alias("side"), "o_custkey",
        F.lit(None).cast("long").alias("o_orderkey"),
        F.lit(None).cast("double").alias("o_totalprice"), "c_name",
    ))
    parts = [feed.filter(F.col("o_custkey") % 4 == k) for k in range(4)]
    for part in parts[:2]:
        part.coalesce(1).write.mode("append").parquet(src)
    pending = iter(parts[2:])

    def run(checkpoint):
        SW.stream_join_view_two_sided(
            spark, src,
            lambda b: b.filter(F.col("side") == "a").select(
                "o_orderkey", "o_custkey", "o_totalprice"),
            lambda b: b.filter(F.col("side") == "b").select(
                "o_custkey", "c_name"),
            *dirs, on="o_custkey", checkpoint_dir=checkpoint,
            max_files_per_trigger=1,
        )

    run(ckpt)
    _check_binding(
        run, lambda: _view_keys(spark, dirs[2]),
        lambda: next(pending).coalesce(1).write.mode("append").parquet(src),
        ckpt, str(root / "fresh"),
        lambda: compact_join_view(spark, *dirs),
    )
    assert _view_keys(spark, dirs[2]) == sorted(
        (r.o_custkey, r.o_orderkey)
        for r in orders.join(cust, "o_custkey").collect()
    )


def test_neardup_refuses_a_fresh_checkpoint(spark, tmp_path_factory):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    root = tmp_path_factory.mktemp("neardup_bind")
    stream_dir = str(root / "in")
    os.makedirs(stream_dir)
    batch1, batch2 = _corpus()
    base = [f"w{k}" for k in range(40)]
    # doc 23 ≈ doc 2 (caught through the index), 24 and 34 unique
    batches = [batch1, batch2, [
        _doc(23, base[:3] + ["q23"] + base[4:]),
        _doc(24, [f"u24_{k}" for k in range(40)]),
    ], [_doc(34, [f"u34_{k}" for k in range(40)])]]
    pending = iter(enumerate(batches))

    def add_file():
        i, batch = next(pending)
        path = os.path.join(stream_dir, f"batch{i}.parquet")
        pq.write_table(pa.table({
            "doc_id": pa.array([d["doc_id"] for d in batch], pa.int64()),
            "text": pa.array([d["text"] for d in batch], pa.string()),
        }), path)
        os.utime(path, (time.time() + i, time.time() + i))

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    out_dir, index_dir, ckpt = (str(root / d) for d in ("out", "index", "ckpt"))

    def run(checkpoint):
        DS.stream_neardup_ingest(
            spark, stream_dir, schema, out_dir, index_dir, checkpoint,
            num_hashes=NUM_HASHES, num_bands=NUM_BANDS, threshold=THRESHOLD,
        )

    add_file()
    add_file()
    run(ckpt)
    _check_binding(
        run, lambda: sorted(_survivors(spark, out_dir)), add_file,
        ckpt, str(root / "fresh"),
        lambda: DS.compact_index_epochs(spark, index_dir),
    )
    assert set(_survivors(spark, out_dir)) == _expected_survivors(spark, batches)
