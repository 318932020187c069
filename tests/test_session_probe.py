"""Storage abstraction of the events timestamp-encoding probe.

session._events_ts_is_nanos decides how events.ts is decoded. It finds
the dataset's first non-hidden data file through the Hadoop FileSystem
(recursively) and reads its footer with parquet-mr, so every path
spelling and a partitioned layout give the same answer, with no Spark
job and no session conf change.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

from tests.conftest import SF_DIR
from workhop2_etl_spark.session import _events_ts_is_nanos, load_table

_SRC = os.path.join(SF_DIR, "events.parquet")
_CONF = "spark.sql.legacy.parquet.nanosAsLong"


def _part_file() -> str:
    if os.path.isfile(_SRC):
        return _SRC
    parts = sorted(
        f for f in os.listdir(_SRC)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )
    assert parts, f"no part file under {_SRC}"
    return os.path.join(_SRC, parts[0])


def test_probe_agrees_across_path_spellings(spark, tmp_path):
    base = _events_ts_is_nanos(spark, _SRC)
    assert isinstance(base, bool)
    assert _events_ts_is_nanos(spark, f"file://{os.path.abspath(_SRC)}") is base
    assert _events_ts_is_nanos(spark, f"file:{os.path.abspath(_SRC)}") is base


def test_probe_agrees_on_partitioned_layout(spark, tmp_path):
    """A nested layout with no top-level part files gives the same
    answer as the flat layout; hidden files and dirs are skipped, and
    the legacy conf is left as it was."""
    nested = tmp_path / "events.parquet" / "gen=1"
    nested.mkdir(parents=True)
    shutil.copy(_part_file(), nested / "part-0.parquet")
    (tmp_path / "events.parquet" / "_temporary").mkdir()
    (tmp_path / "events.parquet" / "_temporary" / "junk.parquet").write_bytes(b"x")
    (tmp_path / "events.parquet" / "_SUCCESS").write_bytes(b"")
    top = str(tmp_path / "events.parquet")

    before = spark.conf.get(_CONF, None)
    assert _events_ts_is_nanos(spark, top) is _events_ts_is_nanos(spark, _SRC)
    assert spark.conf.get(_CONF, None) == before


def test_probe_detects_nanosecond_timestamps(spark, tmp_path):
    """A TIMESTAMP(NANOS) events file (written by pyarrow, as one
    testdata generation shipped it) is detected, and load_table floors
    it to the microsecond; a micros file is not."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ts = [dt.datetime(2024, 1, 2, 3, 4, 5, 123456), dt.datetime(1999, 12, 31)]
    for unit in ("ns", "us"):
        d = tmp_path / unit / "events.parquet"
        d.mkdir(parents=True)
        table = pa.table({
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array(ts, pa.timestamp(unit)),
        })
        pq.write_table(table, d / "part-0.parquet")
        assert _events_ts_is_nanos(spark, str(d)) is (unit == "ns")

    before = spark.conf.get(_CONF, None)
    try:
        got = load_table(spark, str(tmp_path / "ns"), "events")
        assert dict(got.dtypes)["ts"] == "timestamp_ntz"
        assert sorted(r.ts for r in got.collect()) == sorted(ts)
    finally:
        if before is None:
            spark.conf.unset(_CONF)
        else:
            spark.conf.set(_CONF, before)


def test_load_table_file_uri_and_nested_layout(spark, tmp_path):
    """load_table produces the same normalized ts type and row count
    through a file: URI as through the plain path."""
    sf_uri_dir = str(tmp_path / "uri")
    os.makedirs(os.path.join(sf_uri_dir))
    if os.path.isdir(_SRC):
        shutil.copytree(_SRC, os.path.join(sf_uri_dir, "events.parquet"))
    else:
        shutil.copy(_SRC, os.path.join(sf_uri_dir, "events.parquet"))

    plain = load_table(spark, SF_DIR, "events")
    via_uri = load_table(spark, f"file://{os.path.abspath(sf_uri_dir)}", "events")
    assert dict(via_uri.dtypes)["ts"] == dict(plain.dtypes)["ts"] == "timestamp_ntz"
    assert via_uri.count() == plain.count()
