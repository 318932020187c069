"""Driver-side I/O of dimension-sized files (sources/fs.py).

Index metadata, IVF centroids, PQ codebooks and empty seed saves are
written and read on the driver as whole files through the Hadoop
FileSystem streams, on every scheme, with no Spark job. ``viewfs://``
(Hadoop's client-side mount table, shipped in hadoop-common) stands
in for a non-local scheme offline: a path under it is not a local
path to the driver, but the FileSystem API resolves it.
"""

from __future__ import annotations

import os
import random
import re
import uuid

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from workhop2_etl_spark.operators import index_store as IDX
from workhop2_etl_spark.operators import retrieval as RET
from workhop2_etl_spark.operators import similarity as SIM
from workhop2_etl_spark.session import arrow_table, load_table
from workhop2_etl_spark.sources import fs, readers
from workhop2_etl_spark.streaming import index_stream as IS

DIM = 64


def _viewfs_root(spark, local_dir) -> str:
    """A ``viewfs://`` URI mounted on ``local_dir``. Each call uses a
    fresh mount-table name: Hadoop caches one FileSystem per scheme
    and authority, so a reused name would keep its first mount."""
    table = f"t{uuid.uuid4().hex[:12]}"
    spark._jsc.hadoopConfiguration().set(
        f"fs.viewfs.mounttable.{table}.link./data", f"file://{local_dir}"
    )
    return f"viewfs://{table}/data"


@pytest.fixture(params=["bare", "viewfs"])
def root(request, spark, tmp_path):
    if request.param == "bare":
        return str(tmp_path)
    return _viewfs_root(spark, tmp_path)


def _jobs(spark, call):
    """(call()'s result, the number of Spark jobs it ran)."""
    sc = spark.sparkContext
    group = f"driver-io-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = call()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _centroids(k: int, dim: int, seed: int = 3):
    rnd = random.Random(seed)
    return [(i, [rnd.gauss(0.0, 1.0) for _ in range(dim)]) for i in range(k)]


def test_parquet_bytes_roundtrip_and_modes(spark, root, tmp_path):
    """write_parquet/read_parquet: bit-exact doubles (64×64 and
    256×128 centroid sets), the schema Spark reads back, 'error'
    refuses an existing directory, and an unknown mode ('append',
    'ignore') is refused before anything is written."""
    schema = "centroid_id int, centroid array<double>"
    for k, dim in ((64, 64), (256, 128)):
        rows = _centroids(k, dim)
        path = f"{root}/c{k}"
        fs.write_parquet(spark, arrow_table(rows, schema), path, "overwrite")
        got = fs.read_parquet(spark, path).to_pylist()
        assert [(r["centroid_id"], r["centroid"]) for r in got] == rows
        assert len(fs.data_files(spark, path)) == 1
        assert spark.read.parquet(path).schema.simpleString() == (
            "struct<centroid_id:int,centroid:array<double>>"
        )

    path = f"{root}/c64"
    one = arrow_table(_centroids(2, 4), schema)
    with pytest.raises(ValueError, match="write mode"):
        fs.write_parquet(spark, one, path, "append")
    assert fs.read_parquet(spark, path).num_rows == 64
    with pytest.raises(FileExistsError):
        fs.write_parquet(spark, one, path, "error")
    fs.write_parquet(spark, one, path, "overwrite")
    assert fs.read_parquet(spark, path).num_rows == 2
    with pytest.raises(ValueError, match="write mode"):
        fs.write_parquet(spark, one, f"{root}/never", "ignore")
    assert not fs.exists(spark, f"{root}/never")


def test_seed_and_sidecar_io_runs_no_spark_job(spark, root):
    """Seed saves of every kind, save_centroids, and the metadata,
    centroid and codebook reads of load_ivf_index run no Spark job,
    on a bare path and on a non-local scheme."""
    emb = load_table(spark, SF_DIR, "embeddings").filter(F.col("vec_id") < 120)
    toks = load_table(spark, SF_DIR, "documents").select(
        "doc_id", F.split(F.lower("text"), " ").alias("toks")
    )
    cents = _centroids(4, DIM)
    cbs = SIM.sample_pq_codebooks(emb, dim=DIM)

    calls = {
        "lexical seed": lambda: RET.save_lexical_index(
            toks.limit(0), f"{root}/lex", mode="overwrite"),
        "lsh seed": lambda: IDX.save_lsh_index(
            emb.limit(0), f"{root}/lsh", dim=DIM, num_planes=4,
            num_tables=2, mode="overwrite"),
        "ivf pq8 seed": lambda: IDX.save_ivf_index(
            emb.limit(0), f"{root}/ivf", cents, dim=DIM, store_dtype="pq8",
            codebooks=cbs, mode="overwrite"),
        "save_centroids": lambda: IDX.save_centroids(
            spark, cents, f"{root}/cents", dim=DIM, mode="overwrite"),
    }
    assert _jobs(spark, emb.count)[1] >= 1  # the counter sees jobs
    for name, call in calls.items():
        _, n = _jobs(spark, call)
        assert n == 0, (name, n)

    def sidecars():
        meta = IDX._read_meta(spark, f"{root}/ivf", IDX._IVF_POSTINGS_KIND)
        return (
            IDX._read_centroid_rows(spark, f"{root}/ivf/centroids", meta),
            IDX._read_codebook_rows(spark, f"{root}/ivf/codebooks", meta),
        )

    (got_cents, got_cbs), n = _jobs(spark, sidecars)
    assert n == 0
    assert got_cents == cents and got_cbs == sorted(cbs)


def test_ivf_pq8_lifecycle_on_non_local_scheme(spark, tmp_path):
    """Seed save, load, a stream epoch and restore of a pq8 IVF index
    under viewfs://: the quantizer and codebooks come back bit-exact
    at every step."""
    root = _viewfs_root(spark, tmp_path)
    emb = load_table(spark, SF_DIR, "embeddings").filter(F.col("vec_id") < 200)
    cents = _centroids(4, DIM, seed=11)
    cbs = SIM.sample_pq_codebooks(emb, dim=DIM)
    src, dst = f"{root}/ivf", f"{root}/restored"

    IDX.save_ivf_index(emb.limit(0), src, cents, dim=DIM, store_dtype="pq8",
                       codebooks=cbs, mode="overwrite")
    postings, got_cents, meta = IDX.load_ivf_index(spark, src)
    assert got_cents == cents and meta["_codebooks"] == sorted(cbs)
    assert postings.count() == 0

    assert IS.ingest_epoch(spark, emb, 0, src) == "committed"
    postings, got_cents, meta = IDX.load_ivf_index(spark, src)
    assert postings.count() == emb.count() and meta["epoch"] == 1
    assert os.path.isdir(tmp_path / "ivf" / "index")  # landed under the mount

    IDX.restore_index(spark, src, dst, mode="overwrite")
    r_postings, r_cents, r_meta = IDX.load_ivf_index(spark, dst)
    assert r_cents == cents and r_meta["_codebooks"] == sorted(cbs)
    assert sorted(map(tuple, r_postings.collect())) == sorted(
        map(tuple, postings.collect())
    )


@pytest.mark.parametrize("keep_crc", [True, False])
def test_truncated_centroid_file_names_the_artifact(spark, tmp_path, keep_crc):
    """A truncated centroid part file raises ValueError naming the
    artifact path, whether the FileSystem's checksum or the parquet
    decoder catches it."""
    path = str(tmp_path / "cents")
    IDX.save_centroids(spark, _centroids(8, DIM), path, dim=DIM,
                       mode="overwrite")
    data = f"{path}/index"
    (part,) = [f for f in os.listdir(data) if f.startswith("part-")]
    with open(f"{data}/{part}", "r+b") as fh:
        fh.truncate(os.path.getsize(f"{data}/{part}") // 2)
    if not keep_crc:
        os.remove(f"{data}/.{part}.crc")
    with pytest.raises(ValueError, match=re.escape(data)):
        IDX.load_centroids(spark, path)


def test_index_loads_and_parquet_reads_run_no_spark_job(spark, root):
    """load_lexical_index (with a pending delete), load_ivf_index,
    load_lsh_index and readers.read_parquet build their frames without
    a Spark job: every parquet schema comes from a footer read on the
    driver, on a bare path and on a non-local scheme."""
    emb = load_table(spark, SF_DIR, "embeddings").filter(F.col("vec_id") < 120)
    toks = load_table(spark, SF_DIR, "documents").filter(
        F.col("doc_id") < 80
    ).select("doc_id", F.split(F.lower("text"), " ").alias("toks"))
    RET.save_lexical_index(toks, f"{root}/lex", mode="overwrite", num_partitions=2)
    IDX.delete_from_index(spark, f"{root}/lex", [3, 5])
    IDX.save_ivf_index(emb, f"{root}/ivf", _centroids(4, DIM), dim=DIM,
                       mode="overwrite")
    IDX.save_lsh_index(emb, f"{root}/lsh", dim=DIM, num_planes=4,
                       num_tables=2, mode="overwrite")

    calls = {
        "load_lexical_index": lambda: RET.load_lexical_index(spark, f"{root}/lex"),
        "load_ivf_index": lambda: IDX.load_ivf_index(spark, f"{root}/ivf"),
        "load_lsh_index": lambda: IDX.load_lsh_index(spark, f"{root}/lsh"),
        "read_parquet": lambda: readers.read_parquet(spark, f"{root}/lex/tf"),
    }
    for name, call in calls.items():
        _, n = _jobs(spark, call)
        assert n == 0, (name, n)
    tf, _, stats, _ = RET.load_lexical_index(spark, f"{root}/lex")
    assert stats.collect()[0].n_docs == toks.filter(
        ~F.col("doc_id").isin(3, 5)).count()
    assert tf.filter(F.col("doc_id").isin(3, 5)).count() == 0


def _same_schema(spark, *paths):
    got = readers.read_parquet(spark, *paths)
    want = spark.read.parquet(*paths)
    assert got.schema == want.schema, (got.schema, want.schema)
    assert sorted(map(repr, got.collect())) == sorted(map(repr, want.collect()))


@pytest.mark.parametrize("infer_ntz", ["true", "false"])
def test_parquet_schema_matches_spark_inference(spark, tmp_path, infer_ntz):
    """The driver-resolved schema equals spark.read.parquet's inferred
    one for NTZ and LTZ timestamps, decimal, binary, array<struct> and
    map columns, a hive-partitioned dir, explicit file lists, and
    pyarrow-written files (with and without a time zone) beside
    Spark-written ones, under either timestamp-inference setting."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", infer_ntz)
    try:
        typed = str(tmp_path / "typed")
        spark.sql(
            "SELECT id, CAST(id AS STRING) AS k, "
            "TIMESTAMP_NTZ'2024-01-02 03:04:05' AS ntz, "
            "TIMESTAMP'2024-01-02 03:04:05' AS ltz, "
            "CAST(id / 7 AS DECIMAL(18, 4)) AS dec, "
            "CAST(CAST(id AS STRING) AS BINARY) AS bin, "
            "array(named_struct('a', id, 'b', CAST(id AS STRING))) AS arr, "
            "map(CAST(id AS STRING), id * 2.5D) AS m "
            "FROM range(6)"
        ).write.parquet(typed)
        _same_schema(spark, typed)

        parted = str(tmp_path / "parted")
        spark.read.parquet(typed).withColumn("p", F.col("id") % 2).write.partitionBy(
            "p", "k"
        ).parquet(parted)
        _same_schema(spark, parted)
        _same_schema(spark, *fs.data_files(spark, typed)[:2])
        # sibling files are stated with one listing of their parent,
        # beside a dir of another parent
        other = str(tmp_path / "other")
        spark.read.parquet(typed).write.parquet(other)
        _same_schema(spark, *fs.data_files(spark, typed), other)

        mixed = str(tmp_path / "mixed")
        spark.sql(
            "SELECT id, TIMESTAMP'2024-01-02 03:04:05' AS ts FROM range(3)"
        ).write.parquet(mixed)
        ts = [dt.datetime(2024, 5, 6, 7, 8, 9)]
        for name, tz in (("a-first.parquet", None), ("z-last.parquet", "UTC")):
            pq.write_table(
                pa.table({
                    "id": pa.array([9], pa.int64()),
                    "ts": pa.array(ts, pa.timestamp("us", tz=tz)),
                }),
                f"{mixed}/{name}",
            )
            _same_schema(spark, mixed)
            _same_schema(spark, f"{mixed}/{name}")
            os.remove(f"{mixed}/{name}")
    finally:
        spark.conf.unset("spark.sql.parquet.inferTimestampNTZ.enabled")


def test_parquet_schema_errors_name_the_path(spark, tmp_path):
    """A missing path — alone, beside present siblings, or under a
    missing parent — a directory without data files and a truncated
    footer raise, naming the path."""
    missing = str(tmp_path / "missing")
    with pytest.raises(FileNotFoundError, match=re.escape(missing)):
        readers.read_parquet(spark, missing)
    with pytest.raises(FileNotFoundError, match=re.escape(f"{missing}/a")):
        readers.read_parquet(spark, f"{missing}/a", f"{missing}/b")
    two = str(tmp_path / "two")
    spark.range(10).repartition(2).write.parquet(two)
    gone = f"{two}/gone.parquet"
    with pytest.raises(FileNotFoundError, match=re.escape(gone)):
        readers.read_parquet(spark, *fs.data_files(spark, two), gone)
    empty = tmp_path / "empty"
    empty.mkdir()
    (empty / "_SUCCESS").write_bytes(b"")
    with pytest.raises(ValueError, match=re.escape(str(empty))):
        readers.read_parquet(spark, str(empty))
    cut = str(tmp_path / "cut")
    spark.range(10).coalesce(1).write.parquet(cut)
    (part,) = [f for f in os.listdir(cut) if f.startswith("part-")]
    with open(f"{cut}/{part}", "r+b") as fh:
        fh.truncate(os.path.getsize(f"{cut}/{part}") // 2)
    os.remove(f"{cut}/.{part}.crc")
    with pytest.raises(ValueError, match=re.escape(cut)):
        readers.read_parquet(spark, cut)
