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
from workhop2_etl_spark.sources import fs
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
    256×128 centroid sets), the schema Spark reads back, 'append' adds
    a part file, 'error' refuses an existing directory, and an unknown
    mode is refused before anything is written."""
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
    fs.write_parquet(spark, one, path, "append")
    assert len(fs.data_files(spark, path)) == 2
    assert fs.read_parquet(spark, path).num_rows == 66
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
