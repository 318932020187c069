"""Persisted ANN index lifecycle (operators/index_store.py): the
in-session searches share the row builder and the probe with the
persisted path, so build → save → load → probe must return their rows
exactly (the parquet round trip is lossless), and loading under
drifted parameters must fail loudly — the 100 TB posture is
build-once, probe-many across sessions."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from workhop2_etl_spark.operators import index_store as IDX
from workhop2_etl_spark.operators import similarity as SIM
from workhop2_etl_spark.session import load_table

from tests.conftest import SF_DIR

DIM = 64


def _tmp(name: str) -> str:
    return os.path.join(
        tempfile.gettempdir(), f"workhop2_idx_{os.getpid()}", name
    )


@pytest.mark.parametrize("sig_kernel", ["expr", "blas"])
def test_lsh_index_roundtrip_probe_identical(spark, sig_kernel):
    """topk_cosine_lsh_multitable shares the row builder and the probe
    with the persisted path; save → load → probe returns its rows
    (vec/norm doubles round-trip parquet exactly). The build signs with
    the BLAS kernel; the persisted (id, table_id, sig) rows equal what
    EITHER signature kernel assigns the corpus, so the probe — which
    signs its queries with the expression kernel — meets the same
    buckets whichever kernel is taken as the reference."""
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    path = _tmp(f"lsh_{sig_kernel}")

    meta = IDX.save_lsh_index(
        emb, path, dim=DIM, num_planes=6, num_tables=8, mode="overwrite",
    )
    index, loaded_meta = IDX.load_lsh_index(
        spark, path, dim=DIM, num_planes=6, num_tables=8
    )
    assert loaded_meta == meta
    sign = {
        "expr": SIM.with_multitable_signatures,
        "blas": SIM.with_multitable_signatures_blas,
    }[sig_kernel]
    want_sigs = sign(emb, "embedding", DIM, num_planes=6, num_tables=8)
    assert sorted(
        map(tuple, index.select("id", "table_id", "sig").collect())
    ) == sorted(
        map(tuple, want_sigs.select("vec_id", "table_id", "sig").collect())
    )
    got = sorted(
        map(tuple, IDX.probe_lsh_index(index, loaded_meta, queries, k=3).collect())
    )
    want = sorted(
        map(
            tuple,
            SIM.topk_cosine_lsh_multitable(
                emb, queries, dim=DIM, k=3, num_planes=6, num_tables=8
            ).collect(),
        )
    )
    assert got == want
    assert got  # non-vacuous: the probe really found neighbors


def test_lsh_index_drift_guard(spark):
    """Loading with mismatched dim / planes / tables raises a
    descriptive error instead of silently probing garbage buckets;
    the centroid loader refuses an LSH artifact (kind check)."""
    emb = load_table(spark, SF_DIR, "embeddings").limit(50)
    path = _tmp("lsh_drift")
    IDX.save_lsh_index(emb, path, dim=DIM, num_planes=4, num_tables=2,
                       mode="overwrite")
    with pytest.raises(ValueError, match="dim: expected 128"):
        IDX.load_lsh_index(spark, path, dim=128)
    with pytest.raises(ValueError, match="num_planes"):
        IDX.load_lsh_index(spark, path, num_planes=6)
    with pytest.raises(ValueError, match="num_tables"):
        IDX.load_lsh_index(spark, path, num_tables=8)
    with pytest.raises(ValueError, match="kind"):
        IDX.load_centroids(spark, path)
    with pytest.raises(ValueError, match="no readable index metadata"):
        IDX.load_lsh_index(spark, _tmp("never_written"))
    # accepting the stored values (all None) works
    _, meta = IDX.load_lsh_index(spark, path)
    assert (meta["dim"], meta["num_planes"], meta["num_tables"]) == (DIM, 4, 2)


def test_centroids_roundtrip_and_guards(spark):
    """fit → save → load returns the identical centroid list; dim and
    seed drift raise; ragged centroids are refused at save time."""
    emb = load_table(spark, SF_DIR, "embeddings")
    cents = SIM.fit_centroids(emb, n_centroids=4, seed=7, max_iter=5)
    path = _tmp("ivf")
    IDX.save_centroids(spark, cents, path, dim=DIM, seed=7, mode="overwrite")
    loaded, meta = IDX.load_centroids(spark, path, dim=DIM, seed=7)
    assert loaded == sorted(cents)
    assert (meta["n_centroids"], meta["seed"]) == (4, 7)
    with pytest.raises(ValueError, match="seed"):
        IDX.load_centroids(spark, path, seed=42)
    with pytest.raises(ValueError, match="dim"):
        IDX.load_centroids(spark, path, dim=32)
    with pytest.raises(ValueError, match="kind"):
        IDX.load_lsh_index(spark, path)
    with pytest.raises(ValueError, match="wrong length"):
        IDX.save_centroids(
            spark, [(0, [1.0, 2.0])], _tmp("bad"), dim=3, mode="overwrite"
        )


def test_lsh_index_incremental_append(spark):
    """Grow-by-append lifecycle: an index built on half the corpus
    then appended with the other half probes IDENTICALLY to one built
    on the full corpus in a single shot; each append bumps the
    metadata epoch; the delta signs under the artifact's stored
    geometry (no caller-supplied dim to drift)."""
    emb = load_table(spark, SF_DIR, "embeddings")
    first = emb.filter(F.col("vec_id") % 2 == 0)
    second = emb.filter(F.col("vec_id") % 2 == 1)
    queries = emb.filter(F.col("vec_id") % 50 == 0)

    grown_path, full_path = _tmp("lsh_grow"), _tmp("lsh_full")
    IDX.save_lsh_index(first, grown_path, dim=DIM, num_planes=6, num_tables=8,
                       mode="overwrite")
    meta1 = IDX.append_lsh_index(second, grown_path)
    assert meta1["epoch"] == 1
    IDX.save_lsh_index(emb, full_path, dim=DIM, num_planes=6, num_tables=8,
                       mode="overwrite")

    gi, gm = IDX.load_lsh_index(spark, grown_path)
    fi, fm = IDX.load_lsh_index(spark, full_path)
    got = sorted(map(tuple, IDX.probe_lsh_index(gi, gm, queries, k=3).collect()))
    want = sorted(map(tuple, IDX.probe_lsh_index(fi, fm, queries, k=3).collect()))
    assert got == want and got

    # appending to a path that holds no index fails loudly
    with pytest.raises(ValueError, match="no readable index metadata"):
        IDX.append_lsh_index(second, _tmp("lsh_nowhere"))


def test_ivf_index_roundtrip_probe_identical(spark):
    """topk_cosine_ivf shares the row builder and the probe with the
    persisted path; save → load → probe returns its rows for the same
    centroids, at nprobe=1 and at the nprobe=2 recall knob (vec/norm
    doubles and cell assignments round-trip parquet exactly)."""
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    cents = SIM.fit_centroids(emb, n_centroids=4, seed=7, max_iter=5)
    path = _tmp("ivf_postings")

    meta = IDX.save_ivf_index(emb, path, cents, dim=DIM, seed=7,
                              mode="overwrite")
    postings, loaded_cents, loaded_meta = IDX.load_ivf_index(
        spark, path, dim=DIM, n_centroids=4, seed=7
    )
    assert loaded_meta == meta
    assert loaded_cents == sorted(cents)
    for nprobe in (1, 2):
        got = sorted(map(tuple, IDX.probe_ivf_index(
            postings, loaded_cents, loaded_meta, queries, k=3, nprobe=nprobe
        ).collect()))
        want = sorted(map(tuple, SIM.topk_cosine_ivf(
            emb, queries, cents, k=3, nprobe=nprobe
        ).collect()))
        assert got == want and got


def test_ivf_index_incremental_append(spark):
    """Half-then-append probes identically to a single-shot build;
    the delta is assigned under the artifact's OWN stored quantizer;
    epoch bumps; appending to a missing artifact fails loudly."""
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    cents = SIM.fit_centroids(emb, n_centroids=4, seed=7, max_iter=5)

    grown, full = _tmp("ivf_grow"), _tmp("ivf_full")
    IDX.save_ivf_index(emb.filter(F.col("vec_id") % 2 == 0), grown, cents,
                       dim=DIM, mode="overwrite")
    meta1 = IDX.append_ivf_index(emb.filter(F.col("vec_id") % 2 == 1), grown)
    assert meta1["epoch"] == 1
    IDX.save_ivf_index(emb, full, cents, dim=DIM, mode="overwrite")

    gp, gc, gm = IDX.load_ivf_index(spark, grown)
    fp, fc, fm = IDX.load_ivf_index(spark, full)
    got = sorted(map(tuple, IDX.probe_ivf_index(gp, gc, gm, queries, k=3).collect()))
    want = sorted(map(tuple, IDX.probe_ivf_index(fp, fc, fm, queries, k=3).collect()))
    assert got == want and got

    with pytest.raises(ValueError, match="no readable index metadata"):
        IDX.append_ivf_index(emb, _tmp("ivf_nowhere"))


def test_compact_index_collapses_files_probe_identical(spark):
    """Many small appends pile up parquet files; compact_index
    rewrites either index kind back into few cluster-sorted files
    with probes row-identical before and after, and bumps the epoch.
    Compacting a centroids-only artifact (or nothing) fails loudly."""
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    cents = SIM.fit_centroids(emb, n_centroids=4, seed=7, max_iter=5)

    for kind in ("lsh", "ivf"):
        path = _tmp(f"compact_{kind}")
        base = emb.filter(F.col("vec_id") % 4 == 0)
        if kind == "lsh":
            IDX.save_lsh_index(base, path, dim=DIM, num_planes=6,
                               num_tables=8, mode="overwrite")
            for r in (1, 2, 3):
                IDX.append_lsh_index(emb.filter(F.col("vec_id") % 4 == r), path)
            load = lambda: IDX.load_lsh_index(spark, path)  # noqa: E731
            probe = lambda idx, m: IDX.probe_lsh_index(  # noqa: E731
                idx[0], m, queries, k=3)
        else:
            IDX.save_ivf_index(base, path, cents, dim=DIM, mode="overwrite")
            for r in (1, 2, 3):
                IDX.append_ivf_index(emb.filter(F.col("vec_id") % 4 == r), path)
            load = lambda: IDX.load_ivf_index(spark, path)  # noqa: E731
            probe = lambda idx, m: IDX.probe_ivf_index(  # noqa: E731
                idx[0], idx[1], m, queries, k=3, nprobe=2)

        loaded = load()
        before_meta = loaded[-1]
        before = sorted(map(tuple, probe(loaded, before_meta).collect()))

        stats = IDX.compact_index(spark, path, num_partitions=2)
        assert stats["files_after"] <= 2 < stats["files_before"]
        assert stats["epoch"] == before_meta["epoch"] + 1

        loaded = load()
        after = sorted(map(tuple, probe(loaded, loaded[-1]).collect()))
        assert after == before and after
        # staging dir cleaned up
        assert not os.path.exists(f"{path}/index.compacting")

    # a centroids-only artifact has nothing to compact
    cpath = _tmp("compact_cents")
    IDX.save_centroids(spark, cents, cpath, dim=DIM, mode="overwrite")
    with pytest.raises(ValueError, match="only"):
        IDX.compact_index(spark, cpath)
    with pytest.raises(ValueError, match="no readable index metadata"):
        IDX.compact_index(spark, _tmp("compact_nowhere"))


def test_compact_index_crash_recovery(spark):
    """The swap is crash-safe: an UNCOMMITTED staging leftover (crash
    mid-stage) is discarded and compaction proceeds from the intact
    live data; a COMMITTED staging dir (crash inside the swap window,
    with or without the data dir already deleted) is swapped in as-is
    — never recompacted from a half-replaced data dir."""
    import shutil

    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    cents = SIM.fit_centroids(emb, n_centroids=4, seed=7, max_iter=5)

    def _probe(path):
        p, c, m = IDX.load_ivf_index(spark, path)
        return sorted(map(tuple, IDX.probe_ivf_index(
            p, c, m, queries, k=3, nprobe=2).collect()))

    # crash mid-stage: junk staging without _SUCCESS → discarded
    path = _tmp("crash_stage")
    IDX.save_ivf_index(emb, path, cents, dim=DIM, mode="overwrite")
    want = _probe(path)
    os.makedirs(f"{path}/index.compacting", exist_ok=True)
    with open(f"{path}/index.compacting/part-junk.parquet", "wb") as f:
        f.write(b"not parquet")
    stats = IDX.compact_index(spark, path, num_partitions=2)
    assert stats["files_after"] <= 2 and stats["files_before"] is not None
    assert _probe(path) == want

    # crash inside the swap, data dir still present: committed
    # staging must win (it is the newer layout), not be recompacted
    path2 = _tmp("crash_swap")
    IDX.save_ivf_index(emb, path2, cents, dim=DIM, mode="overwrite")
    want2 = _probe(path2)
    shutil.copytree(f"{path2}/index", f"{path2}/index.compacting")
    epoch_before = IDX._read_meta_any_kind(spark, path2)["epoch"]
    stats = IDX.compact_index(spark, path2)
    assert stats["files_before"] is None  # recovery path, no restage
    assert stats["epoch"] == epoch_before + 1
    assert _probe(path2) == want2

    # crash inside the swap, data dir already deleted
    path3 = _tmp("crash_swap_deleted")
    IDX.save_ivf_index(emb, path3, cents, dim=DIM, mode="overwrite")
    want3 = _probe(path3)
    shutil.move(f"{path3}/index", f"{path3}/index.compacting")
    stats = IDX.compact_index(spark, path3)
    assert stats["files_before"] is None
    assert _probe(path3) == want3
    assert not os.path.exists(f"{path3}/index.compacting")


def test_lexical_compact_crash_between_dirs_stays_loadable(spark):
    """r11 adversarial scenario: the lexical artifact compacts THREE
    dirs in sequence (tf, df, stats) — a crash BETWEEN dirs leaves tf
    re-clustered while df still holds per-epoch partials. Every dir's
    content is load-equivalent before and after its own swap, so the
    part-compacted artifact must (a) probe row-identically in that
    intermediate state and (b) finish compacting on re-entry."""
    from workhop2_etl_spark.operators import retrieval as RET

    docs = load_table(spark, SF_DIR, "documents")
    corpus = docs.select(
        "doc_id",
        F.split(
            F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " "
        ).alias("toks"),
    )
    qt = (
        corpus.filter((F.col("doc_id") % 89 == 0) & (F.size("toks") > 0))
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(F.slice("toks", 1, 8)).alias("term"),
        )
        .distinct()
    )

    def probe(path):
        tf, df, stats, meta = RET.load_lexical_index(spark, path)
        return sorted(map(tuple, RET.probe_lexical_index(
            tf, df, stats, meta, qt, k=5).collect()))

    path = _tmp("lex_crash_between")
    RET.save_lexical_index(
        corpus.filter(F.col("doc_id") % 2 == 0), path, mode="overwrite",
        num_partitions=4,
    )
    RET.append_lexical_index(
        corpus.filter(F.col("doc_id") % 2 == 1), path, num_partitions=4
    )
    want = probe(path)

    # simulate the crash window: tf's stage+swap completed, then the
    # process died before df/stats compacted (df still: 2 partials)
    IDX._compact_dirs(spark, [(f"{path}/tf", ["term"], None, False)], 2)
    assert len(os.listdir(f"{path}/df")) > 0
    assert probe(path) == want, "part-compacted artifact must stay exact"

    # re-entry completes the remaining dirs; df/stats fold to one
    stats2 = IDX.compact_index(spark, path, num_partitions=2)
    assert stats2["files_after"] >= 1
    assert len(spark.read.parquet(f"{path}/df").groupBy().count().collect()) == 1
    assert probe(path) == want


def test_ivf_index_int8_quantized(spark):
    """store_dtype='int8': the artifact stores symmetric per-vector
    quantized postings (array<tinyint> + scale) — measured ~3× less
    index bytes on the fixture — with cells identical to the float
    index (assignment runs on floats), per-element dequantization
    error ≤ scale/2, high top-k agreement with the float probe, and
    the dtype riding metadata through append, stream ingest, and
    retrain. NaN/zero vectors survive the ANSI tinyint cast."""
    import os as _os

    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    cents = SIM.fit_centroids(emb, n_centroids=4, seed=7, max_iter=5)

    p8, pf = _tmp("ivf_int8"), _tmp("ivf_f64")
    m8 = IDX.save_ivf_index(emb, p8, cents, dim=DIM, store_dtype="int8",
                            mode="overwrite")
    IDX.save_ivf_index(emb, pf, cents, dim=DIM, mode="overwrite")
    assert m8["store_dtype"] == "int8"

    po8, c8, lm8 = IDX.load_ivf_index(spark, p8)
    pof, cf, lmf = IDX.load_ivf_index(spark, pf)
    assert {"qvec", "scale"} <= set(po8.columns) and "vec" not in po8.columns

    # cells identical to the float index; dequant error ≤ scale/2
    cells8 = {(r.id, r.centroid_id) for r in po8.select("id", "centroid_id").collect()}
    cellsf = {(r.id, r.centroid_id) for r in pof.select("id", "centroid_id").collect()}
    assert cells8 == cellsf
    bad = (
        po8.alias("a").join(pof.alias("b"), "id")
        .select(
            F.aggregate(
                F.zip_with(
                    F.col("b.vec"),
                    F.transform(
                        F.col("a.qvec"),
                        lambda q: q.cast("double") * F.col("a.scale"),
                    ),
                    lambda x, d: F.abs(x - d),
                ),
                F.lit(0.0),
                lambda acc, e: F.greatest(acc, e),
            ).alias("err"),
            (F.col("a.scale") / 2 * 1.0000001).alias("bound"),
        )
        .filter(F.col("err") > F.col("bound"))
        .count()
    )
    assert bad == 0

    r8 = {(r.query_id, r.neighbor_id) for r in IDX.probe_ivf_index(
        po8, c8, lm8, queries, k=3, nprobe=2).collect()}
    rf = {(r.query_id, r.neighbor_id) for r in IDX.probe_ivf_index(
        pof, cf, lmf, queries, k=3, nprobe=2).collect()}
    assert len(r8 & rf) / len(rf) >= 0.9 and rf

    def du(p):
        return sum(
            _os.path.getsize(_os.path.join(dp, f))
            for dp, _, fs in _os.walk(p) for f in fs
        )
    assert du(f"{p8}/index") < 0.6 * du(f"{pf}/index")

    # NaN/zero vectors survive the quantizing append (ANSI casts)
    dim = DIM
    edgy = spark.createDataFrame(
        [(100001, [0.0] * dim), (100002, [float("nan")] + [1.0] * (dim - 1))],
        "vec_id bigint, embedding array<double>",
    )
    before = po8.count()
    IDX.append_ivf_index(edgy, p8)
    po8b, _, _ = IDX.load_ivf_index(spark, p8)
    assert po8b.count() == before + 2

    # stream ingest honors the stored dtype
    from workhop2_etl_spark.streaming import index_stream as IS
    IS.ingest_epoch(spark, emb.limit(7), 0, p8)
    po8c, _, _ = IDX.load_ivf_index(spark, p8)
    assert po8c.count() == before + 9
    assert "qvec" in po8c.columns

    # retrain keeps the dtype (trains on dequantized vectors)
    dst = _tmp("ivf_int8_retrained")
    new_meta = IDX.retrain_ivf_index(spark, p8, dst, seed=7, max_iter=5,
                                     mode="overwrite")
    assert new_meta["store_dtype"] == "int8"
    pod, cd, lmd = IDX.load_ivf_index(spark, dst)
    assert pod.count() == before + 9
    assert IDX.probe_ivf_index(pod, cd, lmd, queries, k=3, nprobe=2).count() > 0


def test_lsh_index_int8_quantized(spark):
    """store_dtype='int8' on the multi-table LSH index: buckets are
    identical to the float index (signing runs on floats), probes
    agree at ≥0.9, the artifact is smaller despite the L-way vector
    duplication, and appends inherit the dtype from metadata."""
    import os as _os

    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)

    p8, pf = _tmp("lsh_int8"), _tmp("lsh_f64")
    m8 = IDX.save_lsh_index(emb, p8, dim=DIM, num_planes=6, num_tables=8,
                            store_dtype="int8", mode="overwrite")
    IDX.save_lsh_index(emb, pf, dim=DIM, num_planes=6, num_tables=8,
                       mode="overwrite")
    assert m8["store_dtype"] == "int8"

    i8, lm8 = IDX.load_lsh_index(spark, p8)
    if_, lmf = IDX.load_lsh_index(spark, pf)
    assert {"qvec", "scale"} <= set(i8.columns) and "vec" not in i8.columns
    b8 = {(r.id, r.table_id, r.sig)
          for r in i8.select("id", "table_id", "sig").collect()}
    bf = {(r.id, r.table_id, r.sig)
          for r in if_.select("id", "table_id", "sig").collect()}
    assert b8 == bf

    r8 = {(r.query_id, r.neighbor_id) for r in IDX.probe_lsh_index(
        i8, lm8, queries, k=3).collect()}
    rf = {(r.query_id, r.neighbor_id) for r in IDX.probe_lsh_index(
        if_, lmf, queries, k=3).collect()}
    assert len(r8 & rf) / len(rf) >= 0.9 and rf

    def du(p):
        return sum(
            _os.path.getsize(_os.path.join(dp, f))
            for dp, _, fs in _os.walk(p) for f in fs
        )
    assert du(f"{p8}/index") < 0.6 * du(f"{pf}/index")

    before = i8.count()
    IDX.append_lsh_index(emb.limit(5), p8)
    i8b, _ = IDX.load_lsh_index(spark, p8)
    assert i8b.count() == before + 5 * 8
    assert "qvec" in i8b.columns

    # stream ingest honors the stored dtype on the LSH kind too
    from workhop2_etl_spark.streaming import index_stream as IS
    IS.ingest_epoch(spark, emb.limit(3), 0, p8)
    i8c, _ = IDX.load_lsh_index(spark, p8)
    assert i8c.count() == before + 5 * 8 + 3 * 8
    assert "qvec" in i8c.columns and "vec" not in i8c.columns


def test_ivf_index_pq8_lifecycle(spark):
    """store_dtype='pq8': the artifact stores PQ codes + recon norm
    with the codebooks riding inside; the in-session topk_cosine_ivf_pq
    shares the pq8 row builder and the probe, and a loaded probe
    returns its rows; build-half-then-append-half
    equals single-shot; stream ingest and retrain keep the tier and
    codebooks; a corrupt codebook dir fails loudly."""
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    cents = SIM.fit_centroids(emb, n_centroids=4, seed=7, max_iter=5)
    cb = SIM.sample_pq_codebooks(emb, dim=DIM)

    path = _tmp("ivf_pq8")
    meta = IDX.save_ivf_index(emb, path, cents, dim=DIM, store_dtype="pq8",
                              codebooks=cb, mode="overwrite")
    assert (meta["store_dtype"], meta["pq_m"], meta["pq_k"]) == ("pq8", 8, 16)

    postings, loaded_cents, lmeta = IDX.load_ivf_index(spark, path)
    assert {"codes", "norm"} <= set(postings.columns)
    assert "vec" not in postings.columns
    assert sorted(lmeta["_codebooks"]) == sorted(cb)
    got = sorted(map(tuple, IDX.probe_ivf_index(
        postings, loaded_cents, lmeta, queries, k=3, nprobe=2).collect()))
    want = sorted(map(tuple, SIM.topk_cosine_ivf_pq(
        emb, queries, cents, cb, dim=DIM, k=3, nprobe=2).collect()))
    assert got == want and got

    # half + append ≡ single-shot (codes re-derived under the
    # artifact's own persisted codebooks)
    grown = _tmp("ivf_pq8_grown")
    IDX.save_ivf_index(emb.filter(F.col("vec_id") % 2 == 0), grown, cents,
                       dim=DIM, store_dtype="pq8", codebooks=cb,
                       mode="overwrite")
    IDX.append_ivf_index(emb.filter(F.col("vec_id") % 2 == 1), grown)
    gp, gc, gm = IDX.load_ivf_index(spark, grown)
    grown_probe = sorted(map(tuple, IDX.probe_ivf_index(
        gp, gc, gm, queries, k=3, nprobe=2).collect()))
    assert grown_probe == got

    # stream ingest honors the tier
    from workhop2_etl_spark.streaming import index_stream as IS
    before = gp.count()
    IS.ingest_epoch(spark, emb.limit(7), 0, grown)
    gp2, _, _ = IDX.load_ivf_index(spark, grown)
    assert gp2.count() == before + 7 and "codes" in gp2.columns

    # retrain keeps the tier and the codebooks
    dst = _tmp("ivf_pq8_retrained")
    new_meta = IDX.retrain_ivf_index(spark, path, dst, seed=7, max_iter=5,
                                     mode="overwrite")
    assert new_meta["store_dtype"] == "pq8"
    rp, rc, rm = IDX.load_ivf_index(spark, dst)
    assert sorted(rm["_codebooks"]) == sorted(cb)
    assert rp.count() == emb.count()
    assert IDX.probe_ivf_index(rp, rc, rm, queries, k=3, nprobe=2).count() > 0

    # corrupt codebooks fail loudly at load
    import shutil
    shutil.rmtree(f"{path}/codebooks")
    IDX._write_codebook_rows(spark, cb[:64], DIM, f"{path}/codebooks",
                             "overwrite")
    with pytest.raises(ValueError, match="partial or corrupt"):
        IDX.load_ivf_index(spark, path)

    # pq8 without codebooks refused at save
    with pytest.raises(ValueError, match="requires codebooks"):
        IDX.save_ivf_index(emb, _tmp("pq8_bad"), cents, dim=DIM,
                           store_dtype="pq8", mode="overwrite")


def test_insession_ivf_pq_never_ranks_corrupt_vectors(spark):
    """Two near-copies of a query vector — one carrying a NaN element,
    one cut to half length — must never come back from the in-session
    IVF-PQ search: the corpus encodes through pq_encode_blas, which
    drops them, where the expression encoder gave both valid codewords
    and ranked them 1–2 at score 1.0. The in-session search shares the
    pq8 row builder and the probe with the persisted path, and a
    save → load round trip of the same centroids and codebooks returns
    the same rows."""
    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    qvec = [float(x) for x in queries.orderBy("vec_id").first().embedding]
    nan_id, short_id = 10**6 + 1, 10**6 + 2
    dirty = spark.createDataFrame(
        [(nan_id, [float("nan")] + qvec[1:]), (short_id, qvec[: DIM // 2])],
        emb.schema,
    )
    corpus = emb.unionByName(dirty)
    rows = (
        emb.filter(F.col("vec_id") % 37 == 0).orderBy("vec_id")
        .limit(8).select("embedding").collect()
    )
    cents = [(i, list(r.embedding)) for i, r in enumerate(rows)]
    cb = SIM.sample_pq_codebooks(emb, dim=DIM)

    got = sorted(map(tuple, SIM.topk_cosine_ivf_pq(
        corpus, queries, cents, cb, dim=DIM, k=3, nprobe=8,
    ).collect()))
    ids = {r[1] for r in got}
    assert got and not ids & {nan_id, short_id}, ids

    path = _tmp("ivf_pq8_dirty")
    IDX.save_ivf_index(corpus, path, cents, dim=DIM, store_dtype="pq8",
                       codebooks=cb, mode="overwrite")
    postings, lc, lm = IDX.load_ivf_index(spark, path)
    persisted = sorted(map(tuple, IDX.probe_ivf_index(
        postings, lc, lm, queries, k=3, nprobe=8).collect()))
    assert persisted == got


def test_artifacts_with_kernel_metadata_still_grow(spark):
    """Artifacts written before the kernel option was removed carry a
    ``sig_kernel`` / ``assign_kernel`` field in their metadata. They
    still load (without the dropped key), append and stream-ingest,
    and then probe equal to a fresh build over the union."""
    import json

    from workhop2_etl_spark.sources.fs import read_bytes, write_bytes
    from workhop2_etl_spark.streaming import index_stream as IS

    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    base, delta, epoch = (emb.filter(F.col("vec_id") % 3 == i) for i in range(3))
    cents = SIM.fit_centroids(emb, n_centroids=4, seed=7, max_iter=5)

    def add_meta_field(path, key):
        f = f"{path}/meta/part-00000.json"
        rec = json.loads(read_bytes(spark, f))
        rec[key] = "expr"
        write_bytes(spark, f, (json.dumps(rec) + "\n").encode("utf-8"))

    lsh, lsh_full = _tmp("lsh_kernel_meta"), _tmp("lsh_kernel_meta_full")
    IDX.save_lsh_index(base, lsh, dim=DIM, num_planes=6, num_tables=8,
                       mode="overwrite")
    add_meta_field(lsh, "sig_kernel")
    assert "sig_kernel" not in IDX.load_lsh_index(spark, lsh)[1]
    IDX.append_lsh_index(delta, lsh)
    assert IS.ingest_epoch(spark, epoch, 0, lsh) == "committed"
    IDX.save_lsh_index(emb, lsh_full, dim=DIM, num_planes=6, num_tables=8,
                       mode="overwrite")
    (gi, gm), (fi, fm) = (IDX.load_lsh_index(spark, p) for p in (lsh, lsh_full))
    assert gm["epoch"] == 2 and "sig_kernel" not in gm
    got = sorted(map(tuple, IDX.probe_lsh_index(gi, gm, queries, k=3).collect()))
    want = sorted(map(tuple, IDX.probe_lsh_index(fi, fm, queries, k=3).collect()))
    assert got == want and got

    ivf, ivf_full = _tmp("ivf_kernel_meta"), _tmp("ivf_kernel_meta_full")
    IDX.save_ivf_index(base, ivf, cents, dim=DIM, mode="overwrite")
    add_meta_field(ivf, "assign_kernel")
    assert "assign_kernel" not in IDX.load_ivf_index(spark, ivf)[2]
    IDX.append_ivf_index(delta, ivf)
    assert IS.ingest_epoch(spark, epoch, 0, ivf) == "committed"
    IDX.save_ivf_index(emb, ivf_full, cents, dim=DIM, mode="overwrite")
    (gp, gc, gm), (fp, fc, fm) = (
        IDX.load_ivf_index(spark, p) for p in (ivf, ivf_full)
    )
    assert gm["epoch"] == 2 and "assign_kernel" not in gm
    got = sorted(map(tuple, IDX.probe_ivf_index(
        gp, gc, gm, queries, k=3, nprobe=2).collect()))
    want = sorted(map(tuple, IDX.probe_ivf_index(
        fp, fc, fm, queries, k=3, nprobe=2).collect()))
    assert got == want and got


def test_retrain_ivf_index_blue_green(spark):
    """retrain_ivf_index rebuilds a drifted index under a freshly
    KMeans-trained quantizer into a NEW path: every posting survives
    (n_vectors preserved), the source artifact is untouched (blue/
    green), and the rebuilt index probes identically to an in-session
    search with the same trained centroids."""
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    # deliberately unbalanced quantizer: 4 arbitrary data rows
    rows = emb.orderBy("vec_id").limit(4).select("embedding").collect()
    bad = [(i, list(r.embedding)) for i, r in enumerate(rows)]

    src, dst = _tmp("retrain_src"), _tmp("retrain_dst")
    IDX.save_ivf_index(emb, src, bad, dim=DIM, mode="overwrite")
    src_postings, _, src_meta = IDX.load_ivf_index(spark, src)
    n_before = src_postings.count()

    new_meta = IDX.retrain_ivf_index(
        spark, src, dst, seed=7, max_iter=5, mode="overwrite"
    )
    assert new_meta["n_centroids"] == 4 and new_meta["seed"] == 7

    postings, cents, meta = IDX.load_ivf_index(spark, dst, seed=7)
    assert postings.count() == n_before
    got = sorted(map(tuple, IDX.probe_ivf_index(
        postings, cents, meta, queries, k=3, nprobe=2).collect()))
    want = sorted(map(tuple, SIM.topk_cosine_ivf(
        emb, queries, cents, k=3, nprobe=2).collect()))
    assert got == want and got
    # source untouched: same postings count, same metadata epoch
    again, _, again_meta = IDX.load_ivf_index(spark, src)
    assert again.count() == n_before and again_meta == src_meta


def test_index_stats_reports(spark):
    """ivf_index_stats / lsh_index_stats one-row health reports match
    an independent recompute from the loaded relations themselves —
    the retrain-signal numbers (imbalance, empty cells, expected
    probe candidates) must be exactly the documented formulas."""
    from collections import Counter

    emb = load_table(spark, SF_DIR, "embeddings")
    n = emb.count()
    cents = SIM.fit_centroids(emb, n_centroids=4, seed=7, max_iter=5)

    ipath = _tmp("stats_ivf")
    IDX.save_ivf_index(emb, ipath, cents, dim=DIM, mode="overwrite")
    postings, _, imeta = IDX.load_ivf_index(spark, ipath)
    row = IDX.ivf_index_stats(postings, imeta).collect()[0]
    counts = Counter(r.centroid_id for r in postings.select("centroid_id").collect())
    assert row.n_vectors == n == sum(counts.values())
    assert row.cells_total == 4
    assert row.cells_used == len(counts)
    assert row.empty_cells == 4 - len(counts)
    assert row.max_cell == max(counts.values())
    assert row.mean_cell == round(n / len(counts), 2)
    assert row.imbalance == round(max(counts.values()) / (n / 4), 2)

    lpath = _tmp("stats_lsh")
    IDX.save_lsh_index(emb, lpath, dim=DIM, num_planes=4, num_tables=2,
                       mode="overwrite")
    index, lmeta = IDX.load_lsh_index(spark, lpath)
    row = IDX.lsh_index_stats(index, lmeta).collect()[0]
    buckets = Counter(
        (r.table_id, r.sig) for r in index.select("table_id", "sig").collect()
    )
    assert row.n_vectors == n
    assert row.tables == 2
    assert row.buckets_used == len(buckets)
    assert row.max_bucket == max(buckets.values())
    assert row.mean_bucket == round(sum(buckets.values()) / len(buckets), 2)
    assert row.expected_candidates == round(
        sum(v * v for v in buckets.values()) / n, 2
    )

    # a just-created EMPTY artifact reports zeros, not NULLs — the
    # health-check-before-first-ingest ops flow
    ei, el = _tmp("stats_empty_ivf"), _tmp("stats_empty_lsh")
    IDX.save_ivf_index(emb.limit(0), ei, cents, dim=DIM, mode="overwrite")
    IDX.save_lsh_index(emb.limit(0), el, dim=DIM, num_planes=4, num_tables=2,
                       mode="overwrite")
    p0, _, m0 = IDX.load_ivf_index(spark, ei)
    r0 = IDX.ivf_index_stats(p0, m0).collect()[0]
    assert (r0.n_vectors, r0.cells_used, r0.empty_cells, r0.max_cell,
            r0.mean_cell, r0.imbalance) == (0, 0, 4, 0, 0.0, 0.0)
    i0, l0 = IDX.load_lsh_index(spark, el)
    r0 = IDX.lsh_index_stats(i0, l0).collect()[0]
    assert (r0.n_vectors, r0.buckets_used, r0.max_bucket, r0.mean_bucket,
            r0.expected_candidates) == (0, 0, 0, 0.0, 0.0)


def test_ivf_index_drift_guard(spark):
    """dim / n_centroids / seed drift raise descriptive errors; the
    LSH loader refuses an IVF-postings artifact and vice versa."""
    emb = load_table(spark, SF_DIR, "embeddings").limit(50)
    cents = SIM.fit_centroids(emb, n_centroids=2, seed=3, max_iter=3)
    path = _tmp("ivf_drift")
    IDX.save_ivf_index(emb, path, cents, dim=DIM, seed=3, mode="overwrite")
    with pytest.raises(ValueError, match="dim: expected 128"):
        IDX.load_ivf_index(spark, path, dim=128)
    with pytest.raises(ValueError, match="n_centroids"):
        IDX.load_ivf_index(spark, path, n_centroids=8)
    with pytest.raises(ValueError, match="seed"):
        IDX.load_ivf_index(spark, path, seed=42)
    with pytest.raises(ValueError, match="kind"):
        IDX.load_lsh_index(spark, path)
    with pytest.raises(ValueError, match="kind"):
        IDX.load_centroids(spark, path)
    # accepting the stored values works
    _, _, meta = IDX.load_ivf_index(spark, path)
    assert (meta["dim"], meta["n_centroids"], meta["seed"]) == (DIM, 2, 3)
    # ragged centroids refused at save time
    with pytest.raises(ValueError, match="wrong length"):
        IDX.save_ivf_index(emb, _tmp("ivf_bad"), [(0, [1.0])], dim=DIM,
                           mode="overwrite")


# ---------------------------------------------------------------------------
# round-11: the deletion lifecycle — tombstones for the postings
# kinds, SIGNED partials for the lexical kind, physical purge at
# compaction. Invariant everywhere: delete ≡ rebuild on survivors.
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("kind", ["lsh", "ivf"])
def test_delete_from_index_matches_rebuild(spark, kind):
    """Deleting ids from a persisted ANN index must probe identically
    to an index BUILT on the surviving vectors; double-deletes and
    deletes of absent ids are no-ops; compaction purges the rows
    physically, clears the tombstones, and stays probe-identical;
    the purged id can then be re-ingested."""
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 3)  # survivors only
    survivors = emb.filter(F.col("vec_id") % 7 != 0)
    cents = SIM.fit_centroids(emb, n_centroids=4, seed=7, max_iter=5)

    full, ref = _tmp(f"{kind}_del"), _tmp(f"{kind}_del_ref")
    if kind == "lsh":
        IDX.save_lsh_index(emb, full, dim=DIM, num_planes=6, num_tables=8,
                           mode="overwrite")
        IDX.save_lsh_index(survivors, ref, dim=DIM, num_planes=6,
                           num_tables=8, mode="overwrite")
    else:
        IDX.save_ivf_index(emb, full, cents, dim=DIM, mode="overwrite")
        IDX.save_ivf_index(survivors, ref, cents, dim=DIM, mode="overwrite")

    def probe(path):
        if kind == "lsh":
            idx, meta = IDX.load_lsh_index(spark, path)
            got = IDX.probe_lsh_index(idx, meta, queries, k=3)
        else:
            p, c, meta = IDX.load_ivf_index(spark, path)
            got = IDX.probe_ivf_index(p, c, meta, queries, k=3, nprobe=2)
        return sorted(map(tuple, got.collect()))

    victims = emb.filter(F.col("vec_id") % 7 == 0).select("vec_id")
    assert IDX.delete_from_index(spark, full, victims) == "committed"
    want = probe(ref)
    assert probe(full) == want

    # double-delete with the same batch label short-circuits (the
    # default label above was auto-000000 under the r12 namespaced
    # scheme); a fresh batch over the same (now absent) ids is an
    # empty no-op
    assert IDX.delete_from_index(spark, full, victims, batch="auto-000000") == "skipped"
    assert IDX.delete_from_index(spark, full, victims) == "committed"
    assert probe(full) == want
    # absent ids: no-op
    ghost = spark.createDataFrame([(99_999_991,), (99_999_992,)], ["vec_id"])
    IDX.delete_from_index(spark, full, ghost)
    assert probe(full) == want

    # compaction purges physically and clears tombstones
    live_rows = spark.read.parquet(f"{full}/index").count()
    stats = IDX.compact_index(spark, full, num_partitions=2)
    assert stats["files_after"] >= 1
    assert not os.path.exists(f"{full}/tombstones")
    purged = spark.read.parquet(f"{full}/index").count()
    assert purged < live_rows  # victims physically gone
    assert probe(full) == want

    # a purged id can be re-ingested (the tombstone no longer exists)
    back = emb.filter(F.col("vec_id") == 0)
    if kind == "lsh":
        IDX.append_lsh_index(back, full)
    else:
        IDX.append_ivf_index(back, full)
    assert spark.read.parquet(f"{full}/index").count() > purged


def test_delete_from_lexical_index_matches_rebuild(spark):
    """Lexical deletion via SIGNED partials: the loader's
    sum-of-partials (positive from build/append, negative from the
    delete) must equal the single-shot aggregates over the surviving
    documents BIT-EXACTLY — same integers reach the same divisions,
    so BM25 probes are row-identical to a rebuild. Compaction folds
    the signed partials to one net record (terms fully deleted
    disappear), purges tf, clears tombstones."""
    from workhop2_etl_spark.operators import retrieval as RET

    docs = load_table(spark, SF_DIR, "documents")
    corpus = docs.select(
        "doc_id",
        F.split(
            F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " "
        ).alias("toks"),
    )
    survivors = corpus.filter(F.col("doc_id") % 5 != 0)
    qt = (
        survivors.filter((F.col("doc_id") % 89 == 0) & (F.size("toks") > 0))
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(F.slice("toks", 1, 8)).alias("term"),
        )
        .distinct()
    )

    def probe(path):
        tf, df, stats, meta = RET.load_lexical_index(spark, path)
        return sorted(map(tuple, RET.probe_lexical_index(
            tf, df, stats, meta, qt, k=5).collect()))

    full, ref = _tmp("lex_del"), _tmp("lex_del_ref")
    # two-epoch build so the delete nets against MULTIPLE partials
    RET.save_lexical_index(corpus.filter(F.col("doc_id") % 2 == 0), full,
                           mode="overwrite", num_partitions=4)
    RET.append_lexical_index(corpus.filter(F.col("doc_id") % 2 == 1), full,
                             num_partitions=4)
    RET.save_lexical_index(survivors, ref, mode="overwrite",
                           num_partitions=4)

    # ids as a Python list (the ANN test above passes a DataFrame),
    # with a repeated and an absent id: both contribute nothing
    victims = [
        r.doc_id for r in corpus.filter(F.col("doc_id") % 5 == 0).collect()
    ]
    victims += victims[:1] + [99_999_991]
    assert IDX.delete_from_index(spark, full, victims) == "committed"
    want = probe(ref)
    assert probe(full) == want

    # net corpus state equals the survivor aggregates exactly
    _, df_full, stats_full, _ = RET.load_lexical_index(spark, full)
    _, df_ref, stats_ref, _ = RET.load_lexical_index(spark, ref)
    assert sorted(map(tuple, df_full.collect())) == sorted(
        map(tuple, df_ref.collect())
    )
    assert stats_full.collect() == stats_ref.collect()

    # compact: signed partials fold to one net record; no df ≤ 0 rows
    IDX.compact_index(spark, full, num_partitions=2)
    assert not os.path.exists(f"{full}/tombstones")
    df_files = spark.read.parquet(f"{full}/df")
    assert df_files.filter(F.col("df") <= 0).count() == 0
    assert probe(full) == want

    # a later append still reconciles (net + fresh positives)
    extra = corpus.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"), "toks"
    )
    RET.append_lexical_index(extra, full, num_partitions=4)
    _, _, stats2, _ = RET.load_lexical_index(spark, full)
    n_ref = stats_ref.collect()[0].n_docs
    n_extra = extra.filter(F.size("toks") > 0).count()
    assert stats2.collect()[0].n_docs == n_ref + n_extra


def test_delete_replay_converges_after_partial_rename(spark):
    """The delete batch's crash window: some of the batch's files
    (tombstones, negative partials) renamed in, then the process
    died BEFORE the ledger marker. A replay must first sweep this
    batch's own partial files, restage from the true live state, and
    commit — never understate the negative partials because its own
    half-landed tombstones shrank the victim set."""
    from workhop2_etl_spark.operators import retrieval as RET

    docs = load_table(spark, SF_DIR, "documents").filter(F.col("doc_id") < 300)
    corpus = docs.select(
        "doc_id",
        F.split(
            F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " "
        ).alias("toks"),
    )
    path = _tmp("lex_del_crash")
    RET.save_lexical_index(corpus, path, mode="overwrite", num_partitions=2)
    victims = corpus.filter(F.col("doc_id") % 3 == 0).select("doc_id")

    # first attempt: commit normally, then simulate the crash by
    # deleting the marker AND one of the batch's renamed pieces —
    # i.e. the state "tombstones landed, stats partial did not"
    assert IDX.delete_from_index(spark, path, victims, batch="crash1") == "committed"
    os.remove(f"{path}/ledger/delete-crash1")
    for f in os.listdir(f"{path}/stats"):
        if f.startswith("delete-crash1-"):
            os.remove(f"{path}/stats/{f}")

    # replay: converges to the same committed state
    assert IDX.delete_from_index(spark, path, victims, batch="crash1") == "committed"
    ref = _tmp("lex_del_crash_ref")
    RET.save_lexical_index(corpus.filter(F.col("doc_id") % 3 != 0), ref,
                           mode="overwrite", num_partitions=2)
    _, df_a, stats_a, _ = RET.load_lexical_index(spark, path)
    _, df_b, stats_b, _ = RET.load_lexical_index(spark, ref)
    assert stats_a.collect() == stats_b.collect()
    assert sorted(map(tuple, df_a.collect())) == sorted(
        map(tuple, df_b.collect())
    )


def test_delete_edges_empty_all_and_quantized(spark):
    """Edge sweep for the deletion lifecycle: an EMPTY id batch
    commits as a no-op; deleting EVERY document leaves a loadable
    artifact (n_docs 0, NULL avgdl, probes return nothing — the
    empty-corpus contract); deletion works on a quantized (pq8)
    postings artifact the same as on floats."""
    from workhop2_etl_spark.operators import retrieval as RET

    docs = load_table(spark, SF_DIR, "documents").filter(F.col("doc_id") < 120)
    corpus = docs.select(
        "doc_id",
        F.split(
            F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " "
        ).alias("toks"),
    )
    path = _tmp("lex_del_edges")
    RET.save_lexical_index(corpus, path, mode="overwrite", num_partitions=2)

    # empty batch: commits, changes nothing
    empty = spark.createDataFrame([], "doc_id long")
    assert IDX.delete_from_index(spark, path, empty) == "committed"
    _, _, stats, _ = RET.load_lexical_index(spark, path)
    n_before = stats.collect()[0].n_docs
    assert n_before == corpus.filter(F.size("toks") > 0).count()

    # delete EVERYTHING: net stats hit the empty-corpus contract
    assert IDX.delete_from_index(spark, path, corpus.select("doc_id")) == "committed"
    tf, df, stats, meta = RET.load_lexical_index(spark, path)
    row = stats.collect()[0]
    assert row.n_docs == 0 and row.avgdl is None
    assert df.count() == 0 and tf.count() == 0
    qt = spark.createDataFrame([(1, "the")], "query_id long, term string")
    assert RET.probe_lexical_index(tf, df, stats, meta, qt, k=5).count() == 0
    # compaction of the fully-deleted artifact stays loadable
    IDX.compact_index(spark, path, num_partitions=1)
    tf2, df2, stats2, _ = RET.load_lexical_index(spark, path)
    assert stats2.collect()[0].n_docs == 0 and tf2.count() == 0

    # pq8 artifact: delete → probe ≡ rebuild-on-survivors
    emb = load_table(spark, SF_DIR, "embeddings")
    cents = SIM.fit_centroids(emb, n_centroids=4, seed=7, max_iter=5)
    cb = SIM.sample_pq_codebooks(emb, dim=DIM)
    full, ref = _tmp("pq8_del"), _tmp("pq8_del_ref")
    IDX.save_ivf_index(emb, full, cents, dim=DIM, store_dtype="pq8",
                       codebooks=cb, mode="overwrite")
    IDX.save_ivf_index(emb.filter(F.col("vec_id") % 9 != 0), ref, cents,
                       dim=DIM, store_dtype="pq8", codebooks=cb,
                       mode="overwrite")
    IDX.delete_from_index(
        spark, full, emb.filter(F.col("vec_id") % 9 == 0).select("vec_id")
    )
    queries = emb.filter(F.col("vec_id") % 50 == 3)

    def probe(p):
        po, cs, m = IDX.load_ivf_index(spark, p)
        return sorted(map(tuple, IDX.probe_ivf_index(
            po, cs, m, queries, k=3, nprobe=2).collect()))

    assert probe(full) == probe(ref)


def test_retrain_after_delete_excludes_victims(spark):
    """retrain_ivf_index reads the postings through the loader, so
    pending tombstones are already anti-joined: the retrained
    artifact is built on the SURVIVORS and carries no tombstones —
    the blue/green rebuild doubles as the physical purge."""
    emb = load_table(spark, SF_DIR, "embeddings")
    cents = SIM.fit_centroids(emb, n_centroids=4, seed=7, max_iter=5)
    src, dst = _tmp("retrain_del_src"), _tmp("retrain_del_dst")
    IDX.save_ivf_index(emb, src, cents, dim=DIM, mode="overwrite")
    IDX.delete_from_index(
        spark, src, emb.filter(F.col("vec_id") % 6 == 0).select("vec_id")
    )
    IDX.retrain_ivf_index(spark, src, dst, seed=11, max_iter=3,
                          mode="overwrite")
    postings, _, _ = IDX.load_ivf_index(spark, dst)
    ids = {r.id for r in postings.select("id").distinct().collect()}
    assert ids and all(i % 6 != 0 for i in ids)
    assert not os.path.exists(f"{dst}/tombstones")
    want = emb.filter(F.col("vec_id") % 6 != 0).count()
    assert postings.count() == want


def _lex_corpus(spark, n=200, name="doc_id"):
    docs = load_table(spark, SF_DIR, "documents").filter(F.col("doc_id") < n)
    return docs.select(
        "doc_id",
        F.split(
            F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " "
        ).alias("toks"),
    )


def test_delete_marker_is_atomic_commit_point_for_readers(spark):
    """The r11 advice fix (index_store delete rename window): a
    reader racing the writer — or loading after a crash mid-rename —
    must see either NONE of a delete batch's files or ALL of them.
    Simulated by removing only the ledger marker after a committed
    delete (the 'every file renamed, marker not yet created' instant)
    and by additionally removing one partial (a mid-rename crash):
    both states must load as the PRE-delete index, bit-exactly, and
    re-creating the marker flips the whole batch visible at once."""
    from workhop2_etl_spark.operators import retrieval as RET

    corpus = _lex_corpus(spark)
    path = _tmp("lex_atomic")
    RET.save_lexical_index(corpus, path, mode="overwrite", num_partitions=2)

    def snapshot():
        tf, df, stats, _ = RET.load_lexical_index(spark, path)
        return (
            sorted(map(tuple, tf.collect())),
            sorted(map(tuple, df.collect())),
            stats.collect(),
        )

    before = snapshot()
    victims = corpus.filter(F.col("doc_id") % 4 == 0).select("doc_id")
    assert IDX.delete_from_index(spark, path, victims, batch="atom") == "committed"
    after = snapshot()
    assert after != before  # the delete is real

    # window 1: all files renamed in, marker not yet created —
    # tombstones AND negative partials must be invisible TOGETHER
    marker = f"{path}/ledger/delete-atom"
    os.remove(marker)
    assert snapshot() == before
    # window 2: mid-rename crash (stats partial missing too) — the
    # decremented df must NOT show while the victims' tf rows do
    staged = [
        f for f in os.listdir(f"{path}/stats") if f.startswith("delete-atom-")
    ]
    os.remove(f"{path}/stats/{staged[0]}")
    assert snapshot() == before
    # restore the stats partial and the marker: the batch commits
    # atomically (replay restages, then marker re-lands)
    assert IDX.delete_from_index(spark, path, victims, batch="atom") == "committed"
    assert snapshot() == after


def test_compact_sweeps_uncommitted_delete_batch(spark):
    """compact_index must never fold a crashed (marker-less) delete
    batch's negative partials into the compacted layout: the batch
    was never reader-visible, so compaction sweeps its files and the
    result equals compacting the pre-delete index; the batch's replay
    afterwards still converges to the committed delete."""
    from workhop2_etl_spark.operators import retrieval as RET

    corpus = _lex_corpus(spark)
    path = _tmp("lex_sweep")
    RET.save_lexical_index(corpus, path, mode="overwrite", num_partitions=2)
    victims = corpus.filter(F.col("doc_id") % 5 == 0).select("doc_id")
    assert IDX.delete_from_index(spark, path, victims, batch="crashX") == "committed"
    os.remove(f"{path}/ledger/delete-crashX")  # marker never landed

    IDX.compact_index(spark, path, num_partitions=1)
    # no delete-batch files survive anywhere and the loaded state is
    # the PRE-delete corpus (the batch never committed)
    for sub in ("df", "stats"):
        assert not any(
            f.startswith("delete-") for f in os.listdir(f"{path}/{sub}")
        )
    assert not os.path.exists(f"{path}/tombstones")
    _, _, stats, _ = RET.load_lexical_index(spark, path)
    want = corpus.filter(F.size("toks") > 0).count()
    assert stats.collect()[0].n_docs == want

    # the caller's replay (same label) restages from the compacted
    # live state and commits the delete for real
    assert IDX.delete_from_index(spark, path, victims, batch="crashX") == "committed"
    ref = _tmp("lex_sweep_ref")
    RET.save_lexical_index(
        corpus.filter(F.col("doc_id") % 5 != 0), ref,
        mode="overwrite", num_partitions=1,
    )
    _, df_a, stats_a, _ = RET.load_lexical_index(spark, path)
    _, df_b, stats_b, _ = RET.load_lexical_index(spark, ref)
    assert stats_a.collect() == stats_b.collect()
    assert sorted(map(tuple, df_a.collect())) == sorted(map(tuple, df_b.collect()))


def test_auto_delete_labels_namespaced_no_collision(spark):
    """The r11 advice fix (silent no-op delete): auto-generated batch
    labels are namespaced ('auto-NNNNNN', max+1) so an explicit
    caller label of the digits-only shape can never make a later
    default-labelled call hit its ledger marker and return 'skipped'
    without deleting anything."""
    from workhop2_etl_spark.operators import retrieval as RET

    corpus = _lex_corpus(spark, n=150)
    path = _tmp("lex_labels")
    RET.save_lexical_index(corpus, path, mode="overwrite", num_partitions=1)

    # the advice's exact scenario: an explicit '000000'-shaped label
    # first, then two default-labelled calls — each must COMMIT and
    # actually delete its ids
    assert IDX.delete_from_index(
        spark, path, corpus.filter(F.col("doc_id") % 11 == 0).select("doc_id"),
        batch="000000",
    ) == "committed"
    assert IDX.delete_from_index(
        spark, path, corpus.filter(F.col("doc_id") % 11 == 1).select("doc_id"),
    ) == "committed"
    assert IDX.delete_from_index(
        spark, path, corpus.filter(F.col("doc_id") % 11 == 2).select("doc_id"),
    ) == "committed"
    ledger = set(os.listdir(f"{path}/ledger"))
    assert {"delete-000000", "delete-auto-000000", "delete-auto-000001"} <= ledger
    _, _, stats, _ = RET.load_lexical_index(spark, path)
    want = corpus.filter(F.size("toks") > 0).filter(
        (F.col("doc_id") % 11 != 0)
        & (F.col("doc_id") % 11 != 1)
        & (F.col("doc_id") % 11 != 2)
    ).count()
    assert stats.collect()[0].n_docs == want

    # explicit-label idempotency is unchanged: a replayed explicit
    # label short-circuits as 'skipped'
    assert IDX.delete_from_index(
        spark, path, corpus.filter(F.col("doc_id") % 11 == 0).select("doc_id"),
        batch="000000",
    ) == "skipped"


def test_compact_refuses_uncommitted_stream_epoch_files(spark):
    """r12: compact reads data dirs directly (it rewrites whole
    dirs), so an epoch crashed mid-rename whose staging dir was also
    lost must STOP compaction — folding the unmarked files in would
    make the epoch's replay duplicate rows. The committed state
    compacts fine once the marker is restored."""
    from workhop2_etl_spark.operators import retrieval as RET
    from workhop2_etl_spark.streaming import index_stream as IS

    corpus = _lex_corpus(spark, n=150)
    path = _tmp("lex_stream_guard")
    RET.save_lexical_index(
        corpus.limit(0), path, mode="overwrite", num_partitions=1
    )
    assert IS.ingest_epoch(spark, corpus, 0, path, vec_col="toks") == "committed"
    os.remove(f"{path}/ledger/epoch-{0:012d}")  # marker lost, staging gone

    with pytest.raises(ValueError, match="UNCOMMITTED stream epoch"):
        IDX.compact_index(spark, path, num_partitions=1)

    # restore the marker: the batch is committed again and compaction
    # proceeds, probe-identical to pre-compaction
    open(f"{path}/ledger/epoch-{0:012d}", "w").close()
    tf0, df0, stats0, meta0 = RET.load_lexical_index(spark, path)
    before = sorted(map(tuple, tf0.collect()))
    IDX.compact_index(spark, path, num_partitions=1)
    tf1, _, _, _ = RET.load_lexical_index(spark, path)
    assert sorted(map(tuple, tf1.collect())) == before


def _data_parts(path):
    return [
        f for f in os.listdir(path)
        if not f.startswith((".", "_"))
    ]


def _spark_schema(spark, path):
    return [
        (f.name, f.dataType) for f in spark.read.parquet(path).schema.fields
    ]


def test_empty_seed_save_driver_layout_matches_spark_writer(spark):
    """A provably-empty seed save (``save_*(corpus.limit(0), ...)``,
    the streaming lifecycles' starting state) writes its files
    driver-side. For every artifact kind and storage tier the layout
    must be the Spark writer's: one part file per data dir, and the
    read-back schema of a non-empty save with the same parameters
    (which Spark writes). The lexical seed also holds the one (0, 0)
    stats partial a global aggregate over empty input produces, and
    serves a stream epoch like any artifact."""
    from workhop2_etl_spark.operators import retrieval as RET

    corpus = _lex_corpus(spark, n=150)
    seed, full = _tmp("lex_seed_driver"), _tmp("lex_seed_spark")
    RET.save_lexical_index(corpus.limit(0), seed, mode="overwrite",
                           num_partitions=2)
    RET.save_lexical_index(corpus, full, mode="overwrite", num_partitions=2)
    for sub in ("tf", "df", "stats"):
        assert len(_data_parts(f"{seed}/{sub}")) == 1, sub
        assert _spark_schema(spark, f"{seed}/{sub}") == _spark_schema(
            spark, f"{full}/{sub}"
        ), sub
    assert [tuple(r) for r in spark.read.parquet(f"{seed}/stats").collect()] == [
        (0, 0)
    ]

    emb = load_table(spark, SF_DIR, "embeddings").filter(F.col("vec_id") < 120)
    for dtype in ("float64", "int8"):
        seed, full = _tmp(f"lsh_seed_{dtype}"), _tmp(f"lsh_full_{dtype}")
        for src, path in ((emb.limit(0), seed), (emb, full)):
            IDX.save_lsh_index(src, path, dim=DIM, num_planes=4, num_tables=2,
                               store_dtype=dtype, mode="overwrite")
        assert len(_data_parts(f"{seed}/index")) == 1, dtype
        assert _spark_schema(spark, f"{seed}/index") == _spark_schema(
            spark, f"{full}/index"
        ), dtype

    cents = SIM.fit_centroids(emb, n_centroids=4, seed=7, max_iter=5)
    cbs = SIM.sample_pq_codebooks(emb, dim=DIM)
    for dtype in ("float64", "int8", "pq8"):
        seed, full = _tmp(f"ivf_seed_{dtype}"), _tmp(f"ivf_full_{dtype}")
        for src, path in ((emb.limit(0), seed), (emb, full)):
            IDX.save_ivf_index(src, path, cents, dim=DIM, store_dtype=dtype,
                               codebooks=cbs if dtype == "pq8" else None,
                               mode="overwrite")
        assert len(_data_parts(f"{seed}/index")) == 1, dtype
        assert _spark_schema(spark, f"{seed}/index") == _spark_schema(
            spark, f"{full}/index"
        ), dtype
        assert spark.read.parquet(f"{seed}/index").count() == 0

    # an empty append takes the same driver-side path into its
    # staging dir (one more file per dir, renamed in at its commit),
    # and the seeded artifact then loads and serves a stream epoch
    from workhop2_etl_spark.streaming import index_stream as IS

    seed = _tmp("lex_seed_driver")
    RET.append_lexical_index(corpus.limit(0), seed)
    for sub in ("tf", "df", "stats"):
        assert len(_data_parts(f"{seed}/{sub}")) == 2, sub
    assert IS.ingest_epoch(spark, corpus, 0, seed, vec_col="toks") == "committed"
    tf, df, stats, meta = RET.load_lexical_index(spark, seed)
    assert stats.collect()[0].n_docs == corpus.filter(
        F.size("toks") > 0
    ).count()
    assert meta["epoch"] == 2


@pytest.mark.parametrize("mode", ["ignore", "append"])
def test_rejected_save_mode_leaves_no_files(spark, mode):
    """Save verbs accept 'overwrite' and 'error'/'errorifexists' only,
    and check the mode before their first write: a rejected mode on a
    fresh path raises and leaves nothing behind (not a half artifact
    without its metadata record)."""
    from workhop2_etl_spark.operators import retrieval as RET

    emb = load_table(spark, SF_DIR, "embeddings").filter(F.col("vec_id") < 60)
    cents = [(i, [float(i)] * DIM) for i in range(3)]
    src = _tmp(f"mode_src_{mode}")
    IDX.save_ivf_index(emb, src, cents, dim=DIM, mode="overwrite")
    saves = {
        "save_centroids": lambda p: IDX.save_centroids(
            spark, cents, p, dim=DIM, mode=mode),
        "save_lsh_index": lambda p: IDX.save_lsh_index(
            emb, p, dim=DIM, num_planes=4, num_tables=2, mode=mode),
        "save_ivf_index": lambda p: IDX.save_ivf_index(
            emb, p, cents, dim=DIM, mode=mode),
        "save_lexical_index": lambda p: RET.save_lexical_index(
            _lex_corpus(spark, n=50), p, mode=mode),
        "restore_index": lambda p: IDX.restore_index(
            spark, src, p, mode=mode),
        "retrain_ivf_index": lambda p: IDX.retrain_ivf_index(
            spark, src, p, max_iter=2, mode=mode),
    }
    for name, save in saves.items():
        path = _tmp(f"mode_{mode}_{name}")
        shutil.rmtree(path, ignore_errors=True)
        with pytest.raises(ValueError, match="mode"):
            save(path)
        assert not os.path.exists(path), (name, os.listdir(path))


def test_overwrite_save_clears_stale_lifecycle_state(spark):
    """r12 (real bug, found via a harness double-run): rebuilding an
    artifact at an existing path with mode='overwrite' must clear the
    old life's ledger and tombstones — previously the new corpus
    anti-joined STALE victim ids (rows silently missing from probes)
    and old delete markers made the new life's first same-labelled
    delete return 'skipped' without deleting."""
    from workhop2_etl_spark.operators import retrieval as RET

    corpus = _lex_corpus(spark, n=150)
    path = _tmp("lex_overwrite_reset")
    RET.save_lexical_index(corpus, path, mode="overwrite", num_partitions=1)
    victims = corpus.filter(F.col("doc_id") % 4 == 0).select("doc_id")
    assert IDX.delete_from_index(spark, path, victims, batch="life1") == "committed"

    # rebuild the artifact in place: the old tombstones must NOT
    # suppress the new corpus's rows, and the old delete marker must
    # NOT short-circuit the new life's delete
    RET.save_lexical_index(corpus, path, mode="overwrite", num_partitions=1)
    _, _, stats, _ = RET.load_lexical_index(spark, path)
    assert stats.collect()[0].n_docs == corpus.filter(F.size("toks") > 0).count()
    assert IDX.delete_from_index(spark, path, victims, batch="life1") == "committed"
    _, _, stats2, _ = RET.load_lexical_index(spark, path)
    want = corpus.filter((F.size("toks") > 0) & (F.col("doc_id") % 4 != 0)).count()
    assert stats2.collect()[0].n_docs == want

    # same class for the postings kinds
    emb = load_table(spark, SF_DIR, "embeddings").filter(F.col("vec_id") < 200)
    p2 = _tmp("lsh_overwrite_reset")
    IDX.save_lsh_index(emb, p2, dim=DIM, num_planes=4, num_tables=2,
                       mode="overwrite")
    IDX.delete_from_index(spark, p2, emb.filter(F.col("vec_id") % 3 == 0)
                          .select("vec_id"))
    IDX.save_lsh_index(emb, p2, dim=DIM, num_planes=4, num_tables=2,
                       mode="overwrite")
    index, meta = IDX.load_lsh_index(spark, p2)
    assert index.select("id").distinct().count() == emb.count()


def test_snapshot_as_of_reconstructs_each_commit(spark):
    """r12 SNAPSHOT READS: every ledger marker records its commit
    sequence, so load(as_of=N) reconstructs the artifact exactly as
    it stood after commit N — epochs and deletes committed later are
    hidden across ALL relations at once (scores stay bit-exact
    single-shot BM25 over the visible docs). Legacy empty markers
    stay visible under any as_of; a snapshot before a compaction
    raises."""
    from workhop2_etl_spark.operators import retrieval as RET
    from workhop2_etl_spark.streaming import index_stream as IS

    corpus = _lex_corpus(spark, n=240)
    a = corpus.filter(F.col("doc_id") % 2 == 0)
    b = corpus.filter(F.col("doc_id") % 2 == 1)
    path = _tmp("lex_asof")
    RET.save_lexical_index(corpus.limit(0), path, mode="overwrite",
                           num_partitions=1)
    assert IS.ingest_epoch(spark, a, 0, path, vec_col="toks") == "committed"
    assert IS.ingest_epoch(spark, b, 1, path, vec_col="toks") == "committed"
    victims = corpus.filter(F.col("doc_id") % 5 == 0).select("doc_id")
    assert IDX.delete_from_index(spark, path, victims) == "committed"

    def snap(as_of=None, ref_corpus=None):
        tf, df, stats, _ = RET.load_lexical_index(spark, path, as_of=as_of)
        if ref_corpus is None:
            return (sorted(map(tuple, tf.collect())),
                    sorted(map(tuple, df.collect())), stats.collect())
        rp = _tmp(f"lex_asof_ref{as_of}")
        RET.save_lexical_index(ref_corpus, rp, mode="overwrite",
                               num_partitions=1)
        rtf, rdf, rstats, _ = RET.load_lexical_index(spark, rp)
        assert sorted(map(tuple, tf.collect())) == sorted(map(tuple, rtf.collect()))
        assert sorted(map(tuple, df.collect())) == sorted(map(tuple, rdf.collect()))
        assert stats.collect() == rstats.collect()

    snap(as_of=1, ref_corpus=a)                  # after epoch 0
    snap(as_of=2, ref_corpus=corpus)             # after both epochs
    snap(as_of=3, ref_corpus=corpus.join(       # after the delete
        F.broadcast(victims), "doc_id", "left_anti"))
    assert snap(as_of=3) == snap()               # == current state
    assert snap(as_of=99) == snap()              # future seq: current

    # legacy (empty) markers: visible under any as_of
    mark = f"{path}/ledger/epoch-{1:012d}"
    os.remove(mark); open(mark, "w").close()
    snap(as_of=1, ref_corpus=corpus)             # epoch 1 now always-on

    # compaction folds batches into base files: history ends here
    IDX.compact_index(spark, path, num_partitions=1)
    with pytest.raises(ValueError, match="compacted away"):
        snap(as_of=1)


def test_snapshot_as_of_postings_kinds(spark):
    """Snapshot reads on the postings kinds: a probe at as_of BEFORE
    a delete equals the pre-delete probe; at the delete's seq it
    equals the current (tombstoned) probe."""
    emb = load_table(spark, SF_DIR, "embeddings").filter(F.col("vec_id") < 300)
    half = emb.filter(F.col("vec_id") % 2 == 0)
    rest = emb.filter(F.col("vec_id") % 2 == 1)
    path = _tmp("lsh_asof")
    IDX.save_lsh_index(half, path, dim=DIM, num_planes=4, num_tables=2,
                       mode="overwrite")
    from workhop2_etl_spark.streaming import index_stream as IS

    assert IS.ingest_epoch(spark, rest, 0, path) == "committed"  # seq 1
    queries = emb.filter(F.col("vec_id") % 50 == 3)

    def probe(as_of=None):
        idx, meta = IDX.load_lsh_index(spark, path, as_of=as_of)
        return sorted(map(tuple,
                          IDX.probe_lsh_index(idx, meta, queries, k=3).collect()))

    full = probe()
    IDX.delete_from_index(spark, path,
                          emb.filter(F.col("vec_id") % 7 == 0).select("vec_id"))
    assert probe(as_of=1) == full          # before the delete
    assert probe(as_of=2) == probe()       # at the delete's commit
    assert probe() != full


def test_snapshot_as_of_edges_base_only_and_replay_resequencing(spark):
    """r12 snapshot-read edges: (a) as_of=0 is the BASE state (the
    un-ledgered initial save) with every later batch hidden; (b) on
    an artifact seeded EMPTY, as_of=0 raises descriptively (no base
    files — the earliest readable snapshot is the first commit);
    (c) a delete that CRASHED before its marker and replays AFTER a
    later epoch committed takes a NEW commit sequence at replay time
    — history records when the delete actually became visible, so
    as_of at the epoch's seq shows the epoch but not the delete."""
    from workhop2_etl_spark.operators import retrieval as RET
    from workhop2_etl_spark.streaming import index_stream as IS

    corpus = _lex_corpus(spark, n=240)
    base = corpus.filter(F.col("doc_id") % 3 == 0)
    ep1 = corpus.filter(F.col("doc_id") % 3 == 1)
    ep2 = corpus.filter(F.col("doc_id") % 3 == 2)
    path = _tmp("lex_asof_edges")
    RET.save_lexical_index(base, path, mode="overwrite", num_partitions=1)
    assert IS.ingest_epoch(spark, ep1, 0, path, vec_col="toks") == "committed"

    def n_docs(as_of=None):
        _, _, stats, _ = RET.load_lexical_index(spark, path, as_of=as_of)
        return stats.collect()[0].n_docs

    nb = base.filter(F.size("toks") > 0).count()
    n1 = ep1.filter(F.size("toks") > 0).count()
    n2 = ep2.filter(F.size("toks") > 0).count()
    assert n_docs(as_of=0) == nb            # (a) base-only snapshot
    assert n_docs(as_of=1) == nb + n1

    # (c) crashed delete, then a later epoch, then the replay:
    victims = corpus.filter(F.col("doc_id") % 7 == 0).select("doc_id")
    assert IDX.delete_from_index(spark, path, victims, batch="late") == "committed"
    os.remove(f"{path}/ledger/delete-late")             # crash: seq-2 commit undone
    assert IS.ingest_epoch(spark, ep2, 1, path, vec_col="toks") == "committed"  # seq 3
    assert IDX.delete_from_index(spark, path, victims, batch="late") == "committed"  # replay → seq 4
    full = nb + n1 + n2
    ndel = corpus.filter((F.size("toks") > 0) & (F.col("doc_id") % 7 == 0)).count()
    assert n_docs(as_of=3) == full          # epoch visible, delete not
    assert n_docs(as_of=4) == full - ndel   # the replayed delete's seq
    assert n_docs() == full - ndel

    # (b) empty-seeded artifact: as_of=0 is the seeded-EMPTY state
    # (the save's empty base part files carry the schema), honoring
    # the empty-corpus contract — n_docs 0, NULL avgdl, no rows
    p2 = _tmp("lex_asof_empty")
    RET.save_lexical_index(corpus.limit(0), p2, mode="overwrite",
                           num_partitions=1)
    assert IS.ingest_epoch(spark, corpus, 0, p2, vec_col="toks") == "committed"
    tf0, _, stats0, _ = RET.load_lexical_index(spark, p2, as_of=0)
    row = stats0.collect()[0]
    assert row.n_docs == 0 and row.avgdl is None and tf0.count() == 0
    _, _, stats1, _ = RET.load_lexical_index(spark, p2, as_of=1)
    assert stats1.collect()[0].n_docs == corpus.filter(F.size("toks") > 0).count()


# ---------------------------------------------------------------------------
# restore_index (r12): materialize a snapshot as a fresh artifact
# ---------------------------------------------------------------------------


def test_restore_lexical_each_commit_matches_rebuild(spark):
    """restore_index(as_of=N) must write an artifact whose loads are
    bit-exactly a FRESH BUILD over the documents visible at commit N
    (folded partials, purged tombstones, clean lifecycle state), and
    the restored artifact must be a new life — lifecycle verbs start
    from scratch on it."""
    from workhop2_etl_spark.operators import retrieval as RET
    from workhop2_etl_spark.streaming import index_stream as IS

    corpus = _lex_corpus(spark, n=240)
    evens = corpus.filter(F.col("doc_id") % 2 == 0)
    odds = corpus.filter(F.col("doc_id") % 2 == 1)
    src = _tmp("restore_src")
    RET.save_lexical_index(evens, src, mode="overwrite", num_partitions=2)
    assert IS.ingest_epoch(spark, odds, 0, src, vec_col="toks") == "committed"
    victims = corpus.filter(F.col("doc_id") % 5 == 0).select("doc_id")
    assert IDX.delete_from_index(spark, src, victims) == "committed"

    def loaded(path, as_of=None):
        tf, df, stats, _ = RET.load_lexical_index(spark, path, as_of=as_of)
        return (sorted(map(tuple, tf.collect())),
                sorted(map(tuple, df.collect())), stats.collect())

    def rebuilt(ref_corpus, tag):
        rp = _tmp(f"restore_ref_{tag}")
        RET.save_lexical_index(ref_corpus, rp, mode="overwrite",
                               num_partitions=1)
        return loaded(rp)

    # as_of=1: both halves, pre-delete — equals a rebuild on everything
    dst1 = _tmp("restore_at1")
    meta = IDX.restore_index(spark, src, dst1, as_of=1)
    assert meta["epoch"] == 0 and meta["kind"] == "bm25-lexical"
    assert loaded(dst1) == rebuilt(corpus, "full")

    # as_of=None: the current state — equals a rebuild on survivors
    dst2 = _tmp("restore_now")
    IDX.restore_index(spark, src, dst2)
    assert loaded(dst2) == rebuilt(
        corpus.join(F.broadcast(victims), "doc_id", "left_anti"), "surv")

    # fresh life: no ledger/tombstones, base-layout files only
    assert not os.path.exists(f"{dst1}/ledger")
    assert not os.path.exists(f"{dst1}/tombstones")
    for sub in ("tf", "df", "stats"):
        assert not any(
            f.startswith(("stream-", "delete-"))
            for f in os.listdir(f"{dst1}/{sub}")
        )
    # and lifecycle verbs start from scratch (auto labels, seq 1)
    assert IDX.delete_from_index(spark, dst1, victims) == "committed"
    assert os.path.exists(f"{dst1}/ledger/delete-auto-000000")
    assert loaded(dst1) == loaded(dst2) == loaded(src)

    # the source was never touched: history still reaches commit 1
    assert loaded(src, as_of=1) == rebuilt(corpus, "full2")


def test_restore_ivf_pq8_probe_identity(spark):
    """Restoring an IVF pq8 artifact must carry the quantizer AND the
    codebooks (postings are only meaningful under them): the restored
    probe equals the source probe at the same snapshot."""
    emb = load_table(spark, SF_DIR, "embeddings").filter(F.col("vec_id") < 400)
    half = emb.filter(F.col("vec_id") % 2 == 0)
    rest = emb.filter(F.col("vec_id") % 2 == 1)
    cents = SIM.fit_centroids(half, n_centroids=8, seed=7, max_iter=5)
    cbs = SIM.sample_pq_codebooks(half, dim=DIM)
    src = _tmp("restore_pq_src")
    IDX.save_ivf_index(half, src, cents, dim=DIM, store_dtype="pq8",
                       codebooks=cbs, mode="overwrite")
    from workhop2_etl_spark.streaming import index_stream as IS

    assert IS.ingest_epoch(spark, rest, 0, src) == "committed"  # seq 1
    IDX.delete_from_index(spark, src,
                          emb.filter(F.col("vec_id") % 9 == 0).select("vec_id"))

    queries = emb.filter(F.col("vec_id") % 60 == 3)

    def probe(path, as_of=None):
        postings, c, meta = IDX.load_ivf_index(spark, path, as_of=as_of)
        return sorted(map(tuple, IDX.probe_ivf_index(
            postings, c, meta, queries, k=3, nprobe=2).collect()))

    for as_of in (1, None):
        dst = _tmp(f"restore_pq_at{as_of}")
        IDX.restore_index(spark, src, dst, as_of=as_of)
        assert probe(dst) == probe(src, as_of=as_of)


def test_restore_refuses_same_path_and_existing_target(spark):
    from workhop2_etl_spark.operators import retrieval as RET

    corpus = _lex_corpus(spark, n=60)
    src = _tmp("restore_guard")
    RET.save_lexical_index(corpus, src, mode="overwrite", num_partitions=1)
    with pytest.raises(ValueError, match="in-place restore"):
        IDX.restore_index(spark, src, src + "/")
    dst = _tmp("restore_guard_dst")
    IDX.restore_index(spark, src, dst)
    with pytest.raises(Exception):  # Spark 'error' write semantics
        IDX.restore_index(spark, src, dst)
    IDX.restore_index(spark, src, dst, mode="overwrite")  # explicit opt-in


# ---------------------------------------------------------------------------
# index_changes (r12): the CDC changelog of ledgered mutations
# ---------------------------------------------------------------------------


def test_index_changes_events_bounds_and_replay(spark):
    """index_changes must return exactly the ledgered events in
    (from_seq, to_seq] — and applying them to the from-snapshot's
    membership must reproduce the to-snapshot's membership."""
    from workhop2_etl_spark.operators import retrieval as RET
    from workhop2_etl_spark.streaming import index_stream as IS

    corpus = _lex_corpus(spark, n=240)
    evens = corpus.filter(F.col("doc_id") % 2 == 0)
    odds = corpus.filter(F.col("doc_id") % 2 == 1)
    path = _tmp("changes_lex")
    RET.save_lexical_index(evens, path, mode="overwrite", num_partitions=1)
    assert IS.ingest_epoch(spark, odds, 0, path, vec_col="toks") == "committed"
    victims = corpus.filter(F.col("doc_id") % 5 == 0).select("doc_id")
    assert IDX.delete_from_index(spark, path, victims) == "committed"

    nonempty = lambda d: {r.doc_id for r in  # noqa: E731
                          d.filter(F.size("toks") > 0).select("doc_id")
                          .distinct().collect()}
    ins = nonempty(odds)
    dels = {r.doc_id for r in victims.collect()} & (nonempty(evens) | ins)

    rows = IDX.index_changes(spark, path).collect()
    got = {(r.commit_seq, r.op, r.doc_id) for r in rows}
    want = {(1, "insert", d) for d in ins} | {(2, "delete", d) for d in dels}
    assert got == want

    # bounds: half-open windows select exactly their batches
    assert {(r.commit_seq, r.op) for r in
            IDX.index_changes(spark, path, from_seq=1).collect()} == {(2, "delete")}
    assert {(r.commit_seq, r.op) for r in
            IDX.index_changes(spark, path, to_seq=1).collect()} == {(1, "insert")}
    assert IDX.index_changes(spark, path, from_seq=2).count() == 0
    with pytest.raises(ValueError, match="from_seq <= to_seq"):
        IDX.index_changes(spark, path, from_seq=3, to_seq=1)

    # replay: membership(as_of=0) + inserts − deletes == membership(now)
    def members(as_of=None):
        tf, _, _, _ = RET.load_lexical_index(spark, path, as_of=as_of)
        return {r.doc_id for r in tf.select("doc_id").distinct().collect()}

    state = members(as_of=0)
    for seq, op, doc in sorted((r.commit_seq, r.op, r.doc_id) for r in rows):
        (state.add if op == "insert" else state.discard)(doc)
    assert state == members()

    # no-ledger artifact: an EMPTY changelog with the right schema
    bare = _tmp("changes_bare")
    RET.save_lexical_index(corpus, bare, mode="overwrite", num_partitions=1)
    empty = IDX.index_changes(spark, bare)
    assert empty.count() == 0
    assert empty.columns == ["commit_seq", "op", "doc_id"]


def test_index_changes_legacy_marker_and_compaction_raise(spark):
    """Changelog honesty: a legacy (empty) marker has no order and a
    compacted-away batch has no files — both must raise instead of
    silently under-reporting changes."""
    from workhop2_etl_spark.operators import retrieval as RET

    corpus = _lex_corpus(spark, n=120)
    path = _tmp("changes_guards")
    RET.save_lexical_index(corpus, path, mode="overwrite", num_partitions=1)
    victims = corpus.filter(F.col("doc_id") % 7 == 0).select("doc_id")
    assert IDX.delete_from_index(spark, path, victims, batch="b1") == "committed"

    marker = f"{path}/ledger/delete-b1"
    os.remove(marker)
    open(marker, "w").close()  # legacy empty marker
    with pytest.raises(ValueError, match="no commit sequence"):
        IDX.index_changes(spark, path)
    os.remove(marker)
    assert IDX.delete_from_index(spark, path, victims, batch="b1") == "committed"
    assert IDX.index_changes(spark, path).count() > 0

    IDX.compact_index(spark, path, num_partitions=1)
    with pytest.raises(ValueError, match="compaction folded"):
        IDX.index_changes(spark, path, from_seq=0)
    # tailing AFTER the compaction is fine (nothing newer yet = empty)
    assert IDX.index_changes(spark, path, from_seq=2).count() == 0


def test_index_changes_postings_kind(spark):
    """The postings kinds use the 'id' column and the index/ dir for
    insert epochs; deletes come from the tombstone batches."""
    from workhop2_etl_spark.streaming import index_stream as IS

    emb = load_table(spark, SF_DIR, "embeddings").filter(F.col("vec_id") < 200)
    half = emb.filter(F.col("vec_id") % 2 == 0)
    rest = emb.filter(F.col("vec_id") % 2 == 1)
    path = _tmp("changes_lsh")
    IDX.save_lsh_index(half, path, dim=DIM, num_planes=4, num_tables=2,
                       mode="overwrite")
    assert IS.ingest_epoch(spark, rest, 0, path) == "committed"
    IDX.delete_from_index(spark, path,
                          emb.filter(F.col("vec_id") % 6 == 0).select("vec_id"))

    rows = IDX.index_changes(spark, path).collect()
    ins = {r.vec_id for r in rest.select("vec_id").collect()}
    dels = {r.vec_id for r in emb.filter(F.col("vec_id") % 6 == 0)
            .select("vec_id").collect()}
    assert {(r.commit_seq, r.op, r.id) for r in rows} == (
        {(1, "insert", i) for i in ins} | {(2, "delete", i) for i in dels}
    )


def test_restore_ignores_uncommitted_delete_batch(spark):
    """An UNCOMMITTED (marker-less, crashed) delete batch was never
    reader-visible — restore must materialize the PRE-delete state,
    and the batch's replay on the SOURCE must still converge."""
    from workhop2_etl_spark.operators import retrieval as RET

    corpus = _lex_corpus(spark, n=150)
    src = _tmp("restore_uncommitted_src")
    RET.save_lexical_index(corpus, src, mode="overwrite", num_partitions=1)
    victims = corpus.filter(F.col("doc_id") % 4 == 0).select("doc_id")
    assert IDX.delete_from_index(spark, src, victims, batch="crash") == "committed"
    os.remove(f"{src}/ledger/delete-crash")  # the marker never landed

    def loaded(path):
        tf, df, stats, _ = RET.load_lexical_index(spark, path)
        return (sorted(map(tuple, tf.collect())),
                sorted(map(tuple, df.collect())), stats.collect())

    dst = _tmp("restore_uncommitted_dst")
    IDX.restore_index(spark, src, dst)
    ref = _tmp("restore_uncommitted_ref")
    RET.save_lexical_index(corpus, ref, mode="overwrite", num_partitions=1)
    assert loaded(dst) == loaded(ref)  # pre-delete state, bit-exact

    # the source is untouched: the replay commits the delete for real
    assert IDX.delete_from_index(spark, src, victims, batch="crash") == "committed"
    ref2 = _tmp("restore_uncommitted_ref2")
    RET.save_lexical_index(
        corpus.join(F.broadcast(victims), "doc_id", "left_anti"), ref2,
        mode="overwrite", num_partitions=1,
    )
    assert loaded(src) == loaded(ref2)


def test_restore_from_empty_seeded_artifact(spark):
    """An artifact seeded empty and grown by epochs: restore at the
    epoch's commit equals a fresh build on that epoch's docs, and
    as_of=0 raises descriptively (no committed base data)."""
    from workhop2_etl_spark.operators import retrieval as RET
    from workhop2_etl_spark.streaming import index_stream as IS

    corpus = _lex_corpus(spark, n=150)
    src = _tmp("restore_seed_src")
    RET.save_lexical_index(corpus.limit(0), src, mode="overwrite",
                           num_partitions=1)
    assert IS.ingest_epoch(spark, corpus, 0, src, vec_col="toks") == "committed"

    dst = _tmp("restore_seed_dst")
    IDX.restore_index(spark, src, dst, as_of=1)
    ref = _tmp("restore_seed_ref")
    RET.save_lexical_index(corpus, ref, mode="overwrite", num_partitions=1)

    def loaded(path):
        tf, df, stats, _ = RET.load_lexical_index(spark, path)
        return (sorted(map(tuple, tf.collect())),
                sorted(map(tuple, df.collect())), stats.collect())

    assert loaded(dst) == loaded(ref)
    # as_of=0 on an empty-seeded artifact: tf has base (empty) files,
    # but restoring the empty state is legal — it must yield a
    # loadable empty-corpus artifact, not an error (the save wrote
    # schema-carrying part files; the empty-corpus contract)
    dst0 = _tmp("restore_seed_dst0")
    IDX.restore_index(spark, src, dst0, as_of=0)
    tf0, _, stats0, _ = RET.load_lexical_index(spark, dst0)
    row = stats0.collect()[0]
    assert row.n_docs == 0 and tf0.count() == 0


def test_index_changes_window_after_compaction(spark):
    """Compaction bounds changelog history but NOT the future: a
    delete committed after a compaction is tailable from the
    compaction's epoch, while reaching before it still raises."""
    from workhop2_etl_spark.operators import retrieval as RET

    corpus = _lex_corpus(spark, n=150)
    path = _tmp("changes_postcompact")
    RET.save_lexical_index(corpus, path, mode="overwrite", num_partitions=1)
    v1 = corpus.filter(F.col("doc_id") % 7 == 0).select("doc_id")
    assert IDX.delete_from_index(spark, path, v1) == "committed"  # seq 1
    meta = IDX.compact_index(spark, path, num_partitions=1)      # epoch 2
    compact_seq = int(meta["epoch"])
    v2 = corpus.filter(F.col("doc_id") % 7 == 1).select("doc_id")
    assert IDX.delete_from_index(spark, path, v2) == "committed"  # seq 3

    rows = IDX.index_changes(spark, path, from_seq=compact_seq).collect()
    want = {r.doc_id for r in corpus.filter(
        (F.size("toks") > 0) & (F.col("doc_id") % 7 == 1)
    ).select("doc_id").collect()}
    assert {(r.commit_seq, r.op) for r in rows} == {(compact_seq + 1, "delete")}
    assert {r.doc_id for r in rows} == want
    with pytest.raises(ValueError, match="compaction folded"):
        IDX.index_changes(spark, path, from_seq=0)


def test_index_changes_empty_batches_emit_no_events(spark):
    """Zero-row stream epochs and empty delete batches COMMIT (marker
    + zero-row files) but contribute no changelog events — and must
    not trip the missing-files guard."""
    from workhop2_etl_spark.operators import retrieval as RET
    from workhop2_etl_spark.streaming import index_stream as IS

    corpus = _lex_corpus(spark, n=100)
    path = _tmp("changes_empty")
    RET.save_lexical_index(corpus, path, mode="overwrite", num_partitions=1)
    assert IS.ingest_epoch(spark, corpus.limit(0), 0, path,
                           vec_col="toks") == "committed"
    assert IDX.delete_from_index(
        spark, path, corpus.limit(0).select("doc_id")
    ) == "committed"
    assert IDX.index_changes(spark, path).count() == 0


def test_check_index_clean_and_tampered(spark):
    """check_index (fsck): a freshly-lifecycled lexical artifact is
    consistent with its pending state counted; tampering with a df
    partial or planting an unmarked batch file flips the verdict with
    a named problem."""
    from workhop2_etl_spark.operators import retrieval as RET
    from workhop2_etl_spark.streaming import index_stream as IS

    corpus = _lex_corpus(spark, n=150)
    path = _tmp("fsck_lex")
    RET.save_lexical_index(
        corpus.filter(F.col("doc_id") % 2 == 0), path,
        mode="overwrite", num_partitions=1,
    )
    assert IS.ingest_epoch(spark, corpus.filter(F.col("doc_id") % 2 == 1),
                           0, path, vec_col="toks") == "committed"
    victims = corpus.filter(F.col("doc_id") % 5 == 0).select("doc_id")
    assert IDX.delete_from_index(spark, path, victims) == "committed"

    row = IDX.check_index(spark, path).collect()[0]
    assert row.consistent and row.problems == ""
    assert row.n_tombstones > 0 and row.n_uncommitted_batches == 0
    assert row.n_live == corpus.filter(F.size("toks") > 0).join(
        F.broadcast(victims), "doc_id", "left_anti"
    ).select("doc_id").distinct().join(
        corpus.filter(F.size("toks") > 0).select("doc_id", "toks"), "doc_id"
    ).select("doc_id", F.explode(F.array_distinct("toks"))).count()

    # tamper: drop one df partial file — the fold no longer matches
    # the visible tf recount
    df_files = [f for f in os.listdir(f"{path}/df") if f.endswith(".parquet")]
    os.remove(f"{path}/df/{df_files[0]}")
    row = IDX.check_index(spark, path).collect()[0]
    assert not row.consistent and "df partials disagree" in row.problems


def test_compact_sweeps_crashed_delete_staging(spark):
    """A crashed delete's staging dir does not outlive compaction:
    after compact_index the leftover ``delete.crashed/`` is gone and
    check_index counts no orphan staging; replaying that label
    afterwards still deletes from the post-compaction state."""
    import shutil

    from workhop2_etl_spark.operators import retrieval as RET

    corpus = _lex_corpus(spark, n=100)
    path = _tmp("compact_delete_staging")
    RET.save_lexical_index(corpus, path, mode="overwrite", num_partitions=1)
    # the crash: the batch staged its partials, then died before any
    # rename (no batch files under the data dirs, no marker)
    os.makedirs(f"{path}/delete.crashed")
    shutil.copytree(f"{path}/df", f"{path}/delete.crashed/df")
    assert IDX.check_index(spark, path).collect()[0].n_orphan_staging == 1

    IDX.compact_index(spark, path, num_partitions=1)
    assert not os.path.exists(f"{path}/delete.crashed")
    row = IDX.check_index(spark, path).collect()[0]
    assert row.consistent and row.n_orphan_staging == 0

    victims = corpus.filter(F.col("doc_id") % 6 == 0).select("doc_id")
    assert IDX.delete_from_index(spark, path, victims, batch="crashed") == "committed"
    ref = _tmp("compact_delete_staging_ref")
    RET.save_lexical_index(
        corpus.filter(F.col("doc_id") % 6 != 0), ref,
        mode="overwrite", num_partitions=1,
    )
    got, want = RET.load_lexical_index(spark, path), RET.load_lexical_index(spark, ref)
    assert got[2].collect() == want[2].collect()
    for a, b in ((got[0], want[0]), (got[1], want[1])):
        assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_index_changes_skips_compacted_legacy_marker(spark):
    """A sequence-less marker raises only while its batch's files are
    live: once compaction folded them into the base state the
    changelog skips it, so tailing after the compaction works."""
    from workhop2_etl_spark.operators import retrieval as RET

    corpus = _lex_corpus(spark, n=120)
    path = _tmp("changes_legacy_compacted")
    RET.save_lexical_index(corpus, path, mode="overwrite", num_partitions=1)
    victims = corpus.filter(F.col("doc_id") % 7 == 0).select("doc_id")
    assert IDX.delete_from_index(spark, path, victims, batch="b1") == "committed"
    open(f"{path}/ledger/delete-b1", "w").close()  # sequence-less marker
    with pytest.raises(ValueError, match="no commit sequence"):
        IDX.index_changes(spark, path)

    IDX.compact_index(spark, path, num_partitions=1)
    assert IDX.index_changes(spark, path, from_seq=2).count() == 0
    more = corpus.filter(F.col("doc_id") % 7 == 1).select("doc_id")
    assert IDX.delete_from_index(spark, path, more, batch="b2") == "committed"
    rows = IDX.index_changes(spark, path, from_seq=2).collect()
    assert {(r.commit_seq, r.op) for r in rows} == {(3, "delete")}
    assert sorted(r.doc_id for r in rows) == sorted(
        r.doc_id for r in more.collect()
    )


def test_check_index_counts_uncommitted_and_orphans(spark):
    from workhop2_etl_spark.operators import retrieval as RET

    corpus = _lex_corpus(spark, n=100)
    path = _tmp("fsck_pending")
    RET.save_lexical_index(corpus, path, mode="overwrite", num_partitions=1)
    victims = corpus.filter(F.col("doc_id") % 6 == 0).select("doc_id")
    assert IDX.delete_from_index(spark, path, victims, batch="gone") == "committed"
    os.remove(f"{path}/ledger/delete-gone")       # crashed before marker
    os.makedirs(f"{path}/delete.other")            # orphan staging
    row = IDX.check_index(spark, path).collect()[0]
    # the crashed batch is reader-invisible, so the artifact is still
    # CONSISTENT — the pending work is reported, not flagged
    assert row.consistent
    assert row.n_uncommitted_batches == 1 and row.n_orphan_staging == 1
    assert row.n_tombstones == 0


def test_check_index_ivf_orphan_cell(spark):
    emb = load_table(spark, SF_DIR, "embeddings").filter(F.col("vec_id") < 200)
    cents = SIM.fit_centroids(emb, n_centroids=4, seed=7, max_iter=5)
    path = _tmp("fsck_ivf")
    IDX.save_ivf_index(emb, path, cents, dim=DIM, mode="overwrite")
    row = IDX.check_index(spark, path).collect()[0]
    assert row.consistent and row.n_live == emb.count()

    # tamper: rewrite the quantizer without one cell — postings now
    # reference an orphan cell
    import pyspark.sql.functions as SF  # noqa: N812

    kept = [c for c in cents if c[0] != 0]
    IDX._write_centroid_rows(spark, kept, DIM, f"{path}/centroids",
                             "overwrite")
    meta2 = dict(IDX._read_meta(spark, path, "ivf-postings"),
                 n_centroids=len(kept))
    IDX._write_meta(spark, path, meta2, "overwrite")
    row = IDX.check_index(spark, path).collect()[0]
    assert not row.consistent and "absent from the riding quantizer" in row.problems


def test_check_index_reports_missing_dirs_instead_of_raising(spark):
    """fsck must DIAGNOSE a mangled artifact, not crash on it: a df
    dir removed wholesale (where the loader would raise) and an
    unreadable pq8 codebook dir both land in `problems`."""
    import shutil

    from workhop2_etl_spark.operators import retrieval as RET

    corpus = _lex_corpus(spark, n=80)
    path = _tmp("fsck_mangled")
    RET.save_lexical_index(corpus, path, mode="overwrite", num_partitions=1)
    shutil.rmtree(f"{path}/df")
    row = IDX.check_index(spark, path).collect()[0]
    assert not row.consistent and "df/ missing" in row.problems

    emb = load_table(spark, SF_DIR, "embeddings").filter(F.col("vec_id") < 150)
    cents = SIM.fit_centroids(emb, n_centroids=4, seed=7, max_iter=5)
    cbs = SIM.sample_pq_codebooks(emb, dim=DIM)
    p2 = _tmp("fsck_pq")
    IDX.save_ivf_index(emb, p2, cents, dim=DIM, store_dtype="pq8",
                       codebooks=cbs, mode="overwrite")
    assert IDX.check_index(spark, p2).collect()[0].consistent
    shutil.rmtree(f"{p2}/codebooks")
    row = IDX.check_index(spark, p2).collect()[0]
    assert not row.consistent and "codebooks unreadable" in row.problems


def test_meta_driver_side_io_roundtrip_and_compat(spark):
    """r12 optimization pin: _write_meta/_read_meta moved off Spark
    jobs onto driver-side Hadoop FS I/O. The record must round-trip
    with exact types, keep the old on-disk layout readable by
    spark.read.json (external consumers), honor mode='error', and
    keep the descriptive missing-artifact error."""
    path = _tmp("meta_driver_io")
    meta = {
        "kind": "ivf-postings", "version": 1, "dim": DIM,
        "n_centroids": 4, "id_col": "vec_id", "epoch": 2,
        "store_dtype": "float64", "seed": 7,
        "_codebooks": object(),  # load-time convenience: must not leak
    }
    IDX._write_meta(spark, path, meta, "overwrite")
    got = IDX._read_meta(spark, path, "ivf-postings")
    want = {k: v for k, v in meta.items() if k != "_codebooks"}
    assert got == want
    assert all(type(got[k]) is type(want[k]) for k in want)

    # layout compat: still one JSON line under meta/, Spark-readable
    rows = spark.read.schema(IDX._META_SCHEMA).json(f"{path}/meta").collect()
    assert len(rows) == 1 and rows[0].kind == "ivf-postings"
    assert rows[0].dim == DIM and rows[0].seed == 7

    # mode='error' refuses to clobber; 'overwrite' replaces
    with pytest.raises(ValueError, match="already exists"):
        IDX._write_meta(spark, path, meta, "error")
    IDX._write_meta(spark, path, dict(meta, epoch=5), "overwrite")
    assert IDX._read_meta(spark, path, "ivf-postings")["epoch"] == 5

    with pytest.raises(ValueError, match="no readable index metadata"):
        IDX._read_meta(spark, _tmp("meta_never_written"), "ivf-postings")


def test_delete_labels_that_prefix_each_other_stay_independent(spark):
    """A delete batch owns exactly the files of its own label: labels
    that prefix each other ('b' of 'b-2', 'auto' of the 'auto-NNNNNN'
    defaults) never replay-clean, hide or changelog each other's
    files."""
    from workhop2_etl_spark.operators import retrieval as RET

    corpus = _lex_corpus(spark, n=40).filter(F.size("toks") > 0)
    ids = sorted(r.doc_id for r in corpus.select("doc_id").collect())
    path = _tmp("lex_label_prefix")
    RET.save_lexical_index(corpus, path, mode="overwrite", num_partitions=1)

    def live():
        tf, _, stats, _ = RET.load_lexical_index(spark, path)
        docs = {r.doc_id for r in tf.select("doc_id").distinct().collect()}
        assert stats.collect()[0].n_docs == len(docs)
        return docs

    # (a) a later 'b' neither undoes nor changelogs the committed 'b-2'
    assert IDX.delete_from_index(spark, path, [ids[0]], batch="b-2") == "committed"
    assert IDX.delete_from_index(spark, path, [ids[1]], batch="b") == "committed"
    assert live() == set(ids) - {ids[0], ids[1]}
    assert IDX.check_index(spark, path).collect()[0].consistent
    assert {(r.commit_seq, r.doc_id) for r in
            IDX.index_changes(spark, path).collect()} == {(1, ids[0]), (2, ids[1])}

    # (b) an uncommitted 'b' hides only its own files, not 'b-2''s
    os.remove(f"{path}/ledger/delete-b")
    assert live() == set(ids) - {ids[0]}
    row = IDX.check_index(spark, path).collect()[0]
    assert row.consistent and row.n_uncommitted_batches == 1
    assert IDX.delete_from_index(spark, path, [ids[1]], batch="b") == "committed"

    # (c) an explicit 'auto' leaves the auto-labelled batches alone
    assert IDX.delete_from_index(spark, path, [ids[2]]) == "committed"
    assert IDX.delete_from_index(spark, path, [ids[3]]) == "committed"
    assert IDX.delete_from_index(spark, path, [ids[4]], batch="auto") == "committed"
    assert live() == set(ids) - set(ids[:5])
    assert IDX.check_index(spark, path).collect()[0].consistent


def test_mixed_crash_state_hides_exactly_the_uncommitted_batches(spark):
    """One artifact holding a crashed delete batch, a crashed stream
    epoch, a committed batch of each kind, a legacy empty marker and
    the stream's checkpoint binding: readers hide exactly the crashed
    batches' files, check_index counts both, index_changes skips the
    binding, and as_of treats the legacy marker as always visible."""
    from workhop2_etl_spark.operators import ledger
    from workhop2_etl_spark.operators import retrieval as RET
    from workhop2_etl_spark.streaming import index_stream as IS

    corpus = _lex_corpus(spark, n=160).filter(F.size("toks") > 0)
    part = lambda r: corpus.filter(F.col("doc_id") % 4 == r)  # noqa: E731
    docs = lambda d: {r.doc_id for r in d.select("doc_id").collect()}  # noqa: E731
    path = _tmp("lex_mixed_crash")
    RET.save_lexical_index(part(0), path, mode="overwrite", num_partitions=1)
    assert IS.ingest_epoch(spark, part(1), 0, path, vec_col="toks") == "committed"
    kept = sorted(docs(part(0)))[:3]
    assert IDX.delete_from_index(spark, path, kept, batch="kept") == "committed"
    assert IS.ingest_epoch(spark, part(2), 1, path, vec_col="toks") == "committed"
    os.remove(f"{path}/ledger/epoch-{1:012d}")        # crashed stream epoch
    os.makedirs(f"{path}/ingest.epoch-{1:012d}")      # ... and its staging
    crashed = sorted(docs(part(1)))[:3]
    assert IDX.delete_from_index(spark, path, crashed, batch="crashed") == "committed"
    os.remove(f"{path}/ledger/delete-crashed")        # crashed delete batch
    open(f"{path}/ledger/_stream-0123456789ab", "w").close()

    crashed_prefixes = (f"stream-{1:012d}-", "delete-crashed-")
    for sub in ("tf", "df", "stats", "tombstones"):
        names = sorted(
            f for f in os.listdir(f"{path}/{sub}")
            if not f.startswith((".", "_"))
        )
        files, _ = ledger.visible_files(spark, path, sub)
        assert sorted(os.path.basename(f) for f in files) == [
            f for f in names if not f.startswith(crashed_prefixes)
        ]
    want = (docs(part(0)) | docs(part(1))) - set(kept)
    tf, _, stats, _ = RET.load_lexical_index(spark, path)
    assert {r.doc_id for r in tf.select("doc_id").distinct().collect()} == want
    assert stats.collect()[0].n_docs == len(want)

    row = IDX.check_index(spark, path).collect()[0]
    assert row.consistent
    assert row.n_uncommitted_batches == 2 and row.n_orphan_staging == 1
    assert {(r.commit_seq, r.op) for r in IDX.index_changes(spark, path).collect()} == {
        (1, "insert"), (2, "delete")
    }

    # a legacy empty marker is committed at an unknown point: visible
    # under any as_of, while the sequenced 'kept' delete hides at 0
    mark = f"{path}/ledger/epoch-{0:012d}"
    os.remove(mark)
    open(mark, "w").close()
    tf0, _, _, _ = RET.load_lexical_index(spark, path, as_of=0)
    assert {r.doc_id for r in tf0.select("doc_id").distinct().collect()} == (
        docs(part(0)) | docs(part(1))
    )


# ---------------------------------------------------------------------------
# append_*_index commits through the ledger, like an epoch or a delete
# ---------------------------------------------------------------------------


def _appendable(spark, kind, n=150):
    """(rows, id column, save(rows, path), append(rows, path),
    state(path, as_of)) for one index kind; ``state`` is everything a
    loader returns, reduced to comparable values (row ids with their
    multiplicity; for the lexical kind also the folded df and stats)."""
    from workhop2_etl_spark.operators import retrieval as RET

    if kind == "lexical":
        rows = _lex_corpus(spark, n=n)

        def save(r, p):
            RET.save_lexical_index(r, p, mode="overwrite", num_partitions=2)

        def append(r, p):
            return RET.append_lexical_index(r, p, num_partitions=2)

        def state(p, as_of=None):
            tf, df, stats, _ = RET.load_lexical_index(spark, p, as_of=as_of)
            return (sorted(r.doc_id for r in tf.select("doc_id").collect()),
                    sorted(map(tuple, df.collect())), stats.collect())

        return rows, "doc_id", save, append, state

    rows = load_table(spark, SF_DIR, "embeddings").filter(F.col("vec_id") < n)
    if kind == "lsh":
        def save(r, p):
            IDX.save_lsh_index(r, p, dim=DIM, num_planes=4, num_tables=2,
                               mode="overwrite")

        append = IDX.append_lsh_index

        def load(p, as_of):
            return IDX.load_lsh_index(spark, p, as_of=as_of)[0]
    else:
        cents = SIM.fit_centroids(rows, n_centroids=4, seed=7, max_iter=3)

        def save(r, p):
            IDX.save_ivf_index(r, p, cents, dim=DIM, mode="overwrite")

        append = IDX.append_ivf_index

        def load(p, as_of):
            return IDX.load_ivf_index(spark, p, as_of=as_of)[0]

    def state(p, as_of=None):
        return sorted(r.id for r in load(p, as_of).select("id").collect())

    return rows, "vec_id", save, append, state


def _batch_names(path):
    """Every file name under the artifact's dirs, by dir."""
    return {
        d: sorted(n for n in os.listdir(f"{path}/{d}") if not n.startswith((".", "_")))
        for d in os.listdir(path)
        if os.path.isdir(f"{path}/{d}") and d not in ("ledger", "meta")
    }


@pytest.mark.parametrize("kind", ["lsh", "ivf", "lexical"])
def test_append_is_a_ledgered_batch(spark, kind):
    """An append commits as a labelled append batch: its rows reach
    the data dirs only under its batch-owned names, a snapshot as of
    the save hides it, and the changelog lists its ids as inserts at
    its commit sequence."""
    rows, id_col, save, append, state = _appendable(spark, kind)
    base = rows.filter(F.col(id_col) % 2 == 0)
    delta = rows.filter(F.col(id_col) % 2 == 1)
    path = _tmp(f"append_ledgered_{kind}")
    save(base, path)
    before, names = state(path), _batch_names(path)

    assert append(delta, path)["epoch"] == 1

    # (a) the snapshot as of the save hides the append
    after = state(path)
    assert after != before
    assert state(path, as_of=0) == before
    assert state(path, as_of=1) == after

    # (b) the changelog lists the append's ids as inserts at seq 1
    if kind == "lexical":
        delta = delta.filter(F.size("toks") > 0)
    want = {(1, "insert", r[0]) for r in delta.select(id_col).collect()}
    got = IDX.index_changes(spark, path, 0).collect()
    assert {tuple(r) for r in got} == want

    # the rows came in through the ledger's renames, staging swept
    assert "append-auto-000000" in os.listdir(f"{path}/ledger")
    for d, now in _batch_names(path).items():
        new = set(now) - set(names.get(d, ()))
        assert all(n.startswith("append-auto-000000-") for n in new), (d, new)
    assert not [d for d in os.listdir(path) if d.startswith("append.")]


@pytest.mark.parametrize("kind", ["lsh", "ivf", "lexical"])
def test_crashed_append_is_invisible_and_rerun_commits_whole(spark, kind):
    """(c) An append whose marker is missing (a crash after its
    renames) is hidden from every loader; the check counts it as an
    uncommitted batch and still finds the artifact consistent.
    Re-running the append commits it whole, with no duplicate rows."""
    rows, id_col, save, append, state = _appendable(spark, kind)
    base = rows.filter(F.col(id_col) % 2 == 0)
    delta = rows.filter(F.col(id_col) % 2 == 1)
    path = _tmp(f"append_crash_{kind}")
    save(base, path)
    before = state(path)
    append(delta, path)
    after = state(path)

    ledger_dir = f"{path}/ledger"
    for m in os.listdir(ledger_dir) if os.path.isdir(ledger_dir) else ():
        if m.startswith("append-"):
            os.remove(f"{ledger_dir}/{m}")
    assert state(path) == before
    row = IDX.check_index(spark, path).collect()[0]
    assert row.consistent, row.problems
    assert row.n_uncommitted_batches == 1

    append(delta, path)
    assert state(path) == after
    row = IDX.check_index(spark, path).collect()[0]
    assert row.consistent and row.n_uncommitted_batches == 0


@pytest.mark.parametrize("kind", ["lsh", "ivf", "lexical"])
def test_append_then_fresh_stream_binds(spark, kind):
    """(d) Append batches are not stream epochs: a stream started with
    a fresh checkpoint after an append binds and ingests."""
    from workhop2_etl_spark.streaming import index_stream as IS

    rows, id_col, save, append, state = _appendable(spark, kind)
    parts = [rows.filter(F.col(id_col) % 3 == i) for i in range(3)]
    path = _tmp(f"append_stream_{kind}")
    save(parts[0], path)
    append(parts[1], path)
    src, ckpt = _tmp(f"append_stream_src_{kind}"), _tmp(f"append_stream_ckpt_{kind}")
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    parts[2].repartition(1).write.parquet(src)
    IS.stream_index_ingest(spark, src, rows.schema, path, ckpt,
                           partitions_per_epoch=1)

    ref = _tmp(f"append_stream_ref_{kind}")
    save(rows, ref)
    assert state(path) == state(ref)


@pytest.mark.parametrize("kind", ["lsh", "ivf", "lexical"])
def test_empty_append_commits(spark, kind):
    """(e) An empty append commits a batch of its own and leaves every
    loader as it was; a later append still lands and is tailed at its
    own sequence."""
    rows, id_col, save, append, state = _appendable(spark, kind)
    base = rows.filter(F.col(id_col) % 2 == 0)
    delta = rows.filter(F.col(id_col) % 2 == 1)
    path = _tmp(f"append_empty_{kind}")
    save(base, path)
    before = state(path)

    assert append(rows.limit(0), path)["epoch"] == 1
    assert "append-auto-000000" in os.listdir(f"{path}/ledger")
    assert state(path) == before
    assert append(delta, path)["epoch"] == 2
    ref = _tmp(f"append_empty_ref_{kind}")
    save(rows, ref)
    assert state(path) == state(ref)
    assert {r.commit_seq for r in IDX.index_changes(spark, path).collect()} == {2}
