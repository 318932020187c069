"""Streaming ANN index maintenance (streaming/index_stream.py): an
availableNow stream of embedding files must leave the persisted
artifact IDENTICAL (by probe) to a single-shot batch build, and the
epoch protocol (ledger marker, staged write, deterministic renames)
must make replays — full, marker-deleted, or mid-stage-crashed —
converge without duplicating a posting."""

from __future__ import annotations

import os
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from workhop2_etl_spark.operators import index_store as IDX
from workhop2_etl_spark.operators import similarity as SIM
from workhop2_etl_spark.session import load_table
from workhop2_etl_spark.streaming import index_stream as IS

from tests.conftest import SF_DIR

DIM = 64


def _tmp(name: str) -> str:
    return os.path.join(
        tempfile.mkdtemp(prefix="w2e_idxstream_"), f"{name}_{uuid.uuid4().hex[:6]}"
    )


def _probe(spark, path, queries, kind):
    if kind == "lsh":
        index, meta = IDX.load_lsh_index(spark, path)
        got = IDX.probe_lsh_index(index, meta, queries, k=3)
    else:
        postings, cents, meta = IDX.load_ivf_index(spark, path)
        got = IDX.probe_ivf_index(postings, cents, meta, queries, k=3, nprobe=2)
    return sorted(map(tuple, got.collect()))


@pytest.mark.parametrize("kind", ["lsh", "ivf"])
def test_stream_ingest_equals_batch_build(spark, kind):
    """Seed an EMPTY artifact, stream the whole corpus through in
    three micro-batches, and probe: results must be row-identical to
    an index built single-shot on the full corpus. The ledger holds
    one marker per epoch and no staging dirs survive."""
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    cents = SIM.fit_centroids(emb, n_centroids=4, seed=7, max_iter=5)

    streamed, full = _tmp(f"{kind}_streamed"), _tmp(f"{kind}_full")
    if kind == "lsh":
        IDX.save_lsh_index(emb.limit(0), streamed, dim=DIM, num_planes=6,
                           num_tables=8, mode="overwrite")
        IDX.save_lsh_index(emb, full, dim=DIM, num_planes=6, num_tables=8,
                           mode="overwrite")
    else:
        IDX.save_ivf_index(emb.limit(0), streamed, cents, dim=DIM,
                           mode="overwrite")
        IDX.save_ivf_index(emb, full, cents, dim=DIM, mode="overwrite")

    src = _tmp(f"{kind}_srcdir")
    for i in range(3):
        emb.filter(F.col("vec_id") % 3 == i).repartition(1).write.mode(
            "append"
        ).parquet(src)
    ckpt = _tmp(f"{kind}_ckpt")
    IS.stream_index_ingest(
        spark, src, emb.schema, streamed, ckpt, partitions_per_epoch=2
    )

    assert _probe(spark, streamed, queries, kind) == _probe(
        spark, full, queries, kind
    )
    markers = sorted(
        f for f in os.listdir(f"{streamed}/ledger") if f.startswith("epoch-")
    )
    assert len(markers) == 3
    # the ledger is bound to its feeding checkpoint
    assert [
        f for f in os.listdir(f"{streamed}/ledger") if f.startswith("_stream-")
    ]
    assert not [d for d in os.listdir(streamed) if d.startswith("ingest.epoch")]

    # a second run over the same checkpoint adds no batches
    before = spark.read.parquet(f"{streamed}/index").count()
    IS.stream_index_ingest(
        spark, src, emb.schema, streamed, ckpt, partitions_per_epoch=2
    )
    assert spark.read.parquet(f"{streamed}/index").count() == before

    # a FRESH checkpoint would restart batch ids at 0 — its batches
    # would collide with committed ledger epochs and be silently
    # skipped (data loss), so the binding guard refuses up front
    with pytest.raises(ValueError, match="different checkpoint"):
        IS.stream_index_ingest(
            spark, src, emb.schema, streamed, _tmp(f"{kind}_ckpt2"),
            partitions_per_epoch=2,
        )
    # deliberate migration path: adopt_ledger re-binds to the new
    # checkpoint and KEEPS the committed epochs — this source replays
    # the already-indexed files, so its colliding batch ids skip (the
    # caller vouched the new source wouldn't replay; here it does,
    # and the ledger still prevents double-indexing)
    IS.stream_index_ingest(
        spark, src, emb.schema, streamed, _tmp(f"{kind}_ckpt3"),
        partitions_per_epoch=2, adopt_ledger=True,
    )
    assert spark.read.parquet(f"{streamed}/index").count() == before


def test_ingest_epoch_replay_converges(spark):
    """The exactly-once protocol under every crash window: a committed
    epoch short-circuits on the ledger ('skipped'); deleting the
    marker and replaying the SAME epoch re-stages but every rename
    target exists, so no posting duplicates; a half-staged crash
    (junk staging, no marker) is overwritten."""
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    cents = SIM.fit_centroids(emb, n_centroids=4, seed=7, max_iter=5)

    path = _tmp("replay_ivf")
    IDX.save_ivf_index(emb.limit(0), path, cents, dim=DIM, mode="overwrite")

    batches = [emb.filter(F.col("vec_id") % 2 == r) for r in (0, 1)]
    assert IS.ingest_epoch(spark, batches[0], 0, path) == "committed"
    # half-staged crash before epoch 1: junk staging, no marker
    os.makedirs(f"{path}/ingest.epoch-{1:012d}", exist_ok=True)
    with open(f"{path}/ingest.epoch-{1:012d}/part-junk.parquet", "wb") as f:
        f.write(b"junk")
    assert IS.ingest_epoch(spark, batches[1], 1, path) == "committed"

    want = _probe(spark, path, queries, "ivf")
    n = spark.read.parquet(f"{path}/index").count()
    assert n == emb.count()

    # committed replay → ledger short-circuit
    assert IS.ingest_epoch(spark, batches[1], 1, path) == "skipped"
    # crash-between-renames-and-marker replay: marker gone, the
    # epoch's live files (including a stale partial from a different
    # partitioning) are rebuilt whole from fresh staging — converge
    os.remove(f"{path}/ledger/epoch-{1:012d}")
    stale = f"{path}/index/stream-{1:012d}-99999.parquet"
    with open(stale, "wb") as f:
        f.write(b"stale partial from an earlier attempt")
    assert IS.ingest_epoch(spark, batches[1], 1, path) == "committed"
    assert not os.path.exists(stale)  # epoch-owned delete removed it
    assert spark.read.parquet(f"{path}/index").count() == n
    assert _probe(spark, path, queries, "ivf") == want

    # a stream against an artifact that does not exist fails fast
    with pytest.raises(ValueError, match="no readable index metadata"):
        IS.stream_index_ingest(
            spark, _tmp("nosrc"), emb.schema, _tmp("noidx"), _tmp("nockpt")
        )

    # compaction refuses while an UNCOMMITTED stream epoch is pending
    # (its replay would duplicate the folded rows), but sweeps a
    # committed epoch's staging leftover and proceeds
    os.makedirs(f"{path}/ingest.epoch-{2:012d}", exist_ok=True)
    with pytest.raises(ValueError, match="uncommitted stream ingest epoch"):
        IDX.compact_index(spark, path)
    with open(f"{path}/ledger/epoch-{2:012d}", "w") as f:
        f.write("")
    stats = IDX.compact_index(spark, path, num_partitions=2)
    assert stats["files_after"] <= 2
    assert not os.path.exists(f"{path}/ingest.epoch-{2:012d}")
    assert _probe(spark, path, queries, "ivf") == want


def test_lexical_stream_ingest_and_replay_converges(spark):
    """The lexical artifact's THREE-dir epoch protocol: streamed
    ingest (via the prepare tokenizer hook) probes identically to a
    single-shot build, and a marker-deleted replay of an epoch
    rebuilds its tf rows AND its df/stats partials whole — a
    duplicated partial would silently inflate df/n_docs and shift
    every BM25 score, so convergence is checked by exact probe
    equality, not just row counts."""
    from workhop2_etl_spark.operators import retrieval as RET

    docs = load_table(spark, SF_DIR, "documents")
    tokenize = lambda df: df.select(  # noqa: E731
        "doc_id",
        F.split(
            F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " "
        ).alias("toks"),
    )
    qt = (
        tokenize(docs)
        .filter(F.col("doc_id") % 89 == 0)
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(F.slice("toks", 1, 8)).alias("term"),
        )
        .distinct()
    )

    def probe(path):
        tf, df, stats, meta = RET.load_lexical_index(spark, path)
        return sorted(
            map(tuple, RET.probe_lexical_index(tf, df, stats, meta, qt, k=5).collect())
        )

    full = _tmp("lex_full")
    RET.save_lexical_index(tokenize(docs), full, mode="overwrite")
    want = probe(full)

    streamed = _tmp("lex_streamed")
    RET.save_lexical_index(tokenize(docs).limit(0), streamed, mode="overwrite")
    src, ckpt = _tmp("lex_src"), _tmp("lex_ckpt")
    for i in range(3):
        docs.filter(F.col("doc_id") % 3 == i).repartition(1).write.mode(
            "append"
        ).parquet(src)
    IS.stream_index_ingest(
        spark, src, docs.schema, streamed, ckpt,
        vec_col="toks", partitions_per_epoch=2, prepare=tokenize,
    )
    assert probe(streamed) == want

    # committed replay short-circuits; marker-deleted replay rebuilds
    # the epoch's live files in ALL THREE dirs (stale partial planted
    # in stats — the additive-partials dir where a duplicate corrupts)
    batch1 = tokenize(docs.filter(F.col("doc_id") % 3 == 1))
    assert IS.ingest_epoch(spark, batch1, 1, streamed, vec_col="toks") == "skipped"
    os.remove(f"{streamed}/ledger/epoch-{1:012d}")
    stale = f"{streamed}/stats/stream-{1:012d}-99999.parquet"
    with open(stale, "wb") as f:
        f.write(b"stale partial")
    assert IS.ingest_epoch(spark, batch1, 1, streamed, vec_col="toks") == "committed"
    assert not os.path.exists(stale)
    assert probe(streamed) == want

    # compaction folds the per-epoch df/stats partials into one and
    # re-clusters tf by term; probes are row-identical and a LATER
    # append still reconciles (fold + fresh partials sum correctly)
    stats = IDX.compact_index(spark, streamed, num_partitions=2)
    assert stats["files_after"] < stats["files_before"]
    assert len(spark.read.parquet(f"{streamed}/stats").collect()) == 1
    assert probe(streamed) == want
    extra = tokenize(
        docs.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    )
    RET.append_lexical_index(extra, streamed)
    tf2, df2, stats2, meta2 = RET.load_lexical_index(spark, streamed)
    n_docs = stats2.collect()[0].n_docs
    assert n_docs == 2 * tokenize(docs).filter(F.size("toks") > 0).count()

    # a centroids-only artifact still has nothing to compact
    from workhop2_etl_spark.operators.similarity import fit_centroids

    emb = load_table(spark, SF_DIR, "embeddings")
    cpath = _tmp("cent_only")
    IDX.save_centroids(
        spark, fit_centroids(emb, n_centroids=4, seed=7, max_iter=3),
        cpath, dim=DIM, mode="overwrite",
    )
    with pytest.raises(ValueError, match="indexes compact"):
        IDX.compact_index(spark, cpath)


def test_checkpoint_binding_canonicalizes_path_identity(spark):
    """The r11 advice fix: the ledger-to-checkpoint binding digests
    the CANONICAL checkpoint path, so the same checkpoint referenced
    with a trailing slash or through a relative prefix resumes
    cleanly instead of raising a false 'different checkpoint' error
    (which pushed users toward adopt_ledger=True and weakened the
    guard). A genuinely different checkpoint still refuses."""
    emb = load_table(spark, SF_DIR, "embeddings").filter(F.col("vec_id") < 300)
    path = _tmp("canon_idx")
    IDX.save_lsh_index(emb.limit(0), path, dim=DIM, num_planes=4,
                       num_tables=2, mode="overwrite")
    src, ckpt = _tmp("canon_src"), _tmp("canon_ckpt")
    emb.repartition(1).write.mode("append").parquet(src)
    IS.stream_index_ingest(spark, src, emb.schema, path, ckpt,
                           partitions_per_epoch=1)

    # trailing slash, a ./-relative spelling, and the file: URI form
    # (Spark treats them identically) are all the SAME checkpoint
    IS.stream_index_ingest(spark, src, emb.schema, path, ckpt + "/",
                           partitions_per_epoch=1)
    rel = os.path.relpath(ckpt)
    IS.stream_index_ingest(spark, src, emb.schema, path, rel,
                           partitions_per_epoch=1)
    IS.stream_index_ingest(spark, src, emb.schema, path, f"file://{ckpt}",
                           partitions_per_epoch=1)
    # a different checkpoint still refuses, and the error names the
    # canonicalization so users don't reach for adopt_ledger blindly
    with pytest.raises(ValueError, match="canonicalized"):
        IS.stream_index_ingest(spark, src, emb.schema, path,
                               _tmp("canon_ckpt2"), partitions_per_epoch=1)


def test_lexical_ingest_reads_tok_col_from_metadata(spark):
    """The r11 advice fix: the lexical artifact records its token
    column at save time and stream ingest reads it from metadata —
    no silent embedding→toks remap. A prepare hook that fails to
    produce the recorded column raises an error naming it, and a
    vec_col override that CONTRADICTS the metadata is refused."""
    from workhop2_etl_spark.operators import retrieval as RET

    docs = load_table(spark, SF_DIR, "documents").filter(F.col("doc_id") < 200)
    tokenize = lambda df: df.select(  # noqa: E731
        "doc_id",
        F.split(
            F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " "
        ).alias("body_toks"),
    )

    path = _tmp("tokcol_idx")
    meta = RET.save_lexical_index(
        tokenize(docs).limit(0), path, tok_col="body_toks", mode="overwrite"
    )
    assert meta["tok_col"] == "body_toks"

    src, ckpt = _tmp("tokcol_src"), _tmp("tokcol_ckpt")
    docs.repartition(1).write.mode("append").parquet(src)

    # wrong prepare (default 'toks' convention) → loud contract error
    bad = lambda df: df.select(  # noqa: E731
        "doc_id", F.split(F.lower("text"), " ").alias("toks")
    )
    with pytest.raises(Exception, match="body_toks"):
        IS.stream_index_ingest(spark, src, docs.schema, path, ckpt,
                               prepare=bad, partitions_per_epoch=1)
    # contradicting vec_col override → refused, metadata wins
    with pytest.raises(Exception, match="recorded token column|tok_col"):
        IS.stream_index_ingest(spark, src, docs.schema, path, _tmp("tc2"),
                               vec_col="toks", prepare=tokenize,
                               partitions_per_epoch=1)

    # correct prepare needs NO vec_col hint — metadata names the column
    IS.stream_index_ingest(spark, src, docs.schema, path, _tmp("tc3"),
                           adopt_ledger=True, prepare=tokenize,
                           partitions_per_epoch=1)
    tf, df, stats, meta2 = RET.load_lexical_index(spark, path)
    want = tokenize(docs).filter(F.size("body_toks") > 0).count()
    assert stats.collect()[0].n_docs == want


def test_delete_is_sql_delete_over_present_rows_and_stream_coexists(spark):
    """Deletion semantics vs a live stream: delete removes the rows
    PRESENT at delete time (SQL DELETE — deleting an id that only
    arrives later reserves nothing against it), and a stream keeps
    ingesting into an artifact with pending deletes (the ledger holds
    ingest epochs and delete batches side by side). Compaction then
    purges and a fresh append restores a previously-deleted id."""
    emb = load_table(spark, SF_DIR, "embeddings").filter(F.col("vec_id") < 400)
    path = _tmp("del_stream")
    IDX.save_lsh_index(
        emb.filter(F.col("vec_id") < 200), path, dim=DIM, num_planes=4,
        num_tables=2, mode="overwrite",
    )
    # victims span BOTH halves, but only the <200 half is indexed yet
    victims = emb.filter(F.col("vec_id") % 10 == 0).select("vec_id")
    assert IDX.delete_from_index(spark, path, victims) == "committed"

    # stream in the 200..399 half AFTER the delete
    src, ckpt = _tmp("del_stream_src"), _tmp("del_stream_ckpt")
    emb.filter(F.col("vec_id") >= 200).repartition(1).write.mode(
        "append"
    ).parquet(src)
    IS.stream_index_ingest(spark, src, emb.schema, path, ckpt,
                           partitions_per_epoch=1)

    idx, meta = IDX.load_lsh_index(spark, path)
    live_ids = {r.id for r in idx.select("id").distinct().collect()}
    # the <200 victims are gone; the ≥200 ids — including %10 ones,
    # which were NOT present at delete time — all live
    assert not any(i % 10 == 0 for i in live_ids if i < 200)
    assert {i for i in range(200, 400) if i % 10 == 0} <= live_ids
    assert any(i < 200 and i % 10 != 0 for i in live_ids)

    # compaction purges + clears; a fresh append restores the id
    IDX.compact_index(spark, path, num_partitions=2)
    IDX.append_lsh_index(emb.filter(F.col("vec_id") == 0), path)
    idx2, _ = IDX.load_lsh_index(spark, path)
    assert idx2.filter(F.col("id") == 0).count() > 0


def test_legacy_raw_digest_binding_migrates(spark):
    """The r11 advice fix (pre-canonicalization ledgers): a stream
    bound BEFORE the canonical-digest change carries a marker of
    md5(raw path). The first post-upgrade resume with the SAME raw
    spelling must accept that legacy marker (not raise 'different
    checkpoint', which pushed users to adopt_ledger=True) and write
    the canonical marker alongside — a one-time migration. A
    genuinely different checkpoint still refuses."""
    import hashlib

    from workhop2_etl_spark.operators.ledger import _canon_checkpoint

    emb = load_table(spark, SF_DIR, "embeddings").filter(F.col("vec_id") < 300)
    path = _tmp("legacy_idx")
    IDX.save_lsh_index(emb.limit(0), path, dim=DIM, num_planes=4,
                       num_tables=2, mode="overwrite")
    src, ckpt = _tmp("legacy_src"), _tmp("legacy_ckpt")
    emb.repartition(1).write.mode("append").parquet(src)
    raw = ckpt + "/"  # the user's non-canonical spelling, then & now
    IS.stream_index_ingest(spark, src, emb.schema, path, raw,
                           partitions_per_epoch=1)

    # rewrite the binding to the pre-r11 form: md5(raw string)
    canon_d = hashlib.md5(
        _canon_checkpoint(raw).encode()
    ).hexdigest()[:12]
    legacy_d = hashlib.md5(raw.encode()).hexdigest()[:12]
    assert canon_d != legacy_d  # trailing slash makes them differ
    os.remove(f"{path}/ledger/_stream-{canon_d}")
    open(f"{path}/ledger/_stream-{legacy_d}", "w").close()

    # resume with the same raw spelling: accepted + migrated
    IS.stream_index_ingest(spark, src, emb.schema, path, raw,
                           partitions_per_epoch=1)
    ledger = set(os.listdir(f"{path}/ledger"))
    assert f"_stream-{canon_d}" in ledger  # canonical marker written
    assert f"_stream-{legacy_d}" in ledger  # legacy left for old code
    # no duplicate ingestion: the single corpus file is one epoch
    index, meta = IDX.load_lsh_index(spark, path)
    n = emb.count() * meta["num_tables"]
    assert index.count() == n

    # a genuinely different checkpoint still refuses loudly
    with pytest.raises(ValueError, match="different checkpoint"):
        IS.stream_index_ingest(spark, src, emb.schema, path,
                               _tmp("legacy_ckpt2"), partitions_per_epoch=1)


def test_epoch_files_invisible_until_marker_and_delete_sees_committed_only(spark):
    """r12 adversarial pass (delete×stream interleaving): a stream
    epoch's renamed files must be INVISIBLE to every reader until the
    ledger marker lands — a crash mid-rename (tf rows in, df partial
    missing) previously loaded as inconsistent scores. And a DELETE
    racing that window must derive its victims from COMMITTED rows
    only: the uncommitted epoch's ids are 'not present' (SQL DELETE
    over present rows), so the delete must not tombstone them nor
    write negative partials against postings whose positive partials
    never landed. The epoch's replay then converges."""
    from workhop2_etl_spark.operators import retrieval as RET

    docs = load_table(spark, SF_DIR, "documents").filter(F.col("doc_id") < 400)
    tokenize = lambda df: df.select(  # noqa: E731
        "doc_id",
        F.split(
            F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " "
        ).alias("toks"),
    )
    base = tokenize(docs.filter(F.col("doc_id") % 2 == 0))
    epoch_docs = tokenize(docs.filter(F.col("doc_id") % 2 == 1))
    path = _tmp("epoch_atomic")
    RET.save_lexical_index(base, path, mode="overwrite", num_partitions=2)

    def snapshot():
        tf, df, stats, _ = RET.load_lexical_index(spark, path)
        return (
            sorted(map(tuple, tf.collect())),
            sorted(map(tuple, df.collect())),
            stats.collect(),
        )

    before = snapshot()
    assert IS.ingest_epoch(spark, epoch_docs, 3, path, vec_col="toks") == "committed"
    after = snapshot()
    assert after != before

    # crash window: every file renamed, marker gone — invisible whole
    os.remove(f"{path}/ledger/epoch-{3:012d}")
    assert snapshot() == before
    # deeper crash: the df partial also missing — still the clean
    # pre-epoch state, never tf rows without their partials
    for f in os.listdir(f"{path}/df"):
        if f.startswith(f"stream-{3:012d}-"):
            os.remove(f"{path}/df/{f}")
    assert snapshot() == before

    # a delete in this window sees only committed rows: an id that
    # exists ONLY in the uncommitted epoch is not-present (no-op) —
    # no tombstone may be written for it
    from workhop2_etl_spark.operators import index_store as IDX

    epoch_only = epoch_docs.select("doc_id").limit(5)
    assert IDX.delete_from_index(spark, path, epoch_only) == "committed"
    tombs = spark.read.parquet(f"{path}/tombstones")
    assert tombs.count() == 0
    assert snapshot() == before  # still the committed state

    # replay the epoch: restages whole, converges to the committed
    # post-epoch state (plus the no-op delete batch)
    assert IS.ingest_epoch(spark, epoch_docs, 3, path, vec_col="toks") == "committed"
    got = snapshot()
    assert got[1] == after[1] and got[2] == after[2]
    assert sorted(got[0]) == sorted(after[0])
