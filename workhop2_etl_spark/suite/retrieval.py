"""Retrieval queries — BM25 lexical search over `documents` and
hybrid lexical+vector fusion across `documents` ⋈ `embeddings`.

North-star extension (no reference counterpart): training-data
curation needs lexical retrieval next to the v-family ANN —
contamination probes, quality-by-example search, eval-leakage audits
— and hybrid RRF is the production way to combine the two rankings.

Query sets follow the v-family convention: a modulo-sampled subset of
the corpus plays the query side (small by construction, broadcast
everywhere). Tokenization imports pipeline2's `_NORM`/`_toks` — the
ONE corpus tokenization convention — so BM25 document lengths agree
exactly with the t/x-family token counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from workhop2_etl_spark.operators import retrieval as RET
from workhop2_etl_spark.operators import similarity as SIM
from workhop2_etl_spark.session import load_table
from workhop2_etl_spark.suite import query
from workhop2_etl_spark.suite.pipeline2 import _NORM, _toks
from workhop2_etl_spark.suite.similarity import (
    N_CENTROIDS,
    NPROBE,
    _pair_cos_sql,
)

_QT = 8  # query vocabulary = distinct terms among the doc's first 8 tokens
_BM25_Q_MOD = 89  # t11 query sample: doc_id % 89 == 0
_RRF_Q_MOD = 83  # v15 query sample: doc_id/vec_id % 83 == 0
_BM25_K = 10
_ARM_K = 20  # per-arm candidate depth feeding the fusion
_RRF_FINAL_K = 10


def _query_terms(docs: DataFrame, mod: int) -> DataFrame:
    """(query_id, term): distinct first-_QT tokens of every sampled
    query document — tiny by construction (broadcast by bm25_topk)."""
    return (
        docs.select(F.col("doc_id").alias("query_id"), _toks().alias("t"))
        .filter((F.col("query_id") % mod == 0) & (F.size("t") > 0))
        .select("query_id", F.explode(F.slice("t", 1, _QT)).alias("term"))
        .distinct()
    )


def _bm25_cte_sql(q_mod: int, top_k: int, doc_pred: str = "") -> str:
    """The BM25 pipeline as DuckDB CTEs ending in ``lex`` =
    (query_id, rank, doc_id, score, n_hit), rank ≤ top_k. The term
    contribution imports operators/retrieval.bm25_contrib_sql — the
    Spark kernel's expression-tree twin — so the two engines can't
    silently diverge on the scoring formula. ``doc_pred`` (optional
    SQL predicate) restricts the corpus — the t14 deletion oracle
    recomputes single-shot BM25 over the SURVIVORS only."""
    contrib = RET.bm25_contrib_sql(
        tf="tf.tf", df="df.df", dl="tf.dl", n_docs="s.n_docs", avgdl="s.avgdl"
    )
    pred = f" AND ({doc_pred})" if doc_pred else ""
    return f"""
    toks AS (
      SELECT doc_id, string_split({_NORM}, ' ') AS t
      FROM documents WHERE {_NORM} <> ''{pred}
    ),
    stats AS (
      SELECT count(*) AS n_docs,
             CAST(sum(len(t)) AS DOUBLE) / count(*) AS avgdl
      FROM toks
    ),
    tf AS (
      SELECT doc_id, term, count(*) AS tf, min(dl) AS dl
      FROM (SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM toks)
      GROUP BY doc_id, term
    ),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    qt AS (
      SELECT DISTINCT doc_id AS query_id,
             unnest(list_slice(t, 1, {_QT})) AS term
      FROM toks WHERE doc_id % {q_mod} = 0
    ),
    contrib AS (
      SELECT qt.query_id, tf.doc_id, qt.term, {contrib} AS c
      FROM qt
      JOIN tf USING (term)
      JOIN df USING (term)
      CROSS JOIN stats s
      WHERE tf.doc_id <> qt.query_id
    ),
    bm AS (
      SELECT query_id, doc_id,
             round(list_reduce(list(c ORDER BY term), (a, b) -> a + b), 6)
               AS score,
             count(*) AS n_hit
      FROM contrib GROUP BY query_id, doc_id
    ),
    lex AS (
      SELECT query_id, CAST(rank AS INTEGER) AS rank, doc_id, score, n_hit
      FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, doc_id) AS rank
        FROM bm
      ) WHERE rank <= {top_k}
    )"""


# ---------------------------------------------------------------------------
# t11: BM25 top-k retrieval — Okapi BM25 (Robertson & Zaragoza 2009,
# the non-negative idf variant) with modulo-sampled query documents,
# their first-8-token distinct vocabulary as the query. Scores fold
# per-term contributions in term order (sequential double fold), so
# the oracle comparison is bit-exact. Plan shape: one corpus shuffle
# (the (doc_id, term) tf aggregation, dl carried through it), df
# semi-joined down to the broadcast query vocabulary, stats one
# broadcast row — the corpus never shuffles against itself.
# ---------------------------------------------------------------------------


@query(
    "t11_bm25_topk",
    oracle=f"""
    WITH {_bm25_cte_sql(_BM25_Q_MOD, _BM25_K)}
    SELECT query_id, rank, doc_id, score, n_hit
    FROM lex ORDER BY query_id, rank
    """,
)
def t11_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    corpus_tokens = docs.select("doc_id", _toks().alias("toks"))
    qt = _query_terms(docs, _BM25_Q_MOD)
    return RET.bm25_topk(corpus_tokens, qt, k=_BM25_K).orderBy(
        "query_id", "rank"
    )


# ---------------------------------------------------------------------------
# t12: persisted lexical index lifecycle — build the BM25 artifact on
# the even-doc_id half, APPEND the odd half, load, probe. BM25's
# corpus state (df / n_docs / Σdl) is additive over disjoint doc
# sets, so the loader's sum-of-partials equals the single-shot
# aggregate; the oracle recomputes single-shot BM25 over the WHOLE
# table, so a green verdict proves build ∪ append ≡ single-shot and
# that the parquet round trip preserved every integer the scores
# divide. The probe reads a vocabulary-sized slice of the
# term-clustered posting relation (IN-list pushed to the scan).
# ---------------------------------------------------------------------------
_LEX_Q_MOD = 79


@query(
    "t12_bm25_persisted_index",
    oracle=f"""
    WITH {_bm25_cte_sql(_LEX_Q_MOD, _BM25_K)}
    SELECT query_id, rank, doc_id, score, n_hit
    FROM lex ORDER BY query_id, rank
    """,
)
def t12_bm25_persisted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    docs = load_table(spark, sf_dir, "documents")
    corpus_tokens = docs.select("doc_id", _toks().alias("toks"))
    path = os.path.join(tempfile.mkdtemp(prefix="w2e_t12_"), "lexidx")
    # num_partitions sized to the fixture (a 100 TB build omits it and
    # takes the session's shuffle parallelism)
    RET.save_lexical_index(
        corpus_tokens.filter(F.col("doc_id") % 2 == 0), path,
        mode="overwrite", num_partitions=8,
    )
    RET.append_lexical_index(
        corpus_tokens.filter(F.col("doc_id") % 2 == 1), path,
        num_partitions=8,
    )
    tf, df, stats, meta = RET.load_lexical_index(spark, path)
    return RET.probe_lexical_index(
        tf, df, stats, meta, _query_terms(docs, _LEX_Q_MOD), k=_BM25_K
    ).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# t13: max_df-pruned probe of the persisted lexical index — the
# bounded 100 TB serving path (WAND / impact-ordered family). The
# corpus is tokenized into BIGRAMS (the unigram fixture vocabulary is
# 31 words, all stopword-frequency — bigrams give a realistic df
# spread of 1..~10% of docs), the index persisted, and the probe run
# with max_df = ⌊n_docs/20⌋: candidates are documents matching ≥1
# rare (df ≤ max_df) query term, scored EXACTLY over all query
# terms. The oracle recomputes the same candidate-pruned semantics
# in SQL, so the verdict is exact regardless of whether a given
# query also satisfies the WAND exactness certificate (that per-
# query `exact` flag is pinned by tests/test_retrieval.py; the flag
# column is projected out here because its HB threshold compare
# sits on a float sum with engine-dependent addition order).
# ---------------------------------------------------------------------------
_T13_Q_MOD = 149
_T13_DF_DIV = 20  # max_df = floor(n_docs / 20)


def _bigrams(w):
    """Adjacent-pair shingles of a token array (Spark side). DuckDB
    twin: [w[i] || ' ' || w[i+1] FOR i IN range(1, len(w))]."""
    n = F.greatest(F.size(w) - 1, F.lit(0))
    return F.zip_with(
        F.slice(w, 1, n), F.slice(w, 2, n),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )


def _bm25_pruned_cte_sql(q_mod: int, top_k: int, df_div: int) -> str:
    """DuckDB CTEs for the candidate-pruned BIGRAM probe, ending in
    ``lex``. Mirrors _bm25_cte_sql with two changes: the corpus is
    bigram-tokenized, and contributions are restricted to candidate
    (query, doc) pairs — documents matching at least one rare
    (df ≤ ⌊n_docs/df_div⌋) term of the query."""
    contrib = RET.bm25_contrib_sql(
        tf="tf.tf", df="df.df", dl="tf.dl", n_docs="s.n_docs", avgdl="s.avgdl"
    )
    return f"""
    words AS (
      SELECT doc_id, string_split({_NORM}, ' ') AS w
      FROM documents WHERE {_NORM} <> ''
    ),
    toks AS (
      SELECT doc_id, [w[i] || ' ' || w[i+1] FOR i IN range(1, len(w))] AS t
      FROM words WHERE len(w) > 1
    ),
    stats AS (
      SELECT count(*) AS n_docs,
             CAST(sum(len(t)) AS DOUBLE) / count(*) AS avgdl
      FROM toks
    ),
    tf AS (
      SELECT doc_id, term, count(*) AS tf, min(dl) AS dl
      FROM (SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM toks)
      GROUP BY doc_id, term
    ),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    mdf AS (SELECT CAST(floor(n_docs / {df_div}) AS BIGINT) AS max_df FROM stats),
    qt AS (
      SELECT DISTINCT doc_id AS query_id,
             unnest(list_slice(t, 1, {_QT})) AS term
      FROM toks WHERE doc_id % {q_mod} = 0
    ),
    cand AS (
      SELECT DISTINCT qt.query_id, tf.doc_id
      FROM qt JOIN df USING (term) JOIN tf USING (term) CROSS JOIN mdf
      WHERE df.df <= mdf.max_df
    ),
    contrib AS (
      SELECT qt.query_id, tf.doc_id, qt.term, {contrib} AS c
      FROM qt
      JOIN tf USING (term)
      JOIN df USING (term)
      CROSS JOIN stats s
      JOIN cand ON cand.query_id = qt.query_id AND cand.doc_id = tf.doc_id
      WHERE tf.doc_id <> qt.query_id
    ),
    bm AS (
      SELECT query_id, doc_id,
             round(list_reduce(list(c ORDER BY term), (a, b) -> a + b), 6)
               AS score,
             count(*) AS n_hit
      FROM contrib GROUP BY query_id, doc_id
    ),
    lex AS (
      SELECT query_id, CAST(rank AS INTEGER) AS rank, doc_id, score, n_hit
      FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, doc_id) AS rank
        FROM bm
      ) WHERE rank <= {top_k}
    )"""


@query(
    "t13_bm25_pruned_probe",
    oracle=f"""
    WITH {_bm25_pruned_cte_sql(_T13_Q_MOD, _BM25_K, _T13_DF_DIV)}
    SELECT query_id, rank, doc_id, score, n_hit
    FROM lex ORDER BY query_id, rank
    """,
)
def t13_bm25_pruned_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    docs = load_table(spark, sf_dir, "documents")
    corpus_tokens = docs.select(
        "doc_id", _bigrams(_toks()).alias("toks")
    )
    path = os.path.join(tempfile.mkdtemp(prefix="w2e_t13_"), "lexidx")
    RET.save_lexical_index(
        corpus_tokens, path, tokenizer="bigram-ws-lower",
        mode="overwrite", num_partitions=8,
    )
    tf, df, stats, meta = RET.load_lexical_index(spark, path)
    # one-row driver action, deliberately: max_df is a Python int in
    # the probe's API (it becomes a pushed-down df threshold), so the
    # corpus size must reach the driver — this is the artifact's own
    # dimension-sized stats relation, the same bounded-collect class
    # as the probe's vocabulary IN-list
    n_docs = stats.collect()[0].n_docs
    qt = (
        corpus_tokens.filter(
            (F.col("doc_id") % _T13_Q_MOD == 0) & (F.size("toks") > 0)
        )
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(F.slice("toks", 1, _QT)).alias("term"),
        )
        .distinct()
    )
    return (
        RET.probe_lexical_index(
            tf, df, stats, meta, qt, k=_BM25_K,
            max_df=n_docs // _T13_DF_DIV,
        )
        .select("query_id", "rank", "doc_id", "score", "n_hit")
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# t14: lexical index DELETION — the retention half of the lifecycle
# (GDPR erasure, eval-set quarantine, licence takedowns). BM25's
# corpus state is additive, so deletion runs the append machinery in
# REVERSE: the batch derives NEGATIVE df / stats partials from the
# victims' own live tf rows plus a tombstone set the loader
# anti-joins; the loader's sum-of-partials is then exactly the
# single-shot aggregate over the survivors (same integers → same
# divisions → bit-identical scores). The oracle recomputes
# single-shot BM25 over `documents WHERE doc_id % 5 <> 0`, so a
# green verdict proves build ∪ append ∪ DELETE ≡ rebuild-on-
# survivors exactly. Compaction later folds the signed partials and
# purges the tombstoned rows physically (pytest-pinned).
# ---------------------------------------------------------------------------
_T14_Q_MOD = 127
_T14_DEL_MOD = 5


@query(
    "t14_bm25_index_delete",
    oracle=f"""
    WITH {_bm25_cte_sql(_T14_Q_MOD, _BM25_K,
                        doc_pred=f"doc_id % {_T14_DEL_MOD} <> 0")}
    SELECT query_id, rank, doc_id, score, n_hit
    FROM lex ORDER BY query_id, rank
    """,
)
def t14_bm25_index_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from workhop2_etl_spark.operators import index_store as IDX

    docs = load_table(spark, sf_dir, "documents")
    corpus_tokens = docs.select("doc_id", _toks().alias("toks"))
    path = os.path.join(tempfile.mkdtemp(prefix="w2e_t14_"), "lexidx")
    # two-epoch build, then delete — the signed partials net against
    # MULTIPLE positive partials, the realistic lifecycle shape
    RET.save_lexical_index(
        corpus_tokens.filter(F.col("doc_id") % 2 == 0), path,
        mode="overwrite", num_partitions=8,
    )
    RET.append_lexical_index(
        corpus_tokens.filter(F.col("doc_id") % 2 == 1), path,
        num_partitions=8,
    )
    IDX.delete_from_index(
        spark, path,
        docs.filter(F.col("doc_id") % _T14_DEL_MOD == 0).select("doc_id"),
    )
    tf, df, stats, meta = RET.load_lexical_index(spark, path)
    qt = _query_terms(
        docs.filter(F.col("doc_id") % _T14_DEL_MOD != 0), _T14_Q_MOD
    )
    return RET.probe_lexical_index(
        tf, df, stats, meta, qt, k=_BM25_K
    ).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# st14: streaming maintenance of the persisted lexical index — the
# BM25 face of st13: three availableNow micro-batches of raw
# documents are tokenized by the stream's `prepare` hook and ingested
# exactly-once (ledger/staging/rename across the artifact's THREE
# dirs — tf rows plus the epoch's additive df/stats partials), then
# the loaded artifact is probed. The oracle recomputes single-shot
# BM25 over the whole table, so green proves the streamed epochs'
# partials reconcile to the batch index exactly.
# ---------------------------------------------------------------------------
_ST14_Q_MOD = 73


@query(
    "st14_streaming_lexical_ingest",
    oracle=f"""
    WITH {_bm25_cte_sql(_ST14_Q_MOD, _BM25_K)}
    SELECT query_id, rank, doc_id, score, n_hit
    FROM lex ORDER BY query_id, rank
    """,
)
def st14_streaming_lexical_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from workhop2_etl_spark.streaming import index_stream as IS

    docs = load_table(spark, sf_dir, "documents")
    base = tempfile.mkdtemp(prefix="w2e_st14_")
    src, path, ckpt = (os.path.join(base, d) for d in ("src", "idx", "ckpt"))
    # one write job, three part files → three availableNow epochs
    # (the st15 pattern: any disjoint split works — the epochs'
    # df/stats partials are additive in any grouping)
    docs.repartition(3).write.mode("overwrite").parquet(src)

    tokenize = lambda df: df.select("doc_id", _toks().alias("toks"))  # noqa: E731
    RET.save_lexical_index(
        tokenize(docs).limit(0), path, mode="overwrite", num_partitions=2
    )
    IS.stream_index_ingest(
        spark, src, docs.schema, path, ckpt,
        vec_col="toks", partitions_per_epoch=2, prepare=tokenize,
    )
    tf, df, stats, meta = RET.load_lexical_index(spark, path)
    return RET.probe_lexical_index(
        tf, df, stats, meta, _query_terms(docs, _ST14_Q_MOD), k=_BM25_K
    ).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# st15: the full lexical index lifecycle in one query — stream
# ingest (three exactly-once epochs through the prepare tokenizer),
# then DELETE a slice, then probe. Pins the ledger's marker-gated
# batch visibility end to end: the delete's signed partials net
# against three stream epochs' positive partials (not a batch
# build's), its tombstones anti-join the streamed tf rows, and the
# oracle recomputes single-shot BM25 over the SURVIVORS — green
# proves stream-ingest ∘ delete ≡ rebuild-on-survivors bit-exactly.
# ---------------------------------------------------------------------------
_ST15_Q_MOD = 103
_ST15_DEL_MOD = 6


@query(
    "st15_streaming_ingest_delete",
    oracle=f"""
    WITH {_bm25_cte_sql(_ST15_Q_MOD, _BM25_K,
                        doc_pred=f"doc_id % {_ST15_DEL_MOD} <> 0")}
    SELECT query_id, rank, doc_id, score, n_hit
    FROM lex ORDER BY query_id, rank
    """,
)
def st15_streaming_ingest_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from workhop2_etl_spark.operators import index_store as IDX
    from workhop2_etl_spark.streaming import index_stream as IS

    docs = load_table(spark, sf_dir, "documents")
    base = tempfile.mkdtemp(prefix="w2e_st15_")
    src, path, ckpt = (os.path.join(base, d) for d in ("src", "idx", "ckpt"))
    # one write job, three part files → three availableNow epochs
    # (any disjoint doc split works; epoch order is irrelevant to the
    # additive partials)
    docs.repartition(3).write.mode("overwrite").parquet(src)

    tokenize = lambda df: df.select("doc_id", _toks().alias("toks"))  # noqa: E731
    RET.save_lexical_index(
        tokenize(docs).limit(0), path, mode="overwrite", num_partitions=2
    )
    IS.stream_index_ingest(
        spark, src, docs.schema, path, ckpt,
        vec_col="toks", partitions_per_epoch=2, prepare=tokenize,
    )
    IDX.delete_from_index(
        spark, path,
        docs.filter(F.col("doc_id") % _ST15_DEL_MOD == 0).select("doc_id"),
    )
    tf, df, stats, meta = RET.load_lexical_index(spark, path)
    qt = _query_terms(
        docs.filter(F.col("doc_id") % _ST15_DEL_MOD != 0), _ST15_Q_MOD
    )
    return RET.probe_lexical_index(
        tf, df, stats, meta, qt, k=_BM25_K
    ).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# st16: SNAPSHOT READ of the lexical artifact — every ledger
# marker records its commit sequence, so load(as_of=N) reconstructs
# the index exactly as it stood after commit N (the Delta-time-travel
# analog, bounded by the last compaction). The query ingests two
# exactly-once epochs (commits 1, 2), DELETES a slice (commit 3),
# then probes AT as_of=2: the snapshot must hide the delete's
# tombstones AND its negative partials together, so the oracle is
# single-shot BM25 over the WHOLE corpus — green proves the snapshot
# is the bit-exact pre-delete state, not a mix. (Epoch membership is
# deterministic here because the epochs are driven directly, not
# through a file stream's nondeterministic file→batch assignment.)
# ---------------------------------------------------------------------------
_ST16_Q_MOD = 97


@query(
    "st16_snapshot_as_of",
    oracle=f"""
    WITH {_bm25_cte_sql(_ST16_Q_MOD, _BM25_K)}
    SELECT query_id, rank, doc_id, score, n_hit
    FROM lex ORDER BY query_id, rank
    """,
)
def st16_snapshot_as_of(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from workhop2_etl_spark.operators import index_store as IDX
    from workhop2_etl_spark.streaming import index_stream as IS

    docs = load_table(spark, sf_dir, "documents")
    tokenize = lambda df: df.select("doc_id", _toks().alias("toks"))  # noqa: E731
    path = os.path.join(tempfile.mkdtemp(prefix="w2e_st16_"), "lexidx")
    RET.save_lexical_index(
        tokenize(docs).limit(0), path, mode="overwrite", num_partitions=2
    )
    IS.ingest_epoch(  # commit seq 1
        spark, tokenize(docs.filter(F.col("doc_id") % 2 == 0)), 0, path,
        vec_col="toks", partitions_per_epoch=2,
    )
    IS.ingest_epoch(  # commit seq 2
        spark, tokenize(docs.filter(F.col("doc_id") % 2 == 1)), 1, path,
        vec_col="toks", partitions_per_epoch=2,
    )
    IDX.delete_from_index(  # commit seq 3 — hidden by the snapshot
        spark, path, docs.filter(F.col("doc_id") % 5 == 0).select("doc_id"),
    )
    tf, df, stats, meta = RET.load_lexical_index(spark, path, as_of=2)
    return RET.probe_lexical_index(
        tf, df, stats, meta, _query_terms(docs, _ST16_Q_MOD), k=_BM25_K
    ).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# st17: SNAPSHOT RESTORE — materialize load(as_of=N) as a fresh
# artifact (index_store.restore_index, the rollback verb: Delta
# RESTORE made blue/green). The query builds the same lifecycle as
# st16 (two direct epochs, then a delete), restores AT as_of=2 to a
# NEW path, and probes the RESTORED artifact: the oracle is
# single-shot BM25 over the whole corpus, so green proves the
# materialized snapshot — re-clustered tf, folded net partials, no
# tombstones — is the bit-exact pre-delete index, served without any
# as_of gating at probe time.
# ---------------------------------------------------------------------------
_ST17_Q_MOD = 101


@query(
    "st17_index_restore",
    oracle=f"""
    WITH {_bm25_cte_sql(_ST17_Q_MOD, _BM25_K)}
    SELECT query_id, rank, doc_id, score, n_hit
    FROM lex ORDER BY query_id, rank
    """,
)
def st17_index_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from workhop2_etl_spark.operators import index_store as IDX
    from workhop2_etl_spark.streaming import index_stream as IS

    docs = load_table(spark, sf_dir, "documents")
    tokenize = lambda df: df.select("doc_id", _toks().alias("toks"))  # noqa: E731
    base = tempfile.mkdtemp(prefix="w2e_st17_")
    src, dst = os.path.join(base, "src"), os.path.join(base, "restored")
    RET.save_lexical_index(
        tokenize(docs).limit(0), src, mode="overwrite", num_partitions=2
    )
    IS.ingest_epoch(  # commit seq 1
        spark, tokenize(docs.filter(F.col("doc_id") % 2 == 0)), 0, src,
        vec_col="toks", partitions_per_epoch=2,
    )
    IS.ingest_epoch(  # commit seq 2
        spark, tokenize(docs.filter(F.col("doc_id") % 2 == 1)), 1, src,
        vec_col="toks", partitions_per_epoch=2,
    )
    IDX.delete_from_index(  # commit seq 3 — excluded by the restore
        spark, src, docs.filter(F.col("doc_id") % 5 == 0).select("doc_id"),
    )
    IDX.restore_index(spark, src, dst, as_of=2, num_partitions=2)
    tf, df, stats, meta = RET.load_lexical_index(spark, dst)
    return RET.probe_lexical_index(
        tf, df, stats, meta, _query_terms(docs, _ST17_Q_MOD), k=_BM25_K
    ).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# t17: the CDC CHANGELOG — index_changes returns the ledgered
# mutation events between two commit sequences as (commit_seq, op,
# doc_id) rows, reading ONLY the selected batches' own files (the
# changelog costs the change volume, never a corpus scan). The query
# builds base evens (initial state, not a change), ingests odds as an
# exactly-once epoch (commit 1), deletes a slice (commit 2), and
# tails (0, 2]; the oracle recomputes both event sets from the source
# table — inserts are the epoch's docs with ≥1 token (empty-token
# docs never enter the index), deletes are the victims present at
# delete time.
# ---------------------------------------------------------------------------
_T17_DEL_MOD = 5


@query(
    "t17_index_changelog",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id FROM documents WHERE {_NORM} <> ''
    )
    SELECT * FROM (
      SELECT CAST(1 AS BIGINT) AS commit_seq, 'insert' AS op, doc_id
      FROM toks WHERE doc_id % 2 = 1
      UNION ALL
      SELECT CAST(2 AS BIGINT), 'delete', doc_id
      FROM toks WHERE doc_id % {_T17_DEL_MOD} = 0
    ) ORDER BY commit_seq, doc_id
    """,
)
def t17_index_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from workhop2_etl_spark.operators import index_store as IDX
    from workhop2_etl_spark.streaming import index_stream as IS

    docs = load_table(spark, sf_dir, "documents")
    tokenize = lambda df: df.select("doc_id", _toks().alias("toks"))  # noqa: E731
    path = os.path.join(tempfile.mkdtemp(prefix="w2e_t17_"), "lexidx")
    RET.save_lexical_index(
        tokenize(docs.filter(F.col("doc_id") % 2 == 0)), path,
        mode="overwrite", num_partitions=2,
    )
    IS.ingest_epoch(  # commit seq 1: the odds arrive
        spark, tokenize(docs.filter(F.col("doc_id") % 2 == 1)), 0, path,
        vec_col="toks", partitions_per_epoch=2,
    )
    IDX.delete_from_index(  # commit seq 2
        spark, path,
        docs.filter(F.col("doc_id") % _T17_DEL_MOD == 0).select("doc_id"),
    )
    return IDX.index_changes(spark, path, from_seq=0, to_seq=2).orderBy(
        "commit_seq", "doc_id"
    )


# ---------------------------------------------------------------------------
# v15: hybrid retrieval — BM25 lexical arm over `documents` fused
# with an exact-cosine vector arm over `embeddings` (doc_id ≡ vec_id
# by the testdata contract) via reciprocal-rank fusion (Cormack et
# al., SIGIR 2009; k_rrf = 60). Each arm contributes its top-20;
# documents missing from one arm carry a NULL rank there and only
# the other arm's reciprocal term. All ranks are integers over
# rounded scores with id tiebreaks, so the fused ranking is
# cross-engine deterministic end to end. Scale: the fusion join and
# final window touch only |Q|·20-row arm outputs — corpus size never
# enters after the arms.
# ---------------------------------------------------------------------------


@query(
    "v15_hybrid_rrf",
    oracle=f"""
    WITH {_bm25_cte_sql(_RRF_Q_MOD, _ARM_K)},
    vq AS (
      SELECT vec_id AS query_id, embedding AS qv FROM embeddings
      WHERE vec_id % {_RRF_Q_MOD} = 0
    ),
    vc AS (SELECT vec_id AS doc_id, embedding AS cv FROM embeddings),
    vs AS (
      SELECT query_id, doc_id,
             round({_pair_cos_sql('qv', 'cv')}, 6) AS score
      FROM vq, vc WHERE query_id <> doc_id
    ),
    vec AS (
      SELECT query_id, CAST(rank AS INTEGER) AS rank, doc_id
      FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, doc_id) AS rank
        FROM vs
      ) WHERE rank <= {_ARM_K}
    ),
    fused AS (
      SELECT coalesce(l.query_id, v.query_id) AS query_id,
             coalesce(l.doc_id, v.doc_id) AS doc_id,
             l.rank AS rank_lex, v.rank AS rank_vec
      FROM lex l FULL OUTER JOIN vec v
        ON l.query_id = v.query_id AND l.doc_id = v.doc_id
    ),
    rrf AS (
      SELECT query_id, doc_id, rank_lex, rank_vec,
             round(coalesce(CAST(1.0 AS DOUBLE) / ({RET.RRF_K} + rank_lex), 0.0)
                 + coalesce(CAST(1.0 AS DOUBLE) / ({RET.RRF_K} + rank_vec), 0.0),
                   6) AS rrf_score
      FROM fused
    )
    SELECT query_id, rank, doc_id, rrf_score, rank_lex, rank_vec FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                                        ORDER BY rrf_score DESC, doc_id)
                     AS INTEGER) AS rank
      FROM rrf
    ) WHERE rank <= {_RRF_FINAL_K}
    ORDER BY query_id, rank
    """,
)
def v15_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    corpus_tokens = docs.select("doc_id", _toks().alias("toks"))
    lex = RET.bm25_topk(
        corpus_tokens, _query_terms(docs, _RRF_Q_MOD), k=_ARM_K
    )
    vec = SIM.topk_cosine_bruteforce(
        emb, emb.filter(F.col("vec_id") % _RRF_Q_MOD == 0), k=_ARM_K
    )
    fused = RET.rrf_fuse(
        lex.select("query_id", "doc_id", "rank"),
        vec.select(
            "query_id", F.col("neighbor_id").alias("doc_id"), "rank"
        ),
        k=_RRF_FINAL_K,
    )
    return fused.select(
        "query_id",
        "rank",
        "doc_id",
        "rrf_score",
        F.col("rank_a").alias("rank_lex"),
        F.col("rank_b").alias("rank_vec"),
    ).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# v16: hybrid retrieval FROM DISK — the whole search stack as
# persisted artifacts: the BM25 lexical index and the IVF postings
# index are built, saved, loaded, probed (top-20 each), and fused by
# reciprocal rank. This is the production steady state (indexes are
# on disk; a query session only loads + probes + fuses) and the
# capstone over t12/v10/v15: the oracle recomputes BOTH arms
# single-shot in SQL, so green proves the two artifact round trips
# AND the fusion in one verdict. Scale: each arm reads an
# artifact slice (vocabulary IN-list / probed cells), the fusion
# touches |Q|·20-row relations only.
# ---------------------------------------------------------------------------
_V16_Q_MOD = 71


@query(
    "v16_hybrid_persisted_rrf",
    oracle=f"""
    WITH {_bm25_cte_sql(_V16_Q_MOD, _ARM_K)},
    cent AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, embedding AS cv
      FROM (SELECT * FROM embeddings WHERE vec_id % 37 = 0 ORDER BY vec_id LIMIT {N_CENTROIDS})
    ),
    scored_c AS (
      SELECT e.vec_id, e.embedding AS v, c.cid,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY {_pair_cos_sql('e.embedding', 'c.cv')} DESC, c.cid) AS rn
      FROM embeddings e CROSS JOIN cent c
    ),
    cells AS (SELECT vec_id, v, cid FROM scored_c WHERE rn = 1),
    vq AS (SELECT vec_id AS query_id, v AS qv, cid
           FROM scored_c WHERE rn <= {NPROBE} AND vec_id % {_V16_Q_MOD} = 0),
    vc2 AS (SELECT vec_id AS doc_id, v AS cv, cid FROM cells),
    vs AS (
      SELECT query_id, doc_id,
             round({_pair_cos_sql('qv', 'cv')}, 6) AS score
      FROM vq JOIN vc2 USING (cid)
      WHERE query_id <> doc_id
    ),
    vec AS (
      SELECT query_id, CAST(rank AS INTEGER) AS rank, doc_id
      FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, doc_id) AS rank
        FROM vs
      ) WHERE rank <= {_ARM_K}
    ),
    fused AS (
      SELECT coalesce(l.query_id, v.query_id) AS query_id,
             coalesce(l.doc_id, v.doc_id) AS doc_id,
             l.rank AS rank_lex, v.rank AS rank_vec
      FROM lex l FULL OUTER JOIN vec v
        ON l.query_id = v.query_id AND l.doc_id = v.doc_id
    ),
    rrf AS (
      SELECT query_id, doc_id, rank_lex, rank_vec,
             round(coalesce(CAST(1.0 AS DOUBLE) / ({RET.RRF_K} + rank_lex), 0.0)
                 + coalesce(CAST(1.0 AS DOUBLE) / ({RET.RRF_K} + rank_vec), 0.0),
                   6) AS rrf_score
      FROM fused
    )
    SELECT query_id, rank, doc_id, rrf_score, rank_lex, rank_vec FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                                        ORDER BY rrf_score DESC, doc_id)
                     AS INTEGER) AS rank
      FROM rrf
    ) WHERE rank <= {_RRF_FINAL_K}
    ORDER BY query_id, rank
    """,
)
def v16_hybrid_persisted_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from workhop2_etl_spark.operators import index_store as IDX

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    base = tempfile.mkdtemp(prefix="w2e_v16_")
    lex_path = os.path.join(base, "lex")
    ivf_path = os.path.join(base, "ivf")

    # build + save both artifacts (the one-off half of the lifecycle)
    corpus_tokens = docs.select("doc_id", _toks().alias("toks"))
    RET.save_lexical_index(
        corpus_tokens, lex_path, mode="overwrite", num_partitions=8
    )
    rows = (
        emb.filter(F.col("vec_id") % 37 == 0)
        .orderBy("vec_id")
        .limit(N_CENTROIDS)
        .select("embedding")
        .collect()
    )
    centroids = [(i, list(r.embedding)) for i, r in enumerate(rows)]
    IDX.save_ivf_index(emb, ivf_path, centroids, dim=64, mode="overwrite")

    # the steady state: load + probe + fuse
    tf, df, stats, lmeta = RET.load_lexical_index(spark, lex_path)
    lex = RET.probe_lexical_index(
        tf, df, stats, lmeta,
        _query_terms(docs, _V16_Q_MOD), k=_ARM_K,
    )
    postings, cents, imeta = IDX.load_ivf_index(spark, ivf_path)
    vec = IDX.probe_ivf_index(
        postings, cents, imeta,
        emb.filter(F.col("vec_id") % _V16_Q_MOD == 0),
        k=_ARM_K, nprobe=NPROBE,
    )
    fused = RET.rrf_fuse(
        lex.select("query_id", "doc_id", "rank"),
        vec.select("query_id", F.col("neighbor_id").alias("doc_id"), "rank"),
        k=_RRF_FINAL_K,
    )
    return fused.select(
        "query_id",
        "rank",
        "doc_id",
        "rrf_score",
        F.col("rank_a").alias("rank_lex"),
        F.col("rank_b").alias("rank_vec"),
    ).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# t15: pseudo-relevance-feedback query expansion (Rocchio-style) —
# the classic two-pass IR loop over the SAME corpus relations: BM25
# pass 1, harvest each query's top-3 documents' 2 strongest unseen
# terms (summed-tf weights — exact integers, term tiebreak), expand
# the query, BM25 pass 2. The oracle replays both passes in SQL CTEs
# (pass 1 reuses the shared _bm25_cte_sql verbatim), so the verdict
# pins the feedback-doc selection, the expansion-term choice, AND
# the second scoring pass in one hash compare.
# ---------------------------------------------------------------------------
_T15_Q_MOD = 131
_T15_N_FB = 3
_T15_M_EXP = 2


@query(
    "t15_bm25_prf",
    oracle=f"""
    WITH {_bm25_cte_sql(_T15_Q_MOD, _T15_N_FB)},
    fb AS (SELECT query_id, doc_id FROM lex),
    exp_w AS (
      SELECT f.query_id, t.term, sum(t.tf) AS w
      FROM fb f
      JOIN tf t ON t.doc_id = f.doc_id
      LEFT JOIN qt q0 ON q0.query_id = f.query_id AND q0.term = t.term
      WHERE q0.term IS NULL
      GROUP BY 1, 2
    ),
    expn AS (
      SELECT query_id, term FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY w DESC, term) AS rn
        FROM exp_w
      ) WHERE rn <= {_T15_M_EXP}
    ),
    qt2 AS (
      SELECT query_id, term FROM qt
      UNION
      SELECT query_id, term FROM expn
    ),
    contrib2 AS (
      SELECT qt2.query_id, tf.doc_id, qt2.term,
             {RET.bm25_contrib_sql(tf="tf.tf", df="df.df", dl="tf.dl",
                                   n_docs="s.n_docs", avgdl="s.avgdl")} AS c
      FROM qt2
      JOIN tf USING (term)
      JOIN df USING (term)
      CROSS JOIN stats s
      WHERE tf.doc_id <> qt2.query_id
    ),
    bm2 AS (
      SELECT query_id, doc_id,
             round(list_reduce(list(c ORDER BY term), (a, b) -> a + b), 6)
               AS score,
             count(*) AS n_hit
      FROM contrib2 GROUP BY query_id, doc_id
    )
    SELECT query_id, CAST(rank AS INTEGER) AS rank, doc_id, score, n_hit
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, doc_id) AS rank
      FROM bm2
    ) WHERE rank <= {_BM25_K}
    ORDER BY query_id, rank
    """,
)
def t15_bm25_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    corpus_tokens = docs.select("doc_id", _toks().alias("toks"))
    qt = _query_terms(docs, _T15_Q_MOD)
    expanded = RET.bm25_prf_expand(
        corpus_tokens, qt, n_feedback=_T15_N_FB, m_expand=_T15_M_EXP
    )
    return RET.bm25_topk(corpus_tokens, expanded, k=_BM25_K).orderBy(
        "query_id", "rank"
    )


# ---------------------------------------------------------------------------
# t16: PRF against the PERSISTED lexical index
# — t15's 100 TB shape made an oracle-checked query: the corpus tf
# aggregation is paid once at save time; pass 1, the harvest, and
# pass 2 all run against the loaded artifact, each probe reading only
# its vocabulary's IN-list-pushed-down posting slice (plan guard:
# tests/test_plan_quality.py::test_prf_persisted_second_pass_pushes_
# vocab). The oracle replays both passes in SQL over the raw table —
# a green verdict proves the artifact round trip AND the probe-twice
# loop equal the single-shot two-pass semantics exactly.
# ---------------------------------------------------------------------------
_T16_Q_MOD = 41
_T16_CORPUS_MOD = 3  # index the doc_id % 3 == 0 third: the entry is
# job-overhead-bound at sf0.1 (save+load+2 probes+harvest), and a
# corpus slice keeps it single-digit without changing any semantics
# the oracle checks (the oracle carries the same predicate)


@query(
    "t16_bm25_prf_persisted",
    oracle=f"""
    WITH {_bm25_cte_sql(_T16_Q_MOD, _T15_N_FB,
                        doc_pred=f"doc_id % {_T16_CORPUS_MOD} = 0")},
    fb AS (SELECT query_id, doc_id FROM lex),
    exp_w AS (
      SELECT f.query_id, t.term, sum(t.tf) AS w
      FROM fb f
      JOIN tf t ON t.doc_id = f.doc_id
      LEFT JOIN qt q0 ON q0.query_id = f.query_id AND q0.term = t.term
      WHERE q0.term IS NULL
      GROUP BY 1, 2
    ),
    expn AS (
      SELECT query_id, term FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY w DESC, term) AS rn
        FROM exp_w
      ) WHERE rn <= {_T15_M_EXP}
    ),
    qt2 AS (
      SELECT query_id, term FROM qt
      UNION
      SELECT query_id, term FROM expn
    ),
    contrib2 AS (
      SELECT qt2.query_id, tf.doc_id, qt2.term,
             {RET.bm25_contrib_sql(tf="tf.tf", df="df.df", dl="tf.dl",
                                   n_docs="s.n_docs", avgdl="s.avgdl")} AS c
      FROM qt2
      JOIN tf USING (term)
      JOIN df USING (term)
      CROSS JOIN stats s
      WHERE tf.doc_id <> qt2.query_id
    ),
    bm2 AS (
      SELECT query_id, doc_id,
             round(list_reduce(list(c ORDER BY term), (a, b) -> a + b), 6)
               AS score,
             count(*) AS n_hit
      FROM contrib2 GROUP BY query_id, doc_id
    )
    SELECT query_id, CAST(rank AS INTEGER) AS rank, doc_id, score, n_hit
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, doc_id) AS rank
      FROM bm2
    ) WHERE rank <= {_BM25_K}
    ORDER BY query_id, rank
    """,
)
def t16_bm25_prf_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % _T16_CORPUS_MOD == 0
    )
    corpus_tokens = docs.select("doc_id", _toks().alias("toks"))
    path = os.path.join(tempfile.mkdtemp(prefix="w2e_t16_"), "lexidx")
    RET.save_lexical_index(
        corpus_tokens, path, mode="overwrite", num_partitions=8
    )
    tf, df, stats, meta = RET.load_lexical_index(spark, path)
    return RET.probe_lexical_index_prf(
        tf, df, stats, meta, _query_terms(docs, _T16_Q_MOD),
        k=_BM25_K, n_feedback=_T15_N_FB, m_expand=_T15_M_EXP,
    ).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# v19: weighted (convex) score fusion — the CombSUM-family sibling of
# v15's reciprocal-rank fusion (Fox & Shaw 1994): each arm's top-20
# scores min-max normalize PER QUERY (constant-score arms normalize
# to 1.0 — presence outranks absence), absent-in-arm contributes 0,
# fused = 0.7·lex + 0.3·vec (constants folded in Python, injected by
# repr into both engines). Normalization is differences + one
# division over the arms' already-rounded doubles, so the fusion is
# bit-reproducible; ranks break exact ties on doc_id. Scale: every
# post-arm relation is |Q|·20.
# ---------------------------------------------------------------------------
_V19_Q_MOD = 113
_V19_ALPHA = 0.7
_V19_BETA = 1.0 - _V19_ALPHA


@query(
    "v19_hybrid_weighted",
    oracle=f"""
    WITH {_bm25_cte_sql(_V19_Q_MOD, _ARM_K)},
    vq AS (
      SELECT vec_id AS query_id, embedding AS qv FROM embeddings
      WHERE vec_id % {_V19_Q_MOD} = 0
    ),
    vc AS (SELECT vec_id AS doc_id, embedding AS cv FROM embeddings),
    vs AS (
      SELECT query_id, doc_id,
             round({_pair_cos_sql('qv', 'cv')}, 6) AS score
      FROM vq, vc WHERE query_id <> doc_id
    ),
    vec AS (
      SELECT query_id, doc_id, score
      FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, doc_id) AS rank
        FROM vs
      ) WHERE rank <= {_ARM_K}
    ),
    exta AS (SELECT query_id, min(score) AS mn, max(score) AS mx
             FROM lex GROUP BY 1),
    na AS (
      SELECT l.query_id, l.doc_id,
             CASE WHEN e.mx = e.mn THEN CAST(1.0 AS DOUBLE)
                  ELSE (l.score - e.mn) / (e.mx - e.mn) END AS norm_lex
      FROM lex l JOIN exta e USING (query_id)
    ),
    extb AS (SELECT query_id, min(score) AS mn, max(score) AS mx
             FROM vec GROUP BY 1),
    nb AS (
      SELECT v.query_id, v.doc_id,
             CASE WHEN e.mx = e.mn THEN CAST(1.0 AS DOUBLE)
                  ELSE (v.score - e.mn) / (e.mx - e.mn) END AS norm_vec
      FROM vec v JOIN extb e USING (query_id)
    ),
    fused AS (
      SELECT coalesce(a.query_id, b.query_id) AS query_id,
             coalesce(a.doc_id, b.doc_id) AS doc_id,
             a.norm_lex, b.norm_vec,
             round(CAST({_V19_ALPHA!r} AS DOUBLE) * coalesce(a.norm_lex, 0.0)
                 + CAST({_V19_BETA!r} AS DOUBLE) * coalesce(b.norm_vec, 0.0),
                   6) AS fused_score
      FROM na a FULL OUTER JOIN nb b
        ON a.query_id = b.query_id AND a.doc_id = b.doc_id
    )
    SELECT query_id, CAST(rank AS INTEGER) AS rank, doc_id, fused_score,
           round(norm_lex, 6) AS norm_lex, round(norm_vec, 6) AS norm_vec
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY fused_score DESC, doc_id) AS rank
      FROM fused
    ) WHERE rank <= {_RRF_FINAL_K}
    ORDER BY query_id, rank
    """,
)
def v19_hybrid_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    corpus_tokens = docs.select("doc_id", _toks().alias("toks"))
    lex = RET.bm25_topk(
        corpus_tokens, _query_terms(docs, _V19_Q_MOD), k=_ARM_K
    )
    vec = SIM.topk_cosine_bruteforce(
        emb, emb.filter(F.col("vec_id") % _V19_Q_MOD == 0), k=_ARM_K
    )
    fused = RET.weighted_fuse(
        lex.select("query_id", "doc_id", "score"),
        vec.select(
            "query_id", F.col("neighbor_id").alias("doc_id"), "score"
        ),
        k=_RRF_FINAL_K,
        alpha=_V19_ALPHA,
    )
    return fused.select(
        "query_id",
        "rank",
        "doc_id",
        "fused_score",
        F.col("norm_a").alias("norm_lex"),
        F.col("norm_b").alias("norm_vec"),
    ).orderBy("query_id", "rank")
