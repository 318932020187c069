"""Similarity-search queries over `embeddings` — north-star extension.

Brute-force exact top-k as the baseline, random-hyperplane LSH as the
scale path. Dot products fold sequentially in double precision on
both engines (Spark F.aggregate / DuckDB list_reduce), so scores are
bit-reproducible and the oracle comparison is exact after rounding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from workhop2_etl_spark.operators import similarity as SIM
from workhop2_etl_spark.session import load_table
from workhop2_etl_spark.suite import query

DIM = 64
K = 5
NUM_PLANES = 8

_DOT = (
    "list_reduce([qv[i]::DOUBLE * cv[i]::DOUBLE FOR i IN range(1, {d} + 1)], (a, b) -> a + b)"
).format(d=DIM)
_NQ = (
    "sqrt(list_reduce([qv[i]::DOUBLE * qv[i]::DOUBLE FOR i IN range(1, {d} + 1)], (a, b) -> a + b))"
).format(d=DIM)
_NC = (
    "sqrt(list_reduce([cv[i]::DOUBLE * cv[i]::DOUBLE FOR i IN range(1, {d} + 1)], (a, b) -> a + b))"
).format(d=DIM)


# ---------------------------------------------------------------------------
# v1: exact brute-force top-k cosine
# ---------------------------------------------------------------------------
@query(
    "v1_topk_cosine_bruteforce",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 100 = 0
    ),
    c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
    s AS (
      SELECT query_id, neighbor_id,
             round(CASE WHEN {_NQ} * {_NC} > 0
                   THEN {_DOT} / ({_NQ} * {_NC}) ELSE 0.0 END, 6) AS score
      FROM q, c WHERE query_id <> neighbor_id
    )
    SELECT query_id, neighbor_id, score, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, neighbor_id) AS rank
      FROM s
    ) WHERE rank <= {K}
    ORDER BY query_id, rank
    """,
)
def v1_topk_cosine_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return SIM.topk_cosine_bruteforce(emb, queries, k=K).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# v2: LSH-bucketed approximate top-k (the oracle inlines the hyperplane
# weights as literal arrays — the same deterministic md5 planes the
# engine's signature kernels draw for table 0)
# ---------------------------------------------------------------------------


def _plane_sql(vec: str, p: int) -> str:
    ws = ", ".join(repr(SIM._plane_weight(p, d)) for d in range(DIM))
    return (
        f"(CASE WHEN list_reduce([{vec}[i]::DOUBLE * ([{ws}])[i] "
        f"FOR i IN range(1, {DIM} + 1)], (a, b) -> a + b) >= 0 THEN {1 << p} ELSE 0 END)"
    )


def _sig_sql(vec: str) -> str:
    return "(" + " + ".join(_plane_sql(vec, p) for p in range(NUM_PLANES)) + ")"


@query(
    "v2_topk_cosine_lsh",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qv, {_sig_sql('embedding')} AS qsig
      FROM embeddings WHERE vec_id % 100 = 0
    ),
    c AS (
      SELECT vec_id AS neighbor_id, embedding AS cv, {_sig_sql('embedding')} AS csig
      FROM embeddings
    ),
    s AS (
      SELECT query_id, neighbor_id,
             round(CASE WHEN {_NQ} * {_NC} > 0
                   THEN {_DOT} / ({_NQ} * {_NC}) ELSE 0.0 END, 6) AS score
      FROM q JOIN c ON qsig = csig AND query_id <> neighbor_id
    )
    SELECT query_id, neighbor_id, score, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, neighbor_id) AS rank
      FROM s
    ) WHERE rank <= {K}
    ORDER BY query_id, rank
    """,
)
def v2_topk_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return SIM.topk_cosine_lsh(emb, queries, dim=DIM, k=K, num_planes=NUM_PLANES).orderBy(
        "query_id", "rank"
    )


# ---------------------------------------------------------------------------
# v3: corpus norm/label profile — cheap embedding-stats scan (one pass)
# ---------------------------------------------------------------------------
@query(
    "v3_embedding_norms",
    oracle=f"""
    SELECT label, count(*) AS n,
           round(avg(sqrt(list_reduce(
             [embedding[i]::DOUBLE * embedding[i]::DOUBLE FOR i IN range(1, {DIM} + 1)],
             (a, b) -> a + b))), 6) AS avg_norm
    FROM embeddings GROUP BY label ORDER BY label
    """,
)
def v3_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg(SIM.l2_norm(F.col("embedding"))), 6).alias("avg_norm"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# v4: embedding-cosine near-duplicate pairs — the vector-side dedup
# path (cosine ≥ threshold within LSH buckets; exact verify). The
# bucket equi-join keeps the pair space linear in collisions.
# ---------------------------------------------------------------------------
@query(
    "v4_embedding_near_dup",
    oracle=f"""
    WITH sigs AS (
      SELECT vec_id, embedding AS v, {_sig_sql('embedding')} AS sig FROM embeddings
    ),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.v AS qv, b.v AS cv
      FROM sigs a JOIN sigs b ON a.sig = b.sig AND a.vec_id < b.vec_id
    )
    SELECT id_a, id_b,
           round(CASE WHEN {_NQ} * {_NC} > 0
                 THEN {_DOT} / ({_NQ} * {_NC}) ELSE 0.0 END, 6) AS cosine
    FROM pairs
    WHERE CASE WHEN {_NQ} * {_NC} > 0
          THEN {_DOT} / ({_NQ} * {_NC}) ELSE 0.0 END >= 0.5
    ORDER BY id_a, id_b
    """,
)
def v4_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from workhop2_etl_spark.operators.similarity import (
        cosine,
        with_multitable_signatures_blas,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # the corpus is both sides of the self-join, so it signs once,
    # through the corpus-side kernel, at one table
    s = with_multitable_signatures_blas(
        emb.select("vec_id", F.col("embedding").alias("v")),
        "v", DIM, NUM_PLANES, num_tables=1,
    )
    a = s.select(F.col("vec_id").alias("id_a"), F.col("v").alias("qv"), F.col("sig").alias("sa"))
    b = s.select(F.col("vec_id").alias("id_b"), F.col("v").alias("cv"), F.col("sig").alias("sb"))
    pairs = a.join(b, (F.col("sa") == F.col("sb")) & (F.col("id_a") < F.col("id_b")))
    scored = pairs.select(
        "id_a", "id_b", F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cosine")
    )
    return scored.filter(F.col("cosine") >= 0.5).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# v5: IVF ANN — coarse quantization to a deterministic centroid set
# (a bounded data subset standing in for a sampled k-means), search
# within the query's cell. The centroid "training" is the one bounded
# driver-side step (8 vectors), documented in operators/similarity.py.
# ---------------------------------------------------------------------------
N_CENTROIDS = 8


def _pair_cos_dim_sql(a: str, b: str, d: int) -> str:
    """Cosine over the FIRST ``d`` elements — the dim-parameterized
    twin of Spark's sliced-vector cosine (same sequential fold over
    the same elements → identical doubles). ``_pair_cos_sql`` is the
    full-dimension instance."""
    dot = (
        f"list_reduce([{a}[i]::DOUBLE * {b}[i]::DOUBLE FOR i IN range(1, {d} + 1)],"
        " (x, y) -> x + y)"
    )
    na = (
        f"sqrt(list_reduce([{a}[i]::DOUBLE * {a}[i]::DOUBLE FOR i IN range(1, {d} + 1)],"
        " (x, y) -> x + y))"
    )
    nb = (
        f"sqrt(list_reduce([{b}[i]::DOUBLE * {b}[i]::DOUBLE FOR i IN range(1, {d} + 1)],"
        " (x, y) -> x + y))"
    )
    return f"(CASE WHEN {na} * {nb} > 0 THEN {dot} / ({na} * {nb}) ELSE 0.0 END)"


def _pair_cos_sql(a: str, b: str) -> str:
    return _pair_cos_dim_sql(a, b, DIM)


@query(
    "v5_topk_cosine_ivf",
    oracle=f"""
    WITH cent AS (
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
    q AS (SELECT vec_id AS query_id, v AS qv, cid FROM cells WHERE vec_id % 100 = 0),
    c2 AS (SELECT vec_id AS neighbor_id, v AS cv, cid FROM cells),
    s AS (
      SELECT query_id, neighbor_id,
             round({_pair_cos_sql('qv', 'cv')}, 6) AS score
      FROM q JOIN c2 USING (cid)
      WHERE query_id <> neighbor_id
    )
    SELECT query_id, neighbor_id, score, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, neighbor_id) AS rank
      FROM s
    ) WHERE rank <= {K}
    ORDER BY query_id, rank
    """,
)
def v5_topk_cosine_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # deterministic centroid set: the bounded driver-side step.
    rows = (
        emb.filter(F.col("vec_id") % 37 == 0)
        .orderBy("vec_id")
        .limit(N_CENTROIDS)
        .select("embedding")
        .collect()
    )
    centroids = [(i, list(r.embedding)) for i, r in enumerate(rows)]
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return SIM.topk_cosine_ivf(emb, queries, centroids, k=K).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# v6: multi-probe LSH — same signature equi-join as v2, but each query
# also probes the NUM_PLANES buckets at Hamming distance 1. The recall
# knob that does NOT widen buckets: candidates grow ~(planes+1)× per
# query (still ∝ collisions), the corpus-side plan is unchanged.
# ---------------------------------------------------------------------------


def _probe_list_sql(sig: str) -> str:
    flips = ", ".join(f"xor({sig}, {1 << p})" for p in range(NUM_PLANES))
    return f"[{sig}, {flips}]"


@query(
    "v6_topk_cosine_lsh_multiprobe",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qv, {_sig_sql('embedding')}::BIGINT AS qsig
      FROM embeddings WHERE vec_id % 100 = 0
    ),
    c AS (
      SELECT vec_id AS neighbor_id, embedding AS cv, {_sig_sql('embedding')}::BIGINT AS csig
      FROM embeddings
    ),
    s AS (
      SELECT query_id, neighbor_id,
             round(CASE WHEN {_NQ} * {_NC} > 0
                   THEN {_DOT} / ({_NQ} * {_NC}) ELSE 0.0 END, 6) AS score
      FROM q JOIN c
        ON list_contains({_probe_list_sql('qsig')}, csig)
       AND query_id <> neighbor_id
    )
    SELECT query_id, neighbor_id, score, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, neighbor_id) AS rank
      FROM s
    ) WHERE rank <= {K}
    ORDER BY query_id, rank
    """,
)
def v6_topk_cosine_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return SIM.topk_cosine_lsh(
        emb, queries, dim=DIM, k=K, num_planes=NUM_PLANES, hamming_probe=1
    ).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# v7: IVF with nprobe>1 — same centroid equi-join as v5, but each
# query searches its NPROBE nearest cells (probe list exploded on the
# broadcast query side, corpus still indexed into exactly one cell).
# This is how IVF recall is actually tuned at scale: candidates grow
# ~nprobe×, the plan shape and the corpus-side layout don't change.
# ---------------------------------------------------------------------------
NPROBE = 2


@query(
    "v7_topk_cosine_ivf_nprobe",
    oracle=f"""
    WITH cent AS (
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
    q AS (SELECT vec_id AS query_id, v AS qv, cid
          FROM scored_c WHERE rn <= {NPROBE} AND vec_id % 100 = 0),
    c2 AS (SELECT vec_id AS neighbor_id, v AS cv, cid FROM cells),
    s AS (
      SELECT query_id, neighbor_id,
             round({_pair_cos_sql('qv', 'cv')}, 6) AS score
      FROM q JOIN c2 USING (cid)
      WHERE query_id <> neighbor_id
    )
    SELECT query_id, neighbor_id, score, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, neighbor_id) AS rank
      FROM s
    ) WHERE rank <= {K}
    ORDER BY query_id, rank
    """,
)
def v7_topk_cosine_ivf_nprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    rows = (
        emb.filter(F.col("vec_id") % 37 == 0)
        .orderBy("vec_id")
        .limit(N_CENTROIDS)
        .select("embedding")
        .collect()
    )
    centroids = [(i, list(r.embedding)) for i, r in enumerate(rows)]
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return SIM.topk_cosine_ivf(emb, queries, centroids, k=K, nprobe=NPROBE).orderBy(
        "query_id", "rank"
    )


# ---------------------------------------------------------------------------
# v8: MULTI-TABLE hyperplane LSH — the banding construction (L
# independent tables OR'ed, exactly MinHash-LSH's band trick applied
# to hyperplane signatures). Single-table recall is p^b per neighbor
# (≈6% at cosine-0.8 distances with 12 planes — measured in
# tools/scale_crossover.py); L tables lift it to 1-(1-p^b)^L without
# widening any bucket. The corpus explodes to L (table, sig) rows
# only inside the pipelined broadcast probe — it never shuffles at
# ×L size; duplicate candidates (pairs colliding in several tables)
# dedup in one aggregate. The oracle mirrors the table-OR as a
# disjunctive join + DISTINCT.
# ---------------------------------------------------------------------------
_MT_PLANES = 6
_MT_TABLES = 4


def _mt_sig_sql(vec: str, t: int) -> str:
    terms = []
    for p in range(_MT_PLANES):
        ws = ", ".join(
            repr(SIM._plane_weight(t * _MT_PLANES + p, d)) for d in range(DIM)
        )
        terms.append(
            f"(CASE WHEN list_reduce([{vec}[i]::DOUBLE * ([{ws}])[i] "
            f"FOR i IN range(1, {DIM} + 1)], (a, b) -> a + b) >= 0 "
            f"THEN {1 << p} ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ")"


@query(
    "v8_topk_cosine_lsh_multitable",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qv,
             {', '.join(f"{_mt_sig_sql('embedding', t)} AS qs{t}" for t in range(_MT_TABLES))}
      FROM embeddings WHERE vec_id % 100 = 0
    ),
    c AS (
      SELECT vec_id AS neighbor_id, embedding AS cv,
             {', '.join(f"{_mt_sig_sql('embedding', t)} AS cs{t}" for t in range(_MT_TABLES))}
      FROM embeddings
    ),
    cand AS (
      SELECT DISTINCT query_id, neighbor_id, qv, cv
      FROM q JOIN c
        ON ({' OR '.join(f'qs{t} = cs{t}' for t in range(_MT_TABLES))})
       AND query_id <> neighbor_id
    ),
    s AS (
      SELECT query_id, neighbor_id,
             round(CASE WHEN {_NQ} * {_NC} > 0
                   THEN {_DOT} / ({_NQ} * {_NC}) ELSE 0.0 END, 6) AS score
      FROM cand
    )
    SELECT query_id, neighbor_id, score, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, neighbor_id) AS rank
      FROM s
    ) WHERE rank <= {K}
    ORDER BY query_id, rank
    """,
)
def v8_topk_cosine_lsh_multitable(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return SIM.topk_cosine_lsh_multitable(
        emb, queries, dim=DIM, k=K, num_planes=_MT_PLANES, num_tables=_MT_TABLES
    ).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# v9: the PERSISTED-index lifecycle end to end —
# sign the corpus with the BLAS kernel, WRITE the index artifact to
# parquet (+ a validated metadata record), LOAD it back, and probe
# the loaded relation with a fresh query set. The oracle knows
# nothing about persistence: it recomputes the same multi-table
# banding directly over the embeddings table, so a green verdict
# proves the on-disk round trip (vectors, norms, signatures, and the
# drift-guarded metadata) is lossless — the build-once / probe-many
# posture a 100 TB index requires. The query set (% 40) is disjoint
# in spirit from v8's (% 100) so the two greens aren't one check
# twice.
# ---------------------------------------------------------------------------
@query(
    "v9_topk_lsh_persisted_index",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qv,
             {', '.join(f"{_mt_sig_sql('embedding', t)} AS qs{t}" for t in range(_MT_TABLES))}
      FROM embeddings WHERE vec_id % 40 = 0
    ),
    c AS (
      SELECT vec_id AS neighbor_id, embedding AS cv,
             {', '.join(f"{_mt_sig_sql('embedding', t)} AS cs{t}" for t in range(_MT_TABLES))}
      FROM embeddings
    ),
    cand AS (
      SELECT DISTINCT query_id, neighbor_id, qv, cv
      FROM q JOIN c
        ON ({' OR '.join(f'qs{t} = cs{t}' for t in range(_MT_TABLES))})
       AND query_id <> neighbor_id
    ),
    s AS (
      SELECT query_id, neighbor_id,
             round(CASE WHEN {_NQ} * {_NC} > 0
                   THEN {_DOT} / ({_NQ} * {_NC}) ELSE 0.0 END, 6) AS score
      FROM cand
    )
    SELECT query_id, neighbor_id, score, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, neighbor_id) AS rank
      FROM s
    ) WHERE rank <= {K}
    ORDER BY query_id, rank
    """,
)
def v9_topk_lsh_persisted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from workhop2_etl_spark.operators import index_store as IDX
    from workhop2_etl_spark.suite import io_dir

    emb = load_table(spark, sf_dir, "embeddings")
    path = io_dir("v9_lsh_index")
    IDX.save_lsh_index(
        emb, path, dim=DIM, num_planes=_MT_PLANES, num_tables=_MT_TABLES,
        mode="overwrite",
    )
    index, meta = IDX.load_lsh_index(
        spark, path, dim=DIM, num_planes=_MT_PLANES, num_tables=_MT_TABLES
    )
    queries = emb.filter(F.col("vec_id") % 40 == 0)
    return IDX.probe_lsh_index(index, meta, queries, k=K).orderBy(
        "query_id", "rank"
    )


# ---------------------------------------------------------------------------
# v10: the persisted IVF-POSTINGS lifecycle, incremental half
# included — build the index on the even-id half of the corpus,
# APPEND the odd-id half under the artifact's own stored quantizer,
# load, and probe the loaded postings at nprobe=2. The oracle knows
# nothing about persistence or the two-batch build: it recomputes
# single-shot IVF assignment + within-cell search over the WHOLE
# embeddings table (v7's construction, distinct query set), so a
# green verdict proves build ∪ append is exactly the single-shot
# index — vectors, norms, cell assignments, and the self-contained
# quantizer all round-trip losslessly. This is the 100 TB ingest
# posture: assign-once per batch, probe-many, never re-assign the
# corpus.
# ---------------------------------------------------------------------------
@query(
    "v10_topk_ivf_persisted_index",
    oracle=f"""
    WITH cent AS (
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
    q AS (SELECT vec_id AS query_id, v AS qv, cid
          FROM scored_c WHERE rn <= {NPROBE} AND vec_id % 50 = 0),
    c2 AS (SELECT vec_id AS neighbor_id, v AS cv, cid FROM cells),
    s AS (
      SELECT query_id, neighbor_id,
             round({_pair_cos_sql('qv', 'cv')}, 6) AS score
      FROM q JOIN c2 USING (cid)
      WHERE query_id <> neighbor_id
    )
    SELECT query_id, neighbor_id, score, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, neighbor_id) AS rank
      FROM s
    ) WHERE rank <= {K}
    ORDER BY query_id, rank
    """,
)
def v10_topk_ivf_persisted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from workhop2_etl_spark.operators import index_store as IDX
    from workhop2_etl_spark.suite import io_dir

    emb = load_table(spark, sf_dir, "embeddings")
    rows = (
        emb.filter(F.col("vec_id") % 37 == 0)
        .orderBy("vec_id")
        .limit(N_CENTROIDS)
        .select("embedding")
        .collect()
    )
    centroids = [(i, list(r.embedding)) for i, r in enumerate(rows)]
    path = io_dir("v10_ivf_index")
    IDX.save_ivf_index(
        emb.filter(F.col("vec_id") % 2 == 0), path, centroids, dim=DIM,
        mode="overwrite",
    )
    IDX.append_ivf_index(emb.filter(F.col("vec_id") % 2 == 1), path)
    postings, cents, meta = IDX.load_ivf_index(
        spark, path, dim=DIM, n_centroids=N_CENTROIDS
    )
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    return IDX.probe_ivf_index(
        postings, cents, meta, queries, k=K, nprobe=NPROBE
    ).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# v11: persisted-index HEALTH — the observability half of the append
# lifecycle. Appends assign under the FROZEN quantizer, so as data
# drifts the cell populations skew; ivf_index_stats' one-row report
# (imbalance = largest cell ÷ uniform share, empty cells, max cell)
# is the retrain-and-rebuild signal an operator watches across
# epochs. The query runs the full build → append → load → stats
# chain over the persisted artifact; the oracle recomputes the same
# cell populations from single-shot SQL assignment over the whole
# embeddings table, so a green verdict proves the stats describe
# exactly the cells the index actually holds (and, transitively,
# that build ∪ append lost no rows). One shuffle over the postings,
# dimension-sized aggregate — the report costs the same at 100 TB.
# ---------------------------------------------------------------------------
@query(
    "v11_ivf_index_health",
    oracle=f"""
    WITH cent AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, embedding AS cv
      FROM (SELECT * FROM embeddings WHERE vec_id % 37 = 0 ORDER BY vec_id LIMIT {N_CENTROIDS})
    ),
    scored_c AS (
      SELECT e.vec_id, c.cid,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY {_pair_cos_sql('e.embedding', 'c.cv')} DESC, c.cid) AS rn
      FROM embeddings e CROSS JOIN cent c
    ),
    counts AS (
      SELECT cid, count(*) AS n FROM scored_c WHERE rn = 1 GROUP BY cid
    )
    SELECT CAST(sum(n) AS BIGINT) AS n_vectors,
           CAST({N_CENTROIDS} AS BIGINT) AS cells_total,
           CAST(count(*) AS BIGINT) AS cells_used,
           CAST({N_CENTROIDS} - count(*) AS BIGINT) AS empty_cells,
           CAST(max(n) AS BIGINT) AS max_cell,
           round(avg(n), 2) AS mean_cell,
           round(max(n) / (CAST(sum(n) AS DOUBLE) / {N_CENTROIDS}), 2) AS imbalance
    FROM counts
    """,
)
def v11_ivf_index_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    from workhop2_etl_spark.operators import index_store as IDX
    from workhop2_etl_spark.suite import io_dir

    emb = load_table(spark, sf_dir, "embeddings")
    rows = (
        emb.filter(F.col("vec_id") % 37 == 0)
        .orderBy("vec_id")
        .limit(N_CENTROIDS)
        .select("embedding")
        .collect()
    )
    centroids = [(i, list(r.embedding)) for i, r in enumerate(rows)]
    path = io_dir("v11_ivf_index")
    IDX.save_ivf_index(
        emb.filter(F.col("vec_id") % 2 == 0), path, centroids, dim=DIM,
        mode="overwrite",
    )
    IDX.append_ivf_index(emb.filter(F.col("vec_id") % 2 == 1), path)
    postings, _, meta = IDX.load_ivf_index(
        spark, path, dim=DIM, n_centroids=N_CENTROIDS
    )
    return IDX.ivf_index_stats(postings, meta)


# ---------------------------------------------------------------------------
# v12: the int8-QUANTIZED persisted index — storage-side scalar
# quantization (FAISS SQ8's role): postings store array<tinyint> +
# one double scale per vector (~3× smaller on the fixture, measured),
# cells assign on the FLOAT vectors, probes rescore on the
# dequantized values. The oracle reproduces the quantization itself
# in SQL — scale = max|x|/127, q = round(x/scale) (both engines
# round half-away-from-zero), dequant = q·scale — then runs the same
# single-shot IVF search on the dequantized corpus, so a green
# verdict proves the STORED LOW-PRECISION VALUES are cross-engine
# reproducible, not merely close. Zero-vector guard mirrors the
# operator: scale 0 stores zeros.
# ---------------------------------------------------------------------------
def _dequant_sql(v: str) -> str:
    scale = f"(list_max([abs({v}[i]) FOR i IN range(1, {DIM} + 1)]) / 127.0)"
    return (
        f"CASE WHEN {scale} > 0 THEN "
        f"[round({v}[i] / {scale})::TINYINT::DOUBLE * {scale} "
        f"FOR i IN range(1, {DIM} + 1)] "
        f"ELSE [0.0 FOR i IN range(1, {DIM} + 1)] END"
    )


@query(
    "v12_topk_ivf_int8_index",
    oracle=f"""
    WITH cent AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, embedding AS cv
      FROM (SELECT * FROM embeddings WHERE vec_id % 37 = 0 ORDER BY vec_id LIMIT {N_CENTROIDS})
    ),
    scored_c AS (
      SELECT e.vec_id, e.embedding AS v, c.cid,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY {_pair_cos_sql('e.embedding', 'c.cv')} DESC, c.cid) AS rn
      FROM embeddings e CROSS JOIN cent c
    ),
    cells AS (SELECT vec_id, {_dequant_sql('v')} AS dv, cid
              FROM scored_c WHERE rn = 1),
    q AS (SELECT vec_id AS query_id, v AS qv, cid
          FROM scored_c WHERE rn <= {NPROBE} AND vec_id % 55 = 0),
    c2 AS (SELECT vec_id AS neighbor_id, dv AS cv, cid FROM cells),
    s AS (
      SELECT query_id, neighbor_id,
             round({_pair_cos_sql('qv', 'cv')}, 6) AS score
      FROM q JOIN c2 USING (cid)
      WHERE query_id <> neighbor_id
    )
    SELECT query_id, neighbor_id, score, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, neighbor_id) AS rank
      FROM s
    ) WHERE rank <= {K}
    ORDER BY query_id, rank
    """,
)
def v12_topk_ivf_int8_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from workhop2_etl_spark.operators import index_store as IDX
    from workhop2_etl_spark.suite import io_dir

    emb = load_table(spark, sf_dir, "embeddings")
    rows = (
        emb.filter(F.col("vec_id") % 37 == 0)
        .orderBy("vec_id")
        .limit(N_CENTROIDS)
        .select("embedding")
        .collect()
    )
    centroids = [(i, list(r.embedding)) for i, r in enumerate(rows)]
    path = io_dir("v12_ivf_int8_index")
    IDX.save_ivf_index(
        emb, path, centroids, dim=DIM, store_dtype="int8", mode="overwrite"
    )
    postings, cents, meta = IDX.load_ivf_index(
        spark, path, dim=DIM, n_centroids=N_CENTROIDS
    )
    queries = emb.filter(F.col("vec_id") % 55 == 0)
    return IDX.probe_ivf_index(
        postings, cents, meta, queries, k=K, nprobe=NPROBE
    ).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# v13: IVF-PQ search — FAISS IVFPQ's storage model end to end. The
# corpus side carries only PQ codes (m=8 small ints) + the
# reconstruction norm — never the original vectors; candidates come
# from the same IVF cell equi-join as v5/v7/v10 and score against
# their reconstructions (asymmetric distance: float queries). The
# codebooks here are the DETERMINISTIC sample construction
# (operators/similarity.py::sample_pq_codebooks — codeword (m, j) =
# the m-th subvector of the j-th modulo-sampled corpus row) so the
# oracle can rebuild the identical codebooks, re-derive the identical
# codes (sequential squared-L2 folds, ties to the smallest code id),
# reconstruct the identical vectors, and reproduce every score to
# the rounded digit — the whole lossy-compression pipeline is
# cross-engine bit-reproducible, not merely close. fit_pq_codebooks
# (per-subspace seeded KMeans) is the production construction,
# recall-gated in tests/test_scale_ops.py.
# ---------------------------------------------------------------------------
_PQ_M = 8
_PQ_K = 16
_PQ_DSUB = DIM // _PQ_M


def _pq_sq_dist_sql(m: str, v: str, c: str) -> str:
    """Σ_i (v[m·dsub+i] − c[i])², sequential fold — Spark's
    pq_encode sub_dist twin."""
    return (
        f"list_reduce([({v}[{m} * {_PQ_DSUB} + i]::DOUBLE - {c}[i]::DOUBLE)"
        f" * ({v}[{m} * {_PQ_DSUB} + i]::DOUBLE - {c}[i]::DOUBLE)"
        f" FOR i IN range(1, {_PQ_DSUB} + 1)], (x, y) -> x + y)"
    )


@query(
    "v13_topk_ivf_pq",
    oracle=f"""
    WITH cent AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, embedding AS cv
      FROM (SELECT * FROM embeddings WHERE vec_id % 37 = 0 ORDER BY vec_id LIMIT {N_CENTROIDS})
    ),
    cbrows AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, embedding AS bv
      FROM (SELECT * FROM embeddings WHERE vec_id % 29 = 0 ORDER BY vec_id LIMIT {_PQ_K})
    ),
    cb AS (
      SELECT ms.m, cbrows.j,
             [bv[i] FOR i IN range(ms.m * {_PQ_DSUB} + 1, ms.m * {_PQ_DSUB} + {_PQ_DSUB} + 1)] AS c
      FROM cbrows CROSS JOIN (SELECT unnest(range({_PQ_M})) AS m) ms
    ),
    enc AS (
      SELECT e.vec_id, b.m, b.j,
             row_number() OVER (PARTITION BY e.vec_id, b.m
                                ORDER BY {_pq_sq_dist_sql('b.m', 'e.embedding', 'b.c')} ASC, b.j) AS rn
      FROM embeddings e CROSS JOIN cb b
    ),
    recon AS (
      SELECT enc.vec_id, flatten(list(b2.c ORDER BY enc.m)) AS rv
      FROM enc JOIN cb b2 ON enc.m = b2.m AND enc.j = b2.j
      WHERE enc.rn = 1 GROUP BY enc.vec_id
    ),
    scored_c AS (
      SELECT e.vec_id, e.embedding AS v, c.cid,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY {_pair_cos_sql('e.embedding', 'c.cv')} DESC, c.cid) AS rn
      FROM embeddings e CROSS JOIN cent c
    ),
    cells AS (SELECT s.vec_id, r.rv, s.cid
              FROM scored_c s JOIN recon r USING (vec_id) WHERE s.rn = 1),
    q AS (SELECT vec_id AS query_id, v AS qv, cid
          FROM scored_c WHERE rn <= {NPROBE} AND vec_id % 65 = 0),
    c2 AS (SELECT vec_id AS neighbor_id, rv AS cv, cid FROM cells),
    s AS (
      SELECT query_id, neighbor_id,
             round({_pair_cos_sql('qv', 'cv')}, 6) AS score
      FROM q JOIN c2 USING (cid)
      WHERE query_id <> neighbor_id
    )
    SELECT query_id, neighbor_id, score, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, neighbor_id) AS rank
      FROM s
    ) WHERE rank <= {K}
    ORDER BY query_id, rank
    """,
)
def v13_topk_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    rows = (
        emb.filter(F.col("vec_id") % 37 == 0)
        .orderBy("vec_id")
        .limit(N_CENTROIDS)
        .select("embedding")
        .collect()
    )
    centroids = [(i, list(r.embedding)) for i, r in enumerate(rows)]
    codebooks = SIM.sample_pq_codebooks(
        emb, dim=DIM, num_subspaces=_PQ_M, codes_per_subspace=_PQ_K
    )
    queries = emb.filter(F.col("vec_id") % 65 == 0)
    return SIM.topk_cosine_ivf_pq(
        emb, queries, centroids, codebooks, dim=DIM, k=K, nprobe=NPROBE
    ).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# v14: IVF-PQ with exact refine — FAISS's IVFPQR pattern: the
# PQ-compressed index nominates top-C approximate candidates per
# query (v13's construction verbatim, C = 3k), then ONLY those rows
# rescore against the ORIGINAL float vectors for the final top-k.
# Quantization error stops distorting reported scores; it only
# bounds which candidates were considered. Both stages rank on
# rounded scores with id tiebreaks, so the candidate set and the
# final exact ranking are cross-engine identical. Scale shape: stage
# 1 is the compressed cell equi-join; stage 2 broadcasts the |Q|·C
# candidate ids against the float corpus — the full-precision
# vectors never shuffle.
# ---------------------------------------------------------------------------
_REFINE_C = 3 * K


@query(
    "v14_topk_ivf_pq_refine",
    oracle=f"""
    WITH cent AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, embedding AS cv
      FROM (SELECT * FROM embeddings WHERE vec_id % 37 = 0 ORDER BY vec_id LIMIT {N_CENTROIDS})
    ),
    cbrows AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, embedding AS bv
      FROM (SELECT * FROM embeddings WHERE vec_id % 29 = 0 ORDER BY vec_id LIMIT {_PQ_K})
    ),
    cb AS (
      SELECT ms.m, cbrows.j,
             [bv[i] FOR i IN range(ms.m * {_PQ_DSUB} + 1, ms.m * {_PQ_DSUB} + {_PQ_DSUB} + 1)] AS c
      FROM cbrows CROSS JOIN (SELECT unnest(range({_PQ_M})) AS m) ms
    ),
    enc AS (
      SELECT e.vec_id, b.m, b.j,
             row_number() OVER (PARTITION BY e.vec_id, b.m
                                ORDER BY {_pq_sq_dist_sql('b.m', 'e.embedding', 'b.c')} ASC, b.j) AS rn
      FROM embeddings e CROSS JOIN cb b
    ),
    recon AS (
      SELECT enc.vec_id, flatten(list(b2.c ORDER BY enc.m)) AS rv
      FROM enc JOIN cb b2 ON enc.m = b2.m AND enc.j = b2.j
      WHERE enc.rn = 1 GROUP BY enc.vec_id
    ),
    scored_c AS (
      SELECT e.vec_id, e.embedding AS v, c.cid,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY {_pair_cos_sql('e.embedding', 'c.cv')} DESC, c.cid) AS rn
      FROM embeddings e CROSS JOIN cent c
    ),
    cells AS (SELECT s.vec_id, r.rv, s.cid
              FROM scored_c s JOIN recon r USING (vec_id) WHERE s.rn = 1),
    q AS (SELECT vec_id AS query_id, v AS qv, cid
          FROM scored_c WHERE rn <= {NPROBE} AND vec_id % 45 = 0),
    c2 AS (SELECT vec_id AS neighbor_id, rv AS cv, cid FROM cells),
    s AS (
      SELECT query_id, neighbor_id,
             round({_pair_cos_sql('qv', 'cv')}, 6) AS score
      FROM q JOIN c2 USING (cid)
      WHERE query_id <> neighbor_id
    ),
    cand AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, neighbor_id) AS rank
        FROM s
      ) WHERE rank <= {_REFINE_C}
    ),
    exact AS (
      SELECT c.query_id, c.neighbor_id,
             round({_pair_cos_sql('qe.embedding', 'ne.embedding')}, 6) AS score
      FROM cand c
      JOIN embeddings qe ON qe.vec_id = c.query_id
      JOIN embeddings ne ON ne.vec_id = c.neighbor_id
    )
    SELECT query_id, neighbor_id, score, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, neighbor_id) AS rank
      FROM exact
    ) WHERE rank <= {K}
    ORDER BY query_id, rank
    """,
)
def v14_topk_ivf_pq_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    rows = (
        emb.filter(F.col("vec_id") % 37 == 0)
        .orderBy("vec_id")
        .limit(N_CENTROIDS)
        .select("embedding")
        .collect()
    )
    centroids = [(i, list(r.embedding)) for i, r in enumerate(rows)]
    codebooks = SIM.sample_pq_codebooks(
        emb, dim=DIM, num_subspaces=_PQ_M, codes_per_subspace=_PQ_K
    )
    queries = emb.filter(F.col("vec_id") % 45 == 0)
    return SIM.topk_cosine_ivf_pq_refine(
        emb,
        queries,
        centroids,
        codebooks,
        dim=DIM,
        k=K,
        n_candidates=_REFINE_C,
        nprobe=NPROBE,
    ).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# d9: semantic dedup (SemDeDup-style) — cluster embeddings into IVF
# cells (the same deterministic modulo-seed centroid set as v5; a
# production run swaps in operators/similarity.py::fit_centroids),
# compare pairs ONLY within a cell, and drop the higher vec_id of
# every pair with cosine >= tau. Candidate generation is the cell
# equi-join — never all-pairs: at 100 TB the cell count scales with
# the corpus so per-cell population stays bounded, and the quadratic
# step is per-cell-local exactly as in the published SemDeDup recipe
# (Abbas et al., 2023). The keep/drop rule (survivor = smallest id of
# its near-set) is greedy-by-id, SQL-expressible without recursion.
# Known miss mode: a dup pair straddling a cell boundary is never
# compared — mitigated by multi-probe assignment (ivf_assign(...,
# nprobe=2): pairs meet in any shared cell), proven on planted dups
# with trained centroids in tests/test_scale_ops.py; the oracle query
# stays single-probe for cross-engine reproducibility.
# ---------------------------------------------------------------------------
_SEMDEDUP_TAU = 0.3


@query(
    "d9_semantic_dedup",
    oracle=f"""
    WITH cent AS (
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
    pairs AS (
      SELECT a.cid, b.vec_id, {_pair_cos_sql('a.v', 'b.v')} AS cos
      FROM cells a JOIN cells b
        ON a.cid = b.cid AND a.vec_id < b.vec_id
    )
    SELECT cid, vec_id, count(*) AS n_nearer,
           round(max(cos), 6) AS max_cosine
    FROM pairs WHERE cos >= {_SEMDEDUP_TAU}
    GROUP BY cid, vec_id
    ORDER BY cid, vec_id
    """,
)
def d9_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    rows = (
        emb.filter(F.col("vec_id") % 37 == 0)
        .orderBy("vec_id")
        .limit(N_CENTROIDS)
        .select("embedding")
        .collect()
    )
    centroids = [(i, list(r.embedding)) for i, r in enumerate(rows)]
    cells = SIM.ivf_assign(emb, centroids)
    # per-row norm folds once pre-join (same sequential fold as the
    # oracle's sqrt(list_reduce(...)) — identical doubles)
    a = cells.select(
        F.col("centroid_id").alias("cid"),
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("va"),
        SIM.l2_norm(F.col("embedding")).alias("na"),
    )
    b = cells.select(
        F.col("centroid_id").alias("cid_b"),
        F.col("vec_id").alias("vec_id"),
        F.col("embedding").alias("vb"),
        SIM.l2_norm(F.col("embedding")).alias("nb"),
    )
    pairs = a.join(
        b, (F.col("cid") == F.col("cid_b")) & (F.col("id_a") < F.col("vec_id"))
    )
    cos = SIM.cosine_with_norms(
        F.col("va"), F.col("vb"), F.col("na"), F.col("nb")
    )
    return (
        pairs.select("cid", "vec_id", cos.alias("cos"))
        .filter(F.col("cos") >= _SEMDEDUP_TAU)
        .groupBy("cid", "vec_id")
        .agg(
            F.count(F.lit(1)).alias("n_nearer"),
            F.round(F.max("cos"), 6).alias("max_cosine"),
        )
        .orderBy("cid", "vec_id")
    )


# ---------------------------------------------------------------------------
# v17: truncated-prefix prefilter + exact refine — the Matryoshka
# (MRL) serving pattern: candidates come from a cosine scan over the
# FIRST 16 of 64 dimensions (a quarter of the arithmetic — and of the
# bytes read, when prefixes are stored columnar), then only the top-C
# per query rescore at full dimension. Both stages rank on rounded
# scores with id tiebreaks, so the candidate set and the final exact
# ranking are cross-engine identical. The fixture embeddings are not
# MRL-trained, so the prefix is just a projection — the pytest recall
# gate measures what that costs; scores in the result are exact
# full-dimension cosines regardless.
# ---------------------------------------------------------------------------
_TRUNC_DIM = 16
_TRUNC_C = 3 * K


@query(
    "v17_topk_truncated_refine",
    oracle=f"""
    WITH q0 AS (
      SELECT vec_id AS query_id, embedding AS qv FROM embeddings
      WHERE vec_id % 59 = 0
    ),
    c0 AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
    s1 AS (
      SELECT query_id, neighbor_id,
             round({_pair_cos_dim_sql('qv', 'cv', _TRUNC_DIM)}, 6) AS score
      FROM q0, c0 WHERE query_id <> neighbor_id
    ),
    cand AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, neighbor_id) AS rank
        FROM s1
      ) WHERE rank <= {_TRUNC_C}
    ),
    exact AS (
      SELECT c.query_id, c.neighbor_id,
             round({_pair_cos_sql('qe.embedding', 'ne.embedding')}, 6) AS score
      FROM cand c
      JOIN embeddings qe ON qe.vec_id = c.query_id
      JOIN embeddings ne ON ne.vec_id = c.neighbor_id
    )
    SELECT query_id, neighbor_id, score, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, neighbor_id) AS rank
      FROM exact
    ) WHERE rank <= {K}
    ORDER BY query_id, rank
    """,
)
def v17_topk_truncated_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 59 == 0)
    return SIM.topk_cosine_truncated_refine(
        emb, queries, prefix_dim=_TRUNC_DIM, k=K, n_candidates=_TRUNC_C
    ).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# v18: IVF index DELETION — tombstones until the next compaction
# (FAISS remove_ids). The probe must behave as if the index had been
# BUILT on the survivors: the loader anti-joins the tombstone set
# against the postings (broadcast — deletes between compactions are
# a small fraction by contract), so cells, norms, and scores are
# untouched for survivors and absent for victims. The oracle knows
# nothing about tombstones: it recomputes single-shot IVF assignment
# + within-cell search over `embeddings WHERE vec_id % 7 <> 0`
# (centroids still drawn from the FULL table — deletion does not
# retrain the quantizer), so a green verdict proves delete ≡
# rebuild-on-survivors. Physical purge at compaction is pytest-
# pinned (tests/test_index_store.py::test_delete_from_index_*).
# ---------------------------------------------------------------------------
_V18_DEL_MOD = 7


@query(
    "v18_topk_ivf_index_delete",
    oracle=f"""
    WITH cent AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, embedding AS cv
      FROM (SELECT * FROM embeddings WHERE vec_id % 37 = 0 ORDER BY vec_id LIMIT {N_CENTROIDS})
    ),
    surv AS (SELECT * FROM embeddings WHERE vec_id % {_V18_DEL_MOD} <> 0),
    scored_c AS (
      SELECT e.vec_id, e.embedding AS v, c.cid,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY {_pair_cos_sql('e.embedding', 'c.cv')} DESC, c.cid) AS rn
      FROM surv e CROSS JOIN cent c
    ),
    cells AS (SELECT vec_id, v, cid FROM scored_c WHERE rn = 1),
    q AS (SELECT vec_id AS query_id, v AS qv, cid
          FROM scored_c WHERE rn <= {NPROBE} AND vec_id % 50 = 0),
    c2 AS (SELECT vec_id AS neighbor_id, v AS cv, cid FROM cells),
    s AS (
      SELECT query_id, neighbor_id,
             round({_pair_cos_sql('qv', 'cv')}, 6) AS score
      FROM q JOIN c2 USING (cid)
      WHERE query_id <> neighbor_id
    )
    SELECT query_id, neighbor_id, score, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, neighbor_id) AS rank
      FROM s
    ) WHERE rank <= {K}
    ORDER BY query_id, rank
    """,
)
def v18_topk_ivf_index_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    from workhop2_etl_spark.operators import index_store as IDX
    from workhop2_etl_spark.suite import io_dir

    emb = load_table(spark, sf_dir, "embeddings")
    rows = (
        emb.filter(F.col("vec_id") % 37 == 0)
        .orderBy("vec_id")
        .limit(N_CENTROIDS)
        .select("embedding")
        .collect()
    )
    centroids = [(i, list(r.embedding)) for i, r in enumerate(rows)]
    path = io_dir("v18_ivf_delete")
    # a re-run in the same pid must start the delete lifecycle clean
    # (mode='overwrite' replaces the postings but would leave the
    # previous run's ledger + tombstones behind)
    import shutil

    shutil.rmtree(path, ignore_errors=True)
    IDX.save_ivf_index(emb, path, centroids, dim=DIM, mode="overwrite")
    IDX.delete_from_index(
        spark, path,
        emb.filter(F.col("vec_id") % _V18_DEL_MOD == 0).select("vec_id"),
    )
    postings, cents, meta = IDX.load_ivf_index(
        spark, path, dim=DIM, n_centroids=N_CENTROIDS
    )
    queries = emb.filter(
        (F.col("vec_id") % 50 == 0) & (F.col("vec_id") % _V18_DEL_MOD != 0)
    )
    return IDX.probe_ivf_index(
        postings, cents, meta, queries, k=K, nprobe=NPROBE
    ).orderBy("query_id", "rank")
