"""Similarity search over embedding columns (`array<float>`).

Two paths, per the standard ANN playbook:

* ``topk_cosine_bruteforce`` — exact: query set × corpus cross join
  (broadcast the queries — the small side), cosine in pure column
  expressions, per-query top-k via window. O(|Q|·n) work but fully
  distributed and shuffle-light: the only shuffle is the final
  per-query top-k, and the corpus is never moved.
* ``topk_cosine_lsh`` — approximate: random-hyperplane LSH (signed
  projections → bit signature → bucket equi-join), cosine only
  within matching buckets. Shuffle ∝ bucket collisions, not n·|Q| —
  the 100 TB path. Hyperplanes are derived deterministically from
  md5 of (plane index, dimension index), so signatures are
  reproducible across engines and runs without a random state.

Each ANN index kind has one search path. Its row builder
(``_signed_rows`` for multi-table LSH, ``_posting_rows`` for IVF in
the float64, int8 and pq8 tiers) turns a corpus into index rows, and
its probe (``probe_lsh_index``, ``probe_ivf_index``) ranks queries
against them. The in-session searches (``topk_cosine_lsh_multitable``,
``topk_cosine_ivf``, ``topk_cosine_ivf_pq``, and the corpus side of
``topk_cosine_lsh``) are that builder and probe without the disk;
operators/index_store.py persists the same rows and probes them
after a load.

All arithmetic is double precision with sequential array folds, so
results are bit-reproducible for the oracle comparison.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from workhop2_etl_spark.operators.dedupe import top_k
from workhop2_etl_spark.session import collect_bounded, local_relation


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ with each element widened to double *before* multiply
    (float32 multiply would round differently than an oracle engine
    widening first)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def _cosine_from_denom(a: Column, b: Column, denom: Column) -> Column:
    """Shared guard tier for both cosine entry points:

    * finite positive denominator → the cosine;
    * finite zero denominator (a zero-norm vector) → 0.0;
    * anything else — NaN/±inf norms (a vector with non-finite
      elements) or NULL norms (a NULL vector) — → NULL.

    The last tier matters: Spark orders NaN ABOVE every number, so
    without it one corrupt corpus vector scores NaN against every
    query and WINS every top-k ranking (and a desc sort places NULL
    last, but the ranking sites filter NULL scores out entirely).
    NULL-for-dirty matches the BLAS kernels, which drop non-finite
    rows (np.isfinite keep mask in topk_cosine_bruteforce_blas, the
    dirty-row guards in the signature/PQ encoders)."""
    finite = ~F.isnan(denom) & (denom != float("inf"))
    return (
        F.when(finite & (denom > 0), dot(a, b) / denom)
        .when(finite & (denom == 0), F.lit(0.0))
        .otherwise(F.lit(None).cast("double"))
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; 0 for zero-norm vectors, NULL for vectors
    with non-finite elements (see ``_cosine_from_denom``)."""
    return _cosine_from_denom(a, b, l2_norm(a) * l2_norm(b))


def cosine_with_norms(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Cosine from PRECOMPUTED per-row norms — bitwise identical to
    ``cosine`` (the norm is the same sequential fold either way, so
    the same double reaches the same division), but each row's norm
    is computed once instead of once per candidate pair. In a top-k
    search the corpus row appears in |Q| pairs and the query row in
    ~n/buckets pairs — inlined norms triple the array work of every
    pair; precomputed, scoring is the dot product alone. Zero-norm →
    0.0, non-finite/NULL norms → NULL (see ``_cosine_from_denom``)."""
    return _cosine_from_denom(a, b, na * nb)


def topk_cosine_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Exact top-k neighbors per query vector.

    Queries are broadcast (they are the bounded side); the corpus
    stays partitioned in place. Self-matches (same id) are excluded.
    Scores are rounded and ties broken by neighbor id so the result
    is a total order.
    """
    q = F.broadcast(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec"))
        .withColumn("__qn", l2_norm(F.col("__qvec")))
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cvec")
    ).withColumn("__cn", l2_norm(F.col("__cvec")))
    pairs = c.join(q, F.col("query_id") != F.col("neighbor_id"))
    return _rank_pairs(_pair_scores(pairs, round_digits), k)


def _pair_scores(
    pairs: DataFrame, round_digits: int, dedup: bool = False
) -> DataFrame:
    """(query_id, neighbor_id, score) of candidate pairs carrying both
    vectors and norms (__qvec, __qn, __cvec, __cn): the rounded cosine,
    with dirty pairs (NULL score — a non-finite or NULL vector) dropped.

    ``dedup`` collapses a pair found more than once (multi-table LSH
    emits one row per colliding table) to its max score before the
    drop. Duplicates score bit-identically (same fold over the same
    vectors), so max() is a dedup, not a choice; max() skips NULLs, so
    a pair is dropped only when every copy was dirty."""
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        F.round(
            cosine_with_norms(
                F.col("__qvec"), F.col("__cvec"), F.col("__qn"), F.col("__cn")
            ),
            round_digits,
        ).alias("score"),
    )
    if dedup:
        scored = scored.groupBy("query_id", "neighbor_id").agg(
            F.max("score").alias("score")
        )
    return scored.filter(F.col("score").isNotNull())


def _rank_pairs(scored: DataFrame, k: int) -> DataFrame:
    """Per-query top-k of (query_id, neighbor_id, score) rows: score
    desc, neighbor id asc — the output shape of every cosine search."""
    return top_k(
        scored,
        ["query_id"],
        [F.desc("score"), F.asc("neighbor_id")],
        k,
        rank_col="__rn",
    ).select("query_id", "neighbor_id", "score", F.col("__rn").alias("rank"))


# ---------------------------------------------------------------------------
# LSH (random hyperplanes, deterministic seed)
# ---------------------------------------------------------------------------


def _plane_weight(plane: int, dim: int) -> float:
    """Deterministic pseudo-random weight in [-1, 1): derived from the
    first 8 hex chars of md5(f'{plane}:{dim}'). Pure function of the
    indices — any engine can rebuild the identical hyperplanes."""
    import hashlib

    h = hashlib.md5(f"{plane}:{dim}".encode()).hexdigest()[:8]
    return int(h, 16) / float(1 << 31) - 1.0


def ivf_assign(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
) -> DataFrame:
    """IVF coarse quantization: assign every vector to its ``nprobe``
    nearest centroids (max cosine, centroid-id tiebreak).

    This is the query-side kernel: every search assigns its |Q|
    queries here, while corpus-sized inputs take the row-identical
    ``ivf_assign_blas``. ``centroids`` are (centroid_id, vector) pairs
    the caller obtained from a bounded driver-side step (a sampled
    k-means, or — as in the suite — a deterministic data subset). The
    centroid table rides as a broadcast one-row array-of-structs
    relation (not plan literals — same rationale as
    ``with_multitable_signatures``); assignment is a per-row argmin
    over that array, no shuffle. ``nprobe=1`` emits one row per
    vector; ``nprobe>1`` (the search side's recall knob) emits one
    row per probed cell — sort the per-centroid scores, slice the top
    p, explode. Ranking is a lexicographic sort over (-cosine, cid)
    structs, identical to a row_number ORDER BY score DESC, cid —
    reproducible across engines because the cosine folds sequentially
    in double precision.
    """
    if nprobe < 1 or nprobe > len(centroids):
        raise ValueError(f"nprobe must be in [1, {len(centroids)}], got {nprobe}")
    rows = [(int(cid), [float(x) for x in vec]) for cid, vec in centroids]
    # centroid norms fold inside the relation, not driver-side Python,
    # so they are the exact doubles of the row-side fold
    one = (
        local_relation(df.sparkSession, rows, "cid int, cv array<double>")
        .withColumn("cn", l2_norm(F.col("cv")))
        .agg(
            F.sort_array(F.collect_list(F.struct("cid", "cv", "cn")))
            .alias("__cents")
        )
    )
    # min over (-score, cid): highest cosine, then smallest id. The
    # row's own norm is computed once, not once per centroid entry.
    rown = l2_norm(F.col(vec_col))
    entries = F.transform(
        F.col("__cents"),
        lambda c: F.struct(
            (-cosine_with_norms(F.col(vec_col), c["cv"], F.col("__rown"), c["cn"])).alias(
                "neg"
            ),
            c["cid"].alias("cid"),
        ),
    )
    staged = df.crossJoin(F.broadcast(one)).withColumn("__rown", rown)
    if nprobe == 1:
        best = F.array_min(entries)
        return staged.select(
            F.col(id_col), F.col(vec_col), best["cid"].alias("centroid_id")
        )
    probes = F.slice(F.array_sort(entries), 1, nprobe)
    return (
        staged.select(F.col(id_col), F.col(vec_col), F.explode(probes).alias("__p"))
        .select(F.col(id_col), F.col(vec_col), F.col("__p.cid").alias("centroid_id"))
    )


def ivf_assign_blas(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
) -> DataFrame:
    """Arrow/BLAS twin of ``ivf_assign`` — identical (id, vec,
    centroid_id) rows, matmul formulation.

    The expression variant's per-row cost is an interpreted
    ``F.aggregate`` cosine fold per CENTROID (64 folds × dim element
    lambdas at the suite's C=64) — the dominant cost of an IVF index
    BUILD, which at 100 TB assigns the whole corpus (measured: the
    in-session expression assignment at 20k×64d×64c ran 290s,
    tools/index_store_study.py --ivf). Assignment is linear algebra:
    one (batch × dim)·(dim × C) float64 matmul per Arrow batch, a
    row-normalized divide, and a per-row top-``nprobe`` argsort.

    Assignment identity: both kernels rank centroids by (cosine
    desc, centroid_id asc) in float64; summation order differs
    (sequential fold vs pairwise BLAS), so a pick could differ only
    when two centroid cosines tie within last-ulp cancellation noise
    — measure-zero for real embeddings; the pytest twin asserts
    row-for-row equality on the fixture corpus including zero-norm,
    NaN, and zero-norm-centroid edges (zero denominators score 0.0
    and all-NaN rows fall to the smallest centroid ids, both exactly
    as the expression's Spark-SQL NaN/struct ordering resolves them).

    Dirty-row contract (same documented divergence as
    ``with_multitable_signatures_blas``): NULL / wrong-length vectors
    get a NULL assignment array and ``explode`` drops them — the
    expression twin NULL-propagates their cosines to 0.0 ties and
    files them under the smallest centroid id, polluting that cell
    with rows that can never score. Dropping is the index-build
    behavior you want: one dirty row must not fail (or skew) a
    100 TB assignment job."""
    if nprobe < 1 or nprobe > len(centroids):
        raise ValueError(f"nprobe must be in [1, {len(centroids)}], got {nprobe}")
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import ArrayType, IntegerType

    cents = sorted((int(cid), [float(x) for x in vec]) for cid, vec in centroids)
    cids = np.array([cid for cid, _ in cents], dtype=np.int32)
    C = np.array([vec for _, vec in cents], dtype=np.float64)  # C × dim
    cn = np.sqrt((C * C).sum(axis=1))
    expect_dim, top = C.shape[1], nprobe

    def _pick(V: "np.ndarray") -> list:
        vn = np.sqrt((V * V).sum(axis=1))
        with np.errstate(invalid="ignore", divide="ignore"):
            cos = (V @ C.T) / (vn[:, None] * cn[None, :])
        # expr semantics: denominator 0 → score 0.0 (cosine's
        # zero-norm guard); an all-NaN row (NaN element in the
        # vector) ties every centroid in Spark's NaN ordering and
        # falls to the smallest cids — flatten both to 0.0 so the
        # stable argsort below resolves them identically
        cos[:, cn == 0] = 0.0
        cos[(vn == 0) | np.isnan(vn), :] = 0.0
        # stable sort on -cos: ties (and only ties) keep column
        # order, and columns are cid-ascending — exactly the
        # expression's (-cosine, cid) struct ordering
        idx = np.argsort(-cos, axis=1, kind="stable")[:, :top]
        return list(cids[idx])

    def _assign_fn(v):
        n = len(v)
        if not n:
            return pd.Series([], dtype=object)
        mask = np.fromiter(
            (x is not None and len(x) == expect_dim for x in v),
            dtype=bool,
            count=n,
        )
        if mask.all():
            return pd.Series(_pick(np.array([list(x) for x in v], dtype=np.float64)))
        out = np.full(n, None, dtype=object)
        keep = np.flatnonzero(mask)
        if len(keep):
            out[keep] = _pick(
                np.array([list(v.iloc[i]) for i in keep], dtype=np.float64)
            )
        return pd.Series(out)

    _assign_fn.__annotations__ = {"v": pd.Series, "return": pd.Series}
    _assign = F.pandas_udf(ArrayType(IntegerType()))(_assign_fn)

    return (
        df.withColumn("__cids", _assign(F.col(vec_col)))
        .select(F.col(id_col), F.col(vec_col), F.explode("__cids").alias("centroid_id"))
    )


def topk_cosine_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    nprobe: int = 1,
) -> DataFrame:
    """IVF ANN: exact cosine within the query's ``nprobe`` nearest
    cells (the recall knob IVF indexes are actually tuned with).

    This is a float64 IVF index built and probed in session: the
    corpus becomes ``_posting_rows`` (assigned through
    ``ivf_assign_blas`` into exactly one cell) and ``probe_ivf_index``
    assigns each query into its ``nprobe`` nearest cells (exploded on
    the broadcast query side — mirrors the LSH multi-probe shape: the
    corpus is never replicated). The search stays an equi-join on
    centroid_id — shuffle ∝ probed-cell populations (~nprobe/n_cells
    of the corpus per query), never the n×|Q| cross product. A
    (query, neighbor) pair matches in at most one cell (the neighbor
    lives in one cell; the probe set is distinct), so no dedup pass
    is needed.
    """
    meta = {
        "dim": len(centroids[0][1]) if centroids else 0,
        "store_dtype": "float64",
    }
    postings = _posting_rows(corpus, meta, id_col, vec_col, centroids, None)
    return probe_ivf_index(
        postings, centroids, meta, queries, k=k, nprobe=nprobe,
        id_col=id_col, vec_col=vec_col, round_digits=round_digits,
    )


def _ivf_probe(c: DataFrame, q: DataFrame, k: int, round_digits: int) -> DataFrame:
    """The IVF search itself, over already-assigned sides: corpus
    ``c`` = (neighbor_id, __cvec, centroid_id, __cn — one cell per
    vector), queries ``q`` = (query_id, __qvec, centroid_id, __qn —
    one row per probed cell). The join and ranking stage of
    ``probe_ivf_index``."""
    pairs = c.join(F.broadcast(q), ["centroid_id"]).filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    return _rank_pairs(_pair_scores(pairs, round_digits), k)


def topk_cosine_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    num_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    hamming_probe: int = 0,
) -> DataFrame:
    """Approximate top-k: exact cosine *within* the query's LSH bucket.

    Equi-join on the signature replaces the cross join — at corpus
    scale each query touches ~n/2^planes candidates. This is the
    one-table member of the multi-table family: the corpus becomes the
    LSH index rows of ``_signed_rows`` at ``num_tables=1`` (table 0's
    planes) and the queries sign through ``with_multitable_signatures``,
    exactly as ``probe_lsh_index`` splits them. NULL and wrong-length
    corpus vectors are not signed, so they never become candidates
    (they could never score anyway).

    ``hamming_probe=1`` is the multi-probe recall knob: each query
    additionally probes the ``num_planes`` buckets at Hamming
    distance 1 (one bit flipped). The probe signatures explode on the
    QUERY side — the small broadcast side — so the corpus is never
    replicated and the join stays a signature equi-join; candidate
    volume grows ~(planes+1)× per query, still ∝ collisions, never n.
    A (query, neighbor) pair matches via at most one probe (the
    neighbor has one signature and the probe set is distinct), so no
    dedup pass is needed.
    """
    if hamming_probe not in (0, 1):
        raise ValueError(f"hamming_probe must be 0 or 1, got {hamming_probe}")
    meta = {"dim": dim, "num_planes": num_planes, "num_tables": 1}
    c = _signed_rows(corpus, meta, id_col, vec_col).select(
        F.col("id").alias("neighbor_id"),
        F.col("vec").alias("__cvec"),
        F.col("norm").alias("__cn"),
        F.col("sig").alias("__csig"),
    )
    q = with_multitable_signatures(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec")
        ).withColumn("__qn", l2_norm(F.col("__qvec"))),
        "__qvec",
        dim,
        num_planes,
        num_tables=1,
        table_col="__qt",
        sig_col="__sig0",
    ).drop("__qt")
    if hamming_probe == 1:
        probes = F.array(
            F.col("__sig0"),
            *[F.col("__sig0").bitwiseXOR(F.lit(1 << p)) for p in range(num_planes)],
        )
        q = q.select(
            "query_id", "__qvec", "__qn", F.explode(probes).alias("__qsig")
        )
    else:
        q = q.withColumnRenamed("__sig0", "__qsig")
    pairs = c.join(
        F.broadcast(q),
        (F.col("__csig") == F.col("__qsig"))
        & (F.col("query_id") != F.col("neighbor_id")),
    )
    return _rank_pairs(_pair_scores(pairs, round_digits), k)


def topk_cosine_bruteforce_blas(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    max_queries: int = 65_536,
) -> DataFrame:
    """Exact top-k via Arrow-batched numpy matmul — the throughput
    twin of ``topk_cosine_bruteforce``.

    The expression formulation's per-pair cost is an interpreted
    higher-order fold (F.aggregate/zip_with are NOT whole-stage
    codegen'd): measured 16s for 20k×64 pairs at dim 64
    (tools/scale_crossover.py). Dense scoring is linear algebra, and
    the right kernel is a (batch×dim)·(dim×|Q|) matmul per Arrow
    batch — each corpus row still read once, BLAS does the inner
    loops. This is the standard shape for vectorized engines (and
    what a GPU executor would run).

    Plan: queries collect to the driver (they are the bounded side —
    same contract as the broadcast in the expression variant), ship
    in the closure; mapInPandas emits each batch's per-query top-k
    candidates (≤ k·|Q| rows per batch); one final per-query window
    reduces candidates globally. Exactness: per-batch top-k then
    global top-k over batch winners is lossless for a per-query max-k
    selection. Scores are float64 matmul, rounded like the expression
    variant; the two variants agree to the rounding digit (summation
    order differs below it).

    Contracts enforced loudly (not silently): the query side must stay
    dimension-sized — it is collected through
    ``session.collect_bounded`` at ``max_queries`` rows, so a
    corpus-sized ``queries`` raises instead of OOMing the driver — and both id
    columns must be integral (the int64 kernel would crash on string
    ids and silently re-type overflow-free schemas); the output id
    columns keep the inputs' declared types, same as the expression
    twin.
    """
    import pandas as pd  # noqa: F401 — mapInPandas contract

    _INTEGRAL = ("tinyint", "smallint", "int", "bigint")
    q_id_t = queries.schema[id_col].dataType.simpleString()
    c_id_t = corpus.schema[id_col].dataType.simpleString()
    for side, t in (("queries", q_id_t), ("corpus", c_id_t)):
        if t not in _INTEGRAL:
            raise TypeError(
                f"topk_cosine_bruteforce_blas requires an integral {id_col!r} "
                f"({side} side is {t}); use topk_cosine_bruteforce for "
                "non-integer id schemas"
            )
    out_schema = f"query_id {q_id_t}, neighbor_id {c_id_t}, score double"
    q_rows = collect_bounded(
        queries.select(id_col, vec_col), max_queries,
        "topk_cosine_bruteforce_blas queries (max_queries)",
    )
    if not q_rows:
        return local_relation(corpus.sparkSession, [], out_schema + ", rank int")
    import numpy as np

    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    Q = np.array([list(r[1]) for r in q_rows], dtype=np.float64)
    qn = np.linalg.norm(Q, axis=1)
    qn[qn == 0] = np.inf  # zero-norm query scores 0 everywhere
    Qn = (Q / qn[:, None]).T  # dim × |Q|
    kk = int(k)

    def score_batches(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            V = np.array([list(v) for v in pdf[vec_col]], dtype=np.float64)
            vn = np.linalg.norm(V, axis=1)
            vn[vn == 0] = np.inf
            S = (V / vn[:, None]) @ Qn  # batch × |Q|
            S[ids[:, None] == q_ids[None, :]] = -np.inf  # self-matches out
            top = min(kk, S.shape[0])
            # per-query top candidates within this batch
            idx = np.argpartition(-S, top - 1, axis=0)[:top]  # top × |Q|
            out_q = np.repeat(q_ids, top)
            out_n = ids[idx.T.ravel()]
            out_s = np.take_along_axis(S, idx, axis=0).T.ravel()
            keep = np.isfinite(out_s)
            yield pd.DataFrame(
                {
                    "query_id": out_q[keep],
                    "neighbor_id": out_n[keep],
                    "score": np.round(out_s[keep], round_digits),
                }
            )

    cand = corpus.select(id_col, vec_col).mapInPandas(score_batches, out_schema)
    return _rank_pairs(cand, k)


def with_multitable_signatures(
    df: DataFrame,
    vec_col: str,
    dim: int,
    num_planes: int,
    num_tables: int,
    table_col: str = "table_id",
    sig_col: str = "sig",
) -> DataFrame:
    """Explode each row into ``num_tables`` (table_id, signature)
    rows — one independent hyperplane table per id, planes drawn from
    the same deterministic md5 family (table t uses plane indices
    t·num_planes … t·num_planes+num_planes−1, so table 0 of a 1-table
    call IS the single-table signature).

    This is the banding construction (identical to MinHash-LSH's
    bands): a neighbor is a candidate when it collides in ANY table,
    so pair recall is 1−(1−p^b)^L instead of the single-table p^b —
    the difference between 6% and 90%+ recall at cosine-0.8 neighbor
    distances (measured, tools/scale_crossover.py). The explode is
    pipelined into a broadcast-hash probe — the corpus never
    shuffles at ×L size; only matched candidates do.
    """
    if num_tables < 1:
        raise ValueError(f"num_tables must be ≥ 1, got {num_tables}")
    if not 1 <= num_planes <= 63:
        raise ValueError(f"num_planes must be in [1, 63], got {num_planes}")
    spark = df.sparkSession
    rows = [
        (
            t,
            p,
            1 << p,
            [_plane_weight(t * num_planes + p, d) for d in range(dim)],
        )
        for t in range(num_tables)
        for p in range(num_planes)
    ]
    planes = local_relation(
        spark, rows, "t int, p int, bit long, w array<double>"
    )
    one = planes.agg(
        F.sort_array(F.collect_list(F.struct("t", "p", "bit", "w"))).alias("__planes")
    )
    per_table = F.transform(
        F.sequence(F.lit(0), F.lit(num_tables - 1)),
        # __planes is sorted by (t, p), so table t's planes are the
        # contiguous run [t·num_planes+1, num_planes] — slice is O(b)
        # per table vs an O(L·b) filter scan (O(L²·b) per row total,
        # measurable at L=8 × 400k rows)
        lambda t: F.struct(
            t.alias("t"),
            F.aggregate(
                F.slice(F.col("__planes"), t * num_planes + 1, num_planes),
                F.lit(0).cast("long"),
                lambda acc, pl: acc
                + F.when(dot(F.col(vec_col), pl["w"]) >= 0, pl["bit"]).otherwise(
                    F.lit(0).cast("long")
                ),
            ).alias("sig"),
        ),
    )
    return (
        df.crossJoin(F.broadcast(one))
        .select("*", F.explode(per_table).alias("__ts"))
        .withColumn(table_col, F.col("__ts.t"))
        .withColumn(sig_col, F.col("__ts.sig"))
        .drop("__planes", "__ts")
    )


def with_multitable_signatures_blas(
    df: DataFrame,
    vec_col: str,
    dim: int,
    num_planes: int,
    num_tables: int,
    table_col: str = "table_id",
    sig_col: str = "sig",
) -> DataFrame:
    """Arrow/BLAS twin of ``with_multitable_signatures`` — identical
    (table_id, sig) rows, matmul formulation.

    The expression variant's per-row cost is L·b interpreted
    ``F.aggregate`` dot folds (48 folds × dim element lambdas at the
    default b=6, L=8) — the dominant cost of an index BUILD, which at
    100 TB runs over the whole corpus. Sign tests are linear algebra:
    one (batch × dim)·(dim × L·b) float64 matmul per Arrow batch,
    sign-threshold, bit-pack per table — same shape as the
    brute-force BLAS kernel and ~10× the build throughput at 100k+
    rows (PERF.md, signature-build table).

    Signature identity: both kernels test ``sign(Σ vᵢ·wᵢ) ≥ 0`` in
    float64 on the same md5-derived planes; summation order differs
    (sequential fold vs pairwise BLAS), so a sign could differ only
    when |dot| is within last-ulp noise (~1e-13 of cancellation) —
    measure-zero for real-valued embeddings, and the pytest twin
    asserts row-for-row equality on the planted fixtures.

    Dirty-row contract (the ONE documented divergence from the expr
    twin): a NULL or wrong-length embedding yields a NULL signature
    array here, and ``posexplode`` drops the row — the dirty vector
    simply isn't indexed. The expression twin instead NULL-propagates
    every plane dot to ``when(NULL ≥ 0) → 0`` and files NULL vectors
    under sig=0 of every table, polluting bucket 0 with rows that can
    never score. Dropping is the at-scale behavior you want for an
    index build: one dirty row must not fail (or skew) a 100 TB job."""
    if num_tables < 1:
        raise ValueError(f"num_tables must be ≥ 1, got {num_tables}")
    if not 1 <= num_planes <= 63:
        raise ValueError(f"num_planes must be in [1, 63], got {num_planes}")
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import ArrayType, LongType

    planes = np.array(
        [
            [_plane_weight(t * num_planes + p, d) for d in range(dim)]
            for t in range(num_tables)
            for p in range(num_planes)
        ],
        dtype=np.float64,
    )  # (L·b) × dim
    bits = 1 << np.arange(num_planes, dtype=np.int64)
    n_tables = num_tables
    n_planes = num_planes

    expect_dim = dim

    def _pack(V: "np.ndarray") -> list:
        D = V @ planes.T
        # NaN dot (a NaN element in the vector) sets the bit: Spark
        # SQL's NaN ordering makes `NaN >= 0` TRUE in the expression
        # fold, while IEEE numpy comparison yields False — without
        # the isnan term the twins diverge on NaN-carrying vectors
        S = ((D >= 0) | np.isnan(D)).reshape(len(V), n_tables, n_planes)
        return list((S * bits[None, None, :]).sum(axis=2, dtype=np.int64))

    def _sigs_fn(v):
        n = len(v)
        if not n:
            return pd.Series([], dtype=object)
        # dirty-row guard (see docstring): NULL / wrong-length vectors
        # get a NULL signature array instead of crashing the batch
        mask = np.fromiter(
            (x is not None and len(x) == expect_dim for x in v),
            dtype=bool,
            count=n,
        )
        if mask.all():
            return pd.Series(_pack(np.array([list(x) for x in v], dtype=np.float64)))
        out = np.full(n, None, dtype=object)
        keep = np.flatnonzero(mask)
        if len(keep):
            out[keep] = _pack(
                np.array([list(v.iloc[i]) for i in keep], dtype=np.float64)
            )
        return pd.Series(out)

    # real class objects, not strings: this module's `from __future__
    # import annotations` would stringify inline hints, and pandas is
    # a local import here, so pandas_udf's hint resolution would fail
    _sigs_fn.__annotations__ = {"v": pd.Series, "return": pd.Series}
    _sigs = F.pandas_udf(ArrayType(LongType()))(_sigs_fn)

    return (
        df.withColumn("__sigs", _sigs(F.col(vec_col)))
        .select("*", F.posexplode("__sigs").alias(table_col, sig_col))
        .withColumn(table_col, F.col(table_col).cast("int"))
        .drop("__sigs")
    )


def topk_cosine_lsh_multitable(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    num_planes: int = 6,
    num_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Approximate top-k with MULTI-TABLE hyperplane LSH — the
    production recall configuration (FAISS/Annoy-style L independent
    tables OR'ed), vs ``topk_cosine_lsh``'s single table + optional
    Hamming probe.

    This is a float64 LSH index built and probed in session: the
    corpus becomes the index rows of ``_signed_rows`` (signed through
    ``with_multitable_signatures_blas``) and ``probe_lsh_index`` signs
    the queries through the expression ``with_multitable_signatures``
    (identical signatures; the matmul kernel is the one that scales).

    Plan shape: corpus and queries each explode to L (table, sig)
    rows; the probe is an equi-join on (table_id, sig) with the query
    side broadcast; duplicate (query, neighbor) candidates (pairs
    colliding in several tables) dedup in ONE aggregate that also
    carries the score (scores of duplicates are bit-identical — same
    fold over the same vectors — so max() is a dedup, not a choice).
    Shuffle ∝ matched candidates, never n·|Q| and never corpus×L:
    the explode pipelines into the broadcast probe.

    Recall/cost knobs: tables multiply candidate volume ~linearly and
    recall as 1−(1−p^b)^L; planes-per-table divide bucket population
    (2^b buckets/table). b=6, L=8 at cosine-0.8 neighbors ≈ 0.90
    expected pair recall."""
    meta = {"dim": dim, "num_planes": num_planes, "num_tables": num_tables}
    return probe_lsh_index(
        _signed_rows(corpus, meta, id_col, vec_col), meta, queries, k=k,
        id_col=id_col, vec_col=vec_col, round_digits=round_digits,
    )


def _multitable_probe(
    signed_corpus: DataFrame,
    signed_queries: DataFrame,
    k: int,
    round_digits: int = 6,
) -> DataFrame:
    """The join and ranking stage of ``probe_lsh_index``.

    Contract: ``signed_corpus`` carries (neighbor_id, __cvec, __cn,
    __ct, __csig) — one row per (vector, table); ``signed_queries``
    the (query_id, __qvec, __qn, __qt, __qsig) twin. The query side
    is broadcast (queries ≪ corpus always), the probe is an
    (table, sig) equi-join, and duplicate candidates dedup in one
    aggregate (identical scores — same fold over the same vectors)."""
    pairs = signed_corpus.join(
        F.broadcast(signed_queries),
        (F.col("__ct") == F.col("__qt"))
        & (F.col("__csig") == F.col("__qsig"))
        & (F.col("query_id") != F.col("neighbor_id")),
    )
    return _rank_pairs(_pair_scores(pairs, round_digits, dedup=True), k)


def fit_centroids(
    df: DataFrame,
    n_centroids: int,
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 20,
    sample_fraction: float | None = None,
) -> list[tuple[int, list[float]]]:
    """Train an IVF coarse quantizer with Spark ML KMeans (seeded)
    and return it in ``ivf_assign``'s ``(centroid_id, vector)`` shape.

    The deterministic modulo-seeded centroid set the oracle queries
    use (suite/similarity.py) is reproducible cross-engine but makes
    no attempt to balance cells; a real corpus wants centroids that
    track the data distribution — fewer near-empty and overfull
    cells, so per-query probe cost is even and recall at fixed nprobe
    is higher. KMeans training is the standard bounded driver-side
    step of IVF index builds (FAISS does exactly this on a sample):
    the distributed work is Lloyd iterations over the corpus
    (aggregates per round), and only k centroid vectors come back to
    the driver. ``sample_fraction`` trains on a seeded sample — at
    100 TB the quantizer is fit on a few million vectors, never the
    full corpus.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = df.select(F.col(vec_col).cast("array<double>").alias("__v"))
    # dirty-row guard: Spark ML's summarizer hard-fails on NaN/Inf
    # vector values, and one corrupt embedding must not fail (or
    # skew) a corpus-scale quantizer fit — non-finite vectors train
    # nothing (they also lose every cosine ranking downstream)
    train = train.filter(
        F.col("__v").isNotNull()
        & F.forall(
            F.col("__v"),
            lambda x: ~F.isnan(x) & (F.abs(x) < F.lit(float("inf"))),
        )
    )
    if sample_fraction is not None:
        train = train.sample(fraction=sample_fraction, seed=seed)
    train = train.select(array_to_vector(F.col("__v")).alias("features"))
    model = KMeans(k=n_centroids, seed=seed, maxIter=max_iter).fit(train)
    return [
        (i, [float(x) for x in center])
        for i, center in enumerate(model.clusterCenters())
    ]


# ---------------------------------------------------------------------------
# Product quantization (PQ) — FAISS IVFPQ's storage model, Spark-shaped
# ---------------------------------------------------------------------------


def sample_pq_codebooks(
    df: DataFrame,
    dim: int,
    num_subspaces: int = 8,
    codes_per_subspace: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    modulo: int = 29,
) -> list[tuple[int, int, list[float]]]:
    """Deterministic PQ codebooks: codeword (m, j) is the m-th
    subvector of the j-th modulo-sampled corpus row (``vec_id %
    modulo == 0``, ordered, first ``codes_per_subspace`` rows) —
    the same bounded-driver-side construction the suite's IVF
    centroids use, chosen so a SQL oracle can rebuild the identical
    codebooks and therefore the identical codes. A production run
    swaps in per-subspace KMeans (``fit_pq_codebooks``); the
    operator contract is just the (m, j, subvector) list."""
    if dim % num_subspaces:
        raise ValueError(f"dim={dim} not divisible by m={num_subspaces}")
    dsub = dim // num_subspaces
    rows = (
        df.filter(F.col(id_col) % modulo == 0)
        .orderBy(id_col)
        .limit(codes_per_subspace)
        .select(vec_col)
        .collect()
    )
    return [
        (m, j, [float(x) for x in r[0][m * dsub:(m + 1) * dsub]])
        for m in range(num_subspaces)
        for j, r in enumerate(rows)
    ]


def fit_pq_codebooks(
    df: DataFrame,
    dim: int,
    num_subspaces: int = 8,
    codes_per_subspace: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 20,
    sample_fraction: float | None = None,
) -> list[tuple[int, int, list[float]]]:
    """Trained PQ codebooks: seeded Spark ML KMeans per SUBSPACE over
    the corpus's subvectors (the standard PQ training loop — FAISS
    does exactly this on a sample). ``num_subspaces`` bounded driver
    loops, each a distributed fit; only m×k codewords return to the
    driver. Same (m, j, subvector) shape as the deterministic
    sampler."""
    if dim % num_subspaces:
        raise ValueError(f"dim={dim} not divisible by m={num_subspaces}")
    dsub = dim // num_subspaces
    out: list[tuple[int, int, list[float]]] = []
    for m in range(num_subspaces):
        sub = df.select(
            F.slice(F.col(vec_col), m * dsub + 1, dsub).alias("embedding")
        )
        cents = fit_centroids(
            sub,
            codes_per_subspace,
            seed=seed + m,
            max_iter=max_iter,
            sample_fraction=sample_fraction,
        )
        out.extend((m, j, vec) for j, vec in cents)
    return out


def _pq_codebook_relation(spark: SparkSession, codebooks, dim: int):
    """(one-row broadcastable relation with the sorted (m, j, c)
    struct array, m, k, dsub) — shared by encode and decode. The
    array is sorted by (m, j), so subspace m's codewords are the
    contiguous run [m·k+1, k] and codeword (m, j) is element
    m·k+j+1 — O(1) lookups, plan size flat in m×k (same rationale
    as with_multitable_signatures' broadcast planes)."""
    ms = sorted({m for m, _, _ in codebooks})
    js = sorted({j for _, j, _ in codebooks})
    num_subspaces, k = len(ms), len(js)
    if ms != list(range(num_subspaces)) or js != list(range(k)):
        raise ValueError("codebooks must cover dense (m, j) index grids")
    if len(codebooks) != num_subspaces * k:
        raise ValueError(
            f"codebooks must be a full m×k grid, got {len(codebooks)} entries"
        )
    # the subvectors must tile the vector: with a remainder, the BLAS
    # encoder's reshape fails and the expression encoder silently
    # ignores the trailing elements
    if dim % num_subspaces:
        raise ValueError(f"dim={dim} not divisible by m={num_subspaces}")
    dsub = dim // num_subspaces
    bad = [(m, j) for m, j, c in codebooks if len(c) != dsub]
    if bad:
        raise ValueError(f"codewords {bad} are not dim/m = {dsub} long")
    cb = local_relation(
        spark,
        [(int(m), int(j), [float(x) for x in c]) for m, j, c in codebooks],
        "m int, j int, c array<double>",
    )
    one = cb.agg(
        F.sort_array(F.collect_list(F.struct("m", "j", "c"))).alias("__cb")
    )
    return one, num_subspaces, k, dsub


def pq_encode(
    df: DataFrame,
    codebooks: list[tuple[int, int, list[float]]],
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codes_col: str = "codes",
    norm_col: str = "recon_norm",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """PQ-encode every vector: ``codes[m] = argmin_j ‖x_m − c_mj‖²``
    (squared-L2 per subspace, ties to the smallest code id — the
    textbook PQ assignment), plus the RECONSTRUCTION's L2 norm so a
    cosine probe over codes is internally consistent. Output is
    (id, codes array<int>, recon_norm) — ``m`` small ints per vector
    instead of ``dim`` doubles: at m=8 that is 8 codes + 1 norm vs 64
    doubles, the storage model that makes 100 TB embedding search
    affordable (FAISS IVFPQ). Distances fold sequentially in float64,
    so codes are reproducible cross-engine.

    This is the reference encoder: every build and search encodes
    through the row-identical ``pq_encode_blas``, which also drops
    the non-finite vectors this fold would encode as valid codes."""
    one, num_subspaces, k, dsub = _pq_codebook_relation(
        df.sparkSession, codebooks, dim
    )

    def sub_dist(cw):
        # ‖x_m − c‖² with x_m = slice(vec, m·dsub+1, dsub); fold is
        # sequential over the subspace elements
        return F.aggregate(
            F.zip_with(
                F.slice(F.col(vec_col), cw["m"] * dsub + 1, dsub),
                cw["c"],
                lambda x, c: (x.cast("double") - c) * (x.cast("double") - c),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    codes = F.transform(
        F.sequence(F.lit(0), F.lit(num_subspaces - 1)),
        lambda m: F.array_min(
            F.transform(
                F.slice(F.col("__cb"), m * k + 1, k),
                lambda cw: F.struct(sub_dist(cw).alias("d"), cw["j"].alias("j")),
            )
        )["j"],
    )
    return (
        df.crossJoin(F.broadcast(one))
        .withColumn(codes_col, codes)
        .withColumn(norm_col, l2_norm(pq_decode(F.col(codes_col), "__cb", k)))
        .select(
            F.col(id_col), F.col(codes_col), F.col(norm_col),
            *[F.col(c) for c in keep_cols],
        )
    )


def pq_encode_blas(
    df: DataFrame,
    codebooks: list[tuple[int, int, list[float]]],
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codes_col: str = "codes",
    norm_col: str = "recon_norm",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Arrow/BLAS twin of ``pq_encode`` — identical codes, matmul
    formulation. The expression encoder runs m·k interpreted
    distance folds per row (128 at m=8, k=16) — the dominant cost of
    a PQ index BUILD (a 400k-row expression encode ran past 10
    minutes; this kernel does it in seconds). Distances come from
    the ‖x‖² − 2x·Cᵀ + ‖c‖² expansion, one einsum per Arrow batch;
    argmin ties keep the first (smallest code id), matching the
    expression's (d, j) struct ordering, and a pick can differ only
    on last-ulp distance ties — measure-zero; the pytest twin
    asserts code-for-code equality on the fixture including the
    exact-match rows the sampled codebooks guarantee. The
    reconstruction norm is computed AFTERWARDS by the same
    expression fold as the expr twin (one decode per row), so stored
    norms are bit-identical between kernels. Dirty-row contract as
    the other BLAS kernels, WIDENED here to non-finite vectors:
    NULL / wrong-length / NaN-or-Inf-carrying vectors get NULL codes
    and are dropped from the output. The widening matters for PQ
    specifically — in the float and int8 tiers a NaN vector
    self-neutralizes (its scores are NaN and lose every ranking),
    but PQ would encode it as a perfectly VALID codeword-0
    reconstruction that masquerades as a real neighbor; the
    expression twin keeps that behavior (documented divergence), and
    every build and search encodes with this kernel, so corrupt
    embeddings never reach an index or a ranking."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import ArrayType, IntegerType

    one, num_subspaces, k, dsub = _pq_codebook_relation(
        df.sparkSession, codebooks, dim
    )
    C = np.zeros((num_subspaces, k, dsub), dtype=np.float64)
    for m, j, c in codebooks:
        C[m, j] = c
    c_sq = (C * C).sum(axis=2)  # m × k
    expect_dim = dim

    def _codes(V: "np.ndarray") -> list:
        V3 = V.reshape(len(V), num_subspaces, dsub)
        d = (
            (V3 * V3).sum(axis=2)[:, :, None]
            - 2.0 * np.einsum("nmd,mkd->nmk", V3, C)
            + c_sq[None, :, :]
        )
        # np.argmin keeps the FIRST minimum — the expression's
        # smallest-j tiebreak
        return list(np.argmin(d, axis=2).astype(np.int32))

    def _codes_fn(v):
        n = len(v)
        if not n:
            return pd.Series([], dtype=object)
        mask = np.fromiter(
            (
                x is not None
                and len(x) == expect_dim
                and np.isfinite(np.asarray(x, dtype=np.float64)).all()
                for x in v
            ),
            dtype=bool,
            count=n,
        )
        if mask.all():
            return pd.Series(_codes(np.array([list(x) for x in v], dtype=np.float64)))
        out = np.full(n, None, dtype=object)
        keep = np.flatnonzero(mask)
        if len(keep):
            out[keep] = _codes(
                np.array([list(v.iloc[i]) for i in keep], dtype=np.float64)
            )
        return pd.Series(out)

    _codes_fn.__annotations__ = {"v": pd.Series, "return": pd.Series}
    _enc = F.pandas_udf(ArrayType(IntegerType()))(_codes_fn)

    return (
        df.withColumn(codes_col, _enc(F.col(vec_col)))
        .filter(F.col(codes_col).isNotNull())
        .crossJoin(F.broadcast(one))
        .withColumn(norm_col, l2_norm(pq_decode(F.col(codes_col), "__cb", k)))
        .select(
            F.col(id_col), F.col(codes_col), F.col(norm_col),
            *[F.col(c) for c in keep_cols],
        )
    )


def pq_decode(codes, cb_col, k: int):
    """Reconstruction expression: concatenate the chosen codewords
    (codeword (m, j) is element m·k+j+1 of the sorted struct array).
    Usable anywhere the codebook relation is in scope."""
    cb = F.col(cb_col) if isinstance(cb_col, str) else cb_col
    idx = F.transform(
        codes, lambda j, m: F.element_at(cb, m * F.lit(k) + j + 1)["c"]
    )
    return F.flatten(idx)


# ---------------------------------------------------------------------------
# Index rows and probes: one search path per index kind
# ---------------------------------------------------------------------------


def _dequant_int8(qvec, scale):
    """Dequantized float64 vector from an int8-quantized posting —
    the probe-side inverse of the quantization in
    ``_int8_quantize`` (pure expressions, JVM-side)."""
    return F.transform(qvec, lambda q: q.cast("double") * scale)


def _int8_quantize(df: DataFrame, vec: str = "vec") -> DataFrame:
    """Symmetric per-vector int8 scalar quantization (FAISS SQ8):
    appends ``scale`` (max|x|/127 — the full int8 range per vector),
    ``qvec`` (array<tinyint>), and ``norm`` (of the DEQUANTIZED
    vector, so probe cosines are internally consistent). Shared by
    the LSH and IVF int8 tiers — ONE quantization convention.

    Quantization uses Spark SQL round (HALF_UP) — reproducible in
    ANSI SQL, so an oracle can recompute the identical stored values.

    Dirty-vector guard: a NaN element drives ``scale`` to NaN
    (greatest's NaN-largest ordering) and an ±inf element drives it
    to +inf, where inf/inf = NaN — either way the ANSI NaN→tinyint
    cast would fail the WHOLE build job on one corrupt row. Such
    rows store zeros under their honest non-finite scale; the
    dequantized vector is then all-NaN, its norm NaN, and the
    scoring guard (``_cosine_from_denom``) NULLs them out of
    every ranking — the same exclusion the float tier applies to
    non-finite vectors."""
    scale = F.aggregate(
        F.transform(F.col(vec), F.abs),
        F.lit(0.0),
        lambda acc, v: F.greatest(acc, v),
    ) / F.lit(127.0)
    q_ok = (
        (F.col("scale") > 0)
        & ~F.isnan(F.col("scale"))
        & (F.col("scale") != float("inf"))
    )
    qvec = F.when(
        q_ok,
        F.transform(
            F.col(vec),
            lambda x: F.round(x / F.col("scale")).cast("tinyint"),
        ),
    ).otherwise(
        F.transform(F.col(vec), lambda x: F.lit(0).cast("tinyint"))
    )
    return (
        df.withColumn("scale", scale)
        .withColumn("qvec", qvec)
        .withColumn("norm", l2_norm(_dequant_int8(F.col("qvec"), F.col("scale"))))
    )


def _signed_rows(
    corpus: DataFrame, meta: dict, id_col: str, vec_col: str
) -> DataFrame:
    """The LSH index rows of ``corpus`` under the geometry in ``meta``:
    (id, vec | qvec + scale, norm, table_id, sig)."""
    store_dtype = meta.get("store_dtype", "float64")
    if store_dtype not in ("float64", "int8"):
        raise ValueError(
            f"store_dtype must be 'float64' or 'int8', got {store_dtype!r}"
        )
    base = corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    if store_dtype == "int8":
        # the LSH relation stores the vector once per TABLE row (×L
        # redundancy), so quantized storage compounds: ~8× smaller
        # elements × the L-way duplication. Signing always runs on
        # the float vector (bucket choice is never quantized); the
        # quantization is the shared _int8_quantize (dirty-vector
        # guard and HALF_UP convention documented there).
        base = _int8_quantize(base)
    else:
        base = base.withColumn("norm", l2_norm(F.col("vec")))
    signed = with_multitable_signatures_blas(
        base,
        "vec",
        int(meta["dim"]),
        int(meta["num_planes"]),
        int(meta["num_tables"]),
        table_col="table_id",
        sig_col="sig",
    )
    return signed.drop("vec") if store_dtype == "int8" else signed


def probe_lsh_index(
    index: DataFrame,
    meta: dict,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Top-k cosine neighbors from LSH index rows (``_signed_rows``),
    loaded from an artifact or built in session —
    ``topk_cosine_lsh_multitable`` is this probe over the rows it
    builds, and a persisted index probes identically (vec/norm
    doubles round-trip parquet exactly).

    The corpus side is the index relation as given (never re-signed,
    never re-normed); only the |Q| query vectors are signed here, with
    the expression kernel — signatures are kernel-independent by the
    documented sign-identity, and |Q| is small by contract. An
    ``int8`` artifact rescans with dequantized vectors — scores are
    approximate within quantization error, buckets are exact."""
    q = with_multitable_signatures(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec")
        ).withColumn("__qn", l2_norm(F.col("__qvec"))),
        "__qvec",
        int(meta["dim"]),
        int(meta["num_planes"]),
        int(meta["num_tables"]),
        table_col="__qt",
        sig_col="__qsig",
    )
    if meta.get("store_dtype", "float64") == "int8":
        cvec = _dequant_int8(F.col("qvec"), F.col("scale"))
    else:
        cvec = F.col("vec")
    c = index.select(
        F.col("id").alias("neighbor_id"),
        cvec.alias("__cvec"),
        F.col("norm").alias("__cn"),
        F.col("table_id").alias("__ct"),
        F.col("sig").alias("__csig"),
    )
    return _multitable_probe(c, q, k=k, round_digits=round_digits)


def _posting_rows(
    corpus: DataFrame,
    meta: dict,
    id_col: str,
    vec_col: str,
    centroids: list[tuple[int, list[float]]],
    codebooks: list[tuple[int, int, list[float]]] | None,
) -> DataFrame:
    """The IVF postings of ``corpus`` assigned under ``centroids``, in
    the storage tier of ``meta``: (id, vec | qvec + scale | codes,
    norm, centroid_id)."""
    store_dtype = meta.get("store_dtype", "float64")
    if store_dtype not in ("float64", "int8", "pq8"):
        raise ValueError(
            f"store_dtype must be 'float64', 'int8' or 'pq8', got {store_dtype!r}"
        )
    if store_dtype == "pq8" and codebooks is None:
        raise ValueError("store_dtype='pq8' requires codebooks")
    assigned = ivf_assign_blas(
        corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec")),
        centroids,
        id_col="id",
        vec_col="vec",
    )
    if store_dtype == "pq8":
        # PQ tier: m small ints + one reconstruction norm per vector
        # (see pq_encode) — the FAISS-IVFPQ disk model
        return pq_encode_blas(
            assigned, codebooks, int(meta["dim"]), id_col="id",
            vec_col="vec", norm_col="norm", keep_cols=("centroid_id",),
        )
    if store_dtype == "int8":
        # assignment above ran on the FLOAT vector (cell choice is
        # never quantized); storage quantizes via the shared
        # _int8_quantize (dirty-vector guard documented there)
        return _int8_quantize(assigned).drop("vec")
    return assigned.withColumn("norm", l2_norm(F.col("vec")))


def _decoded_postings(postings: DataFrame, meta: dict) -> tuple[DataFrame, Column]:
    """IVF postings in the storage tier of ``meta``, and the float64
    vector column they decode to: ``vec`` as stored, the dequantized
    ``qvec`` of an ``int8`` tier, or the reconstruction of a ``pq8``
    tier's codes under ``meta['_codebooks']`` (the codebook relation
    joins the postings for it)."""
    store_dtype = meta.get("store_dtype", "float64")
    if store_dtype == "pq8":
        one, _, kk, _ = _pq_codebook_relation(
            postings.sparkSession, meta["_codebooks"], int(meta["dim"])
        )
        return (
            postings.crossJoin(F.broadcast(one)),
            pq_decode(F.col("codes"), "__cb", kk),
        )
    if store_dtype == "int8":
        return postings, _dequant_int8(F.col("qvec"), F.col("scale"))
    return postings, F.col("vec")


def probe_ivf_index(
    postings: DataFrame,
    centroids: list[tuple[int, list[float]]],
    meta: dict,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Top-k cosine neighbors from IVF postings (``_posting_rows``),
    loaded from an artifact or built in session — ``topk_cosine_ivf``
    and ``topk_cosine_ivf_pq`` are this probe over the rows they
    build, and a persisted index probes identically (parquet
    round-trips doubles exactly). Only the |Q| query vectors are
    assigned here (``nprobe`` is the recall knob); the corpus side is
    the postings relation as given — never re-assigned, never
    re-normed. An ``int8`` index (``store_dtype``) rescans with
    dequantized vectors and a ``pq8`` one with reconstructions under
    ``meta['_codebooks']`` — scores are approximate within
    quantization error, cells are exact."""
    if int(meta["dim"]) and centroids and len(centroids[0][1]) != int(meta["dim"]):
        raise ValueError(
            f"centroids disagree with index metadata dim={meta['dim']}"
        )
    postings, cvec = _decoded_postings(postings, meta)
    c = postings.select(
        F.col("id").alias("neighbor_id"),
        cvec.alias("__cvec"),
        F.col("centroid_id"),
        F.col("norm").alias("__cn"),
    )
    q = ivf_assign(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec")
        ),
        centroids,
        id_col="query_id",
        vec_col="__qvec",
        nprobe=nprobe,
    ).withColumn("__qn", l2_norm(F.col("__qvec")))
    return _ivf_probe(c, q, k=k, round_digits=round_digits)


def topk_cosine_ivf_pq(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    codebooks: list[tuple[int, int, list[float]]],
    dim: int,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    nprobe: int = 1,
) -> DataFrame:
    """IVF-PQ ANN search: IVF cells bound the candidate set (exactly
    ``topk_cosine_ivf``'s equi-join — shuffle ∝ probed-cell
    populations, never n×|Q|), and candidates score against their PQ
    RECONSTRUCTIONS — the corpus side carries only (codes, norm,
    centroid_id), never the original vectors, so the search's working
    set is the PQ-compressed one. Queries stay float (asymmetric
    distance — the standard, higher-recall PQ configuration).
    Reconstruction + the sequential cosine fold make scores
    cross-engine reproducible.

    This is a pq8 IVF index built and probed in session: the corpus
    becomes the pq8 ``_posting_rows`` (assigned and encoded through
    ``ivf_assign_blas`` and ``pq_encode_blas``, so NULL, ragged and
    non-finite vectors never become neighbors) and ``probe_ivf_index``
    decodes them under ``codebooks`` and assigns the queries through
    the expression ``ivf_assign``."""
    meta = {"dim": dim, "store_dtype": "pq8", "_codebooks": codebooks}
    postings = _posting_rows(corpus, meta, id_col, vec_col, centroids, codebooks)
    return probe_ivf_index(
        postings, centroids, meta, queries, k=k, nprobe=nprobe,
        id_col=id_col, vec_col=vec_col, round_digits=round_digits,
    )


def topk_cosine_ivf_pq_refine(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    codebooks: list[tuple[int, int, list[float]]],
    dim: int,
    k: int = 5,
    n_candidates: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    nprobe: int = 1,
) -> DataFrame:
    """IVF-PQ search with an exact refine stage — FAISS's
    ``IVFPQR``/refine pattern: the PQ-compressed index nominates
    ``n_candidates`` approximate neighbors per query (lossy,
    compression-cheap), then ONLY those |Q|·n_candidates rows rescore
    against the original float vectors for the final top-k. This is
    the standard answer to PQ's quantization error: recall at k is
    set by the candidate stage while the reported scores (and the
    final ordering) are exact cosines.

    Scale shape: stage 1 is ``topk_cosine_ivf_pq`` unchanged (cell
    equi-join over the compressed corpus); stage 2 broadcasts the
    tiny (query_id, neighbor_id) candidate relation against the float
    corpus — one broadcast-hash join and a |Q|·C-row window, so the
    full-precision vectors are touched for candidates only and NEVER
    shuffle. ``n_candidates`` is the recall knob (must be ≥ k;
    raising it widens only the rescore set, not any corpus scan).
    """
    if n_candidates < k:
        raise ValueError(f"n_candidates ({n_candidates}) must be >= k ({k})")
    cand = topk_cosine_ivf_pq(
        corpus,
        queries,
        centroids,
        codebooks,
        dim,
        k=n_candidates,
        id_col=id_col,
        vec_col=vec_col,
        round_digits=round_digits,
        nprobe=nprobe,
    ).select("query_id", "neighbor_id")
    return _exact_rescore_candidates(
        corpus, queries, cand, k, id_col, vec_col, round_digits
    )


def _exact_rescore_candidates(
    corpus: DataFrame,
    queries: DataFrame,
    cand: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    round_digits: int,
) -> DataFrame:
    """The refine stage shared by every candidate-then-rescore search
    (IVF-PQ refine, truncated-prefix refine): the tiny (query_id,
    neighbor_id) candidate relation broadcasts against the float
    corpus — one broadcast-hash join and a |Q|·C-row window, so the
    full-precision vectors are touched for candidates only and never
    shuffle. Reported scores are exact cosines."""
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cvec"),
    ).withColumn("__cn", l2_norm(F.col("__cvec")))
    qf = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qvec"),
    ).withColumn("__qn", l2_norm(F.col("__qvec")))
    pairs = c.join(F.broadcast(cand), "neighbor_id").join(
        F.broadcast(qf), "query_id"
    )
    return _rank_pairs(_pair_scores(pairs, round_digits), k)


def topk_cosine_truncated_refine(
    corpus: DataFrame,
    queries: DataFrame,
    prefix_dim: int,
    k: int = 5,
    n_candidates: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Truncated-prefix prefilter + exact refine — the Matryoshka
    (MRL, Kusupati et al. 2022) serving pattern: embeddings trained
    front-loaded carry most signal in a short prefix, so the
    candidate scan scores only the first ``prefix_dim`` dimensions
    (a prefix_dim/dim fraction of the arithmetic and, with columnar
    layouts, of the bytes read), then ONLY the top ``n_candidates``
    per query rescore at full dimension for the exact final ranking.

    Scale shape: stage 1 scans the sliced corpus with
    ``topk_cosine_bruteforce_blas`` (it is corpus-sized, so it takes
    the Arrow matmul kernel: queries ship in the closure, the corpus
    is scanned in place — linear, no shuffle); stage 2 is the shared
    exact refine (broadcast candidate ids, |Q|·C window). The prefix
    scan inherits the BLAS kernel's contracts: ``id_col`` must be
    integral on both sides (TypeError otherwise) and the query side
    is capped at its ``max_queries`` default. On non-MRL embeddings
    the prefix is still an unbiased random projection-ish signal, but
    recall at fixed C is lower — the pytest gate measures it on the
    fixture. Reported scores are exact full-dimension cosines from
    the expression rescore, so they are oracle-reproducible. The
    candidates rank on rounded scores with id tiebreaks; the BLAS
    scores agree with an expression scan's to the rounding digit, so
    the candidate set differs only where a prefix score straddles a
    rounding boundary.
    """
    if prefix_dim < 1:
        raise ValueError(f"prefix_dim must be >= 1, got {prefix_dim}")
    if n_candidates < k:
        raise ValueError(f"n_candidates ({n_candidates}) must be >= k ({k})")
    sliced_c = corpus.select(
        F.col(id_col), F.slice(F.col(vec_col), 1, prefix_dim).alias(vec_col)
    )
    sliced_q = queries.select(
        F.col(id_col), F.slice(F.col(vec_col), 1, prefix_dim).alias(vec_col)
    )
    cand = topk_cosine_bruteforce_blas(
        sliced_c,
        sliced_q,
        k=n_candidates,
        id_col=id_col,
        vec_col=vec_col,
        round_digits=round_digits,
    ).select("query_id", "neighbor_id")
    return _exact_rescore_candidates(
        corpus, queries, cand, k, id_col, vec_col, round_digits
    )
