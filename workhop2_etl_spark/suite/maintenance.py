"""Oracle-checked queries for the maintenance/layout kernels that
were previously pytest-only: the incremental-rollup partial shape and
its combine algebra (operators/incremental.py), the Z-order Morton
key (sources/zorder.py), and salted two-phase aggregation
(operators/skew.py).

The *protocols* around these kernels (epoch commit, file layout,
shuffle shape) stay pytest-proven — they are not SQL-expressible —
but the VALUE semantics each one rests on are, and an oracle verdict
on the algebra is strictly stronger than a self-consistent pytest:

* r1: the partial-aggregate shape = a plain GROUP BY (so a reader
  folding partials reconstructs exactly the batch answer);
* r2: combine(rollup(A), rollup(B)) = rollup(A ∪ B) — the
  associativity the whole incremental/streaming design rests on;
* z1: the bucketize + bit-interleave Morton key, replayed bit-for-bit
  in DuckDB integer arithmetic;
* k1: two-phase salted aggregation = the unsalted GROUP BY.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from workhop2_etl_spark.operators.incremental import (
    combine_rollups,
    rollup_events_daily,
)
from workhop2_etl_spark.operators.skew import salted_aggregate
from workhop2_etl_spark.session import load_table
from workhop2_etl_spark.suite import query
from workhop2_etl_spark.suite.dedup import _hex_int_sql

# ---------------------------------------------------------------------------
# r1: the maintained rollup's partial-aggregate shape ≡ plain GROUP BY.
# ---------------------------------------------------------------------------


@query(
    "r1_daily_rollup",
    oracle="""
    SELECT CAST(ts AS DATE) AS day, event_type,
           count(*) AS n,
           round(sum(value), 4) AS sum_value,
           min(value) AS min_value,
           max(value) AS max_value
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def r1_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        rollup_events_daily(ev)
        .withColumn("sum_value", F.round("sum_value", 4))
        .orderBy("day", "event_type")
    )


# ---------------------------------------------------------------------------
# r2: combine algebra — fold two disjoint partials and recover the
# full answer. The Spark side splits events on event_id parity,
# rolls each half up independently, and merges with combine_rollups;
# the oracle is the single-pass GROUP BY over everything. Equality
# here IS the invariant that lets refresh_daily_rollup /
# stream_rollup_to_parquet never rescan the fact table.
# ---------------------------------------------------------------------------


@query(
    "r2_combine_partials",
    oracle="""
    SELECT CAST(ts AS DATE) AS day, event_type,
           count(*) AS n,
           round(sum(value), 4) AS sum_value,
           min(value) AS min_value,
           max(value) AS max_value
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def r2_combine_partials(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    even = rollup_events_daily(ev.filter(F.col("event_id") % 2 == 0))
    odd = rollup_events_daily(ev.filter(F.col("event_id") % 2 == 1))
    return (
        combine_rollups(even, odd)
        .withColumn("sum_value", F.round("sum_value", 4))
        .orderBy("day", "event_type")
    )


# ---------------------------------------------------------------------------
# z1: Morton (Z-order) key — min/max-normalize two lineitem keys into
# 16 equi-width buckets (double arithmetic, the overflow-safe path)
# and interleave 4 bits of each; DuckDB replays the identical integer
# bit arithmetic. Grouping by the key keeps the result compact and
# proves every row's key, not a sample's.
# ---------------------------------------------------------------------------

_Z1_BITS = 4


@query(
    "z1_zorder_key",
    oracle=f"""
    WITH stats AS (
      SELECT min(l_orderkey) AS mn_o, max(l_orderkey) AS mx_o,
             min(l_partkey) AS mn_p, max(l_partkey) AS mx_p
      FROM lineitem
    ), bucketed AS (
      SELECT
        least(CAST(floor((CAST(l_orderkey AS DOUBLE) - mn_o) * {1 << _Z1_BITS}
                         / (CAST(mx_o - mn_o AS DOUBLE) + 1.0)) AS BIGINT),
              {(1 << _Z1_BITS) - 1}) AS bo,
        least(CAST(floor((CAST(l_partkey AS DOUBLE) - mn_p) * {1 << _Z1_BITS}
                         / (CAST(mx_p - mn_p AS DOUBLE) + 1.0)) AS BIGINT),
              {(1 << _Z1_BITS) - 1}) AS bp
      FROM lineitem, stats
    )
    SELECT {" + ".join(
        f"(((b{c} >> {b}) & 1) << {b * 2 + j})"
        for b in range(_Z1_BITS)
        for j, c in enumerate("op")
    )} AS zkey,
           count(*) AS n
    FROM bucketed
    GROUP BY 1
    ORDER BY 1
    """,
)
def z1_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from workhop2_etl_spark.sources.zorder import zorder_key

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # scalar min/max as a broadcast 1-row relation (bounded by
    # construction) so the whole query stays one lazy plan
    stats = li.agg(
        F.min("l_orderkey").alias("mn_o"),
        F.max("l_orderkey").alias("mx_o"),
        F.min("l_partkey").alias("mn_p"),
        F.max("l_partkey").alias("mx_p"),
    )
    n = 1 << _Z1_BITS

    def bucket(col: str, mn: str, mx: str):
        span = (F.col(mx) - F.col(mn)).cast("double")
        b = F.floor(
            (F.col(col).cast("double") - F.col(mn).cast("double")) * n / (span + 1.0)
        ).cast("long")
        return F.least(b, F.lit(n - 1))

    return (
        li.crossJoin(F.broadcast(stats))
        .select(
            zorder_key(
                [bucket("l_orderkey", "mn_o", "mx_o"), bucket("l_partkey", "mn_p", "mx_p")],
                _Z1_BITS,
            ).alias("zkey")
        )
        .groupBy("zkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("zkey")
    )


# ---------------------------------------------------------------------------
# k1: salted two-phase aggregation ≡ the plain GROUP BY it protects.
# event_type is low-cardinality (the hot-key shape: every group is a
# potential reducer hot spot), exactly where salting applies.
# ---------------------------------------------------------------------------


@query(
    "k1_salted_agg",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           round(sum(value), 4) AS sum_value,
           max(value) AS max_value
    FROM events
    GROUP BY 1
    ORDER BY 1
    """,
)
def k1_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        salted_aggregate(
            ev,
            ["event_type"],
            {
                "n": ("sum", F.count(F.lit(1))),
                "sum_value": ("sum", F.sum("value")),
                "max_value": ("max", F.max("value")),
            },
            # event_id is row-unique → deterministic retry-stable salt
            # (the SPARK-23207 hardening; positional fallback only
            # when no unique column exists)
            salt_on="event_id",
        )
        .withColumn("sum_value", F.round("sum_value", 4))
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# g6: PageRank (operators/graph.py::pagerank) over the nation trade
# graph (customer nation → supplier nation via orders×lineitem).
# 3 fixed iterations, damping 0.85, dangling mass not redistributed —
# the oracle unrolls the identical rounds as plain join+aggregate
# CTEs, so the iterative DataFrame loop is value-checked exactly.
# ---------------------------------------------------------------------------

_PR_ROUND = """
r{next} AS (
  SELECT nodes.node,
         0.15 / (SELECT n FROM nn) + 0.85 * coalesce(m.s, 0) AS rank
  FROM nodes LEFT JOIN (
    SELECT e.dst AS node, sum(r{cur}.rank / deg.d) AS s
    FROM r{cur} JOIN deg ON r{cur}.node = deg.src JOIN e ON e.src = r{cur}.node
    GROUP BY e.dst
  ) m ON nodes.node = m.node
)"""


@query(
    "g6_pagerank",
    oracle="""
    WITH e AS (
      SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE c.c_nationkey <> s.s_nationkey
    ),
    nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
    deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS d FROM e GROUP BY src),
    r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes),"""
    + ",".join(_PR_ROUND.format(cur=i, next=i + 1) for i in range(3))
    + """
    SELECT node, round(rank, 6) AS rank FROM r3 ORDER BY node
    """,
)
def g6_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from workhop2_etl_spark.operators.graph import pagerank

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    edges = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(li, li["l_orderkey"] == orders["o_orderkey"])
        .join(sup, li["l_suppkey"] == sup["s_suppkey"])
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .select(F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst"))
    )
    return (
        pagerank(edges, iters=3)
        .withColumn("rank", F.round("rank", 6))
        .orderBy("node")
    )


# ---------------------------------------------------------------------------
# k2: salted shuffle join ≡ the plain equi-join it protects. The fact
# (events) joins its own per-type stats on event_type — 5 values over
# ~10k rows, the textbook hot-key shuffle: unsalted, every reducer
# handles one type; salted, each type spreads over 8 (key, salt)
# buckets. The oracle is the unsalted join, so the verdict proves the
# salt+replicate rewrite is value-invisible.
# ---------------------------------------------------------------------------


@query(
    "k2_salted_skew_join",
    oracle="""
    WITH stats AS (
      SELECT event_type, avg(value) AS ty_avg FROM events GROUP BY 1)
    SELECT e.event_type,
           count(*) AS n,
           CAST(sum(CASE WHEN e.value > s.ty_avg THEN 1 ELSE 0 END) AS BIGINT)
             AS n_above_avg
    FROM events e JOIN stats s USING (event_type)
    GROUP BY 1 ORDER BY 1
    """,
)
def k2_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from workhop2_etl_spark.operators.skew import salted_shuffle_join

    ev = load_table(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(F.avg("value").alias("ty_avg"))
    joined = salted_shuffle_join(
        # event_id rides along only as the deterministic salt source
        # (row-unique → retry-stable assignment, SPARK-23207)
        ev.select("event_id", "event_type", "value"),
        stats,
        on=["event_type"],
        num_salts=8,
        salt_on="event_id",
    )
    return (
        joined.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("value") > F.col("ty_avg")).cast("bigint")).alias(
                "n_above_avg"
            ),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# g7: per-node triangle counts (operators/graph.py::triangle_count)
# over the SPARSIFIED nation trade graph — each customer nation keeps
# its top-3 supplier nations by link count (ties → lower nation id),
# then edges are undirected. Sparsification makes the triangle
# structure non-trivial (the raw trade graph is near-complete) and is
# itself a standard argmax-top-k shape. The operator runs the
# degree-oriented wedge algorithm; the oracle counts the same
# triangles from the id-oriented edge list — orientation invariance
# makes the two comparable value-for-value.
# ---------------------------------------------------------------------------


@query(
    "g7_triangle_count",
    oracle="""
    WITH links AS (
      SELECT c.c_nationkey AS src, s.s_nationkey AS dst, count(*) AS n
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE c.c_nationkey <> s.s_nationkey
      GROUP BY 1, 2
    ), picked AS (
      SELECT src, dst FROM (
        SELECT src, dst,
               row_number() OVER (PARTITION BY src ORDER BY n DESC, dst ASC)
                 AS rk
        FROM links) WHERE rk <= 3
    ), e AS (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM picked
    ), tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM e e1
      JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
      JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b
    )
    SELECT node, count(*) AS n_triangles
    FROM (SELECT x AS node FROM tri
          UNION ALL SELECT y FROM tri
          UNION ALL SELECT z FROM tri)
    GROUP BY 1 ORDER BY 1
    """,
)
def g7_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from workhop2_etl_spark.operators.graph import triangle_count

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    links = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(li, li["l_orderkey"] == orders["o_orderkey"])
        .join(sup, li["l_suppkey"] == sup["s_suppkey"])
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("src").orderBy(F.desc("n"), F.asc("dst"))
    picked = (
        links.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("src", "dst")
    )
    return triangle_count(picked).orderBy("node")


# ---------------------------------------------------------------------------
# r3: approximate quantiles as a COMBINABLE rollup measure — the
# Spark side splits events on event_id parity, builds an equi-width
# histogram partial per half, merges them (bin counts add), and
# estimates p50/p95 from the merged vector; the oracle is the
# single-pass histogram over everything. Equality proves quantile
# estimates obey the same partial-combine algebra as sums/HLL, so
# they ride the epoch/compaction protocol without fact-table rescans.
# ---------------------------------------------------------------------------


@query(
    "r3_hist_quantiles",
    oracle="""
    WITH b AS (
      SELECT CAST(ts AS DATE) AS day, event_type,
             least(greatest(CAST(floor(value / 25.0) AS BIGINT), 0), 19) AS bin
      FROM events WHERE value IS NOT NULL
    ),
    h AS (SELECT day, event_type, bin, count(*) AS nb FROM b GROUP BY 1, 2, 3),
    c AS (
      SELECT day, event_type, bin, nb,
             sum(nb) OVER (PARTITION BY day, event_type ORDER BY bin) AS cum,
             sum(nb) OVER (PARTITION BY day, event_type) AS n
      FROM h
    )
    SELECT day, event_type, CAST(n AS BIGINT) AS n,
           min(CASE WHEN 2 * cum >= n THEN CAST(25 * (bin + 1) AS BIGINT) END) AS p50_est,
           min(CASE WHEN 20 * cum >= 19 * n THEN CAST(25 * (bin + 1) AS BIGINT) END) AS p95_est
    FROM c GROUP BY 1, 2, 3 ORDER BY 1, 2
    """,
)
def r3_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from workhop2_etl_spark.operators.incremental import (
        combine_hist_rollups,
        hist_quantile,
        rollup_events_daily_hist,
    )

    ev = load_table(spark, sf_dir, "events")
    even = rollup_events_daily_hist(ev.filter(F.col("event_id") % 2 == 0))
    odd = rollup_events_daily_hist(ev.filter(F.col("event_id") % 2 == 1))
    merged = combine_hist_rollups(even.unionByName(odd))
    # Bin edges are exact multiples of the integer width (25·k), so the
    # report columns cast losslessly to BIGINT — integer report columns
    # are bit-identical across engines where doubles risk last-ulp flips.
    return merged.select(
        "day",
        "event_type",
        "n",
        hist_quantile(F.col("hist"), F.col("n"), 1, 2).cast("long").alias("p50_est"),
        hist_quantile(F.col("hist"), F.col("n"), 19, 20).cast("long").alias("p95_est"),
    ).orderBy("day", "event_type")


# ---------------------------------------------------------------------------
# g8: community detection via synchronous WEIGHTED label propagation
# on the sparsified nation trade graph: each nation keeps its top-3
# heaviest partners (same k-NN sparsification as g7 — the full trade
# graph is near-complete, where every community method degenerates to
# one blob), edge weight = order-line count. Deterministic by
# construction —
# synchronous rounds + (weight desc, label asc) tiebreaks — so the
# oracle replays the identical two unrolled rounds in SQL. Per-round
# cost at scale: label-table equi-join + (node, label) aggregate +
# per-node argmax window, everything node/edge-sized.
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# r4: KMV distinct-count sketch — the MERGEABLE approximate distinct
# measure, oracle-replayed bit-for-bit (the HLL twin in
# operators/incremental.py is Spark's DataSketches binary, which no
# other engine can replay — this md5-based KMV earns the same
# partial-combine algebra a cross-engine verdict). The Spark side
# builds one partial per event_id-parity half, merges them
# (union → distinct → k smallest), and estimates; the oracle computes
# the single-shot sketch over everything — equality proves
# combine(kmv(A), kmv(B)) = kmv(A ∪ B) exactly, so per-epoch KMV
# partials can ride the same persisted-partial protocol as the
# lexical df/stats. n_exact rides along to show the estimate lands
# (the test asserts the error bound; the oracle asserts the algebra).
# ---------------------------------------------------------------------------

_KMV_K = 256
_KMV_M = float(1 << 60)


@query(
    "r4_kmv_distinct",
    oracle=f"""
    WITH hv AS (
      SELECT DISTINCT {{h}} AS hv
      FROM (SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL)
    ),
    topk AS (SELECT hv FROM hv ORDER BY hv LIMIT {_KMV_K}),
    agg AS (
      SELECT count(*) AS n_kept, coalesce(max(hv), 0) AS kth_hash FROM topk
    )
    SELECT n_kept, kth_hash,
           round(CASE WHEN n_kept < {_KMV_K} THEN CAST(n_kept AS DOUBLE)
                 ELSE {float(_KMV_K - 1)!r} * {_KMV_M!r}
                      / CAST(kth_hash AS DOUBLE) END, 4) AS est_distinct,
           (SELECT count(DISTINCT user_id) FROM events
            WHERE user_id IS NOT NULL) AS n_exact
    FROM agg
    """.format(
        h=_hex_int_sql("md5('kmv:' || CAST(user_id AS VARCHAR))", 15)
    ),
)
def r4_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from workhop2_etl_spark.operators.sketch import (
        combine_kmv,
        kmv_estimate,
        kmv_partial,
    )

    ev = load_table(spark, sf_dir, "events")
    parts = [
        kmv_partial(ev.filter(F.col("event_id") % 2 == i), "user_id", _KMV_K)
        for i in (0, 1)
    ]
    merged = combine_kmv(parts, _KMV_K)
    exact = ev.filter(F.col("user_id").isNotNull()).agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    return (
        kmv_estimate(merged, _KMV_K)
        .withColumn("est_distinct", F.round("est_distinct", 4))
        .crossJoin(F.broadcast(exact))
    )


# ---------------------------------------------------------------------------
# r5: count-min heavy-hitter screen over the document token stream —
# the additive frequency sketch (depth×width counter grid; point
# estimate = min over depth rows, never an undercount). The Spark
# side builds one grid per doc_id-parity half and SUMS them — the
# identical additive algebra as every rollup/df/stats partial — then
# estimates the true top-8 tokens' counts; the oracle replays the
# single-shot grid, the same md5-salted bucket arithmetic, and the
# same min-fold. Equality proves combine(cm(A), cm(B)) = cm(A ∪ B)
# and pins the whole estimate path cross-engine.
# ---------------------------------------------------------------------------

_CM_DEPTH = 3
_CM_WIDTH = 64
_CM_TOP = 8


@query(
    "r5_cm_heavy_hitters",
    oracle=f"""
    WITH toks AS (
      SELECT unnest(string_split({{norm}}, ' ')) AS tok
      FROM documents WHERE {{norm}} <> ''
    ),
    js AS (SELECT unnest([{", ".join(str(j) for j in range(_CM_DEPTH))}]) AS j),
    grid AS (
      SELECT j, {{bucket}} % {_CM_WIDTH} AS bucket, count(*) AS n
      FROM toks CROSS JOIN js
      GROUP BY 1, 2
    ),
    topt AS (
      SELECT tok, count(*) AS n_true FROM toks GROUP BY tok
      ORDER BY n_true DESC, tok LIMIT {_CM_TOP}
    ),
    probes AS (
      SELECT tok, n_true, j, {{bucket}} % {_CM_WIDTH} AS bucket
      FROM topt CROSS JOIN js
    )
    SELECT tok, n_true, min(coalesce(g.n, 0)) AS n_est
    FROM probes p LEFT JOIN grid g USING (j, bucket)
    GROUP BY tok, n_true
    ORDER BY n_true DESC, tok
    """.format(
        norm="trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))",
        bucket=_hex_int_sql(
            "md5('cm' || CAST(j AS VARCHAR) || ':' || tok)", 8
        ),
    ),
)
def r5_cm_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from workhop2_etl_spark.operators.sketch import (
        cm_estimate,
        cm_partial,
        combine_cm,
    )
    from workhop2_etl_spark.suite.pipeline2 import _toks

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(_toks()).alias("tok"))
    parts = [
        cm_partial(
            toks.filter(F.col("doc_id") % 2 == i), "tok",
            depth=_CM_DEPTH, width=_CM_WIDTH,
        )
        for i in (0, 1)
    ]
    sketch = combine_cm(parts)
    topt = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n_true"))
        .orderBy(F.desc("n_true"), F.asc("tok"))
        .limit(_CM_TOP)
    )
    est = cm_estimate(sketch, topt, "tok", depth=_CM_DEPTH, width=_CM_WIDTH)
    return (
        topt.join(est, "tok")
        .select("tok", "n_true", F.col("n_est").cast("long").alias("n_est"))
        .orderBy(F.desc("n_true"), F.asc("tok"))
    )


# ---------------------------------------------------------------------------
# r6: per-group KMV — approximate distinct users PER EVENT TYPE, the
# production shape of the r4 sketch (one bounded k-row relation per
# group instead of a per-group count-distinct shuffle). Spark builds
# parity-half partials and merges per group; the oracle replays the
# single-shot per-group sketch — equality proves the grouped merge
# algebra, group by group. Exact distinct rides along per group.
# ---------------------------------------------------------------------------

_R6_K = 64


@query(
    "r6_kmv_by_group",
    oracle=f"""
    WITH hv AS (
      SELECT DISTINCT event_type, {{h}} AS hv
      FROM events WHERE user_id IS NOT NULL
    ),
    topk AS (
      SELECT event_type, hv FROM (
        SELECT event_type, hv,
               row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rk
        FROM hv) WHERE rk <= {_R6_K}
    ),
    agg AS (
      SELECT event_type, count(*) AS n_kept,
             coalesce(max(hv), 0) AS kth_hash
      FROM topk GROUP BY event_type
    ),
    exact AS (
      SELECT event_type, count(DISTINCT user_id) AS n_exact
      FROM events WHERE user_id IS NOT NULL GROUP BY event_type
    )
    SELECT a.event_type, a.n_kept, a.kth_hash,
           round(CASE WHEN a.n_kept < {_R6_K} THEN CAST(a.n_kept AS DOUBLE)
                 ELSE {float(_R6_K - 1)!r} * {_KMV_M!r}
                      / CAST(a.kth_hash AS DOUBLE) END, 4) AS est_distinct,
           e.n_exact
    FROM agg a JOIN exact e USING (event_type)
    ORDER BY a.event_type
    """.format(
        h=_hex_int_sql("md5('kmv:' || CAST(user_id AS VARCHAR))", 15)
    ),
)
def r6_kmv_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    from workhop2_etl_spark.operators.sketch import (
        combine_kmv_by,
        kmv_estimate_by,
        kmv_partial_by,
    )

    ev = load_table(spark, sf_dir, "events")
    parts = [
        kmv_partial_by(
            ev.filter(F.col("event_id") % 2 == i), ["event_type"],
            "user_id", _R6_K,
        )
        for i in (0, 1)
    ]
    merged = combine_kmv_by(parts, ["event_type"], _R6_K)
    exact = (
        ev.filter(F.col("user_id").isNotNull())
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n_exact"))
    )
    return (
        kmv_estimate_by(merged, ["event_type"], _R6_K)
        .withColumn("est_distinct", F.round("est_distinct", 4))
        .join(exact, "event_type")
        .orderBy("event_type")
    )


_LPA_ROUND = """
    s{next} AS (
      SELECT nb.node, l{cur}.label, sum(nb.w) AS wt
      FROM nb JOIN l{cur} ON nb.nbr = l{cur}.node GROUP BY 1, 2
    ),
    l{next} AS (
      SELECT node, label FROM (
        SELECT node, label,
               row_number() OVER (PARTITION BY node
                                  ORDER BY wt DESC, label ASC) AS rk
        FROM s{next}) WHERE rk = 1
    )"""


@query(
    "g8_label_propagation",
    oracle="""
    WITH links AS (
      SELECT c.c_nationkey AS src, s.s_nationkey AS dst, count(*) AS w
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE c.c_nationkey <> s.s_nationkey
      GROUP BY 1, 2
    ),
    picked AS (
      SELECT src, dst, w FROM (
        SELECT src, dst, w,
               row_number() OVER (PARTITION BY src
                                  ORDER BY w DESC, dst ASC) AS rk
        FROM links) WHERE rk <= 3
    ),
    nb AS (
      SELECT src AS node, dst AS nbr, w FROM picked
      UNION ALL
      SELECT dst, src, w FROM picked
    ),
    l0 AS (SELECT DISTINCT node, node AS label FROM nb),"""
    + ",".join(_LPA_ROUND.format(cur=i, next=i + 1) for i in range(2))
    + """
    SELECT CAST(node AS BIGINT) AS node, CAST(label AS BIGINT) AS label
    FROM l2 ORDER BY node
    """,
)
def g8_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from workhop2_etl_spark.operators.graph import label_propagation

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    links = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(li, li["l_orderkey"] == orders["o_orderkey"])
        .join(sup, li["l_suppkey"] == sup["s_suppkey"])
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    rk = F.row_number().over(
        Window.partitionBy("src").orderBy(F.desc("w"), F.asc("dst"))
    )
    picked = links.withColumn("rk", rk).filter(F.col("rk") <= 3).drop("rk")
    out = label_propagation(picked, iters=2, weight_col="w")
    return out.select(
        F.col("node").cast("long").alias("node"),
        F.col("label").cast("long").alias("label"),
    ).orderBy("node")
