"""Physical-plan regression guards.

Correctness tests prove the values; these prove the *plan shape* the
engine is designed around — the properties that decide whether a
query survives a 100× scale-up: filters reaching the parquet scan,
column pruning in ReadSchema, broadcast where a side is bounded,
top-k planned as TakeOrderedAndProject (not a global sort), and no
Python (BatchEvalPython) in expression-only pipelines.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from workhop2_etl_spark import suite
from workhop2_etl_spark.session import load_table

from tests.conftest import SF_DIR

suite.load_all()


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    df = suite.QUERIES["q1_pricing_summary"](spark, SF_DIR)
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan, plan[:2000]


def test_column_pruning_in_read_schema(spark):
    li = load_table(spark, SF_DIR, "lineitem")
    df = li.select("l_orderkey", "l_quantity").filter(F.col("l_quantity") > 10)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan_of(df))
    assert m, "no ReadSchema in plan"
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols == {"l_orderkey", "l_quantity"}, cols


def test_topk_plans_take_ordered(spark):
    df = suite.QUERIES["o2_sort_limit"](spark, SF_DIR)
    assert "TakeOrderedAndProject" in plan_of(df)


def test_impute_join_broadcasts_dim(spark):
    df = suite.QUERIES["j1_impute_left_join"](spark, SF_DIR)
    assert "BroadcastHashJoin" in plan_of(df)


def test_fuzzy_join_broadcasts_theta_arm(spark):
    df = suite.QUERIES["j3_fuzzy_two_pass"](spark, SF_DIR)
    plan = plan_of(df)
    assert "BroadcastNestedLoopJoin" in plan
    # the argmax is an aggregate (partial+final), never a window over
    # the join product
    assert "partial_min" in plan
    assert "Window" not in plan


def test_no_python_in_expression_pipelines(spark):
    for name in ("f1_normalize_text", "t2_quality_profile", "d2_minhash_lsh_pairs",
                 "v1_topk_cosine_bruteforce", "st1_tumbling_counts"):
        plan = plan_of(suite.QUERIES[name](spark, SF_DIR))
        assert "BatchEvalPython" not in plan, f"{name} fell back to row-Python"
        assert "ArrowEvalPython" not in plan, f"{name} uses a pandas UDF unnecessarily"


def test_multimodal_uses_arrow_batches(spark):
    # the one place Python IS expected: the media decode stage, which
    # must be Arrow-batched mapInPandas, not row-at-a-time.
    plan = plan_of(suite.QUERIES["m1_image_meta"](spark, SF_DIR))
    assert "MapInPandas" in plan


def test_whole_stage_codegen_covers_agg(spark):
    df = suite.QUERIES["a1_topk_group_count"](spark, SF_DIR)
    df.collect()  # AQE shows codegen spans only in the final (executed) plan
    plan = plan_of(df)
    # codegen stages appear as "*(n)" markers in the executed plan —
    # both the partial and final hash aggregates must be inside one.
    assert re.search(r"\*\(\d+\) HashAggregate", plan), plan[:1500]


def test_star_q3_takeordered_and_pushdown(spark):
    plan = plan_of(suite.QUERIES["q3_shipping_priority"](spark, SF_DIR))
    # top-10 over the join must not global-sort the join product
    assert "TakeOrderedAndProject" in plan
    # each date filter reaches its own scan
    assert "PushedFilters: [IsNotNull(o_orderdate), LessThan(o_orderdate" in plan
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate" in plan


def test_star_q5_broadcasts_nation_region(spark):
    plan = plan_of(suite.QUERIES["q5_local_volume"](spark, SF_DIR))
    # the 5-nation dim must broadcast — the fact side never shuffles
    # by nationkey
    assert "BroadcastHashJoin" in plan


def test_q18_having_aggregates_before_join(spark):
    plan = plan_of(suite.QUERIES["q18_large_orders"](spark, SF_DIR))
    # the quantity rollup + HAVING must run below the joins so the
    # join sees one row per surviving order, not raw lineitem
    agg = plan.index("HashAggregate")
    join = plan.index("Join")
    assert "functions=[sum(l_quantity" in plan and agg > join, (
        "expected the lineitem aggregate deeper in the tree than the joins"
    )


def test_star2_broadcasts_and_pushdown(spark):
    # q7: both nation-tagged sides broadcast; the shipdate range
    # reaches the lineitem scan.
    plan = plan_of(suite.QUERIES["q7_nation_volume"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate" in plan
    # q19: the disjunction evaluates after a broadcast part join —
    # the fact table must not shuffle at all before the final 1-row agg.
    plan19 = plan_of(suite.QUERIES["q19_disjunctive_revenue"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan19
    assert "SortMergeJoin" not in plan19


def test_star2_topk_and_aggregate_argmin(spark):
    # q2: limit-20 over the argmin result plans as TakeOrdered, and
    # the per-part argmin is an aggregate, not a window over offers.
    plan = plan_of(suite.QUERIES["q2_best_value_supplier"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan
    # q21: unique-latest is aggregates + re-join, never a window over
    # the raw lineitem join product.
    plan21 = plan_of(suite.QUERIES["q21_waiting_supplier"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan21
    assert "Window" not in plan21


def test_q17_correlated_avg_is_aggregate_join(spark):
    # the correlated scalar subquery must become aggregate + equi-join
    # (one pass over lineitem for the averages), not a per-row
    # subquery execution.
    plan = plan_of(suite.QUERIES["q17_small_qty_revenue"](spark, SF_DIR))
    assert "partial_avg" in plan
    assert "Window" not in plan


def test_lsh_signature_join_is_hash_join(spark):
    # the multi-probe LSH search must stay a signature equi-join:
    # Catalyst extracts csig == qsig into a BroadcastHashJoin. The two
    # BroadcastNestedLoopJoins in the plan are the 1-row hyperplane
    # relations (bounded build side by construction) — the assertion
    # is that no unbounded cartesian/NLJ appears for the search join.
    plan = plan_of(suite.QUERIES["v6_topk_cosine_lsh_multiprobe"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_ivf_nprobe_search_is_hash_join(spark):
    # v7 (nprobe=2): probe-cell explosion happens on the broadcast
    # query side; the search must remain a centroid equi-join
    # (BroadcastHashJoin), never a cartesian — same guard as LSH
    # multi-probe. The BroadcastNestedLoopJoins in the plan are the
    # 1-row centroid relations (bounded build side by construction).
    plan = plan_of(suite.QUERIES["v7_topk_cosine_ivf_nprobe"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_sequence_pack_window_sharded(spark):
    # x6: the running-sum window must partition by (lang, shard), not
    # lang alone — `lang` has a handful of values, so a lang-only
    # window serializes the dominant language into ONE task at scale.
    # The exchange feeding the Window must hash-partition on BOTH keys.
    plan = plan_of(suite.QUERIES["x6_sequence_pack"](spark, SF_DIR))
    assert re.search(r"hashpartitioning\(lang#\d+[^)]*shard#\d+", plan), (
        "pack window exchange is not keyed by (lang, shard):\n" + plan[:2000]
    )


def test_event_analytics_window_keys_and_no_python(spark):
    # e1/e5: the per-user windows must hash-partition on user_id (the
    # high-cardinality entity key — parallelism scales with users);
    # everything stays JVM-side (no BatchEvalPython).
    for name in ("e1_sessionize", "e5_scd2_runs"):
        plan = plan_of(suite.QUERIES[name](spark, SF_DIR))
        assert re.search(r"hashpartitioning\(user_id#\d+", plan), name
        assert "BatchEvalPython" not in plan, name


def test_funnel_is_agg_join_chain(spark):
    # e2: filter→min-agg→equi-join per step — no windows, no
    # cartesian; each stage's cardinality is bounded by distinct
    # users.
    plan = plan_of(suite.QUERIES["e2_funnel"](spark, SF_DIR))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_tfidf_corpus_stats_join_shape(spark):
    # t8: the document-frequency relation joins back on the term key
    # as an equi-join; the only nested-loop join is the 1-row
    # n_docs scalar (bounded build side by construction).
    plan = plan_of(suite.QUERIES["t8_tfidf_top_terms"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert re.search(r"(BroadcastHashJoin|SortMergeJoin) \[term", plan)


def test_doc_chunking_is_shuffle_free(spark):
    # x7: explode(sequence) fans out inside the stage — the only
    # exchange allowed is the final deterministic output sort.
    plan = plan_of(suite.QUERIES["x7_doc_chunks"](spark, SF_DIR))
    exchanges = re.findall(r"Exchange \w+", plan)
    assert len(exchanges) <= 1, exchanges
    assert all("rangepartitioning" in e for e in exchanges), exchanges
    assert "BatchEvalPython" not in plan


def test_round5_maintenance_query_plans(spark):
    """Plan shapes of the round-5 additions: the Morton-key query's
    only non-equi join is the 1-row broadcast stats relation (never a
    CartesianProduct); bigram counting is narrow until the count agg
    and plans its top-k as TakeOrdered; CDC apply-changes keeps the
    anti join broadcast; salted aggregation is two hash-agg phases
    with no extra exchange beyond the salt shuffle."""
    z1 = plan_of(suite.QUERIES["z1_zorder_key"](spark, SF_DIR))
    assert "CartesianProduct" not in z1
    assert "BroadcastNestedLoopJoin" in z1  # the 1-row stats join
    assert "BatchEvalPython" not in z1

    t10 = plan_of(suite.QUERIES["t10_bigram_topk"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in t10
    assert "BatchEvalPython" not in t10
    # one exchange for the bigram count — generate→explode is narrow
    assert t10.count("Exchange") == 1, t10[:2000]

    u5 = plan_of(suite.QUERIES["u5_apply_changes"](spark, SF_DIR))
    assert "BroadcastHashJoin" in u5 and "LeftAnti" in u5

    k1 = plan_of(suite.QUERIES["k1_salted_agg"](spark, SF_DIR))
    assert "BatchEvalPython" not in k1
    # phase-1 agg on (keys, salt), phase-2 on keys: two hash-agg
    # pairs, and the final agg's grouping no longer carries the salt
    assert k1.count("HashAggregate") >= 4
    # executedPlan prints top-down: the first HashAggregate line is
    # the FINAL merge phase — its grouping keys must not carry salt
    final_agg = next(l for l in k1.splitlines() if "HashAggregate" in l)
    assert "__w2e_salt" not in final_agg, final_agg


def test_rollup_refresh_reads_only_affected_partitions(spark, tmp_path):
    """The incremental-refresh read path must partition-prune to the
    delta's days: the base-side scan plan carries a day IN-filter —
    at 100 TB this is the difference between rescanning the rollup
    and touching |delta days| directories."""
    from workhop2_etl_spark.operators.incremental import rollup_events_daily
    from workhop2_etl_spark.session import load_table as _lt

    ev = _lt(spark, SF_DIR, "events")
    table = str(tmp_path / "daily")
    rollup_events_daily(ev).write.partitionBy("day").parquet(table)

    base = spark.read.parquet(table).filter(
        F.col("day").isin(["2024-01-14", "2024-01-15"])
    )
    plan = plan_of(base)
    m = re.search(r"PartitionFilters: \[([^\]]*)", plan)
    assert m and "day" in m.group(1), plan[:1500]


def test_round5_analytics_query_plans(spark):
    """e8's point-in-time lookup must be an equi-join with the
    interval as residual (never a nested-loop over user histories);
    w4/j10 are single-window/agg shapes with no join at all; g6's
    iterative joins must stay equi-joins (no cartesian) and fully
    JVM-side."""
    e8 = plan_of(suite.QUERIES["e8_scd2_lookup"](spark, SF_DIR))
    assert "BroadcastHashJoin" in e8 or "SortMergeJoin" in e8
    assert "BroadcastNestedLoopJoin" not in e8 and "CartesianProduct" not in e8

    for name in ("w4_ohlc_resample", "j10_asof_forward_tolerance"):
        p = plan_of(suite.QUERIES[name](spark, SF_DIR))
        assert "Join" not in p, name  # pure window/agg shapes
        assert "BatchEvalPython" not in p, name

    g6 = plan_of(suite.QUERIES["g6_pagerank"](spark, SF_DIR))
    assert "CartesianProduct" not in g6 and "BroadcastNestedLoopJoin" not in g6
    assert "BatchEvalPython" not in g6


def test_group_sample_two_level_topk_sharded(spark):
    """x10: the heavy rank must run on (lang, shard) — the first
    Window's exchange hash-partitions on BOTH keys; only the tiny
    shard-winner re-rank partitions on lang alone."""
    plan = plan_of(suite.QUERIES["x10_group_sample"](spark, SF_DIR))
    m = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    assert any("lang" in g and "shard" in g for g in m), m


def test_salted_join_shuffles_on_salt_key(spark):
    """k2 with broadcast disabled: the whole point of the salt is the
    shuffle key — both exchanges must hash-partition on
    (event_type, salt), never event_type alone."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(suite.QUERIES["k2_salted_skew_join"](spark, SF_DIR))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    groups = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    join_keys = [g for g in groups if "event_type" in g and "__w2e_salt" in g]
    assert len(join_keys) >= 2, groups


def test_triangle_count_plan_all_equi_joins(spark):
    """g7: wedge generation and closure are equi-joins on node/edge
    keys — no cartesian, no nested loop, fully JVM-side."""
    plan = plan_of(suite.QUERIES["g7_triangle_count"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_chunk_dup_plan_is_digest_join(spark):
    """d8: chunking is the narrow explode(sequence) kernel; the only
    joins are equi-joins on the chunk key (freq back-join) — never
    doc × doc."""
    plan = plan_of(suite.QUERIES["d8_chunk_dup_ratio"](spark, SF_DIR))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_rolling_window_queries_are_single_window_chains(spark):
    """w6/dq2/e9: one per-key window + hash aggs, no joins, no
    Python; e9's carry-forward window must key on user_id (high
    cardinality), w6/dq2's on event_type."""
    for name, key in (
        ("w6_ewma", "event_type"),
        ("dq2_rolling_outliers", "event_type"),
        ("e9_attribution", "user_id"),
    ):
        plan = plan_of(suite.QUERIES[name](spark, SF_DIR))
        assert "Join" not in plan, name
        assert "BatchEvalPython" not in plan, name
        assert "Window" in plan, name
        groups = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
        assert any(key in g for g in groups), (name, groups)


def test_registry_wide_no_row_python_no_cartesian(spark):
    """Global plan invariant over EVERY registered query: no
    BatchEvalPython (row-at-a-time Python — the 10-100x slow path;
    Arrow mapInPandas is the sanctioned escape hatch and shows as
    ArrowEvalPython/MapInPandas), and no CartesianProduct (an
    unbounded |L|x|R| fan-out; every 1-row broadcast scalar join
    plans as BroadcastNestedLoopJoin with a bounded build side
    instead). Catches a regression in ANY query the per-query guards
    don't cover — analysis only, nothing executes."""
    offenders = {}
    for name, fn in suite.QUERIES.items():
        plan = plan_of(fn(spark, SF_DIR))
        flags = [
            f
            for f in ("BatchEvalPython", "CartesianProduct")
            if f in plan
        ]
        if flags:
            offenders[name] = flags
    assert not offenders, offenders


def test_cdc_chunking_plan_single_doc_shuffle(spark):
    """x11: posexplode is narrow; the running boundary count is ONE
    window keyed on doc_id, and the per-(doc, chunk) hash agg rides
    the same key prefix. No Python, no joins."""
    plan = plan_of(suite.QUERIES["x11_cdc_chunks"](spark, SF_DIR))
    assert "BatchEvalPython" not in plan
    assert "Join" not in plan
    assert "Window" in plan
    groups = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    assert any("doc_id" in g for g in groups), groups


def test_parquet_aggregate_pushdown_answers_from_footers(spark):
    """MIN/MAX/COUNT over a bare parquet scan can be answered from
    row-group footer statistics without decoding a single row — the
    DSv2 reader's aggregate pushdown (spark.sql.parquet.
    aggregatePushdown; note the lowercase 'd'). At 100 TB this turns
    a full-table stats probe into a footer sweep. Values must equal
    the row-decoding path exactly."""
    import re

    from workhop2_etl_spark.session import load_table

    from tests.conftest import SF_DIR

    want = load_table(spark, SF_DIR, "orders").agg(
        F.min("o_orderkey").alias("lo"),
        F.max("o_orderkey").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]

    prev_push = spark.conf.get("spark.sql.parquet.aggregatePushdown")
    prev_v1 = spark.conf.get("spark.sql.sources.useV1SourceList")
    try:
        spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
        spark.conf.set("spark.sql.sources.useV1SourceList", "")
        df = spark.read.parquet(f"{SF_DIR}/orders.parquet")
        agg = df.agg(
            F.min("o_orderkey").alias("lo"),
            F.max("o_orderkey").alias("hi"),
            F.count(F.lit(1)).alias("n"),
        )
        plan = agg._jdf.queryExecution().executedPlan().toString()
        m = re.search(r"PushedAggregation: \[([^\]]+)\]", plan)
        assert m and "MIN" in m.group(1) and "COUNT" in m.group(1), plan[:1500]
        got = agg.collect()[0]
        assert (got.lo, got.hi, got.n) == (want.lo, want.hi, want.n)
    finally:
        spark.conf.set("spark.sql.parquet.aggregatePushdown", prev_push)
        spark.conf.set("spark.sql.sources.useV1SourceList", prev_v1)


def test_persisted_index_probe_plan_shape(spark):
    """The loaded-index probe must be a BroadcastHashJoin on
    (table_id, sig) with the |Q|-sized query side broadcast — never a
    shuffle of the corpus-sized index relation, never a cartesian —
    and the index scan must read only the probe's five columns."""
    from workhop2_etl_spark.operators import index_store as IDX

    emb = load_table(spark, SF_DIR, "embeddings")
    import os
    import tempfile

    path = os.path.join(
        tempfile.gettempdir(), f"workhop2_idx_{os.getpid()}", "planshape"
    )
    IDX.save_lsh_index(emb, path, dim=64, num_planes=6, num_tables=4,
                       mode="overwrite")
    index, meta = IDX.load_lsh_index(spark, path)
    probe = IDX.probe_lsh_index(
        index, meta, emb.filter(F.col("vec_id") % 100 == 0), k=3
    )
    plan = plan_of(probe)
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    # the nested array<double> defeats the scalar-schema regex used
    # above; line-wise capture across every scan in the plan instead
    schemas = " ".join(re.findall(r"ReadSchema: (.*)", plan))
    assert schemas, "no ReadSchema in plan"
    for col in ("id:", "vec:", "norm:", "table_id:", "sig:"):
        assert col in schemas, (col, schemas)


def test_persisted_ivf_probe_plan_shape(spark):
    """The loaded-IVF probe must be a BroadcastHashJoin on
    centroid_id with the |Q|-sized assigned-query side broadcast —
    the corpus-sized postings relation never shuffles, never crosses
    — and the postings scan reads only the probe's four columns."""
    import os
    import tempfile

    from workhop2_etl_spark.operators import index_store as IDX
    from workhop2_etl_spark.operators import similarity as SIM

    emb = load_table(spark, SF_DIR, "embeddings")
    cents = SIM.fit_centroids(emb, n_centroids=4, seed=7, max_iter=3)
    path = os.path.join(
        tempfile.gettempdir(), f"workhop2_idx_{os.getpid()}", "ivf_planshape"
    )
    IDX.save_ivf_index(emb, path, cents, dim=64, mode="overwrite")
    postings, cs, meta = IDX.load_ivf_index(spark, path)
    probe = IDX.probe_ivf_index(
        postings, cs, meta, emb.filter(F.col("vec_id") % 100 == 0), k=3, nprobe=2
    )
    plan = plan_of(probe)
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    schemas = " ".join(re.findall(r"ReadSchema: (.*)", plan))
    assert schemas, "no ReadSchema in plan"
    for col in ("id:", "vec:", "norm:", "centroid_id:"):
        assert col in schemas, (col, schemas)


def test_persisted_lexical_probe_plan_shape(spark):
    """The loaded-BM25 probe must push the query vocabulary as an
    In(term, ...) filter into the term-clustered tf scan (the probe
    reads a vocabulary-sized slice of a corpus-sized artifact), and
    every scoring join must broadcast the query-sized side — never a
    shuffle of the posting relation. On the max_df-PRUNED path the df
    slice and the one-row stats are driver-materialized (both bounded
    by the probe's own max_terms contract; the pruned plan references
    them 3×/2×), so there they appear as LocalTableScans — the eager
    collect pushes the same In-list, pinned below on the loader's
    relation directly."""
    import os
    import tempfile

    from workhop2_etl_spark.operators import retrieval as RET

    docs = load_table(spark, SF_DIR, "documents")
    toks = F.split(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " "
    )
    corpus_tokens = docs.select("doc_id", toks.alias("toks"))
    qt = (
        corpus_tokens.filter(F.col("doc_id") % 89 == 0)
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(F.slice("toks", 1, 8)).alias("term"),
        )
        .distinct()
    )
    path = os.path.join(
        tempfile.gettempdir(), f"workhop2_idx_{os.getpid()}", "lex_planshape"
    )
    RET.save_lexical_index(corpus_tokens, path, mode="overwrite")
    tf, df, stats, meta = RET.load_lexical_index(spark, path)
    probe = RET.probe_lexical_index(tf, df, stats, meta, qt, k=10)
    plan = plan_of(probe)
    assert len(re.findall(r"PushedFilters: \[In\(term", plan)) >= 2, plan[:2000]
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    # the pruned path's eager df-slice collect pushes the same
    # vocabulary IN-list — pinned on the loader's relation directly
    vocab = [r.term for r in qt.select("term").distinct().collect()]
    dplan = plan_of(df.filter(F.col("term").isin(vocab)))
    assert len(re.findall(r"PushedFilters: \[In\(term", dplan)) >= 1, dplan[:2000]

    # the max_df-PRUNED probe (r11): same contract, plus the
    # candidate restriction must arrive as broadcasts — the posting
    # relation never shuffles on its own keys, and the term IN-list
    # reaches BOTH tf slices (the candidate-generation slice and the
    # scored slice; the rare/head split reads the driver-materialized
    # df, so df scans no longer appear in the final plan at all)
    pruned = RET.probe_lexical_index(
        tf, df, stats, meta, qt, k=10, max_df=_median_query_df(df, qt)
    )
    pplan = plan_of(pruned)
    assert len(re.findall(r"PushedFilters: \[In\(term", pplan)) >= 2, pplan[:2000]
    assert "LocalTableScan" in pplan  # driver-materialized df/stats
    assert "ExistingRDD" not in pplan
    assert "BroadcastHashJoin" in pplan
    assert "SortMergeJoin" not in pplan
    assert "CartesianProduct" not in pplan
    assert "BatchEvalPython" not in pplan


def test_deleted_index_loader_plan_shape(spark):
    """An index with pending deletes must anti-join its tombstones as
    a BROADCAST (the tombstone set between compactions is small by
    contract) — never a sort-merge shuffle of the corpus-sized
    postings — and the probe's pruning must survive the anti-join
    (the lexical term IN-list still reaches the tf scan)."""
    import os
    import tempfile

    from workhop2_etl_spark.operators import index_store as IDX
    from workhop2_etl_spark.operators import retrieval as RET

    docs = load_table(spark, SF_DIR, "documents")
    toks = F.split(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " "
    )
    corpus_tokens = docs.select("doc_id", toks.alias("toks"))
    qt = (
        corpus_tokens.filter((F.col("doc_id") % 89 == 0) & (F.col("doc_id") % 5 != 0))
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(F.slice("toks", 1, 8)).alias("term"),
        )
        .distinct()
    )
    path = os.path.join(
        tempfile.gettempdir(), f"workhop2_idx_{os.getpid()}", "lex_delplan"
    )
    RET.save_lexical_index(corpus_tokens, path, mode="overwrite",
                           num_partitions=4)
    IDX.delete_from_index(
        spark, path, docs.filter(F.col("doc_id") % 5 == 0).select("doc_id")
    )
    tf, df, stats, meta = RET.load_lexical_index(spark, path)
    plan = plan_of(RET.probe_lexical_index(tf, df, stats, meta, qt, k=10))
    assert "BroadcastHashJoin" in plan
    assert re.search(r"Broadcast.*LeftAnti|LeftAnti.*Broadcast", plan), plan[:2000]
    assert "SortMergeJoin" not in plan
    assert len(re.findall(r"PushedFilters: \[In\(term", plan)) >= 2


@pytest.mark.parametrize(
    "qname", ["v15_hybrid_rrf", "v16_hybrid_persisted_rrf", "v19_hybrid_weighted"]
)
def test_fusion_queries_have_no_sortmergejoin(spark, qname, tmp_path):
    """r12 (verdict ask #4): the fusion operators align their two
    arms with a union + hash aggregate (not an unbroadcastable
    full-outer join) and broadcast the per-query extrema relation, so
    NO fusion query plans a SortMergeJoin — the arms are |Q|·k, and
    every join in the fused plan must be broadcast-hash or gone."""
    plan = plan_of(suite.QUERIES[qname](spark, SF_DIR))
    assert "SortMergeJoin" not in plan, qname
    assert "CartesianProduct" not in plan, qname


def test_bm25_rankings_score_through_one_window_shape(spark):
    """One BM25 scoring shape (see ``_bm25_score``): in the executed
    (post-AQE) plans of the in-session ranking and of the unpruned
    artifact probe, the per-term contributions are summed by a Window
    and ranked through a WindowGroupLimit, and no collect_list fold
    (an ObjectHashAggregate) is left."""
    import os
    import tempfile

    from workhop2_etl_spark.operators import retrieval as RET

    docs = load_table(spark, SF_DIR, "documents")
    toks = F.split(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " "
    )
    corpus_tokens = docs.select("doc_id", toks.alias("toks"))
    qt = (
        corpus_tokens.filter(F.col("doc_id") % 89 == 0)
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(F.slice("toks", 1, 8)).alias("term"),
        )
        .distinct()
    )
    path = os.path.join(
        tempfile.gettempdir(), f"workhop2_idx_{os.getpid()}", "lex_winshape"
    )
    RET.save_lexical_index(corpus_tokens, path, mode="overwrite")
    tf, df, stats, meta = RET.load_lexical_index(spark, path)
    for name, ranked in (
        ("bm25_topk", RET.bm25_topk(corpus_tokens, qt, k=10)),
        ("probe_lexical_index", RET.probe_lexical_index(tf, df, stats, meta, qt, k=10)),
    ):
        assert ranked.collect(), name
        plan = _final_plan(ranked)
        assert re.search(r"\bWindow \[[^\n]*\bsum\(", plan), (name, plan[:3000])
        assert "WindowGroupLimit" in plan, name
        assert "ObjectHashAggregate" not in plan, (name, plan[:3000])


def test_ranked_topk_operators_push_window_group_limit(spark):
    """r12 verdict ask #6 (audited r13): every ranked top-k path —
    the fusers, the IVF probe, the exact-rescore refine — filters on
    a row_number over (score desc, id), which Spark must plan with a
    WindowGroupLimit pushdown (rows beyond k prune map-side before
    the final per-group sort). A shape change that breaks the
    pushdown (e.g. an expression wrapped around the rank column)
    silently turns top-k into a full per-group sort at every scale."""
    from workhop2_etl_spark.operators import retrieval as RET
    from workhop2_etl_spark.operators import similarity as SIM

    arm = spark.createDataFrame(
        [(1, d, r + 1, float(30 - r)) for d in (10, 20) for r in range(3)],
        "query_id int, doc_id int, rank int, score double",
    )
    assert "WindowGroupLimit" in plan_of(RET.rrf_fuse(arm, arm, k=2))
    assert "WindowGroupLimit" in plan_of(RET.weighted_fuse(arm, arm, k=2))

    vecs = spark.createDataFrame(
        [(i, [float(i), 1.0], 0) for i in range(6)],
        "vec_id int, embedding array<double>, centroid_id int",
    )
    c = vecs.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("__cvec"),
        "centroid_id",
    ).withColumn("__cn", SIM.l2_norm(F.col("__cvec")))
    q = vecs.limit(2).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("__qvec"),
        "centroid_id",
    ).withColumn("__qn", SIM.l2_norm(F.col("__qvec")))
    assert "WindowGroupLimit" in plan_of(
        SIM._ivf_probe(c, q, k=2, round_digits=6)
    )
    cand = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 3)], "query_id int, neighbor_id int"
    )
    assert "WindowGroupLimit" in plan_of(
        SIM._exact_rescore_candidates(
            vecs.select("vec_id", "embedding"),
            vecs.limit(2).select("vec_id", "embedding"),
            cand, 2, "vec_id", "embedding", 6,
        )
    )


_RANKED_TOPK_QUERIES = [
    "v1_topk_cosine_bruteforce",
    "v2_topk_cosine_lsh",
    "v5_topk_cosine_ivf",
    "v6_topk_cosine_lsh_multiprobe",
    "v8_topk_cosine_lsh_multitable",
    "v13_topk_ivf_pq",
    "v14_topk_ivf_pq_refine",
    "v15_hybrid_rrf",
    "v17_topk_truncated_refine",
    "v19_hybrid_weighted",
    "t11_bm25_topk",
    "t12_bm25_persisted_index",
    "t13_bm25_pruned_probe",
    "t14_bm25_index_delete",
    "t16_bm25_prf_persisted",
    "v16_hybrid_persisted_rrf",
]


@pytest.mark.parametrize("qname", _RANKED_TOPK_QUERIES)
def test_registry_topk_executes_window_group_limit(spark, qname):
    """Every registry query that ranks through ``dedupe.top_k`` keeps
    the WindowGroupLimit pushdown in the plan that actually ran (the
    post-AQE final plan), not only in the operator-level plans
    above. Its driver-side relations are ``LocalRelation``s
    (``session.local_relation``): no ``LogicalRDD`` leaf is left in the
    optimized plan."""
    df = suite.QUERIES[qname](spark, SF_DIR)
    assert df.collect(), qname
    assert "WindowGroupLimit" in _final_plan(df), qname
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    names = [leaves.apply(i).nodeName() for i in range(leaves.size())]
    assert "LogicalRDD" not in names, (qname, names)


# the one row_number outside top_k: _bm25_score's window sum
# numbers each (query, doc) group's term rows only to keep ONE row
# carrying the group's window sum — a dedup of a window aggregate
# whose sum must see every row, not a ranking (a WindowGroupLimit
# there would prune the rows the sum needs)
_ROW_NUMBER_ALLOWED = {("dedupe.py", "top_k"), ("retrieval.py", "_bm25_score")}


def test_row_number_lives_in_top_k_only():
    """Static guard: in the ranking modules, ``F.row_number()`` is
    called only inside ``dedupe.top_k`` (and the allowlisted BM25
    window-sum shape), so every ranking shares one rule."""
    import ast
    import pathlib

    import workhop2_etl_spark.operators as ops

    root = pathlib.Path(ops.__file__).parent
    found = set()
    for name in ("similarity.py", "retrieval.py", "index_store.py", "dedupe.py"):
        tree = ast.parse((root / name).read_text())
        for fn in tree.body:
            for node in ast.walk(fn):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "row_number"
                ):
                    found.add((name, getattr(fn, "name", "<module>")))
    assert ("dedupe.py", "top_k") in found
    assert found <= _ROW_NUMBER_ALLOWED, found - _ROW_NUMBER_ALLOWED


_DRIVER_COLLECTS = ("collect", "take", "first", "head", "toPandas", "toLocalIterator")


def test_query_side_collects_through_collect_bounded():
    """Static guard: nothing in operators/retrieval.py, and nothing in
    ``topk_cosine_bruteforce_blas``, pulls rows to the driver except
    through ``session.collect_bounded`` — one bounded rule for the
    query side, and no lazy fallback past a cap."""
    import ast
    import pathlib

    import workhop2_etl_spark.operators as ops

    root = pathlib.Path(ops.__file__).parent
    retrieval = ast.parse((root / "retrieval.py").read_text())
    sim = ast.parse((root / "similarity.py").read_text())
    blas = next(
        fn for fn in sim.body
        if getattr(fn, "name", None) == "topk_cosine_bruteforce_blas"
    )
    for where, tree in (("retrieval.py", retrieval), ("topk_cosine_bruteforce_blas", blas)):
        names = [
            (getattr(n.func, "attr", getattr(n.func, "id", None)), n.lineno)
            for n in ast.walk(tree)
            if isinstance(n, ast.Call)
        ]
        bare = [(n, line) for n, line in names if n in _DRIVER_COLLECTS]
        assert not bare, (where, bare)
        assert any(n == "collect_bounded" for n, _ in names), where


def test_prf_persisted_second_pass_pushes_vocab(spark):
    """r12 (verdict ask #3): probe_lexical_index_prf's SECOND pass is
    a probe of the persisted artifact with the EXPANDED vocabulary —
    its plan must show the term IN-list pushed to the tf/df scans
    (the corpus tf aggregation is never re-run), stay broadcast-hash
    everywhere, and keep Python out. The harvest's feedback-doc join
    must also be a broadcast."""
    import os
    import tempfile

    from workhop2_etl_spark.operators import retrieval as RET

    docs = load_table(spark, SF_DIR, "documents")
    toks = F.split(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " "
    )
    corpus_tokens = docs.select("doc_id", toks.alias("toks"))
    qt = (
        corpus_tokens.filter(F.col("doc_id") % 89 == 0)
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(F.slice("toks", 1, 8)).alias("term"),
        )
        .distinct()
    )
    path = os.path.join(
        tempfile.gettempdir(), f"workhop2_idx_{os.getpid()}", "lex_prfplan"
    )
    RET.save_lexical_index(corpus_tokens, path, mode="overwrite")
    tf, df, stats, meta = RET.load_lexical_index(spark, path)
    out = RET.probe_lexical_index_prf(
        tf, df, stats, meta, qt, k=10, n_feedback=3, m_expand=2
    )
    plan = plan_of(out)
    # pass-2 probe: expanded vocab IN-list reaches both artifact scans
    assert len(re.findall(r"PushedFilters: \[In\(term", plan)) >= 2, plan[:2000]
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    # no full-corpus tf re-aggregation: every Exchange in the final
    # plan is either broadcast or keyed on the query-bounded
    # (query_id[, doc_id]) relations — the artifact's (doc_id, term)
    # tf relation is scanned, never re-shuffled on its own keys
    assert "HashAggregate(keys=[doc_id" not in plan


def test_sketch_query_plans(spark):
    """r4/r5 sketch plan shapes: the KMV top-k must be a
    TakeOrderedAndProject (map-side per-partition k smallest — never
    a global sort of the hash space), and the count-min grid must
    partial-aggregate map-side (the shuffle carries depth×width
    cells, not the token stream). The CM estimate joins a BROADCAST
    grid."""
    plan4 = plan_of(suite.QUERIES["r4_kmv_distinct"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan4
    assert "CartesianProduct" not in plan4

    plan5 = plan_of(suite.QUERIES["r5_cm_heavy_hitters"](spark, SF_DIR))
    assert "partial_sum" in plan5 or "partial_count" in plan5, plan5[:1500]
    assert "BroadcastHashJoin" in plan5
    assert "SortMergeJoin" not in plan5


def test_index_changes_plan_reads_only_batch_files(spark, tmp_path):
    """The changelog must never scan the corpus-sized base files: its
    plan's parquet scans list ONLY the tailed batches' own files
    (stream-/delete- prefixed), and there are no joins at all."""
    from workhop2_etl_spark.operators import index_store as IDX
    from workhop2_etl_spark.operators import retrieval as RET
    from workhop2_etl_spark.streaming import index_stream as IS

    docs = load_table(spark, SF_DIR, "documents").filter(F.col("doc_id") < 200)
    corpus = docs.select(
        "doc_id",
        F.split(
            F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " "
        ).alias("toks"),
    )
    path = str(tmp_path / "lex")
    RET.save_lexical_index(
        corpus.filter(F.col("doc_id") % 2 == 0), path,
        mode="overwrite", num_partitions=2,
    )
    IS.ingest_epoch(spark, corpus.filter(F.col("doc_id") % 2 == 1), 0, path,
                    vec_col="toks")
    IDX.delete_from_index(
        spark, path, corpus.filter(F.col("doc_id") % 5 == 0).select("doc_id")
    )
    plan = plan_of(IDX.index_changes(spark, path))
    assert "Join" not in plan
    # every file path the scans enumerate is a batch-owned file
    locations = re.findall(r"Location: InMemoryFileIndex[^\]]*\[([^\]]*)", plan)
    assert locations, plan[:1500]
    for loc in locations:
        for piece in loc.split(","):
            name = piece.strip().rstrip("/").rsplit("/", 1)[-1]
            if name:
                assert name.startswith(("stream-", "delete-")), piece


def test_classifier_query_plans(spark):
    """t18/x19: the weight relation must broadcast into the scoring
    join (4096 rows — a SortMergeJoin here would shuffle the feature
    stream), and no row-Python anywhere."""
    for name in ("t18_hashed_linear_quality", "x19_model_gated_corpus"):
        plan = plan_of(suite.QUERIES[name](spark, SF_DIR))
        assert "BroadcastHashJoin" in plan, name
        assert "BatchEvalPython" not in plan, name


# Sites in workhop2_etl_spark/ that still call spark.createDataFrame on
# a Python list, each kept on purpose. Everything else builds its tiny
# driver-side relations through session.local_relation.
LIST_FRAME_ALLOWLIST = {
    ("session.py", "local_relation"): "the helper itself (Arrow table in)",
}


def test_driver_list_frames_go_through_local_relation():
    """Static scope guard: no ``createDataFrame`` call in the engine
    outside the allowlist above."""
    import ast
    import pathlib

    import workhop2_etl_spark

    root = pathlib.Path(workhop2_etl_spark.__file__).parent
    found = set()
    for path in root.rglob("*.py"):
        tree = ast.parse(path.read_text())
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            for node in ast.walk(fn):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "createDataFrame"
                ):
                    found.add((path.relative_to(root).as_posix(), fn.name))
    assert found == set(LIST_FRAME_ALLOWLIST), found ^ set(LIST_FRAME_ALLOWLIST)


# Sites in workhop2_etl_spark/ that read parquet through spark.read
# without a declared schema (each such read launches a Spark job to
# infer it), each kept on purpose. Everything else reads through
# sources.readers.read_parquet, which resolves the footer schema on the
# driver and passes it to .schema(...), or declares a schema it holds.
PARQUET_READ_ALLOWLIST = {
    ("suite/core.py", "s6_schema_evolution"):
        "a mergeSchema read: Spark must union every file's footer",
}


def test_parquet_reads_declare_a_schema():
    """Static scope guard: no ``.read....parquet(`` call chain without a
    ``.schema(`` in the engine outside the allowlist above."""
    import ast
    import pathlib

    import workhop2_etl_spark

    def chain(node) -> list[str]:
        names = []
        while isinstance(node, (ast.Call, ast.Attribute)):
            if isinstance(node, ast.Call):
                node = node.func
            else:
                names.append(node.attr)
                node = node.value
        return names

    root = pathlib.Path(workhop2_etl_spark.__file__).parent
    found = set()
    for path in root.rglob("*.py"):
        tree = ast.parse(path.read_text())
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            for node in ast.walk(fn):
                if not (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "parquet"
                ):
                    continue
                names = chain(node.func.value)
                if "read" in names and "schema" not in names:
                    found.add((path.relative_to(root).as_posix(), fn.name))
    assert found == set(PARQUET_READ_ALLOWLIST), found ^ set(PARQUET_READ_ALLOWLIST)


def _sql_executions(spark, seen=None) -> dict:
    """{execution id: physical plan description} of the SQL executions
    the status store holds (it is kept with the UI off), leaving out
    the ids in ``seen``; ``seen=None`` maps every id to None. A
    description is fetched only when returned: each is a py4j response
    above 8 KB, which stalls ~44 ms, and the store keeps up to 1,000
    executions."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    it = spark._jsparkSession.sharedState().statusStore().executionsList().iterator()
    out = {}
    while it.hasNext():
        e = it.next()
        i = int(e.executionId())
        if seen is None:
            out[i] = None
        elif i not in seen:
            out[i] = str(e.physicalPlanDescription())
    return out


def _assert_no_logical_rdd(spark, name, call):
    """Run ``call``; neither the optimized plan of a frame it returns
    nor any query it or that frame's collect executes may read a
    ``LogicalRDD`` (a Python-list frame: Python-worker tasks, no size
    statistics)."""
    seen = set(_sql_executions(spark))
    out = call()
    if hasattr(out, "_jdf"):
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert "LogicalRDD" not in plan, f"{name}:\n{plan}"
        out.collect()
    ran = _sql_executions(spark, seen)
    assert ran or not hasattr(out, "_jdf"), f"{name} executed nothing"
    for i, desc in ran.items():
        assert "ExistingRDD" not in desc, f"{name} (execution {i}):\n{desc}"


def _median_query_df(df, qt) -> int:
    """A ``max_df`` that splits the query vocabulary into rare and head
    terms, so the pruned probe plans its full candidate shape (with
    every term head, Catalyst folds the pruned plan to an empty
    LocalRelation)."""
    vocab = [r.term for r in qt.select("term").distinct().collect()]
    dfs = sorted(r.df for r in df.filter(F.col("term").isin(vocab)).collect())
    return dfs[len(dfs) // 2]


def _final_plan(df) -> str:
    """The executed (post-AQE) plan of a frame already collected,
    without AQE's initial-plan section."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan, plan[:2000]
    return plan.split("== Initial Plan ==")[0]


def test_query_bounded_joins_broadcast_without_hints(spark, tmp_path):
    """The pruned probe's head-bound join (per-query HB, |Q| rows) and
    the PRF harvest's anti-join against the query relation carry no
    broadcast hint: the executed plan broadcasts both on its own."""
    from workhop2_etl_spark.operators import retrieval as RET

    docs = load_table(spark, SF_DIR, "documents")
    toks = F.split(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " "
    )
    corpus_tokens = docs.select("doc_id", toks.alias("toks"))
    qt = (
        corpus_tokens.filter(F.col("doc_id") % 89 == 0)
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(F.slice("toks", 1, 8)).alias("term"),
        )
        .distinct()
    )
    path = str(tmp_path / "lex")
    RET.save_lexical_index(corpus_tokens, path, mode="overwrite")
    tf, df, stats, meta = RET.load_lexical_index(spark, path)

    pruned = RET.probe_lexical_index(
        tf, df, stats, meta, qt, k=5, max_df=_median_query_df(df, qt)
    )
    assert pruned.collect()
    plan = _final_plan(pruned)
    assert re.search(r"BroadcastHashJoin [^\n]*LeftOuter", plan), plan
    assert "SortMergeJoin" not in plan, plan

    fb = RET.probe_lexical_index(tf, df, stats, meta, qt, k=3).select(
        "query_id", "doc_id"
    )
    harvest = RET._prf_harvest(tf, fb, qt, 2)
    assert harvest.collect()
    plan = _final_plan(harvest)
    assert re.search(r"BroadcastHashJoin [^\n]*LeftAnti", plan), plan
    assert "SortMergeJoin" not in plan, plan


def test_minhash_self_join_reuses_band_exchange(spark):
    """The MinHash LSH self-join computes the signatures once: in the
    executed (post-AQE) plan its second side is a ReusedExchange of the
    band exchange, so the document scan appears once. The static plan
    carries both lineages; the reuse is an adaptive runtime property."""
    from workhop2_etl_spark.operators import dedup_text as DT

    docs = load_table(spark, SF_DIR, "documents")
    pairs = DT.minhash_candidates(docs, text_col="text", id_col="doc_id")
    assert pairs.collect()
    plan = _final_plan(pairs)
    reused = [ln for ln in plan.splitlines() if "ReusedExchange" in ln]
    assert len(reused) == 1, plan
    assert re.search(
        r"Exchange hashpartitioning\(band_id#\d+, band_key#\d+, \d+\), "
        r"REPARTITION_BY_COL", reused[0]
    ), reused[0]
    assert plan.count("REPARTITION_BY_COL") == 2, plan
    assert plan.count("FileScan parquet") == 1, plan


def test_near_dup_pairs_fans_out_one_file_input(spark, tmp_path):
    """A one-file input arrives as one partition; near_dup_pairs spreads
    it round-robin over defaultParallelism partitions, and in the
    executed plan the shingle stage reads that exchange uncoalesced
    (one task per partition). Inputs already spread — a shuffle's
    output, or as many files as cores — get no extra exchange, and
    every form finds the same pairs."""
    from workhop2_etl_spark.operators import dedup_text as DT
    from workhop2_etl_spark.sources import readers

    n = spark.sparkContext.defaultParallelism
    one_file = readers.read_parquet(spark, f"{SF_DIR}/documents.parquet")
    assert one_file.rdd.getNumPartitions() < n
    pairs = DT.near_dup_pairs(one_file)
    want = sorted(map(tuple, pairs.collect()))
    assert want
    plan = _final_plan(pairs)
    rr = [ln for ln in plan.splitlines() if "RoundRobinPartitioning" in ln]
    assert rr and all(f"RoundRobinPartitioning({n})" in ln for ln in rr), plan
    assert all("REPARTITION_BY_NUM" in ln for ln in rr), plan
    # the shingle stages read the round-robin stage directly, never
    # through a coalescing AQEShuffleRead, so they keep n tasks
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "RoundRobinPartitioning" in ln:
            assert "ShuffleQueryStage" in lines[i - 1], plan
            assert "AQEShuffleRead" not in lines[i - 2], plan

    spread_dir = str(tmp_path / "spread")
    one_file.repartition(n).write.parquet(spread_dir)
    for already in (
        one_file.repartition(n, "doc_id"),
        readers.read_parquet(spark, spread_dir),
    ):
        got = DT.near_dup_pairs(already)
        assert sorted(map(tuple, got.collect())) == want
        assert "RoundRobinPartitioning" not in _final_plan(got)


def test_driver_relations_plan_as_local_relations(spark, tmp_path):
    """Every driver-materialized relation of the probe, delete and ANN
    build paths is a LocalRelation: no optimized plan of a returned
    frame, and no query executed along the way, has a LogicalRDD
    leaf."""
    from workhop2_etl_spark.operators import index_store as IDX
    from workhop2_etl_spark.operators import retrieval as RET
    from workhop2_etl_spark.operators import similarity as SIM

    docs = load_table(spark, SF_DIR, "documents")
    toks = F.split(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " "
    )
    corpus_tokens = docs.select("doc_id", toks.alias("toks"))
    qt = (
        corpus_tokens.filter(F.col("doc_id") % 89 == 0)
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(F.slice("toks", 1, 8)).alias("term"),
        )
        .distinct()
    )
    lex = str(tmp_path / "lex")
    RET.save_lexical_index(corpus_tokens, lex, mode="overwrite")
    tf, df, stats, meta = RET.load_lexical_index(spark, lex)
    _assert_no_logical_rdd(spark, "probe_lexical_index", lambda: (
        RET.probe_lexical_index(tf, df, stats, meta, qt, k=5)
    ))
    max_df = _median_query_df(df, qt)
    _assert_no_logical_rdd(spark, "probe_lexical_index(max_df)", lambda: (
        RET.probe_lexical_index(tf, df, stats, meta, qt, k=5, max_df=max_df)
    ))
    _assert_no_logical_rdd(spark, "probe_lexical_index_prf", lambda: (
        RET.probe_lexical_index_prf(tf, df, stats, meta, qt, k=5)
    ))
    _assert_no_logical_rdd(spark, "delete_from_index", lambda: (
        IDX.delete_from_index(spark, lex, [0, 5, 10, 10**9])
    ))

    emb = load_table(spark, SF_DIR, "embeddings")
    cents = [
        (i, [float(x) for x in r.embedding])
        for i, r in enumerate(emb.orderBy("vec_id").limit(4).collect())
    ]
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    _assert_no_logical_rdd(spark, "ivf_assign", lambda: (
        SIM.ivf_assign(emb, cents, nprobe=2)
    ))
    ivf = str(tmp_path / "ivf")
    IDX.save_ivf_index(emb, ivf, cents, dim=64, mode="overwrite")
    postings, cs, imeta = IDX.load_ivf_index(spark, ivf)
    _assert_no_logical_rdd(spark, "probe_ivf_index", lambda: (
        IDX.probe_ivf_index(postings, cs, imeta, queries, k=3, nprobe=2)
    ))
    _assert_no_logical_rdd(spark, "with_multitable_signatures", lambda: (
        SIM.with_multitable_signatures(emb, "embedding", dim=64,
                                       num_planes=6, num_tables=3)
    ))
    codebooks = SIM.sample_pq_codebooks(emb, dim=64, num_subspaces=8,
                                        codes_per_subspace=4)
    _assert_no_logical_rdd(spark, "pq_encode", lambda: (
        SIM.pq_encode(emb, codebooks, dim=64)
    ))


def test_lexical_probe_collects_query_relation_once(spark, tmp_path):
    """Building the unpruned probe runs ONE query (the (query_id,
    term) collect behind the vocabulary IN-list); the scoring core
    reuses those rows instead of collecting the relation again."""
    from workhop2_etl_spark.operators import retrieval as RET

    docs = load_table(spark, SF_DIR, "documents")
    corpus_tokens = docs.select(
        "doc_id", F.split(F.lower(F.col("text")), " ").alias("toks")
    )
    qt = corpus_tokens.filter(F.col("doc_id") % 89 == 0).select(
        F.col("doc_id").alias("query_id"),
        F.explode(F.slice("toks", 1, 8)).alias("term"),
    )
    path = str(tmp_path / "lex")
    RET.save_lexical_index(corpus_tokens, path, mode="overwrite")
    tf, df, stats, meta = RET.load_lexical_index(spark, path)
    seen = set(_sql_executions(spark))
    probe = RET.probe_lexical_index(tf, df, stats, meta, qt, k=5)
    ran = [i for i in _sql_executions(spark) if i not in seen]
    assert len(ran) == 1, ran
    assert probe.collect()


def _plan_nodes(node):
    """Every node of an executed physical plan, descending into AQE's
    final plan, its query stages and reused exchanges."""
    yield node
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        yield from _plan_nodes(node.executedPlan())
    elif cls.endswith("QueryStageExec"):
        yield from _plan_nodes(node.plan())
    elif cls == "ReusedExchangeExec":
        yield from _plan_nodes(node.child())
    children = node.children()
    for i in range(children.size()):
        yield from _plan_nodes(children.apply(i))


def _output_rows(node) -> int:
    return node.metrics().apply("numOutputRows").value()


def test_fuzzy_fallback_tests_containment_over_distinct_haystacks(spark):
    """The pipeline's fuzzy-match fallback evaluates the artist
    containment over distinct values. In the executed (post-AQE) plan
    its one nested-loop join builds on the distinct-haystack
    relation (broadcast rows ≤ distinct artists_norm), and the
    surviving pairs reach the spotify_top rows through a hash join on
    artists_norm."""
    import pandas as pd

    from tests.fixtures_grammy import make_grammy, make_spotify
    from workhop2_etl_spark.plans import grammy_spotify as P
    from workhop2_etl_spark.plans.schemas import GRAMMY_SCHEMA, SPOTIFY_SCHEMA

    gp, sp = make_grammy(), make_spotify()
    g = spark.createDataFrame(gp.where(pd.notnull(gp), None), schema=GRAMMY_SCHEMA)
    s = spark.createDataFrame(sp.where(pd.notnull(sp), None), schema=SPOTIFY_SCHEMA)
    out = P.run_pipeline(g, s, mode="spec")
    assert out.collect()
    _final_plan(out)
    n_hays = P.normalize_tables(g, s)[1].select("artists_norm").distinct().count()

    nodes = list(_plan_nodes(out._jdf.queryExecution().executedPlan()))
    bnlj = [n for n in nodes if n.getClass().getSimpleName() == "BroadcastNestedLoopJoinExec"]
    assert len(bnlj) == 1, [n.simpleString(200) for n in bnlj]
    (bnlj,) = bnlj
    assert re.search(r"BuildRight, Inner, Contains\(artists_norm#\d+, __needle#\d+\)",
                     bnlj.simpleString(200)), bnlj.simpleString(200)
    build = [n for n in _plan_nodes(bnlj.right())
             if n.getClass().getSimpleName() == "BroadcastExchangeExec"][0]
    assert re.search(r"HashAggregate\(keys=\[artists_norm#\d+\]", build.treeString()), build.treeString()
    assert 0 < _output_rows(build) <= n_hays, (_output_rows(build), n_hays)

    back = [n.getClass().getSimpleName() for n in nodes
            if n.getClass().getSimpleName().endswith("JoinExec")
            and re.match(r"\w+ \[artists_norm#\d+\], \[artists_norm#\d+\]", n.simpleString(200))]
    assert back and all(c in ("BroadcastHashJoinExec", "ShuffledHashJoinExec") for c in back), back


def _plan_details(desc: str) -> list[tuple[str, str]]:
    """(node name, details) of every operator in a formatted plan
    description; AQE's final and initial plans list each node once."""
    blocks = re.split(r"\n(?=\(\d+\) )", desc)
    return [(re.match(r"\(\d+\) ([\w ]+)", b).group(1).strip(), b)
            for b in blocks if re.match(r"\(\d+\) ", b)]


def _broadcast_keys(details: str) -> list[str]:
    """The names of a hashed broadcast's key columns."""
    names = re.findall(r"(\w+)#\d+L?", details.split("Arguments:")[0].split("Input", 1)[1])
    return [names[int(i)] for i in re.findall(r"input\[(\d+),", details)]


def test_pipeline_reads_spotify_once_and_matches_on_keys(spark, tmp_path):
    """Over every SQL execution of one spec pipeline run plus its
    parquet write (the executed plans in the status store): the
    Spotify CSV is scanned once, since J1, J2 and J4 share one pinned
    parse + normalize; and no broadcast of the fuzzy match carries a
    payload-only column. The wide spotify_top row is broadcast only
    to join back the winners on their track key."""
    from tests.fixtures_grammy import make_grammy, make_spotify
    from workhop2_etl_spark.plans import grammy_spotify as P
    from workhop2_etl_spark.plans.schemas import FLOAT_COLS, GRAMMY_SCHEMA, SPOTIFY_SCHEMA
    from workhop2_etl_spark.sources import readers, writers

    make_grammy().to_csv(tmp_path / "grammy.csv", index=False)
    make_spotify().to_csv(tmp_path / "spotify.csv", index=False)
    seen = set(_sql_executions(spark))
    g = readers.read_csv(spark, str(tmp_path / "grammy.csv"), GRAMMY_SCHEMA)
    s = readers.read_csv(spark, str(tmp_path / "spotify.csv"), SPOTIFY_SCHEMA)
    writers.write_parquet(P.run_pipeline(g, s, mode="spec"), str(tmp_path / "out"))
    nodes = [n for desc in _sql_executions(spark, seen).values() for n in _plan_details(desc)]

    scans = [d for name, d in nodes if name.startswith("Scan csv") and "spotify.csv" in d]
    assert len(scans) == 1, scans

    broadcasts = [d for name, d in nodes if name == "BroadcastExchange"]
    payload = [d for d in broadcasts if any(re.search(rf"\b(_extract_)?{c}#", d) for c in FLOAT_COLS)]
    assert payload, broadcasts
    for d in payload:
        assert "HashedRelationBroadcastMode" in d, d
        assert sorted(_broadcast_keys(d)) == ["artists_norm", "track_name_norm"], d
        assert "__best" not in d and "_extract_" not in d, d
    # the match itself does broadcast spotify_top: its key and pick columns
    assert any(_broadcast_keys(d) == ["track_name_norm"] for d in broadcasts), broadcasts


_WITH_COLUMN_LOOP_SCOPE = ("plans/*.py", "operators/joins.py")


def test_no_with_column_in_a_loop():
    """Static guard: in the plan layer and the join operators, a loop
    (or comprehension, or ``reduce``) never calls ``withColumn``: each
    call re-analyzes the whole plan on the driver, so a per-column loop
    costs one analysis per column where one ``select``/``withColumns``
    costs one."""
    import ast
    import pathlib

    import workhop2_etl_spark

    root = pathlib.Path(workhop2_etl_spark.__file__).parent
    loops = (ast.For, ast.AsyncFor, ast.While, ast.ListComp, ast.SetComp, ast.DictComp,
             ast.GeneratorExp)
    files = sorted(p for pat in _WITH_COLUMN_LOOP_SCOPE for p in root.glob(pat))
    assert any(p.name == "grammy_spotify.py" for p in files), files
    found = []
    for path in files:
        for node in ast.walk(ast.parse(path.read_text())):
            is_reduce = (isinstance(node, ast.Call)
                         and getattr(node.func, "id", getattr(node.func, "attr", None)) == "reduce")
            if not (isinstance(node, loops) or is_reduce):
                continue
            for inner in ast.walk(node):
                if (isinstance(inner, ast.Call) and isinstance(inner.func, ast.Attribute)
                        and inner.func.attr == "withColumn"):
                    found.append(f"{path.relative_to(root)}:{inner.lineno}")
    assert not found, found
