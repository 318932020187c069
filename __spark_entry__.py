"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All real logic lives in the ``workhop2_etl_spark`` package; this file
only adapts the registry to the driver's interface.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from workhop2_etl_spark import suite  # noqa: E402

suite.load_all()

SMOKE_SF_DIR = "/root/testdata/sf0.001"

# The driver's correctness pass covers exactly the first 50 registry
# entries in insertion order, so ordering decides which queries get an
# oracle verdict. This comment is the maintained spec for the window —
# keep it exact. The window composes from tools/staleness_report.py
# (latest oracle green per CORRECTNESS_r*.json, kernel round from git),
# ordered never-verified > kernel-changed > stale, oldest green first
# within each class. Earlier windows live in git history.
#
# CURRENT WINDOW (exactly 50):
# - never-verified: none (every registry query holds an oracle green).
# - (a) 16 kernel-changed by the one-kernel-per-side ANN change (corpus
#   inputs always take the BLAS twins, queries the expression kernel;
#   no kernel metadata fields): the in-session searches v5, v7, v8,
#   v13, v14 and the persisted lifecycles v9, v10, v11, v12, v16, v18,
#   st13, st15, st16, st17, t17.
# - (b) 34 kernel-changed this round by the LocalRelation and
#   driver-side I/O changes, in staleness-report order: the 7 r08
#   greens, the 9 r10 greens, the 11 r11 greens, then 7 of the r12
#   greens.
# Deferred, each with a local oracle green (tools/verify_local.py)
# newer than its kernel: the other 16 kernel-changed this round (g3,
# g4, r1–r6, v3, w1–w3 with r12 greens; dq2, k1, k2, w5 with r13
# greens; green locally at this change), then the STALE tail with
# kernels from r09–r13 (a7_operator_key_dups, j5, j6, m8–m10, s3,
# st1–st7, st9, t8, t9, u1, u4, x2, x7–x9; green in
# VERIFYLOCAL_r13.jsonl). They lead the next window.
_PRIORITY = [
    # (a) kernel-changed: one ANN kernel per side
    "v5_topk_cosine_ivf",
    "v7_topk_cosine_ivf_nprobe",
    "v8_topk_cosine_lsh_multitable",
    "v13_topk_ivf_pq",
    "v14_topk_ivf_pq_refine",
    "v9_topk_lsh_persisted_index",
    "v10_topk_ivf_persisted_index",
    "v11_ivf_index_health",
    "v12_topk_ivf_int8_index",
    "v16_hybrid_persisted_rrf",
    "v18_topk_ivf_index_delete",
    "st13_streaming_index_ingest",
    "st15_streaming_ingest_delete",
    "st16_snapshot_as_of",
    "st17_index_restore",
    "t17_index_changelog",
    # (b) kernel-changed this round, staleness-report order: r08 greens
    "a3_quality_counts",
    "a7_key_dup_rows",
    "a9_flag_influence",
    "dq4_profile_drift",
    "g5_grouping_sets",
    "o2_sort_limit",
    "v1_topk_cosine_bruteforce",
    # ...r10 greens
    "a12_weighted_median",
    "a13_profile_stats",
    "a14_equidepth_deciles",
    "dq3_mad_outliers",
    "v17_topk_truncated_refine",
    "v2_topk_cosine_lsh",
    "v4_embedding_near_dup",
    "w4_ohlc_resample",
    "z1_zorder_key",
    # ...r11 greens
    "a4_dup_counts",
    "d9_semantic_dedup",
    "g1_pivot",
    "g6_pagerank",
    "g7_triangle_count",
    "g8_label_propagation",
    "q1_pricing_summary",
    "v6_topk_cosine_lsh_multiprobe",
    "w6_ewma",
    "w7_rolling_corr",
    "w8_rolling_slope",
    # ...7 of the r12 greens
    "a11_approx_sketches",
    "a1_topk_group_count",
    "a2_count_distinct",
    "a5_histogram",
    "a6_full_dedupe",
    "a8_top_entities",
    "g2_cube",
]


def _ordered(names: dict) -> list[str]:
    missing = [n for n in _PRIORITY if n not in names]
    if missing:
        raise KeyError(f"priority list references unknown queries: {missing}")
    rest = [n for n in names if n not in set(_PRIORITY)]
    return list(_PRIORITY) + rest


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1-shaped pricing summary) on sf0.001."""
    return suite.QUERIES["q1_pricing_summary"](spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {n: suite.QUERIES[n] for n in _ordered(suite.QUERIES)}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query (omitted → rows-only check)."""
    return {n: suite.ORACLES[n] for n in _ordered(suite.QUERIES) if n in suite.ORACLES}
