"""Declarative data-quality constraints — the validation layer an
ingest pipeline runs before publishing.

The reference validates implicitly (empty-string counts, dup counts
eyeballed in a notebook — eda.ipynb cells 9-13); a production engine
needs the checks as operators: declare rules, get back a violations
table and a pass/fail summary, both as ordinary DataFrames so the
checks run inside the same job as the load (one scan, no separate
validation pass).

Every rule compiles to a boolean Column; violations are counted in
ONE aggregate over the scan — checking 50 rules costs the same
shuffle as checking one.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from workhop2_etl_spark.session import local_relation


def not_null(col: str) -> Column:
    """Rule: column must not be NULL."""
    return F.col(col).isNotNull()


def in_range(col: str, lo, hi) -> Column:
    """Rule: lo <= value <= hi. NULLs fail; to allow them, OR with
    isNull: ``F.col(c).isNull() | in_range(c, lo, hi)`` (AND-ing
    ``not_null`` would still fail NULL rows)."""
    return F.col(col).between(lo, hi)


def one_of(col: str, allowed: list) -> Column:
    """Rule: value ∈ allowed set."""
    return F.col(col).isin(allowed)


def matches(col: str, pattern: str) -> Column:
    """Rule: value matches the regex (anchored by the caller)."""
    return F.col(col).rlike(pattern)


def check_constraints(df: DataFrame, rules: Mapping[str, Column]) -> DataFrame:
    """Evaluate all rules in one pass: returns (rule, n_rows,
    n_violations, pass) — one row per rule, computed in a single
    aggregate (NULL rule results count as violations).
    """
    if not rules:
        return local_relation(
            df.sparkSession,
            [],
            "rule string, n_rows bigint, n_violations bigint, pass boolean",
        )
    # rule names appear ONLY as literal values (never spliced into
    # SQL text or column identifiers), so any string — spaces,
    # quotes, dashes — is a valid rule name.
    aggs = [F.count(F.lit(1)).alias("__n")]
    for i, cond in enumerate(rules.values()):
        aggs.append(
            F.sum(F.when(F.coalesce(cond, F.lit(False)), 0).otherwise(1)).alias(f"__v_{i}")
        )
    wide = df.agg(*aggs)
    pairs = F.array(
        *[
            F.struct(
                F.lit(name).alias("rule"), F.col(f"__v_{i}").alias("n_violations")
            )
            for i, name in enumerate(rules)
        ]
    )
    stacked = wide.select("__n", F.explode(pairs).alias("__p"))
    return stacked.select(
        F.col("__p.rule").alias("rule"),
        F.col("__n").alias("n_rows"),
        F.col("__p.n_violations").alias("n_violations"),
        (F.col("__p.n_violations") == 0).alias("pass"),
    )


def violation_rows(df: DataFrame, rules: Mapping[str, Column], id_cols: list[str]) -> DataFrame:
    """The rows that fail, tagged by which rule they fail — for
    quarantine sinks. One output row per (row, failed rule)."""
    arms = [
        F.when(~F.coalesce(cond, F.lit(False)), F.lit(name)) for name, cond in rules.items()
    ]
    tagged = df.select(*id_cols, F.array_compact(F.array(*arms)).alias("__failed"))
    return tagged.filter(F.size("__failed") > 0).select(
        *id_cols, F.explode("__failed").alias("rule")
    )


def observed_write(
    df: DataFrame,
    path: str,
    metrics: Mapping[str, Column],
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> dict:
    """Write ``df`` to parquet while collecting aggregate metrics on
    the SAME pass via Spark's Observation API — publish-time
    accounting (row counts, null counts, sums) with ZERO extra scans.

    The alternative — write, then re-read and aggregate — doubles the
    I/O at 100 TB; ``df.observe`` attaches the metric accumulators to
    the write job itself. Returns {metric_name: value}.

    Metric expressions must be aggregates Catalyst can accumulate
    per-task (count/sum/min/max/avg — the same combinable class the
    incremental rollup uses).
    """
    from pyspark.sql import Observation

    obs = Observation()
    observed = df.observe(obs, *[expr.alias(name) for name, expr in metrics.items()])
    writer = observed.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    return dict(obs.get)


def profile_drift(
    df: DataFrame,
    is_b: Column,
    group_cols: list[str],
    value_col: str,
    rel_threshold: float = 0.1,
) -> DataFrame:
    """A/B snapshot profile comparison — the schema/distribution
    drift monitor run between pipeline generations (yesterday's
    snapshot vs today's, old extraction code vs new). ``is_b`` marks
    the B snapshot; per group the report carries row counts, NULL
    rates, and means of ``value_col`` for both sides plus the
    relative mean drift, flagged against ``rel_threshold``.

    ONE pass over the union of both snapshots: every side-specific
    measure is a conditional aggregate (sum of `when(is_b, ...)`),
    so the scan and the single group-by shuffle are shared — at
    100 TB the alternative (aggregate each snapshot, join) reads the
    data once too but shuffles twice and joins; this shape is one
    hash aggregate, combinable map-side.

    REPORT-COLUMN DISCIPLINE: rates, means, and the drift ratio are
    emitted as SCALED INTEGERS (basis points, ×10000, BIGINT) rather
    than rounded doubles. A ``round(x, 4)`` double is usually not
    representable in binary and its nearest-double choice is an
    engine implementation detail — the classic source of cross-engine
    last-ulp hash flips. An integer report column is bit-identical
    everywhere, and the drifted flag becomes an exact integer compare
    (drift_bp > round(rel_threshold*10000)).
    """
    flag = is_b.cast("int")
    n_a = F.sum(1 - flag)
    n_b = F.sum(flag)
    null_a = F.sum(F.when(F.col(value_col).isNull(), 1 - flag).otherwise(0))
    null_b = F.sum(F.when(F.col(value_col).isNull(), flag).otherwise(0))
    sum_a = F.sum(F.when(~is_b, F.col(value_col)).otherwise(F.lit(0.0)))
    sum_b = F.sum(F.when(is_b, F.col(value_col)).otherwise(F.lit(0.0)))
    mean_a = F.round(sum_a / (n_a - null_a) * 10000).cast("long")
    mean_b = F.round(sum_b / (n_b - null_b) * 10000).cast("long")
    # Relative drift is undefined at mean_a = 0 → NULL, guarded
    # explicitly: an unguarded x/0 is engine-divergent (Spark non-ANSI
    # double division yields NULL, DuckDB yields inf, ANSI raises), so
    # the guard is part of the cross-engine contract, mirrored verbatim
    # in the dq4 oracle (suite/aggs.py). NULL drift ⇒ NULL drifted.
    drift = F.when(
        mean_a != 0,
        F.round(F.abs(mean_b - mean_a).cast("double") * 10000 / F.abs(mean_a)).cast(
            "long"
        ),
    )
    threshold_bp = int(round(rel_threshold * 10000))
    return df.groupBy(*group_cols).agg(
        n_a.alias("n_a"),
        n_b.alias("n_b"),
        F.round(null_a.cast("double") * 10000 / n_a).cast("long").alias("null_rate_a_bp"),
        F.round(null_b.cast("double") * 10000 / n_b).cast("long").alias("null_rate_b_bp"),
        mean_a.alias("mean_a_bp"),
        mean_b.alias("mean_b_bp"),
        drift.alias("mean_drift_bp"),
        (drift > F.lit(threshold_bp)).alias("drifted"),
    )
