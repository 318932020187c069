"""Incremental aggregate maintenance — refresh a materialized rollup
from an append-only delta without rescanning the fact table.

At 100 TB the fact table cannot be re-aggregated per refresh; the
maintained table stores COMBINABLE partials (count, sum, min, max —
avg is carried as sum+count) so a refresh is:

    delta partials  ∪  affected base partitions  →  re-combine  →
    dynamic-partition overwrite of ONLY the touched partitions.

Shuffle volume is |delta| + |affected rollup rows|; untouched
partitions are neither read (partition pruning on the day filter)
nor rewritten (dynamic overwrite mode). The one driver-side action
collects the delta's DISTINCT partition keys — bounded by the number
of partitions a batch touches (hours/days), not by row count.

All directory manipulation goes through the Hadoop FileSystem API
(sources/fs.py), so the rollup table can live on HDFS / S3A / local
disk interchangeably.

The streaming rollup, near-dup and join-view sinks commit each
micro-batch as a stream epoch of a ledgered artifact
(operators/ledger.py lists their kinds and subs): ``commit_epoch``
writes, ``sink_files`` reads, ``compact_sink`` folds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from workhop2_etl_spark.operators import ledger
from workhop2_etl_spark.operators.index_store import (
    FORMAT_VERSION,
    _compact_dirs,
    _read_meta,
    _settle_ledger_for_compaction,
    _write_meta,
)
from workhop2_etl_spark.session import local_relation
from workhop2_etl_spark.sources import fs
from workhop2_etl_spark.sources.readers import read_parquet

#: rollup grain: (day, event_type) with combinable measures
_KEYS = ["day", "event_type"]


def rollup_events_daily(events: DataFrame) -> DataFrame:
    """Partial-aggregate shape of the maintained table. Measures are
    raw (unrounded) so re-combination stays exact for counts and
    associative for sums."""
    return events.groupBy(
        F.to_date("ts").alias("day"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value").alias("sum_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


def combine_rollups(a: DataFrame, b: DataFrame) -> DataFrame:
    """Merge two partial rollups: counts/sums add, min/min, max/max."""
    return _combine_parts(a.unionByName(b))


def _combine_parts(parts: DataFrame) -> DataFrame:
    return parts.groupBy(*_KEYS).agg(
        F.sum("n").alias("n"),
        F.sum("sum_value").alias("sum_value"),
        F.min("min_value").alias("min_value"),
        F.max("max_value").alias("max_value"),
    )


# ---------------------------------------------------------------------------
# Distinct counts as a COMBINABLE measure (Apache DataSketches HLL)
# ---------------------------------------------------------------------------
#
# count(DISTINCT user_id) is the classic rollup-breaker: partials
# cannot add, so a naive incremental refresh would re-scan history.
# Storing a mergeable HLL sketch per (day, type) cell makes distinct
# counts obey the same partial-combine algebra as sums — union of
# partial sketches is BIT-IDENTICAL to the single-pass sketch (same
# deterministic algorithm), so estimates agree exactly however the
# data was split across epochs/batches. The sketch column is plain
# binary: it survives parquet round trips and the stream sink's
# epochs and compaction unchanged.


def rollup_events_daily_distinct(events: DataFrame) -> DataFrame:
    """(day, event_type, users_hll: binary) — mergeable HLL partial
    for distinct user_id per cell."""
    return events.groupBy(
        F.to_date("ts").alias("day"), F.col("event_type")
    ).agg(F.hll_sketch_agg("user_id").alias("users_hll"))


def combine_distinct_rollups(parts: DataFrame) -> DataFrame:
    """Merge partial distinct-rollups (any number, unioned by the
    caller or read from epoch dirs): hll_union_agg per cell."""
    return parts.groupBy(*_KEYS).agg(
        F.hll_union_agg("users_hll").alias("users_hll")
    )


def distinct_users_estimate(rollup: DataFrame) -> DataFrame:
    """Readable view: (day, event_type, n_users_est) from the sketch
    column. Estimation is the LAST step — everything upstream stays
    mergeable."""
    return rollup.select(
        *_KEYS, F.hll_sketch_estimate("users_hll").alias("n_users_est")
    )


def refresh_daily_rollup(
    spark: SparkSession, table_dir: str, delta: DataFrame
) -> list:
    """Fold an event delta into the day-partitioned rollup at
    ``table_dir``. Returns the list of affected days (for logging /
    test assertions). First call bootstraps the table.

    The merged partial is materialized (localCheckpoint) BEFORE the
    overwrite: the merge reads the same partitions the write replaces,
    and without a plan barrier the overwrite would depend on the files
    it is deleting — fine only while dynamic overwrite defers deletion
    to commit, and unsafe on a mid-commit failure. With the barrier the
    write consumes already-materialized blocks, never the input files.
    """
    d = rollup_events_daily(delta)
    days = [r["day"] for r in d.select("day").distinct().collect()]

    if fs.has_data(spark, table_dir):
        # NULL-safe day match: a NULL-ts delta rolls into the NULL-day
        # partition, but isin() never matches NULL (ternary logic) —
        # without the isNull arm the base NULL-day partial would be
        # skipped by the merge yet REPLACED by the dynamic overwrite:
        # silent loss of every previously-accumulated NULL-day count
        affected = F.col("day").isin([x for x in days if x is not None])
        if any(x is None for x in days):
            affected = affected | F.col("day").isNull()
        base = read_parquet(spark, table_dir).filter(affected)
        merged = combine_rollups(base, d).localCheckpoint(eager=True)
    else:
        merged = d

    # dynamic mode: only partitions present in `merged` are replaced.
    # Restored afterwards — leaving it set would silently change
    # overwrite semantics for every other partitioned write in the
    # session.
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        merged.write.mode("overwrite").partitionBy("day").parquet(table_dir)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    return days


# ---------------------------------------------------------------------------
# Stream sinks: one ledgered artifact per directory
# ---------------------------------------------------------------------------


def _sink_meta(spark: SparkSession, path: str, kind: str) -> dict:
    """The metadata record of the ``kind`` sink at ``path``, written at
    epoch 0 on first use."""
    if fs.exists(spark, fs.join(path, "meta")):
        return _read_meta(spark, path, kind)
    meta = {"kind": kind, "version": FORMAT_VERSION, "epoch": 0}
    _write_meta(spark, path, meta, "overwrite")
    return meta


def commit_epoch(
    spark: SparkSession, path: str, kind: str, epoch_id: int, rows
) -> str:
    """Commit ``rows()`` as stream epoch ``epoch_id`` of the ``kind``
    sink at ``path`` through ``ledger.commit``. ``rows`` is called only
    when the epoch is not committed yet, so a replay of a committed
    epoch neither computes nor deletes anything. Returns
    ``'committed'`` or ``'skipped'``."""
    sub = ledger.SINKS[kind]
    return ledger.commit(
        spark, path, ledger.stream_batch(epoch_id),
        _sink_meta(spark, path, kind), (sub,),
        lambda staging: rows().write.mode("overwrite").parquet(
            fs.join(staging, sub)
        ),
    )


def sink_files(
    spark: SparkSession, path: str, kind: str, through: int | None = None
) -> list[str]:
    """The committed files of the ``kind`` sink at ``path``: its base
    files plus every committed epoch (through epoch ``through`` only,
    when given; a snapshot that predates a fold raises)."""
    return ledger.visible_files(
        spark, path, ledger.SINKS[kind], through=through
    )[0]


def compact_sink(spark: SparkSession, path: str, kind: str, fold=None) -> int:
    """Fold every committed epoch of the ``kind`` sink at ``path`` into
    base files with the index compaction core (stage, then swap), then
    bump the metadata epoch. ``fold``, when given, combines the rows
    into one load-equivalent file (a rollup's ``combine_fn``); without
    it the rows are concatenated. Returns the number of epochs
    folded."""
    meta = _read_meta(spark, path, kind)
    sub = ledger.SINKS[kind]
    data = fs.join(path, sub)
    _settle_ledger_for_compaction(spark, path, (sub,))
    n = len(ledger.batches(spark, path, (sub,)))
    if not n and not fs.exists(spark, f"{data}.compacting"):
        return 0  # nothing to fold, and no crashed swap to finish
    _compact_dirs(spark, [(data, (), fold, fold is not None)], None)
    _write_meta(spark, path, dict(meta, epoch=int(meta["epoch"]) + 1), "overwrite")
    return n


def compact_rollup_epochs(
    spark: SparkSession, table_dir: str, combine_fn=None
) -> int:
    """Fold every committed epoch of the streaming rollup at
    ``table_dir`` into one base partial (``compact_sink``); readers see
    identical totals before and after. Returns the number of epochs
    folded (0 = nothing to do).

    ``combine_fn`` (default: the n/sum/min/max algebra) must match
    the measures stored in the partials — pass
    ``combine_distinct_rollups`` for the HLL sketch rollup."""
    return compact_sink(
        spark, table_dir, "stream-rollup", combine_fn or _combine_parts
    )


# ---------------------------------------------------------------------------
# Equi-width histograms as a COMBINABLE quantile measure
# ---------------------------------------------------------------------------
#
# Quantiles are the other classic rollup-breaker (exact percentiles
# need the full value multiset). A fixed-bin equi-width histogram is
# a combinable partial — bin-count vectors ADD — so approximate
# quantiles join the same partial-combine algebra as sums and HLL
# sketches: combine(hist(A), hist(B)) is BIT-IDENTICAL to hist(A∪B)
# (integer adds), and the quantile estimate (upper edge of the first
# bin whose cumulative count reaches ceil(q·n)) is exact integer
# arithmetic — deterministic however the data was split across
# epochs or batches. Error is bounded by bin width, chosen at
# measure-definition time; at 100 TB the partial per cell is a
# constant `bins`-length long array regardless of row count.

_HIST_BINS = 20
_HIST_LO = 0.0
_HIST_HI = 500.0


def rollup_events_daily_hist(
    events: DataFrame,
    bins: int = _HIST_BINS,
    lo: float = _HIST_LO,
    hi: float = _HIST_HI,
) -> DataFrame:
    """(day, event_type, n, hist: array<long>) — per-cell bin counts
    of ``value`` over [lo, hi) with out-of-range values clamped to
    the edge bins. NULL values are filtered BEFORE the aggregate, so
    they count in neither ``n`` nor ``hist`` AND a (day, event_type)
    cell whose values are all NULL emits no row at all — the same
    row-presence contract as a ``WHERE value IS NOT NULL`` oracle."""
    width = (hi - lo) / bins
    b = F.least(
        F.greatest(
            F.floor((F.col("value") - F.lit(lo)) / F.lit(width)).cast("int"),
            F.lit(0),
        ),
        F.lit(bins - 1),
    )
    events = events.filter(F.col("value").isNotNull())
    return events.groupBy(F.to_date("ts").alias("day"), "event_type").agg(
        F.count("value").alias("n"),
        F.array(
            *[
                F.sum(F.when(b == i, F.lit(1)).otherwise(0)).cast("long")
                for i in range(bins)
            ]
        ).alias("hist"),
    )


def combine_hist_rollups(parts: DataFrame, bins: int = _HIST_BINS) -> DataFrame:
    """Merge partial histogram rollups: counts add element-wise."""
    return parts.groupBy(*_KEYS).agg(
        F.sum("n").alias("n"),
        F.array(
            *[F.sum(F.element_at("hist", i + 1)).cast("long") for i in range(bins)]
        ).alias("hist"),
    )


def hist_quantile(
    hist,
    n,
    q_num: int,
    q_den: int,
    bins: int = _HIST_BINS,
    lo: float = _HIST_LO,
    hi: float = _HIST_HI,
):
    """Quantile q = q_num/q_den from a bin-count vector: the UPPER
    EDGE of the first bin whose cumulative count reaches ceil(q·n),
    via the exact integer compare q_den·cum >= q_num·n. Pure array
    expression (no shuffle, no explode); NULL when n = 0."""
    width = (hi - lo) / bins
    k = F.element_at(
        F.filter(
            F.sequence(F.lit(1), F.lit(bins)),
            lambda kk: F.lit(q_den)
            * F.aggregate(
                F.slice(hist, F.lit(1), kk),
                F.lit(0).cast("long"),
                lambda a, v: a + v,
            )
            >= F.lit(q_num) * n,
        ),
        1,
    )
    return F.when(n > 0, F.lit(lo) + F.lit(width) * k.cast("double"))


# ---------------------------------------------------------------------------
# Incremental JOIN-view maintenance (delta joins)
# ---------------------------------------------------------------------------
#
# A materialized equi-join view A ⋈ B refreshed from append-only
# deltas without re-joining history — the standard delta-join
# algebra (DBSP / materialized-view literature):
#
#     Δview_N  =  dA ⋈ (B_{<N} ∪ dB)  ∪  A_{<N} ⋈ dB
#
# Inputs and view are ``join-rows`` sinks, one per directory, and a
# refresh commits epoch N into each of the three. History reads take
# the committed epochs below N only, so a refresh never reads its own
# rows, and the epoch a crash left committed in some of the three
# directories replays into the others with the same ``Δview_N``; a
# replay of a committed epoch skips.
#
# Scale shape: both delta joins broadcast the DELTA side, so each is
# a map-side join over the big input's scan — no shuffle of history,
# no shuffle of the view. The |A_{<N}| scan per refresh is the
# textbook cost; partition/bucket the base dirs by join key (or
# z-order + min-max prune) to cut it, exactly as a 100 TB deployment
# would.


def _history(spark: SparkSession, d: str, below: int, like: DataFrame):
    """The rows of the join side at ``d`` committed in epochs below
    ``below`` (empty, typed like ``like``, before any)."""
    files = sink_files(spark, d, "join-rows", through=below - 1)
    if not files:
        return local_relation(spark, [], like.schema)
    return read_parquet(spark, *files)


def apply_join_delta(
    spark: SparkSession,
    a_dir: str,
    b_dir: str,
    view_dir: str,
    a_delta: DataFrame,
    b_delta: DataFrame,
    on: str,
    epoch_id: int,
) -> None:
    """Fold one batch of appends (either delta may be empty) into the
    maintained inner-join view. Column names other than ``on`` must
    be disjoint between the two sides (the view carries both)."""
    dup = (set(a_delta.columns) & set(b_delta.columns)) - {on}
    if dup:
        raise ValueError(
            f"join-view sides share non-key columns {sorted(dup)}: "
            "rename before maintaining (the view carries both sides)"
        )
    n = int(epoch_id)

    def view_delta() -> DataFrame:
        a_old = _history(spark, a_dir, n, a_delta)
        b_old = _history(spark, b_dir, n, b_delta)
        return a_delta.hint("broadcast").join(
            b_old.unionByName(b_delta), on, "inner"
        ).unionByName(a_old.join(b_delta.hint("broadcast"), on, "inner"))

    commit_epoch(spark, view_dir, "join-rows", n, view_delta)
    commit_epoch(spark, a_dir, "join-rows", n, lambda: a_delta)
    commit_epoch(spark, b_dir, "join-rows", n, lambda: b_delta)


def read_join_view(spark: SparkSession, view_dir: str, like: DataFrame | None = None):
    """The maintained view: its committed rows (``like`` only supplies
    a schema for the empty-view case)."""
    files = sink_files(spark, view_dir, "join-rows")
    if files:
        return read_parquet(spark, *files)
    if like is None:
        raise ValueError(f"join view {view_dir} is empty")
    return local_relation(spark, [], like.schema)


def compact_join_view(
    spark: SparkSession, a_dir: str, b_dir: str, view_dir: str
) -> int:
    """Fold each of the view's three sinks into base files
    (``compact_sink``; the rows are concatenated), bounding reader file
    counts as epochs accumulate. Returns the total number of epochs
    folded."""
    return sum(
        compact_sink(spark, d, "join-rows") for d in (view_dir, a_dir, b_dir)
    )
