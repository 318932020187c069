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

Epoch layout and compaction protocol
------------------------------------
streaming/windows.py::stream_rollup_to_parquet writes one combinable
partial per micro-batch under ``epoch=N/``. Readers fold partials, so
reader cost grows with epoch count; ``compact_rollup_epochs``
periodically folds old epochs into a ``base=<k>`` generation where
``k`` is the highest epoch folded. The reader rule (shared by
``rollup_part_dirs``) is:

    take the base=<k> with the LARGEST k (if any), plus every
    epoch=<e> with e > k; ignore everything else.

This rule makes every failure and replay scenario read correctly:

* crash after writing ``_compact_tmp``: readers ignore
  underscore-prefixed dirs — state unchanged;
* crash after renaming tmp → ``base=<k_new>`` but before deleting the
  folded inputs: folded epochs all have e <= k_new and any older base
  has k_old < k_new, so readers already use only the new base —
  no double count, and a re-run of compaction finishes the deletes;
* an at-least-once REPLAY of a folded epoch (foreachBatch retries
  exactly when a crash interrupted an epoch) re-creates ``epoch=<e>``
  with e <= k — readers ignore it, so folded data can neither be
  double-counted nor resurrected. Only epochs STRICTLY BELOW the
  current top are folded, so the live top epoch keeps its own dir and
  its replay stays a same-data overwrite, as in the uncompacted
  layout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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
    return (
        a.unionByName(b)
        .groupBy(*_KEYS)
        .agg(
            F.sum("n").alias("n"),
            F.sum("sum_value").alias("sum_value"),
            F.min("min_value").alias("min_value"),
            F.max("max_value").alias("max_value"),
        )
    )


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
# binary: it survives parquet round trips and the epoch/compaction
# protocol above unchanged.


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


def _gen_id(name: str, prefix: str) -> int | None:
    """Parse a ``<prefix><int>`` generation dir name; None for names
    with the wrong prefix OR a non-integer suffix. A ledger dir can
    pick up stray entries (editor droppings, foreign tools) — every
    reader/refresh skips them rather than crashing on a bare int()."""
    if not name.startswith(prefix):
        return None
    try:
        return int(name[len(prefix):])
    except ValueError:
        return None


def _scan_generations(
    spark: SparkSession, table_dir: str
) -> tuple[int, list[int]]:
    """(best base generation k or -1, sorted live epoch ids > k)."""
    names = fs.list_child_dirs(spark, table_dir)
    bases = sorted(
        b for n in names for b in [_gen_id(n, "base=")] if b is not None
    )
    k = bases[-1] if bases else -1
    epochs = sorted(
        e
        for n in names
        for e in [_gen_id(n, "epoch=")]
        if e is not None and e > k
    )
    return k, epochs


def sweep_stale_generations(
    spark: SparkSession, table_dir: str, best_k: int
) -> None:
    """Delete dirs a crash or late replay left superseded below the
    published ``base=<best_k>``: epochs ≤ best_k and older bases.
    Readers already ignore them by the generation rule; this reclaims
    the storage. Shared by both compaction protocols (rollup and
    dedup-index) so the layout convention lives in one place."""
    for n in fs.list_child_dirs(spark, table_dir):
        e = _gen_id(n, "epoch=")
        if e is not None and e <= best_k:
            fs.delete(spark, fs.join(table_dir, n))
        b = _gen_id(n, "base=")
        if b is not None and b < best_k:
            fs.delete(spark, fs.join(table_dir, n))


def rollup_part_dirs(
    spark: SparkSession, table_dir: str, as_of: int | None = None
) -> list[str]:
    """Directories a reader must combine: the newest base generation
    (if any) plus every live epoch above it — the reader half of the
    compaction protocol documented in the module docstring.

    ``as_of`` time-travels to the table as of epoch N: the newest
    base with k ≤ N plus epochs in (k, N]. Compaction destroys
    history below its fold point, so a snapshot older than the
    NEWEST base raises rather than silently answering with a
    different epoch's totals — retention is exactly "epochs not yet
    folded". The newest-base rule (not oldest) matters in the
    transient multi-base state a crash between compaction publish
    and sweep can leave: an as_of between an old base and the new
    one would otherwise combine the old base with epoch dirs the
    new compaction may have already partially deleted.
    """
    names = fs.list_child_dirs(spark, table_dir) if as_of is not None else None
    if as_of is None:
        k, epochs = _scan_generations(spark, table_dir)
    else:
        all_bases = [
            b for n in names for b in [_gen_id(n, "base=")] if b is not None
        ]
        if all_bases and as_of < max(all_bases):
            raise ValueError(
                f"snapshot as_of={as_of} predates the newest base "
                f"generation base={max(all_bases)}: that history was "
                "compacted away (or its epochs may be mid-sweep)"
            )
        k = max(all_bases) if all_bases else -1
        epochs = sorted(
            e
            for n in names
            for e in [_gen_id(n, "epoch=")]
            if e is not None and k < e <= as_of
        )
    dirs = []
    if k >= 0:
        dirs.append(fs.join(table_dir, f"base={k}"))
    dirs.extend(fs.join(table_dir, f"epoch={e}") for e in epochs)
    if not dirs:
        raise FileNotFoundError(f"no rollup partials under {table_dir}")
    return dirs


def compact_rollup_epochs(
    spark: SparkSession, table_dir: str, combine_fn=None
) -> int:
    """Fold every live epoch STRICTLY BELOW the current top epoch
    (plus the previous base generation, if any) into a new
    ``base=<k>`` dir, then delete the superseded inputs. Readers see
    identical totals at every point (combinable measures only); see
    the module docstring for the crash/replay analysis. Returns the
    number of epoch dirs folded (0 = nothing to do).

    ``combine_fn`` (default: the n/sum/min/max algebra) must match
    the measures stored in the partials — pass
    ``combine_distinct_rollups`` for the HLL sketch rollup."""
    if combine_fn is None:
        combine_fn = _combine_parts

    def sweep_stale(best_k: int) -> None:
        sweep_stale_generations(spark, table_dir, best_k)

    k, epochs = _scan_generations(spark, table_dir)
    foldable = epochs[:-1]  # keep the top epoch live
    if not foldable:
        sweep_stale(k)
        return 0

    in_dirs = []
    if k >= 0:
        in_dirs.append(fs.join(table_dir, f"base={k}"))
    in_dirs.extend(fs.join(table_dir, f"epoch={e}") for e in foldable)

    combined = combine_fn(read_parquet(spark, *in_dirs))
    new_k = foldable[-1]
    tmp = fs.join(table_dir, "_compact_tmp")
    combined.write.mode("overwrite").parquet(tmp)
    # Publish first (rename), delete superseded inputs after — every
    # intermediate state reads correctly under the base=<k> rule. The
    # rename must succeed before any input is deleted: Hadoop rename
    # reports failure by returning false, and deleting the inputs
    # after a failed publish would strand the fold in _compact_tmp
    # (underscore-prefixed — invisible to every reader).
    fs.rename_or_raise(spark, tmp, fs.join(table_dir, f"base={new_k}"))
    for d in in_dirs:
        fs.delete(spark, d)
    sweep_stale(new_k)
    return len(foldable)


# ---------------------------------------------------------------------------
# Equi-width histograms as a COMBINABLE quantile measure
# ---------------------------------------------------------------------------
#
# Quantiles are the other classic rollup-breaker (exact percentiles
# need the full value multiset). A fixed-bin equi-width histogram is
# a combinable partial — bin-count vectors ADD — so approximate
# quantiles join the same epoch/compaction algebra as sums and HLL
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
# Inputs and view all use the ``epoch=<N>`` dir layout the rollup
# protocol established: a refresh OVERWRITES its own epoch dirs, so
# an at-least-once replay (same epoch, same deltas) converges to the
# same bytes, and a crash between the three writes leaves a view
# whose readers see a consistent as-of-(N-1) state — history reads
# always use epochs STRICTLY BELOW the refresh epoch, never the
# partially written one.
#
# Scale shape: both delta joins broadcast the DELTA side, so each is
# a map-side join over the big input's scan — no shuffle of history,
# no shuffle of the view. The |A_{<N}| scan per refresh is the
# textbook cost; partition/bucket the base dirs by join key (or
# z-order + min-max prune) to cut it, exactly as a 100 TB deployment
# would.


def _epochs_below(spark: SparkSession, d: str, below: int) -> list[str]:
    """History dirs covering every epoch < ``below``, under the same
    generation rule as the rollup protocol: the newest ``base=<k>``
    (which folds epochs ≤ k) plus live ``epoch=<e>`` dirs with
    k < e < below. Join-view compaction folds strictly below the top
    epoch, so any base always satisfies k < the epoch being applied —
    replays of the live epoch never read their own rows as history."""
    if not fs.is_dir(spark, d):
        return []
    names = fs.list_names(spark, d)
    bases = sorted(
        b
        for n in names
        for b in [_gen_id(n, "base=")]
        if b is not None and b < below
    )
    k = bases[-1] if bases else -(1 << 62)
    out = [fs.join(d, f"base={k}")] if bases else []
    for name in names:
        e = _gen_id(name, "epoch=")
        if e is not None and k < e < below:
            out.append(fs.join(d, name))
    return sorted(out)


def _union_epochs(spark: SparkSession, dirs: list[str], like: DataFrame):
    if not dirs:
        return local_relation(spark, [], like.schema)
    return spark.read.schema(like.schema).parquet(*dirs)


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
    a_old = _union_epochs(spark, _epochs_below(spark, a_dir, n), a_delta)
    b_old = _union_epochs(spark, _epochs_below(spark, b_dir, n), b_delta)

    d_view = a_delta.hint("broadcast").join(
        b_old.unionByName(b_delta), on, "inner"
    ).unionByName(a_old.join(b_delta.hint("broadcast"), on, "inner"))

    # History reads stop strictly below n, so every partial state is
    # replay-safe: whichever of the three epoch-n dirs a crash left
    # behind, re-delivering (epoch_id, deltas) recomputes the SAME
    # d_view from the unchanged <n history and overwrites all three.
    # The caller must guarantee redelivery of an incomplete epoch
    # (foreachBatch checkpointing does).
    d_view.write.mode("overwrite").parquet(fs.join(view_dir, f"epoch={n}"))
    a_delta.write.mode("overwrite").parquet(fs.join(a_dir, f"epoch={n}"))
    b_delta.write.mode("overwrite").parquet(fs.join(b_dir, f"epoch={n}"))


def read_join_view(spark: SparkSession, view_dir: str, like: DataFrame | None = None):
    """Union of all committed view generations (newest base plus live
    epochs; dirs are self-describing; ``like`` only supplies a schema
    for the empty-view case)."""
    dirs = _epochs_below(spark, view_dir, 1 << 62)
    if not dirs:
        if like is None:
            raise ValueError(f"join view {view_dir} is empty")
        return local_relation(spark, [], like.schema)
    return read_parquet(spark, *dirs)


def compact_join_view(
    spark: SparkSession, a_dir: str, b_dir: str, view_dir: str
) -> int:
    """Fold each of the three epoch ledgers' dirs strictly below
    their top epoch into a ``base=<k>`` generation — the same
    crash/replay-safe publish protocol as the rollup compaction, with
    identity "combine" (these ledgers are append-only row sets, not
    keyed partials). Bounds reader file counts as epochs accumulate;
    history reads keep working because any base satisfies k < the
    live epoch (only the top epoch can replay). Returns total epoch
    dirs folded."""
    ident = lambda df: df
    return sum(
        compact_rollup_epochs(spark, d, combine_fn=ident)
        for d in (view_dir, a_dir, b_dir)
    )
