"""Structured-Streaming operators over the events stream.

The reference has no streaming surface (its DAG is manual-trigger
batch — SURVEY.md §2.9); this module is the engine's designated
extension over `events(event_id, ts, user_id, event_type, value,
props)`: tumbling / sliding / session windows with watermarked late-
data handling.

Every transform is written against a plain DataFrame, so the same
function body serves both engines' modes:

* batch — called on `spark.read.parquet(...)` (what the oracle
  checks; `window()`/`session_window()` are ordinary expressions);
* streaming — called on `spark.readStream...` and run with an
  ``availableNow`` trigger (tests assert stream ≡ batch).

At scale the stateful aggregations shuffle by (window, key); the
watermark bounds state size — without it a session/window store
grows forever on an unbounded stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from workhop2_etl_spark.operators import ledger
from workhop2_etl_spark.session import local_relation
from workhop2_etl_spark.sources.readers import read_parquet
from workhop2_etl_spark.streaming.drain import drain

#: Late-data tolerance for all watermarked aggregations.
DEFAULT_WATERMARK = "30 minutes"


def _maybe_watermark(df: DataFrame, ts_col: str, watermark: str | None) -> DataFrame:
    """withWatermark is required for append-mode streaming aggs; in
    batch mode it is accepted and ignored, so the same plan runs in
    both modes. Pass None to skip (batch oracle parity paths).

    Event-time watermarks reject TIMESTAMP_NTZ (the engine's loaders
    emit NTZ for session-timezone independence), so the watermarked
    path casts to TIMESTAMP first — value-preserving because the
    session timezone is pinned UTC (session.py). The transforms cast
    window bounds back to NTZ so both modes share one output schema.
    """
    if not watermark:
        return df
    if dict(df.dtypes).get(ts_col) == "timestamp_ntz":
        df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df.withWatermark(ts_col, watermark)


def _ntz(c: str) -> "F.Column":
    """Window bound → timestamp_ntz (no-op when already NTZ)."""
    return F.col(c).cast("timestamp_ntz")


def tumbling_counts(
    df: DataFrame,
    width: str = "1 hour",
    ts_col: str = "ts",
    watermark: str | None = None,
) -> DataFrame:
    """Tumbling event-time windows: count + sum(value) per
    (window, event_type)."""
    d = _maybe_watermark(df, ts_col, watermark)
    return (
        d.groupBy(F.window(F.col(ts_col), width).alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            _ntz("w.start").alias("window_start"),
            _ntz("w.end").alias("window_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def sliding_counts(
    df: DataFrame,
    width: str = "1 hour",
    slide: str = "15 minutes",
    ts_col: str = "ts",
    watermark: str | None = None,
) -> DataFrame:
    """Sliding (hopping) windows — each event lands in width/slide
    overlapping windows."""
    d = _maybe_watermark(df, ts_col, watermark)
    return (
        d.groupBy(F.window(F.col(ts_col), width, slide).alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            _ntz("w.start").alias("window_start"),
            _ntz("w.end").alias("window_end"),
            "event_type",
            "n",
        )
    )


def session_windows(
    df: DataFrame,
    gap: str = "10 minutes",
    ts_col: str = "ts",
    watermark: str | None = None,
) -> DataFrame:
    """Gap-based sessionization per user: a session closes after
    ``gap`` of inactivity; window.end = last event + gap."""
    d = _maybe_watermark(df, ts_col, watermark)
    return (
        d.groupBy(F.session_window(F.col(ts_col), gap).alias("w"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            _ntz("w.start").alias("session_start"),
            _ntz("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


def running_user_totals(df: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    running (event count, value sum), state carried across batches.

    This is the template for stateful logic the built-in windows can't
    express (counters, sessions with custom close rules, online
    aggregates): state lives in the state store keyed by user, each
    micro-batch updates it from Arrow-batched pandas frames, and the
    operator emits the refreshed totals for the keys it touched. With
    an availableNow replay the final emissions equal the batch
    groupBy — which is what the tests assert.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].sum())
        state.update((n, s))
        # Emit the RAW running sum: rounding belongs to the consumer
        # (e.g. F.round in the st7 query) so both engines round the
        # same value the same way — Python round() is banker's
        # rounding and would bake per-batch accumulation noise into
        # the emitted value.
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [s]}
        )

    return df.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, sum_value double",
        stateStructType="n long, s double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_stream_to_memory(
    spark,
    parquet_path: str,
    transform,
    table_name: str,
    watermark: str | None = DEFAULT_WATERMARK,
    output_mode: str = "complete",
) -> DataFrame:
    """Replay a parquet file as a bounded stream (availableNow) into a
    memory sink and return the materialized result — the test harness
    proving each transform runs as a genuine streaming query with
    state + watermark, not just in batch."""
    import tempfile

    schema = read_parquet(spark, parquet_path).schema
    stream = spark.readStream.schema(schema).parquet(parquet_path)
    out = transform(stream, watermark)
    ckpt = tempfile.mkdtemp(prefix="w2e_ckpt_")
    # complete mode: emit every window at stream end — append mode
    # would (correctly) hold back windows newer than the watermark,
    # which is exactly what we don't want when asserting stream ≡ batch.
    q = (
        out.writeStream.format("memory")
        .queryName(table_name)
        .outputMode(output_mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(table_name)


def deduped_counts(
    df: DataFrame,
    keys: list[str] | None = None,
    ts_col: str = "ts",
    watermark: str | None = None,
) -> DataFrame:
    """Streaming exact dedup → counts per event_type.

    On a stream, ``dropDuplicatesWithinWatermark`` keeps per-key state
    only until the watermark passes — bounded memory on an unbounded
    stream, THE scale property plain dropDuplicates (whole-history
    state) lacks. In batch mode the same call degenerates to an
    ordinary distinct-by-key. Counts (not surviving rows) are the
    output so the result is deterministic whichever duplicate wins.
    """
    keys = keys or ["event_id"]
    d = _maybe_watermark(df, ts_col, watermark)
    if watermark:
        d = d.dropDuplicatesWithinWatermark(keys)
    else:
        d = d.dropDuplicates(keys)
    return (
        d.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def interval_join_pairs(
    left: DataFrame,
    right: DataFrame,
    on: str = "user_id",
    ts_col: str = "ts",
    within: str = "30 minutes",
    watermark: str | None = None,
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: (left event, right event) pairs
    for the same key where the right event lands in
    ``(left.ts, left.ts + within]``.

    In streaming both sides carry watermarks and the time-range
    condition bounds the join state: each side's buffer only holds
    rows younger than watermark + within, so state is O(rate × window)
    on an unbounded stream. In batch the same plan is an ordinary
    equi-join with a range rider. Output timestamps are NTZ in both
    modes (same convention as the window transforms).

    ``how="leftOuter"`` is the late-result variant: a left row that
    never finds a match emits once with NULL right side — in
    streaming only AFTER the watermark passes left.ts + within (the
    state store then knows no future match can arrive), which is why
    outer interval joins REQUIRE watermarks on both inputs. In batch
    it's an ordinary left join with the same condition.
    ``how="fullOuter"`` additionally emits each unmatched RIGHT row
    once with a NULL left side when ITS state expires (watermark past
    right.ts — a right row's only join window is the ``within``
    interval preceding it, so expiry is symmetric); the output key is
    taken from whichever side is present.
    """
    l = _maybe_watermark(left, ts_col, watermark).select(
        F.col(on).alias("__k"),
        F.col("event_id").alias("l_event_id"),
        F.col(ts_col).alias("l_ts"),
    )
    r = _maybe_watermark(right, ts_col, watermark).select(
        F.col(on).alias("__rk"),
        F.col("event_id").alias("r_event_id"),
        F.col(ts_col).alias("r_ts"),
    )
    within_expr = f"INTERVAL {within}"
    joined = l.join(
        r,
        (F.col("__k") == F.col("__rk"))
        & (F.col("r_ts") > F.col("l_ts"))
        & (F.col("r_ts") <= F.expr(f"l_ts + {within_expr}")),
        how,
    )
    # coalesce the key across sides: under fullOuter an unmatched
    # RIGHT row has NULL __k — its key lives in __rk (no-op for
    # inner/leftOuter, where __k is always populated)
    return joined.select(
        F.coalesce(F.col("__k"), F.col("__rk")).alias(on),
        "l_event_id",
        "r_event_id",
        _ntz("l_ts").alias("l_ts"),
        _ntz("r_ts").alias("r_ts"),
    )


def stream_upsert_to_parquet(
    spark,
    parquet_path: str,
    table_dir: str,
    keys: list[str],
    checkpoint_dir: str,
) -> None:
    """foreachBatch sink: merge each micro-batch into a parquet table
    with last-writer-wins upsert semantics (operators/upsert.py).

    foreachBatch is the streaming escape hatch for sinks Spark lacks
    natively (MERGE targets, JDBC upserts, multi-table writes): the
    function receives each micro-batch as an ordinary DataFrame plus
    an epoch id. Re-running with the SAME checkpoint resumes after
    the last committed epoch — already-processed input contributes no
    new batches, which is what the exactly-once test asserts.
    """
    from workhop2_etl_spark.operators.upsert import merge_upsert
    from workhop2_etl_spark.sources import fs

    schema = read_parquet(spark, parquet_path).schema
    tmp_dir = table_dir.rstrip("/") + "__tmp"
    old_dir = table_dir.rstrip("/") + "__old"

    def apply_batch(batch_df, epoch_id: int) -> None:
        spark_l = batch_df.sparkSession
        # Crash recovery from an interrupted publish: if a previous
        # run died between swap-out (table→old) and swap-in
        # (tmp→table), the only live copy is old_dir — restore it
        # before reading. Any other leftover tmp/old is superseded.
        if fs.has_data(spark_l, old_dir) and not fs.has_data(spark_l, table_dir):
            fs.rename_or_raise(spark_l, old_dir, table_dir)
        fs.delete(spark_l, tmp_dir)
        fs.delete(spark_l, old_dir)
        # Hadoop-FS existence probe (sources/fs.py): the table can
        # live on HDFS / S3A / local disk interchangeably.
        if any(
            n.endswith(".parquet") for n in fs.list_names(spark_l, table_dir)
        ):
            base = read_parquet(spark_l, table_dir)
            merged = merge_upsert(base, batch_df, keys)
        else:
            merged = batch_df
        # Durable publish-by-rename: the merge is WRITTEN to tmp before
        # the base it read is touched — at every instant a complete
        # copy of the table exists ON DISK (a localCheckpoint pin is
        # executor memory/disk blocks, not durable storage). Renames
        # are metadata ops on HDFS/local, so bytes still move once
        # per batch; foreachBatch replays re-merge idempotently
        # (last-writer-wins on `keys`), covering every crash window.
        merged.write.mode("overwrite").parquet(tmp_dir)
        if fs.has_data(spark_l, table_dir):
            fs.rename_or_raise(spark_l, table_dir, old_dir)
        else:
            # an existing-but-empty dst would make Hadoop rename move
            # tmp INSIDE it instead of onto it
            fs.delete(spark_l, table_dir)
        fs.rename_or_raise(spark_l, tmp_dir, table_dir)
        fs.delete(spark_l, old_dir)

    # the swap is an idempotent upsert: no ledger to bind
    drain(spark, parquet_path, schema, checkpoint_dir, apply_batch)


def enrich_with_dim(
    stream: DataFrame,
    dim: DataFrame,
    key: str = "user_id",
    dim_key: str = "cust_key",
) -> DataFrame:
    """Stream-static dimension enrichment: left-join the (unbounded)
    stream against a bounded dimension table.

    Stream-static joins need no watermark and keep NO join state —
    each micro-batch joins against the static side as a plain batch
    join, so the same function body serves batch mode unchanged. The
    dimension is broadcast: at cluster scale that is one build per
    executor reused across every micro-batch, versus re-shuffling the
    stream each trigger. Rows with no dimension match keep NULL
    attributes (left join) — the enrich-then-segment shape."""
    return stream.join(
        F.broadcast(dim), stream[key] == dim[dim_key], "left"
    ).drop(dim_key)


def stream_rollup_to_parquet(
    spark,
    parquet_path: str,
    table_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
    rollup_fn=None,
) -> None:
    """foreachBatch sink maintaining a streaming materialized rollup
    as per-epoch PARTIALS: each micro-batch commits its combinable
    partial aggregates (operators/incremental.py shape) as one stream
    epoch of a ``stream-rollup`` sink (operators/ledger.py).
    foreachBatch is at-least-once, so an in-place merge
    (refresh_daily_rollup) would double-count a replayed batch; the
    ledger makes the retry exactly-once — a replay of a committed
    epoch skips, and a reader sees an epoch whole or not at all.
    Readers combine partials via ``read_rollup`` (counts/sums add,
    min/min, max/max); periodic compaction
    (operators/incremental.py::compact_rollup_epochs) folds the
    committed epochs into one base partial without changing reader
    totals. Stream ≡ batch and retry/re-run no-double-count are
    asserted in tests. The sink is bound to ``checkpoint_dir``
    (``ledger.bind_stream``): a different checkpoint raises before any
    batch runs — resume with the original one, or roll up into a new
    ``table_dir``.

    ``rollup_fn`` (default ``rollup_events_daily``) maps a micro-batch
    to its combinable partial — any measure with a partial-combine
    algebra works, including the HLL distinct-count sketches
    (``rollup_events_daily_distinct``): the sink only needs the
    partial to be a DataFrame whose rows merge per key."""
    from workhop2_etl_spark.operators.incremental import (
        commit_epoch,
        rollup_events_daily,
    )

    if rollup_fn is None:
        rollup_fn = rollup_events_daily

    def apply_batch(batch_df, epoch_id: int) -> None:
        commit_epoch(
            batch_df.sparkSession, table_dir, "stream-rollup", epoch_id,
            lambda: rollup_fn(batch_df),
        )

    drain(
        spark, parquet_path, read_parquet(spark, parquet_path).schema,
        checkpoint_dir, apply_batch, max_files_per_trigger,
        ledgered=(table_dir,),
    )


def read_rollup(
    spark, table_dir: str, combine_fn=None, as_of: int | None = None
) -> DataFrame:
    """Combine the rollup partials into the current totals — the
    reader half of stream_rollup_to_parquet. Reads the committed
    partials only (base files plus committed epochs), so a reader
    racing a commit or a crashed epoch never sees part of an epoch.
    ``combine_fn`` (default: counts/sums add, min/min, max/max) must
    match the sink's ``rollup_fn`` measure algebra — pass
    ``combine_distinct_rollups`` for the HLL sketch rollup.
    ``as_of`` time-travels to the totals through that epoch id
    (raises if compaction already folded a later epoch: that history
    was compacted away)."""
    from workhop2_etl_spark.operators.incremental import (
        _combine_parts,
        sink_files,
    )

    files = sink_files(spark, table_dir, "stream-rollup", through=as_of)
    if not files:
        raise FileNotFoundError(f"no rollup partials under {table_dir}")
    return (combine_fn or _combine_parts)(read_parquet(spark, *files))


def windowed_distinct_users(
    df,
    width: str = "1 hour",
    user_col: str = "user_id",
    ts_col: str = "ts",
    watermark: str | None = None,
) -> DataFrame:
    """Exact distinct users per tumbling window: dedup on
    (window, user) then a windowed count — on a stream this is the
    dedup→window-agg chain of two stateful operators (append mode +
    watermark required; both operators' state is watermark-bounded).
    In batch the identical plan is a distinct + hash aggregate. At
    100 TB the dedup state is one row per (window, active user) —
    bounded by traffic in the watermark horizon, not history; the
    cheaper-but-approximate twin is approx_count_distinct per window
    (one stateful operator, HLL-sized state).
    """
    d = _maybe_watermark(df, ts_col, watermark)
    win = F.window(ts_col, width)
    dedup = d.select(win.alias("w"), F.col(user_col)).dropDuplicates(
        ["w", user_col]
    )
    return (
        dedup.groupBy("w")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .select(
            # cast back to NTZ like every sibling transform, so the
            # watermarked (streaming) and batch modes share ONE
            # output schema (_maybe_watermark docstring contract)
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            F.col("w.end").cast("timestamp_ntz").alias("window_end"),
            "n_users",
        )
    )


def stream_join_view_to_parquet(
    spark,
    fact_path: str,
    dim: DataFrame,
    a_dir: str,
    b_dir: str,
    view_dir: str,
    on: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
) -> None:
    """Streaming materialized JOIN view: fact appends arrive as a
    file stream, the dimension is seeded once, and every micro-batch
    folds in through the delta-join algebra
    (operators/incremental.py::apply_join_delta) — each batch joins
    only against accumulated history, never re-joining the whole
    fact table. Epochs: the dim seed is epoch 0 (with an empty fact
    delta), micro-batch N lands as epoch N+1; each commits through the
    ledger, so a replay of a committed epoch — the seed's on every
    re-run included — skips, and the view converges to exactly-once
    contents (same argument as ``stream_rollup_to_parquet``). The
    three dirs are bound to ``checkpoint_dir`` before the seed
    (``ledger.bind_stream``): a different checkpoint raises — resume
    with the original one, or maintain the view in new dirs."""
    from workhop2_etl_spark.operators.incremental import apply_join_delta

    dirs = (a_dir, b_dir, view_dir)
    # bound before the seed commits epoch 0, which drain's own binding
    # would otherwise read as epochs of an unknown checkpoint
    ledger.bind_stream(spark, dirs, checkpoint_dir)
    schema = read_parquet(spark, fact_path).schema
    empty_fact = local_relation(spark, [], schema)
    apply_join_delta(
        spark, a_dir, b_dir, view_dir, empty_fact, dim, on, epoch_id=0
    )
    empty_dim = local_relation(spark, [], dim.schema)

    def apply_batch(batch_df, epoch_id: int) -> None:
        apply_join_delta(
            spark,
            a_dir,
            b_dir,
            view_dir,
            batch_df,
            empty_dim,
            on,
            epoch_id=int(epoch_id) + 1,
        )

    drain(
        spark, fact_path, schema, checkpoint_dir, apply_batch,
        max_files_per_trigger, ledgered=dirs,
    )


def stream_join_view_two_sided(
    spark,
    src_path: str,
    split_a,
    split_b,
    a_dir: str,
    b_dir: str,
    view_dir: str,
    on: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
) -> None:
    """Join-view maintenance where BOTH sides arrive on one stream (a
    CDC feed carrying interleaved entity types is exactly this):
    ``split_a``/``split_b`` carve each micro-batch into the two
    sides' deltas, and apply_join_delta folds them in under one epoch
    id — so the dA⋈dB term (rows of both sides arriving in the same
    batch joining each other) is exercised, not just fact-vs-seeded
    dim. Same replay-idempotence argument and checkpoint binding as
    the one-sided wrapper."""
    from workhop2_etl_spark.operators.incremental import apply_join_delta

    def apply_batch(batch_df, epoch_id: int) -> None:
        apply_join_delta(
            spark,
            a_dir,
            b_dir,
            view_dir,
            split_a(batch_df),
            split_b(batch_df),
            on,
            epoch_id=int(epoch_id),
        )

    drain(
        spark, src_path, read_parquet(spark, src_path).schema,
        checkpoint_dir, apply_batch, max_files_per_trigger,
        ledgered=(a_dir, b_dir, view_dir),
    )
