"""The one driver of the engine's ``foreachBatch`` streams.

Every stream sink in the package — the index ingest, the rollup, the
near-dup sinks, the join views and the upserts into parquet and JDBC —
replays a parquet directory as a bounded stream (availableNow) and
hands each micro-batch to its sink function. ``drain`` is that
driver. The sinks that commit through a ledger (operators/ledger.py)
name their artifacts in ``ledgered``, and ``drain`` binds them to the
checkpoint before the stream starts: their epoch ids are the
checkpoint's batch ids, so a different checkpoint raises instead of
having its batches skipped as already committed. The memory-sink
harnesses (``windows.run_stream_to_memory``, suite st7) are not
``foreachBatch`` streams and build their own queries.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from workhop2_etl_spark.operators import ledger


def drain(
    spark: SparkSession,
    src: str,
    schema,
    checkpoint_dir: str,
    apply,
    max_files_per_trigger: int | None = None,
    ledgered=(),
    adopt: bool = False,
) -> None:
    """Run ``apply(batch_df, epoch_id)`` over every file currently in
    the parquet directory ``src`` (read with ``schema``), one
    micro-batch per trigger of at most ``max_files_per_trigger`` files
    (Spark's default when None), checkpointed at ``checkpoint_dir``,
    and return when the stream has drained. The artifacts at
    ``ledgered`` are first bound to the checkpoint
    (``ledger.bind_stream``; ``adopt`` re-binds them)."""
    ledger.bind_stream(spark, ledgered, checkpoint_dir, adopt)
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    (
        reader.parquet(src)
        .writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
