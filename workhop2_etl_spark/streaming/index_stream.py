"""Streaming maintenance of a persisted ANN index — exactly-once.

The persisted index artifacts (operators/index_store.py) cover the
batch lifecycle: build once, append per ingest batch, probe many
sessions. At 100 TB the ingest side is usually a STREAM — embeddings
arrive continuously, and the index must stay current without a
rebuild and without double-indexing a replayed micro-batch. This
module commits each micro-batch through the same path as
``append_*_index`` (``index_store._commit_rows``), as a stream epoch
of the artifact's ledger (operators/ledger.py), which makes
at-least-once delivery EXACTLY-ONCE in effect: a committed epoch
short-circuits, a replay rebuilds the epoch's live files whole from
fresh staging (epoch ids in the file names scope every delete to the
epoch's own files, so duplicates never reach ``_ivf_probe``, whose
top-k window would count a double-indexed neighbor twice), and the
marker makes the epoch visible to readers at once.

Contracts: single writer (stop the stream before any other verb
writes the artifact); the source must replay an epoch with the same
data (file sources with a checkpoint do — the contract Structured
Streaming itself requires for end-to-end exactly-once sinks). All
I/O is Spark parquet + Hadoop FileSystem calls, so the artifact can
live on local disk, HDFS, or an object store with a rename-capable
committer.

Reference parity: the reference ETL has no streaming; this extends
the engine per the build brief, shaped after the public pattern of
idempotent foreachBatch sinks (batch-id ledger, as in the Spark docs
and this repo's streaming/jdbc_sink.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from workhop2_etl_spark.operators.index_store import (
    _commit_rows,
    _read_meta_any_kind,
)
from workhop2_etl_spark.streaming.drain import drain


def ingest_epoch(
    spark: SparkSession,
    batch: DataFrame,
    epoch_id: int,
    index_path: str,
    id_col: str | None = None,
    vec_col: str = "embedding",
    partitions_per_epoch: int = 4,
) -> str:
    """Index one micro-batch into the artifact at ``index_path``
    under the exactly-once protocol (module docstring). Returns
    ``'committed'`` or ``'skipped'`` (epoch already in the ledger).
    Exposed separately from the stream driver so tests (and manual
    backfills) can drive replay semantics directly.

    The rows commit like an append (``index_store._commit_rows``):
    an ANN batch into ``index/``, a lexical batch's tf rows with its
    df/stats partials, read from the token column the artifact
    records (``vec_col`` may confirm it). Every loader sees the epoch
    whole or not at all, at its ledger marker, and a delete derives
    its victims from COMMITTED rows only."""
    meta = _read_meta_any_kind(spark, index_path, verb="stream-ingest")
    return _commit_rows(
        batch, index_path, meta, vec_col, id_col, partitions_per_epoch,
        epoch_id=epoch_id,
    )


def stream_index_ingest(
    spark: SparkSession,
    stream_dir: str,
    schema,
    index_path: str,
    checkpoint_dir: str,
    id_col: str | None = None,
    vec_col: str = "embedding",
    partitions_per_epoch: int = 4,
    max_files_per_trigger: int = 1,
    adopt_ledger: bool = False,
    prepare=None,
) -> None:
    """Drain every file currently in ``stream_dir`` (availableNow)
    into the index artifact at ``index_path``, one exactly-once
    ``ingest_epoch`` per micro-batch. The artifact must already exist
    (created by ``save_lsh_index`` / ``save_ivf_index``, possibly on
    a seed corpus) — its stored metadata, not caller arguments,
    decides the index kind and geometry, so a stream can never sign
    or assign a batch under drifted parameters.

    A stream epoch id is the checkpoint's batch id, so ``drain`` binds
    the artifact to the checkpoint first (``ledger.bind_stream``): a
    different checkpoint against committed epochs raises before any
    batch runs. ``adopt_ledger=True`` re-binds, for a deliberate
    migration whose source does not replay indexed data.

    ``prepare`` (optional ``DataFrame -> DataFrame``) transforms each
    micro-batch before indexing — e.g. tokenizing raw document text
    into the ``toks`` column a lexical artifact ingests. It must be
    deterministic (a replayed epoch re-prepares the same rows)."""
    _read_meta_any_kind(spark, index_path, verb="stream-ingest")  # fail fast

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        if prepare is not None:
            batch_df = prepare(batch_df)
        ingest_epoch(
            batch_df.sparkSession,
            batch_df,
            epoch_id,
            index_path,
            id_col=id_col,
            vec_col=vec_col,
            partitions_per_epoch=partitions_per_epoch,
        )

    drain(
        spark, stream_dir, schema, checkpoint_dir, _apply,
        max_files_per_trigger, ledgered=(index_path,), adopt=adopt_ledger,
    )


__all__ = ["ingest_epoch", "stream_index_ingest"]
