"""Streaming maintenance of a persisted ANN index — exactly-once.

The persisted index artifacts (operators/index_store.py) cover the
batch lifecycle: build once, append per ingest batch, probe many
sessions. At 100 TB the ingest side is usually a STREAM — embeddings
arrive continuously, and the index must stay current without a
rebuild and without double-indexing a replayed micro-batch. This
module runs ``append``-equivalent index work inside ``foreachBatch``
with an idempotence protocol that makes at-least-once delivery
EXACTLY-ONCE in effect: each epoch commits through the artifact's
ledger (operators/ledger.py) — a committed epoch short-circuits, a
replay rebuilds the epoch's live files whole from fresh staging
(epoch ids in the file names scope every delete to the epoch's own
files, so duplicates never reach ``_ivf_probe``, whose top-k window
would count a double-indexed neighbor twice), and the marker makes
the epoch visible to readers at once. The batch's rows are
assigned/signed under the artifact's OWN stored parameters (same
guarantee as ``append_*_index``).

Contracts: single writer (don't run two streams or a concurrent
``append_*_index``/``compact_index`` against one artifact — stop the
stream before maintenance, as with any non-transactional table
format); the source must replay an epoch with the same data (file
sources with a checkpoint do — the contract Structured Streaming
itself requires for end-to-end exactly-once sinks). All I/O is
Spark parquet + Hadoop FileSystem calls, so the artifact can live on
local disk, HDFS, or an object store with a rename-capable
committer.

Reference parity: the reference ETL has no streaming; this extends
the engine per the build brief, shaped after the public pattern of
idempotent foreachBatch sinks (batch-id ledger, as in the Spark docs
and this repo's streaming/jdbc_sink.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from workhop2_etl_spark.operators import ledger
from workhop2_etl_spark.operators.index_store import (
    _LAYOUTS,
    _read_meta_any_kind,
    _write_batch,
)
from workhop2_etl_spark.operators.retrieval import _LEXICAL_KIND
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

    Artifact kinds: the ANN kinds stage into one flat dir that
    renames into ``index/``; the lexical (BM25) kind stages the
    epoch's tf rows PLUS its df/stats partials and renames each into
    its own dir (``tf/`` / ``df/`` / ``stats/``) — the partials are
    additive over disjoint epochs, so the loader's sum-of-partials
    stays the single-shot aggregate (operators/retrieval.py). For a
    lexical artifact the batch must already carry the tokenized
    column (``vec_col`` names it; default contract 'toks').

    Reader atomicity: the epoch's renamed files are hidden from every
    loader until the ledger marker lands (operators/ledger.py) — a
    reader racing these renames, or loading after a mid-rename crash,
    sees the whole epoch or none of it (never tf rows without their
    df/stats partials), and a delete derives its victims from
    COMMITTED rows only."""
    meta = _read_meta_any_kind(spark, index_path, verb="stream-ingest")

    def stage(staging: str) -> None:
        col = vec_col
        if meta["kind"] == _LEXICAL_KIND:
            # the artifact's own metadata names its token column
            # (recorded at save time) — caller arguments can confirm
            # but never silently remap it; artifacts without the field
            # fall back to the old convention (vec_col unless it still
            # holds the ANN default, then 'toks')
            tok_col = meta.get("tok_col")
            if tok_col is None:
                tok_col = vec_col if vec_col != "embedding" else "toks"
            elif vec_col not in ("embedding", tok_col):
                raise ValueError(
                    f"lexical index at {index_path} records "
                    f"tok_col={tok_col!r} in its metadata, but the stream "
                    f"was started with vec_col={vec_col!r} — the artifact's "
                    "recorded token column wins; drop the vec_col override "
                    "or rebuild the artifact under the new column name"
                )
            if tok_col not in batch.columns:
                raise ValueError(
                    f"lexical ingest into {index_path} expects token column "
                    f"{tok_col!r} (recorded in the artifact metadata at save "
                    f"time), but the prepared micro-batch has columns "
                    f"{list(batch.columns)} — fix the stream's prepare hook "
                    "to produce that column"
                )
            col = tok_col
        _write_batch(
            batch, index_path, meta, "overwrite", col, id_col,
            target=staging, num_partitions=partitions_per_epoch,
        )

    return ledger.commit(
        spark, index_path, ledger.stream_batch(epoch_id), meta,
        _LAYOUTS[meta["kind"]].subs, stage,
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

    The ledger is only meaningful together with the stream's
    CHECKPOINT: epoch ids are the checkpoint's batch ids, so a fresh
    checkpoint restarts them at 0 and every new batch would collide
    with an already-committed ledger entry — silently SKIPPED, data
    lost. The artifact is therefore bound to the checkpoint that
    feeds it (``ledger.bind_stream``, through ``drain``); resuming
    with the same checkpoint is the supported path, while a DIFFERENT
    checkpoint against a non-empty ledger raises before any batch
    runs. Pass ``adopt_ledger=True`` only for deliberate migrations
    (new checkpoint whose sources are known not to replay indexed
    data) — it re-binds the ledger to the new checkpoint.

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
