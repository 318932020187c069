"""Incremental (streaming) near-duplicate ingestion.

The 100 TB ingestion-dedup story: documents arrive continuously; each
micro-batch must be near-dup-checked against EVERYTHING already
accepted without ever re-scanning the accepted corpus pairwise. The
accumulated state is an LSH *band index* — one row per (band bucket,
accepted doc) — so the cross-batch candidate check is a bucketed
equi-join of batch bands against index bands: shuffle ∝ batch size ×
bands, never corpus².

Dedup rule (deterministic, mirrored by the test oracle):

* a batch doc is DROPPED if its estimated MinHash similarity to any
  already-accepted doc, or to any lower-id doc of the same batch,
  reaches ``threshold``;
* survivors are appended to the output corpus, and their band rows
  (band_key, doc_id, sig) to the index.

"Lower-id of the same batch, whether or not that doc itself
survives" is a FIRST-ID-WINS rule, deliberately coarser than a
survivors-only sequential greedy: a doc similar only to an
already-dropped doc is also dropped. That coarsening is what makes
the rule one equi-join pass with no sequential dependence — cheaper
than per-batch connected components, and the natural semantics for
append-only ingestion (earlier data wins). Chains therefore differ from the
batch CC-canonical dedup (d6/d7) by design; the exactly-once
re-run property comes from the streaming checkpoint.

Similarity is estimated from the stored signatures (fraction of
equal MinHash components) — the standard index-friendly estimator:
verifying against raw shingles would require keeping full text in
the index.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from workhop2_etl_spark.operators import ledger
from workhop2_etl_spark.operators.dedup_text import lsh_bands, minhash_signatures
from workhop2_etl_spark.operators.incremental import (
    commit_epoch,
    compact_sink,
    sink_files,
)
from workhop2_etl_spark.sources.readers import read_parquet
from workhop2_etl_spark.streaming.drain import drain


def _sig_similarity(a: str, b: str, num_hashes: int) -> F.Column:
    """Fraction of equal signature components (MinHash Jaccard
    estimate). NULL components (empty docs) never count as equal, so
    empty docs are always unique."""
    return (
        F.size(F.filter(F.expr(f"zip_with({a}, {b}, (x, y) -> x = y)"), lambda m: m))
        / F.lit(num_hashes)
    )


def banded_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    num_bands: int = 4,
) -> DataFrame:
    """(doc_id, sig, band_id, band_key) — one row per non-NULL band."""
    sigs = minhash_signatures(df, text_col=text_col, id_col=id_col, num_hashes=num_hashes)
    return (
        sigs.select(
            id_col,
            "sig",
            F.explode(lsh_bands(F.col("sig"), num_bands, num_hashes // num_bands)).alias("b"),
        )
        .select(id_col, "sig", F.col("b.band_id").alias("band_id"), F.col("b.band_key").alias("band_key"))
        .filter(F.col("band_key").isNotNull())
    )


def neardup_filter_batch(
    batch: DataFrame,
    index: DataFrame | None,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    num_bands: int = 4,
    threshold: float = 0.7,
    pin: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Pure (testable) core: returns (survivor rows, survivor band
    rows to append to the index). ``index`` is the accumulated band
    store (band_id, band_key, doc_id, sig) or None on first batch.

    ``pin=True`` localCheckpoints the band signatures and the drop
    decision (both batch-sized): the two returned frames then share
    ONE materialized decision set instead of each re-running the
    minhash + LSH-join plan — the streaming sink sets it so its two
    sinks (survivors, index rows) cost one dedup pass, not two."""
    bands = banded_signatures(
        batch, text_col=text_col, id_col=id_col, num_hashes=num_hashes, num_bands=num_bands
    )
    if pin:
        bands = bands.localCheckpoint(eager=True)

    # --- cross-batch: batch bands ⨝ index bands on the bucket key ---
    dropped_vs_index = None
    if index is not None:
        cand = (
            bands.alias("n")
            .join(
                index.alias("i"),
                (F.col("n.band_id") == F.col("i.band_id"))
                & (F.col("n.band_key") == F.col("i.band_key")),
            )
            .select(
                F.col(f"n.{id_col}").alias("new_id"),
                F.col("n.sig").alias("new_sig"),
                F.col(f"i.{id_col}").alias("old_id"),
                F.col("i.sig").alias("old_sig"),
            )
            .distinct()
        )
        dropped_vs_index = (
            cand.filter(_sig_similarity("new_sig", "old_sig", num_hashes) >= threshold)
            .select(F.col("new_id").alias(id_col))
            .distinct()
        )

    # --- within-batch: first-id-wins against ALL lower ids (see
    # module docstring: coarser than survivors-only greedy) ---
    pair = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("lo_id"),
            F.col("a.sig").alias("lo_sig"),
            F.col(f"b.{id_col}").alias("hi_id"),
            F.col("b.sig").alias("hi_sig"),
        )
        .distinct()
    )
    dropped_in_batch = (
        pair.filter(_sig_similarity("lo_sig", "hi_sig", num_hashes) >= threshold)
        .select(F.col("hi_id").alias(id_col))
        .distinct()
    )

    dropped = dropped_in_batch
    if dropped_vs_index is not None:
        dropped = dropped.unionByName(dropped_vs_index).distinct()
    if pin:
        dropped = dropped.localCheckpoint(eager=True)

    survivors = batch.join(dropped, id_col, "left_anti")
    new_index_rows = bands.join(dropped, id_col, "left_anti").select(
        "band_id", "band_key", id_col, "sig"
    )
    return survivors, new_index_rows


def stream_neardup_ingest(
    spark,
    stream_dir: str,
    schema,
    out_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    num_bands: int = 4,
    threshold: float = 0.7,
) -> None:
    """Run the incremental near-dup ingest over every file currently
    in ``stream_dir`` (availableNow, one file per micro-batch so
    arrival order is honored), committing survivors as a
    ``neardup-docs`` sink at ``out_dir`` and their band rows as a
    ``neardup-bands`` sink at ``index_dir`` (operators/ledger.py;
    ``incremental.sink_files`` lists what a reader sees).

    Idempotence under retry: foreachBatch is at-least-once, so each
    micro-batch commits as stream epoch N of both sinks through the
    ledger, survivors first. A batch replayed after a mid-epoch failure
    (a) reads only the band rows committed in epochs < N — its own
    rows are excluded, so survivors never match themselves — and (b)
    commits what the failure left uncommitted, whole; a replay of an
    epoch committed in both sinks skips. With the checkpoint committed,
    a re-run adds no batches at all (both properties asserted in
    tests). Both sinks are bound to ``checkpoint_dir``
    (``ledger.bind_stream``): a different checkpoint raises before any
    batch runs — resume with the original one, or ingest into new
    dirs."""

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        spark_l = batch_df.sparkSession
        if ledger.committed(spark_l, index_dir, ledger.stream_batch(epoch_id)):
            return  # both sinks hold the epoch: bands commit last
        prior = sink_files(spark_l, index_dir, "neardup-bands", through=epoch_id - 1)
        index = read_parquet(spark_l, *prior) if prior else None
        # pin=True materializes the band signatures + drop decision
        # once, so the survivor and index commits share one computed
        # dedup pass (and one consistent decision set) instead of
        # re-running the minhash/LSH plan per sink.
        survivors, new_rows = neardup_filter_batch(
            batch_df,
            index,
            id_col=id_col,
            text_col=text_col,
            num_hashes=num_hashes,
            num_bands=num_bands,
            threshold=threshold,
            pin=True,
        )
        commit_epoch(spark_l, out_dir, "neardup-docs", epoch_id, lambda: survivors)
        commit_epoch(spark_l, index_dir, "neardup-bands", epoch_id, lambda: new_rows)

    drain(
        spark, stream_dir, schema, checkpoint_dir, apply_batch, 1,
        ledgered=(out_dir, index_dir),
    )


def compact_index_epochs(spark, index_dir: str) -> int:
    """Fold every committed epoch of the band index at ``index_dir``
    into base files (``incremental.compact_sink``), bounding the file
    count the per-batch index read must touch as epochs accumulate.
    Band rows are append-only facts, so the fold is a concatenation.
    A replay of a folded epoch skips at its ledger marker, and a new
    epoch reads the base plus the epochs committed after the fold.
    Returns the number of epochs folded."""
    return compact_sink(spark, index_dir, "neardup-bands")
