"""Persisted ANN index artifacts: build once, probe many sessions.

At 100 TB the expensive half of approximate similarity search is the
INDEX BUILD — signing every corpus vector (multi-table hyperplane
LSH) or training the coarse quantizer (IVF KMeans). Rebuilding per
session, as the in-session operators do, repays that cost on every
run; the production posture (FAISS on disk, Lucene HNSW segments) is
an on-disk artifact that any later session loads and probes. This
module gives both index families that lifecycle on any
Hadoop-compatible filesystem: row data goes through Spark's parquet
I/O, and the dimension-sized files (metadata, centroids, codebooks,
empty seeds) through the Hadoop FileSystem streams on the driver
(sources/fs.py), so the same code addresses local disk, HDFS, or
object stores:

* ``save_lsh_index`` / ``append_lsh_index`` / ``load_lsh_index`` /
  ``probe_lsh_index`` — the multi-table hyperplane signature index
  (rows built by operators/similarity.py::_signed_rows). The saved
  relation is one row per (vector, table): id, vector, its L2 norm,
  table_id, sig — everything the probe needs, so probing never
  touches the original corpus table.
* ``save_centroids`` / ``load_centroids`` — the trained IVF coarse
  quantizer (operators/similarity.py::fit_centroids), k rows of
  (centroid_id, vector).
* ``compact_index`` — maintenance for either postings kind: rewrite
  the append-accumulated small files back into the clustered layout
  (the FAISS segment-merge / Delta OPTIMIZE role), row-identical
  probes before and after.
* ``save_ivf_index`` / ``append_ivf_index`` / ``load_ivf_index`` /
  ``probe_ivf_index`` — the full IVF index: posting lists (one row
  per vector: id, vector, norm, centroid_id, clustered by cell) plus
  the quantizer that assigned them, as one self-contained artifact —
  postings are only meaningful under their own centroids, so the two
  travel together and a probe can never mix them with a drifted
  quantizer. Three storage tiers (``store_dtype``): exact float64,
  int8 scalar quantization (FAISS SQ8), and pq8 product quantization
  (FAISS IVFPQ — codebooks persisted inside the artifact).
* ``ivf_index_stats`` / ``lsh_index_stats`` — one-row skew/health
  reports (the retrain signal); ``retrain_ivf_index`` — blue/green
  rebuild under a freshly-trained coarse quantizer. Streaming
  ingest lives in streaming/index_stream.py (exactly-once epochs).
* ``restore_index`` — materialize a ``load(as_of=N)`` snapshot as a
  fresh artifact at a new path (the rollback/clone verb);
  ``index_changes`` — the CDC changelog of ledgered mutations
  between two commit sequences, reading only the tailed batches'
  own files.

This module holds persistence only. The rows an index stores are
built, and probed, by operators/similarity.py (``_signed_rows``,
``_posting_rows``, ``probe_lsh_index``, ``probe_ivf_index``) — the
same builder and probe the in-session searches run — so a loaded
index ranks exactly as one built in session. Both probes are
re-exported here.

Every artifact carries a metadata record (kind, dim, planes, tables,
seed, format version) written as a one-row JSON dataset
next to the data. ``load_*`` validates it against what the caller
expects and raises a descriptive error on drift — probing an index
built at dim=64 with dim=128 queries, or mixing centroids trained
under a different seed into an oracle-pinned pipeline, must fail
loudly at load time, not produce silently-wrong neighbors.

Reference parity: the reference ETL has no ANN indexes; this extends
the engine for the training-data pipeline per the build brief, shaped
after the public FAISS index_factory / write_index lifecycle.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from typing import NamedTuple

from py4j.protocol import Py4JJavaError
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from workhop2_etl_spark.operators.retrieval import (
    _LEXICAL_KIND,
    _doc_stats,
    _fold_df,
    _fold_stats,
    _tf_relation,
)
from workhop2_etl_spark.operators.similarity import (
    _decoded_postings,
    _posting_rows,
    _signed_rows,
    probe_ivf_index,
    probe_lsh_index,
)
from workhop2_etl_spark.operators import ledger
from workhop2_etl_spark.session import arrow_table, local_relation
from workhop2_etl_spark.sources import readers
from workhop2_etl_spark.sources.fs import (
    data_files,
    delete,
    exists,
    join,
    list_child_dirs,
    read_bytes,
    read_parquet,
    rename_or_raise,
    write_bytes,
    write_parquet,
)

FORMAT_VERSION = 1

_LSH_KIND = "multitable-hyperplane-lsh"
_IVF_KIND = "ivf-centroids"
_IVF_POSTINGS_KIND = "ivf-postings"


class _Layout(NamedTuple):
    """Where one index kind keeps its rows (``_write_dirs`` says how)."""

    data: str  # the corpus-sized data dir
    id_col: str  # its row id, which tombstones carry
    keys: tuple[str, ...]  # what ``data`` is clustered on
    partials: tuple[str, ...] = ()  # one-file aggregates each batch adds

    @property
    def subs(self) -> tuple[str, ...]:
        """The dirs one batch of rows writes."""
        return (self.data, *self.partials)


_LAYOUTS = {
    _LSH_KIND: _Layout("index", "id", ("table_id", "sig")),
    _IVF_POSTINGS_KIND: _Layout("index", "id", ("centroid_id",)),
    _LEXICAL_KIND: _Layout("tf", "doc_id", ("term",), ("df", "stats")),
}
# the data dirs a ledgered batch renames its files into
_BATCH_SUBS = (
    *dict.fromkeys(s for lay in _LAYOUTS.values() for s in lay.subs),
    "tombstones",
)

_META_SCHEMA = (
    "kind string, version int, dim int, num_planes int, num_tables int,"
    " id_col string, seed long,"
    " n_centroids int, plane_scheme string, epoch int, store_dtype string,"
    " pq_m int, pq_k int, tokenizer string, tok_col string"
)


def _check_save_mode(mode: str) -> None:
    """A save writes a whole artifact, so ``mode`` is ``'overwrite'``
    or ``'error'``/``'errorifexists'``. Every save verb checks it
    before its first write, so a rejected mode leaves nothing behind."""
    if mode not in ("overwrite", "error", "errorifexists"):
        raise ValueError(
            f"index save mode must be 'overwrite' or 'error'/'errorifexists', "
            f"got {mode!r}"
        )


def _write_meta(spark: SparkSession, path: str, meta: dict, mode: str) -> None:
    """Persist the one metadata record as ``<path>/meta/part-00000.json``
    (one JSON line, null fields omitted — the layout
    ``spark.read.json`` reads) through the driver-side byte path of
    sources/fs.py. ``'overwrite'`` replaces the record; any other mode
    raises if it exists."""
    import json

    fields = [f.split()[0] for f in _META_SCHEMA.split(",")]
    # only schema fields persist — load-time conveniences like the
    # in-memory ``_codebooks`` must never leak into the JSON record;
    # nulls are omitted, matching the Spark JSON writer's default
    row = {k: meta[k] for k in fields if meta.get(k) is not None}
    if mode != "overwrite" and exists(spark, f"{path}/meta"):
        raise ValueError(
            f"index metadata already exists at {path}/meta "
            f"(write mode {mode!r})"
        )
    delete(spark, f"{path}/meta")
    write_bytes(
        spark, f"{path}/meta/part-00000.json",
        (json.dumps(row) + "\n").encode("utf-8"),
    )


def _read_meta(spark: SparkSession, path: str, expect_kind: str) -> dict:
    """The metadata record, read driver-side from every non-hidden
    ``*.json`` file under ``<path>/meta`` (so a record written by
    Spark's JSON writer or an external producer loads too)."""
    import json

    fields = [f.split()[0] for f in _META_SCHEMA.split(",")]
    try:
        records = [
            json.loads(line)
            for f in data_files(spark, f"{path}/meta")
            if f.endswith(".json")
            for line in read_bytes(spark, f).decode("utf-8").splitlines()
            if line.strip()
        ]
    except (Py4JJavaError, ValueError) as ex:  # JVM I/O, decode, JSON
        raise ValueError(f"no readable index metadata at {path}/meta: {ex}") from ex
    if not records:
        raise ValueError(f"no readable index metadata at {path}/meta")
    if len(records) != 1:
        raise ValueError(
            f"index metadata at {path}/meta must be exactly one record, "
            f"found {len(records)}"
        )
    # drop fields outside the schema (foreign keys in a hand-edited
    # record) and null fields the other artifact kind doesn't set, so
    # load_*'s meta equals what save_* returned
    meta = {k: records[0][k] for k in fields if records[0].get(k) is not None}
    if expect_kind != "*" and meta["kind"] != expect_kind:
        raise ValueError(
            f"artifact at {path} is kind={meta['kind']!r}, expected "
            f"{expect_kind!r} — wrong index type for this loader"
        )
    if meta["version"] != FORMAT_VERSION:
        raise ValueError(
            f"artifact at {path} has format version {meta['version']}, "
            f"this build reads version {FORMAT_VERSION}"
        )
    return meta


def _check_drift(path: str, meta: dict, expected: dict) -> None:
    drift = {
        key: (want, meta.get(key))
        for key, want in expected.items()
        if want is not None and meta.get(key) != want
    }
    if drift:
        detail = ", ".join(
            f"{k}: expected {want!r}, index has {got!r}"
            for k, (want, got) in sorted(drift.items())
        )
        raise ValueError(f"index at {path} does not match this probe — {detail}")


# ---------------------------------------------------------------------------
# Index data dirs: one layout per kind (_LAYOUTS), one writer
# ---------------------------------------------------------------------------


def _write_batch(
    batch: DataFrame,
    path: str,
    meta: dict,
    mode: str,
    col: str,
    id_col: str | None = None,
    target: str | None = None,
    num_partitions: int | None = None,
    centroids: list[tuple[int, list[float]]] | None = None,
    codebooks: list[tuple[int, int, list[float]]] | None = None,
) -> None:
    """Index one batch of rows — a save's corpus, an append's delta or
    a stream epoch — into the kind's data dirs under ``target``
    (default: the artifact at ``path``), prepared under the
    parameters of the artifact's metadata ``meta``. ``col`` holds the
    vectors (the token arrays for the lexical kind); ``id_col``
    defaults to the recorded one. LSH rows are signed with the
    recorded geometry; IVF rows are assigned under ``centroids`` (and
    pq8-encoded under ``codebooks``), by default the quantizer stored
    at ``path``; lexical rows become the batch's tf rows plus its df
    and stats partials."""
    spark = batch.sparkSession
    lay = _LAYOUTS[meta["kind"]]
    target = target or path
    id_col = id_col or meta["id_col"]
    if meta["kind"] == _LEXICAL_KIND:
        # ONE corpus pass: tf (the (doc, term) aggregation output, far
        # smaller than the raw corpus) is shared by the three writes,
        # and df and stats both derive from it (stats via min(dl) per
        # doc, the per-doc-exact trick the delete path uses). Both are
        # PARTIALS over this batch's documents only, never a re-read
        # of the accumulated tf dir; the loader sums partials, which
        # equals the single-shot aggregate because batches index
        # disjoint documents (id discipline is the caller's). Deriving
        # stats from tf is exact: tf and _stats_partial exclude the
        # same empty-token docs and the counts/sums are integers. The
        # partials read tf, so they write after it.
        tf = _tf_relation(batch, id_col, col)
        df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        _write_dirs(
            spark,
            [
                [_Write(tf, f"{target}/tf", lay.keys)],
                [
                    _Write(df, f"{target}/df", one_file=True),
                    # a global aggregate over no rows is one (0, 0) row
                    _Write(_doc_stats(tf), f"{target}/stats", one_file=True,
                           if_empty=((0, 0),)),
                ],
            ],
            mode, num_partitions, seed=tf, shared=tf,
        )
        return
    if meta["kind"] == _LSH_KIND:
        rows = _signed_rows(batch, meta, id_col, col)
    else:
        if centroids is None:  # the artifact's own quantizer
            centroids = _read_centroid_rows(spark, f"{path}/centroids", meta)
            if meta.get("store_dtype") == "pq8":
                codebooks = _read_codebook_rows(
                    spark, f"{path}/codebooks", meta
                )
        rows = _posting_rows(batch, meta, id_col, col, centroids, codebooks)
    _write_dirs(
        spark, [[_Write(rows, f"{target}/{lay.data}", lay.keys)]], mode,
        num_partitions, seed=batch,
    )


class _Write(NamedTuple):
    """One relation for ``_write_dirs`` to lay into ``target``."""

    rel: DataFrame
    target: str
    keys: tuple[str, ...] = ()
    one_file: bool = False  # a dimension-sized aggregate
    if_empty: tuple = ()  # its rows when the seed is empty


def _write_dirs(
    spark: SparkSession,
    waves: list[list[_Write]],
    mode: str,
    num_partitions: int | None = None,
    seed: DataFrame | None = None,
    shared: DataFrame | None = None,
) -> None:
    """THE writer of index data dirs: every save, append, stream
    epoch, delete, compaction and restore lays its relations out here.
    The layout:

    - a corpus-sized relation (LSH rows, IVF postings, lexical tf) is
      hash-partitioned on its cluster keys into ``num_partitions``
      files (default: the shuffle-partition setting) and sorted within
      each file. Each file therefore spans most of the key range: a
      probe's filter on the keys (the IVF cell list, the BM25 term
      IN-list) drops rows during the scan but skips no file;
    - a dimension-sized aggregate (``one_file``: a batch's df, stats
      or tombstones partial, a compaction's fold) is one file, sorted
      on its keys if it has any. ``coalesce(1)``, not
      ``repartition(1)``: the aggregation upstream already shuffles,
      so coalescing folds the post-shuffle read into the one writer
      task without a second exchange;
    - a relation with neither keys nor ``one_file`` (a stream sink's
      rows, compacted) keeps its scan's partitions, which already pack
      small files together;
    - when Catalyst proves ``seed`` statically empty (a
      ``save_*(corpus.limit(0), ...)`` seed, the streaming lifecycles'
      starting state, or an empty append or epoch), each relation is
      written on the driver as one part file of its ``if_empty`` rows,
      typed by the schema the Spark writer would have written, and no
      job runs.

    ``waves`` run in order; the writes of one wave are independent and
    run concurrently from one thread pool, so each job's tasks
    back-fill the others' tails. ``shared``, a relation several writes
    read, is persisted across them (MEMORY_AND_DISK spills, never
    recomputes)."""
    writes = [w for wave in waves for w in wave]
    if seed is not None and _plan_is_empty_local(seed):
        for w in writes:
            write_parquet(spark, arrow_table(list(w.if_empty), w.rel.schema),
                          w.target, mode)
        return

    def lay(w: _Write) -> None:
        if w.one_file:
            rel = w.rel.coalesce(1)
        elif not w.keys:
            rel = w.rel
        elif num_partitions:
            rel = w.rel.repartition(num_partitions, *w.keys)
        else:
            rel = w.rel.repartition(*w.keys)
        if w.keys:
            rel = rel.sortWithinPartitions(*w.keys)
        rel.write.mode(mode).parquet(w.target)

    shared = shared if len(writes) > 1 else None
    if shared is not None:
        shared.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        for wave in filter(None, waves):
            if len(wave) == 1:
                lay(wave[0])
                continue
            with ThreadPoolExecutor(max_workers=len(wave)) as pool:
                list(pool.map(lay, wave))
    finally:
        if shared is not None:
            shared.unpersist()


def _plan_is_empty_local(df: DataFrame) -> bool:
    """True when the frame's OPTIMIZED plan is an empty LocalRelation
    — i.e. Catalyst itself proved the input statically empty (a
    ``.limit(0)`` seed, an empty literal frame). Analysis-only: no
    job. A real source scan never folds to this, so the check can
    only ever route provably-empty inputs to a fast path."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        return (
            plan.getClass().getSimpleName() == "LocalRelation"
            and plan.data().isEmpty()
        )
    except Exception:  # noqa: BLE001 — any doubt → the normal path
        return False


def _commit_rows(
    batch: DataFrame,
    path: str,
    meta: dict,
    col: str,
    id_col: str | None = None,
    num_partitions: int | None = None,
    epoch_id: int | None = None,
    default_col: str = "embedding",
) -> str:
    """Commit ``batch``'s rows into the artifact at ``path`` (metadata
    ``meta``) through the ledger: as stream epoch ``epoch_id``, or as
    an append batch under the next auto label. ``_write_batch``
    prepares the rows under the artifact's own parameters into the
    batch's staging dir. ``col`` holds the vectors; for the lexical
    kind the recorded ``tok_col`` wins, and ``col`` may only confirm
    it or be the verb's ``default_col``. Returns ``'committed'`` or
    ``'skipped'`` (epoch already in the ledger)."""
    spark = batch.sparkSession
    b = ledger.stream_batch(epoch_id) if epoch_id is not None else ledger.Batch(
        ledger.APPEND, ledger.auto_label(spark, path, ledger.APPEND)
    )

    def stage(staging: str) -> None:
        rows_col = col
        if meta["kind"] == _LEXICAL_KIND:
            # an artifact saved before tok_col was recorded reads
            # ``col``, or 'toks' for the verb's default
            rows_col = meta.get("tok_col") or (
                col if col != default_col else "toks"
            )
            if col not in (default_col, rows_col):
                raise ValueError(
                    f"lexical index at {path} records tok_col={rows_col!r}, "
                    f"but the batch names column {col!r}: the recorded "
                    "token column wins; drop the override or rebuild the "
                    "artifact under the new column name"
                )
            if rows_col not in batch.columns:
                raise ValueError(
                    f"lexical batch for {path} lacks the token column "
                    f"{rows_col!r} the artifact records (columns "
                    f"{batch.columns}); a stream's prepare hook must add it"
                )
        _write_batch(batch, path, meta, "overwrite", rows_col, id_col,
                     target=staging, num_partitions=num_partitions)

    return ledger.commit(
        spark, path, b, meta, _LAYOUTS[meta["kind"]].subs, stage
    )


# ---------------------------------------------------------------------------
# Multi-table LSH signature index
# ---------------------------------------------------------------------------


def _reset_lifecycle_state(spark: SparkSession, path: str, mode: str) -> None:
    """On an ``overwrite`` save, clear the artifact's LIFECYCLE state
    (``ledger/`` markers and pending ``tombstones/``) along with the
    data the Spark writers overwrite. Without this a rebuild over an
    existing artifact path would inherit the old tombstones — the new
    corpus's rows anti-joined against stale victim ids — and old
    ledger markers would silently 'skip' the first stream epochs /
    delete batches of the new life."""
    if mode != "overwrite":
        return
    for sub in ("ledger", "tombstones"):
        delete(spark, join(path, sub))


def save_lsh_index(
    corpus: DataFrame,
    path: str,
    dim: int,
    num_planes: int = 6,
    num_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    store_dtype: str = "float64",
    mode: str = "error",
) -> dict:
    """Sign the corpus and persist the index relation at ``path``.

    ``store_dtype='int8'`` stores symmetric per-vector-quantized
    vectors (see ``save_ivf_index``) — here the win compounds,
    because the relation materializes the vector once per TABLE row
    (``num_tables``-way duplication); signing always runs on floats,
    probe rescoring dequantizes (approximate within quantization
    error, buckets exact).

    One shuffle total: the signed rows are laid out on (table_id,
    sig) by ``_write_dirs``, so each file's row groups cluster whole
    buckets and the probe join's input is already bucket-contiguous.
    Signing runs the BLAS matmul kernel, as every corpus-sized input
    does (PERF.md sigbuild table — 13× the expression fold at 400k
    vectors).

    Returns the metadata dict it wrote. ``mode`` is ``'overwrite'``
    (replace any artifact at ``path``) or ``'error'``/``'errorifexists'``
    (raise if one exists); any other mode raises before anything is
    written.
    """
    _check_save_mode(mode)
    _reset_lifecycle_state(corpus.sparkSession, path, mode)
    meta = {
        "kind": _LSH_KIND,
        "version": FORMAT_VERSION,
        "dim": dim,
        "num_planes": num_planes,
        "num_tables": num_tables,
        "store_dtype": store_dtype,
        "id_col": id_col,
        "plane_scheme": "md5(plane:dim)[:8]/2^31 - 1",
        "epoch": 0,
    }
    _write_batch(corpus, path, meta, mode, vec_col)
    _write_meta(corpus.sparkSession, path, meta, mode)
    return meta


def append_lsh_index(
    corpus_delta: DataFrame,
    path: str,
    id_col: str | None = None,
    vec_col: str = "embedding",
) -> dict:
    """Incrementally GROW an existing index with newly-arrived corpus
    rows — the other half of the 100 TB lifecycle (an index is built
    once, then extended per ingestion batch; full rebuilds are the
    exception). The delta is signed under the artifact's OWN stored
    parameters (dim / planes / tables from metadata — the caller
    cannot accidentally sign a batch under drifted geometry) and
    committed as a ledgered append batch (``_commit_rows``), seen
    whole or not at all; a crashed append re-runs whole. Returns the
    metadata, whose epoch is the batch's commit sequence.

    Id discipline is the caller's (same as any append-only store):
    re-appending rows already indexed yields duplicate (id, table)
    entries, which the probe's max-aggregate dedups per (query,
    neighbor) — correct scores, wasted candidate volume.
    Single-writer by contract, like every index mutator."""
    meta = _read_meta(corpus_delta.sparkSession, path, _LSH_KIND)
    _commit_rows(corpus_delta, path, meta, vec_col, id_col)
    return dict(meta, epoch=int(meta.get("epoch") or 0) + 1)


def load_lsh_index(
    spark: SparkSession,
    path: str,
    dim: int | None = None,
    num_planes: int | None = None,
    num_tables: int | None = None,
    as_of: int | None = None,
) -> tuple[DataFrame, dict]:
    """(index relation, metadata) from ``path``; raises a descriptive
    ``ValueError`` when the artifact's dim / planes / tables disagree
    with what the caller expects (pass None to accept the stored
    value — the metadata is the source of truth for the probe).
    ``as_of`` reconstructs the SNAPSHOT after that commit sequence
    (see ``_ledger_gated_parquet`` — history reaches the last
    compaction)."""
    meta = _read_meta(spark, path, _LSH_KIND)
    _check_drift(
        path,
        meta,
        {"dim": dim, "num_planes": num_planes, "num_tables": num_tables},
    )
    index = _gated_or_raise(spark, path, "index", as_of=as_of)
    tomb = _read_tombstones(spark, path, as_of=as_of)
    if tomb is not None:  # pending deletes: logical until compaction
        index = index.join(F.broadcast(tomb), "id", "left_anti")
    return index, meta


# ---------------------------------------------------------------------------
# IVF coarse-quantizer centroids
# ---------------------------------------------------------------------------


def save_centroids(
    spark: SparkSession,
    centroids: list[tuple[int, list[float]]],
    path: str,
    dim: int,
    seed: int | None = None,
    mode: str = "error",
) -> dict:
    """Persist a trained IVF coarse quantizer (k rows — dimension
    table sized, one parquet file written driver-side). ``seed``
    records the training seed so a probe pipeline pinned to a seed can
    refuse a quantizer trained under another one. ``mode`` is
    ``'overwrite'`` or ``'error'``/``'errorifexists'``; any other mode
    raises before anything is written."""
    _check_save_mode(mode)
    _write_centroid_rows(spark, centroids, dim, f"{path}/index", mode)
    meta = {
        "kind": _IVF_KIND,
        "version": FORMAT_VERSION,
        "dim": dim,
        "n_centroids": len(centroids),
    }
    if seed is not None:
        meta["seed"] = seed
    _write_meta(spark, path, meta, mode)
    return meta


def load_centroids(
    spark: SparkSession,
    path: str,
    dim: int | None = None,
    seed: int | None = None,
) -> tuple[list[tuple[int, list[float]]], dict]:
    """(centroids in ``ivf_assign``'s shape, metadata); raises on
    dim/seed drift or a corrupt artifact (row count != n_centroids,
    ragged vectors)."""
    meta = _read_meta(spark, path, _IVF_KIND)
    _check_drift(path, meta, {"dim": dim, "seed": seed})
    return _read_centroid_rows(spark, f"{path}/index", meta), meta


def _write_centroid_rows(
    spark: SparkSession,
    centroids: list[tuple[int, list[float]]],
    dim: int,
    data_path: str,
    mode: str,
) -> None:
    """The quantizer as one parquet file, written driver-side
    (``sources.fs.write_parquet``). Values are normalized to Python
    int/float first, so the file holds the exact doubles given."""
    bad = [cid for cid, vec in centroids if len(vec) != dim]
    if bad:
        raise ValueError(
            f"centroids {bad} have vectors of the wrong length for dim={dim}"
        )
    rows = [(int(cid), [float(x) for x in vec]) for cid, vec in centroids]
    write_parquet(
        spark,
        arrow_table(rows, "centroid_id int, centroid array<double>"),
        data_path,
        mode,
    )


def _read_centroid_rows(
    spark: SparkSession, data_path: str, meta: dict
) -> list[tuple[int, list[float]]]:
    rows = read_parquet(spark, data_path).to_pylist()
    if len(rows) != meta["n_centroids"]:
        raise ValueError(
            f"centroid artifact at {data_path} has {len(rows)} rows, metadata "
            f"says {meta['n_centroids']} — partial or corrupt write"
        )
    out = sorted(
        (int(r["centroid_id"]), [float(x) for x in r["centroid"]])
        for r in rows
    )
    ragged = [cid for cid, vec in out if len(vec) != meta["dim"]]
    if ragged:
        raise ValueError(
            f"centroid artifact at {data_path}: centroids {ragged} have vectors "
            f"shorter/longer than dim={meta['dim']}"
        )
    return out


# ---------------------------------------------------------------------------
# IVF postings index (coarse quantizer + assigned corpus, one artifact)
# ---------------------------------------------------------------------------


def save_ivf_index(
    corpus: DataFrame,
    path: str,
    centroids: list[tuple[int, list[float]]],
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int | None = None,
    store_dtype: str = "float64",
    codebooks: list[tuple[int, int, list[float]]] | None = None,
    mode: str = "error",
) -> dict:
    """Assign the corpus under ``centroids`` and persist the full IVF
    index — posting lists AND the quantizer — as ONE artifact.

    ``store_dtype`` picks the storage tier, recorded in metadata so
    probes, appends, stream ingest, and retrain are self-describing:

    * ``'float64'`` — exact vectors (the oracle-reproducible tier);
    * ``'int8'`` — symmetric per-vector scalar quantization
      (array<tinyint> + one double scale), ~8× less vector storage
      (FAISS SQ8);
    * ``'pq8'`` — product quantization (requires ``codebooks`` from
      ``sample_pq_codebooks``/``fit_pq_codebooks``): m small ints +
      one reconstruction norm per vector — the FAISS-IVFPQ model,
      the tier that makes a 100 TB embedding corpus's index fit a
      disk budget. The codebooks are persisted INSIDE the artifact
      (codes are only meaningful under the codebooks that produced
      them — same rationale as the riding coarse quantizer).

    Cell assignment always runs on the float vectors; only storage
    and probe-time scoring see quantization, so quantized probes are
    approximate within (de)quantization error — recall bounds
    pytest-asserted, and the quantization arithmetic itself is
    oracle-proven cross-engine (v12/v13).

    ``save_centroids`` persists only the trained quantizer; every
    later session still re-assigns the whole corpus per run (a full
    scan plus a k-way argmin per row). At 100 TB the assignment IS
    the expensive half, so the production posture (FAISS IVF on disk)
    stores the posting lists: one row per vector — id, vector, its
    L2 norm, centroid_id — clustered on centroid_id (``_write_dirs``).
    The quantizer rides inside the artifact because postings are only
    meaningful under the centroids that assigned them; a probe can
    never pair them with a drifted quantizer.

    Assignment and PQ encoding run the BLAS matmul kernels, as every
    corpus-sized input does (ivf_assign_blas docstring; the expression
    assignment at 20k×64d×64c ran 290s).

    ``mode`` is ``'overwrite'`` or ``'error'``/``'errorifexists'``; any
    other mode raises before anything is written. Returns the metadata
    dict it wrote."""
    _check_save_mode(mode)
    spark = corpus.sparkSession
    _reset_lifecycle_state(spark, path, mode)
    meta = {
        "kind": _IVF_POSTINGS_KIND,
        "version": FORMAT_VERSION,
        "dim": dim,
        "n_centroids": len(centroids),
        "id_col": id_col,
        "store_dtype": store_dtype,
        "epoch": 0,
    }
    _write_batch(corpus, path, meta, mode, vec_col,
                 centroids=centroids, codebooks=codebooks)
    _write_centroid_rows(spark, centroids, dim, f"{path}/centroids", mode)
    if store_dtype == "pq8":
        ms = {m for m, _, _ in codebooks}
        js = {j for _, j, _ in codebooks}
        meta["pq_m"], meta["pq_k"] = len(ms), len(js)
        _write_codebook_rows(spark, codebooks, dim, f"{path}/codebooks", mode)
    if seed is not None:
        meta["seed"] = seed
    _write_meta(spark, path, meta, mode)
    return meta


def _write_codebook_rows(
    spark: SparkSession,
    codebooks: list[tuple[int, int, list[float]]],
    dim: int,
    data_path: str,
    mode: str,
) -> None:
    """The PQ codebooks as one parquet file, written driver-side like
    the centroids. The grid is validated at encode time
    (similarity._pq_codebook_relation); this persists exactly what
    encoded the postings."""
    rows = [(int(m), int(j), [float(x) for x in c]) for m, j, c in codebooks]
    write_parquet(
        spark, arrow_table(rows, "m int, j int, c array<double>"), data_path,
        mode,
    )


def _read_codebook_rows(
    spark: SparkSession, data_path: str, meta: dict
) -> list[tuple[int, int, list[float]]]:
    rows = read_parquet(spark, data_path).to_pylist()
    want = int(meta["pq_m"]) * int(meta["pq_k"])
    if len(rows) != want:
        raise ValueError(
            f"PQ codebook artifact at {data_path} has {len(rows)} rows, "
            f"metadata says m×k = {want} — partial or corrupt write"
        )
    return sorted(
        (int(r["m"]), int(r["j"]), [float(x) for x in r["c"]]) for r in rows
    )


def append_ivf_index(
    corpus_delta: DataFrame,
    path: str,
    id_col: str | None = None,
    vec_col: str = "embedding",
) -> dict:
    """Grow an existing IVF index with newly-arrived corpus rows,
    assigned under the artifact's OWN stored quantizer (the caller
    cannot accidentally mix assignments from drifted centroids).
    The ledger commit, the returned metadata, id discipline and the
    single-writer contract are as ``append_lsh_index``."""
    meta = _read_meta(corpus_delta.sparkSession, path, _IVF_POSTINGS_KIND)
    _commit_rows(corpus_delta, path, meta, vec_col, id_col)
    return dict(meta, epoch=int(meta.get("epoch") or 0) + 1)


def load_ivf_index(
    spark: SparkSession,
    path: str,
    dim: int | None = None,
    n_centroids: int | None = None,
    seed: int | None = None,
    as_of: int | None = None,
) -> tuple[DataFrame, list[tuple[int, list[float]]], dict]:
    """(postings relation, centroids, metadata) from ``path``; raises
    a descriptive ``ValueError`` on dim / n_centroids / seed drift or
    a corrupt quantizer (row count != n_centroids, ragged vectors).
    For a ``pq8`` artifact the persisted codebooks ride back inside
    the metadata dict (key ``_codebooks``) so ``probe_ivf_index``
    can reconstruct without extra plumbing. ``as_of`` reconstructs
    the snapshot after that commit sequence
    (``_ledger_gated_parquet``)."""
    meta = _read_meta(spark, path, _IVF_POSTINGS_KIND)
    _check_drift(
        path, meta, {"dim": dim, "n_centroids": n_centroids, "seed": seed}
    )
    centroids = _read_centroid_rows(spark, f"{path}/centroids", meta)
    if meta.get("store_dtype") == "pq8":
        meta = dict(
            meta,
            _codebooks=_read_codebook_rows(spark, f"{path}/codebooks", meta),
        )
    postings = _gated_or_raise(spark, path, "index", as_of=as_of)
    tomb = _read_tombstones(spark, path, as_of=as_of)
    if tomb is not None:  # pending deletes: logical until compaction
        postings = postings.join(F.broadcast(tomb), "id", "left_anti")
    return postings, centroids, meta


def retrain_ivf_index(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    n_centroids: int | None = None,
    seed: int = 42,
    max_iter: int = 20,
    sample_fraction: float | None = None,
    mode: str = "error",
) -> dict:
    """Rebuild the IVF index at ``src_path`` under a FRESHLY-TRAINED
    quantizer, into ``dst_path`` — the action ``ivf_index_stats``'
    report calls for when append drift has skewed the cells (rising
    imbalance / empty_cells across epochs). Fits seeded Spark ML
    KMeans on the index's own postings (``sample_fraction`` bounds
    the training scan at corpus scale), re-assigns every posting
    under the new centroids, and writes a complete new artifact;
    the source is read-only throughout, so probes can keep serving
    from it until the caller swaps paths — the blue/green cutover a
    100 TB index needs (FAISS retrains the same way: new quantizer,
    full re-add). ``n_centroids`` defaults to the source's. Returns
    the new artifact's metadata. Retraining a quantized artifact
    trains and re-assigns on the DE-quantized vectors (the float
    originals are gone by design) and keeps the dtype; a ``pq8``
    artifact keeps its codebooks too — retrain refits the COARSE
    quantizer, not the product codebooks (rebuild from the float
    corpus to refit those). ``mode`` is as ``save_ivf_index``'s,
    checked before the training scan."""
    from workhop2_etl_spark.operators.similarity import fit_centroids

    _check_save_mode(mode)
    postings, _, meta = load_ivf_index(spark, src_path)
    postings, vec = _decoded_postings(postings, meta)
    corpus = postings.select(
        F.col("id").alias(meta["id_col"]), vec.alias("embedding")
    )
    cents = fit_centroids(
        corpus,
        int(n_centroids or meta["n_centroids"]),
        seed=seed,
        max_iter=max_iter,
        sample_fraction=sample_fraction,
    )
    return save_ivf_index(
        corpus,
        dst_path,
        cents,
        dim=int(meta["dim"]),
        id_col=meta["id_col"],
        seed=seed,
        store_dtype=meta.get("store_dtype", "float64"),
        codebooks=meta.get("_codebooks"),
        mode=mode,
    )


def ivf_index_stats(postings: DataFrame, meta: dict) -> DataFrame:
    """One-row health report over an IVF postings relation — the
    observability half of the append lifecycle. Appends assign under
    the FROZEN quantizer, so as the data distribution drifts the cell
    populations skew; ``imbalance`` (largest cell ÷ uniform share)
    and ``empty_cells`` rising across epochs is the retrain-and-
    rebuild signal, and ``max_cell`` bounds the worst probe's scan.
    One shuffle (cell counts), dimension-sized aggregate — safe at
    any corpus scale.

    Columns: n_vectors, cells_total (from metadata — counts cells
    the quantizer could assign, so empty cells are visible),
    cells_used, empty_cells, max_cell, mean_cell (over USED cells,
    2dp), imbalance (max_cell ÷ n_vectors/cells_total, 2dp)."""
    total = int(meta["n_centroids"])
    cells = postings.groupBy("centroid_id").agg(F.count("*").alias("__n"))
    return (
        cells.agg(
            # coalesce: a just-created EMPTY artifact (health-checked
            # before its first ingest) reports zeros, not NULLs
            F.coalesce(F.sum("__n"), F.lit(0)).cast("long").alias("n_vectors"),
            F.count("*").cast("long").alias("cells_used"),
            F.coalesce(F.max("__n"), F.lit(0)).cast("long").alias("max_cell"),
            F.round(F.coalesce(F.avg("__n"), F.lit(0.0)), 2).alias("mean_cell"),
        )
        .withColumn("cells_total", F.lit(total).cast("long"))
        .withColumn("empty_cells", (F.col("cells_total") - F.col("cells_used")))
        .withColumn(
            "imbalance",
            F.when(
                F.col("n_vectors") > 0,
                F.round(
                    F.col("max_cell") / (F.col("n_vectors") / F.col("cells_total")),
                    2,
                ),
            ).otherwise(F.lit(0.0)),
        )
        .select(
            "n_vectors", "cells_total", "cells_used", "empty_cells",
            "max_cell", "mean_cell", "imbalance",
        )
    )


def lsh_index_stats(index: DataFrame, meta: dict) -> DataFrame:
    """One-row health report over a multi-table LSH index relation.
    ``expected_candidates`` is the expected per-query candidate
    volume for a query distributed like the corpus — Σ bucket² ÷
    corpus size, summed over tables (a query lands in bucket b with
    probability n_b/n and then scans n_b rows) — the number that
    actually prices a probe; ``max_bucket`` bounds the worst one.
    One shuffle (bucket counts), bucket-sized aggregate."""
    n_tables = int(meta["num_tables"])
    buckets = index.groupBy("table_id", "sig").agg(F.count("*").alias("__n"))
    return (
        buckets.agg(
            # coalesce: empty artifacts report zeros, not NULLs
            F.coalesce(F.sum("__n") / n_tables, F.lit(0.0))
            .cast("long")
            .alias("n_vectors"),
            F.count("*").cast("long").alias("buckets_used"),
            F.coalesce(F.max("__n"), F.lit(0)).cast("long").alias("max_bucket"),
            F.round(F.coalesce(F.avg("__n"), F.lit(0.0)), 2).alias("mean_bucket"),
            F.round(
                F.coalesce(
                    F.sum(F.col("__n") * F.col("__n"))
                    / (F.sum("__n") / n_tables),
                    F.lit(0.0),
                ),
                2,
            ).alias("expected_candidates"),
        )
        .withColumn("tables", F.lit(n_tables).cast("long"))
        .select(
            "n_vectors", "tables", "buckets_used", "max_bucket",
            "mean_bucket", "expected_candidates",
        )
    )


def _gated_or_raise(
    spark: SparkSession, path: str, sub: str, as_of: int | None = None
) -> DataFrame:
    """``_ledger_gated_parquet`` for reads that need rows to exist:
    raises a descriptive error instead of returning None when the
    directory is missing, fileless, or every file belongs to an
    uncommitted ledgered batch (e.g. a seeded-empty artifact whose
    only ingest epoch crashed mid-rename — resume the stream)."""
    rel = _ledger_gated_parquet(spark, path, sub, as_of=as_of)
    if rel is None:
        hint = (
            f" at snapshot as_of={as_of} (every data file belongs to a "
            "later or uncommitted batch — an artifact seeded empty has "
            "no base files, so its earliest readable snapshot is its "
            "first commit)" if as_of is not None else ""
        )
        raise ValueError(
            f"index at {path} has no COMMITTED data under {sub}/{hint} — "
            "either nothing was ever written, or every file belongs "
            "to an uncommitted (crashed / in-flight) ledgered batch; "
            "resume or replay the writer before reading"
        )
    return rel


def _ledger_gated_parquet(
    spark: SparkSession, path: str, sub: str, as_of: int | None = None
):
    """Parquet relation at ``<path>/<sub>`` with UNCOMMITTED ledgered
    batches hidden — the artifact's reader-side MVCC. A delete batch
    or a stream epoch becomes visible at its ledger marker
    (operators/ledger.py), so a reader racing the renames, or loading
    after a mid-rename crash, never sees decremented stats with the
    victims' tf rows still visible (delete), nor a batch's tf rows
    without its df/stats partials (append, stream ingest). When no
    file is hidden the plain directory read is used (identical scan,
    partition discovery and parquet pushdown). Returns None when the
    directory is missing or nothing is visible.

    ``as_of`` (SNAPSHOT READS): additionally hide committed batches
    whose marker records a commit sequence GREATER than ``as_of`` —
    the load then reconstructs the artifact exactly as it stood after
    commit ``as_of`` (each marker carries the metadata epoch its batch
    wrote, a total order under the single-writer contract). Markers
    without a sequence stay visible under any ``as_of``. History
    reaches back to the last ``compact_index`` (compaction folds
    batches into base files, physically — the Delta-VACUUM analog): a
    snapshot before it raises (the ledger's fold rule)."""
    files, hid = ledger.visible_files(spark, path, sub, as_of)
    if not files:  # e.g. a replay swept a crashed batch's files
        return None
    if hid:
        return readers.read_parquet(spark, *files)
    return readers.read_parquet(spark, f"{path}/{sub}")


def _settle_ledger_for_compaction(
    spark: SparkSession, path: str, subs
) -> None:
    """Bring the ledger of the artifact at ``path``, whose batches write
    ``subs``, to a state a compaction may fold (``compact_index`` and
    the stream sinks' ``incremental.compact_sink``). Compaction reads
    data dirs DIRECTLY (not through the marker-gated loader — it
    rewrites whole dirs), so:

    - an UNCOMMITTED stream epoch (renamed files or a staging dir
      without a marker) stops it: its renamed rows would fold into the
      compacted files, where the epoch's replay would duplicate them.
      The replay assumes its own renamed files are the only copies, so
      sweeping them could race a concurrent resume; the stream must
      converge first;
    - an uncommitted append or delete batch's files are swept: they
      were never reader-visible, and its replay (same label) restages
      whole — an append from its delta, a delete from the
      post-compaction live state;
    - a committed epoch's leftover staging (crash between marker and
      sweep) is swept, and so is every append or delete batch's
      staging dir (committed or not: a replay of the label restages).

    Single-writer by contract, like every mutator here."""
    pending = ledger.uncommitted(spark, path, subs)
    for b, files in pending.items():
        if b.kind == ledger.STREAM:
            raise ValueError(
                f"index at {path} has files from an UNCOMMITTED stream "
                f"epoch ({files[0]}; marker ledger/{b.marker} absent) — "
                "resume the stream to convergence (or remove the epoch's "
                "files if the stream is abandoned) before compacting, else "
                "the epoch's replay would duplicate rows"
            )
    staged = ledger.staging_dirs(spark, path)
    for b in staged:
        if b.kind == ledger.STREAM and not ledger.committed(spark, path, b):
            raise ValueError(
                f"index at {path} has an uncommitted stream ingest epoch "
                f"({b.staging}) — resume the stream to convergence (or "
                "remove the staging dir if the stream is abandoned) before "
                "compacting, else the epoch's replay would duplicate rows"
            )
    for b in staged:
        delete(spark, join(path, b.staging))
    for files in pending.values():  # only labelled batches are left
        for f in files:
            delete(spark, f, False)


def _read_tombstones(spark: SparkSession, path: str, as_of: int | None = None):
    """Tombstoned row ids at ``path`` (one column, named after the
    relation's own id column: 'id' for the postings kinds, 'doc_id'
    for the lexical kind) or None when no COMMITTED deletes are
    pending (uncommitted batches are marker-gated invisible — see
    ``_ledger_gated_parquet``). Every loader anti-joins this
    relation; ``compact_index`` purges the rows physically and clears
    the directory. ``as_of`` restricts to deletes committed at or
    before that sequence (snapshot reads)."""
    return _ledger_gated_parquet(spark, path, "tombstones", as_of=as_of)


def delete_from_index(
    spark: SparkSession,
    path: str,
    ids,
    batch: str | None = None,
) -> str:
    """Delete rows by id from a persisted index — crash-safe,
    idempotent, and (for the lexical kind) bit-exactly equivalent to
    rebuilding on the surviving documents.

    ``ids``: a one-column DataFrame or a Python list of ids (the type
    must match the indexed id column). Deletion is logical until the
    next ``compact_index``: a TOMBSTONE batch lands under
    ``<path>/tombstones/`` and every loader anti-joins it (broadcast
    — the tombstone set between compactions is a small fraction of
    the corpus by contract; compact when it is not). For the lexical
    kind the batch additionally appends NEGATIVE df / stats partials
    derived from the victims' own live tf rows, so the loader's
    sum-of-partials stays exactly the single-shot aggregate over the
    survivors — the same additivity that powers appends, run in
    reverse (deletion needs no re-read of the corpus).

    The batch commits through the ledger (operators/ledger.py), like
    a stream epoch: a committed label short-circuits, a replay of a
    half-renamed batch deletes its own files and restages from live
    state, and the tombstones and negative partials become visible to
    readers together, at the marker, or not at all. ``batch``
    defaults to the next ``auto-NNNNNN`` label (max existing auto
    sequence + 1 — explicit labels live in their own namespace and
    can never collide with or be replayed by an auto-labelled call);
    pass an explicit one to make retries of a caller-level job
    idempotent.

    Semantics (SQL DELETE over the rows present now): ids not
    present — or already deleted — contribute nothing, because
    victims are derived from the LIVE relation; double-deletes are
    no-ops, and deleting an id that only arrives LATER does not
    reserve a tombstone against it. One id-discipline rule carries
    over from appends: do NOT re-ingest a deleted id until a
    compaction has purged its tombstone — the tombstone cannot
    distinguish the new row from the deleted one (it would be
    suppressed), and for the lexical kind the re-ingest's positive
    partials would desynchronize df from the visible tf rows. The
    same FAISS rule: remove_ids, merge/compact, then re-add.

    Returns ``'committed'`` or ``'skipped'`` (batch already in the
    ledger). Single-writer by contract, like append and compact."""
    meta = _read_meta_any_kind(spark, path, verb="delete from")
    lay = _LAYOUTS[meta["kind"]]

    def id_relation(live: DataFrame) -> DataFrame:
        if isinstance(ids, DataFrame):
            return ids.toDF(lay.id_col).distinct()
        # a Python list becomes a local relation typed by the indexed
        # id column, deduplicated on the driver
        return local_relation(
            spark,
            [(i,) for i in dict.fromkeys(ids)],
            StructType(
                [StructField(lay.id_col, live.schema[lay.id_col].dataType)]
            ),
        )

    def stage(staging: str) -> None:
        tomb = _read_tombstones(spark, path)
        data = _gated_or_raise(spark, path, lay.data)
        live = (
            data.join(F.broadcast(tomb), lay.id_col, "left_anti")
            if tomb is not None else data
        )
        victims = live.join(
            F.broadcast(id_relation(data)), lay.id_col, "left_semi"
        )
        writes = [_Write(victims.select(lay.id_col).distinct(),
                         f"{staging}/tombstones", one_file=True)]
        if meta["kind"] == _LEXICAL_KIND:
            # negative partials over the victims' OWN rows: df loses
            # one per (term, victim doc); stats lose the victim count
            # and their Σ dl. Victim rows are a small fraction of the
            # corpus by the same contract that lets tombstones
            # broadcast, so the three writes share them persisted.
            neg_df = victims.groupBy("term").agg(
                (-F.count(F.lit(1))).alias("df")
            )
            neg_stats = _doc_stats(victims).select(
                (-F.col("n_docs")).alias("n_docs"),
                (-F.col("sum_dl")).alias("sum_dl"),
            )
            writes[:0] = [
                _Write(neg_df, f"{staging}/df", one_file=True),
                _Write(neg_stats, f"{staging}/stats", one_file=True),
            ]
        _write_dirs(spark, [writes], "overwrite", shared=victims)

    if batch is None:
        batch = ledger.auto_label(spark, path, ledger.DELETE)
    return ledger.commit(
        spark, path, ledger.Batch(ledger.DELETE, batch), meta,
        (*lay.partials, "tombstones"),
        stage,
    )


def compact_index(
    spark: SparkSession,
    path: str,
    num_partitions: int | None = None,
) -> dict:
    """Rewrite an appended index back into its clustered layout —
    the maintenance half of the append lifecycle (FAISS merges
    segments; Delta/Iceberg call this OPTIMIZE/rewriteDataFiles).

    Every ``append_*_index`` batch and stream epoch lands as its OWN
    parquet files, clustered only within the batch: after many ingest
    epochs the artifact is a small-file pile — at 100 TB, thousands
    of sub-row-group files per append schedule. Compaction rewrites
    the data dir on its kind's cluster keys as ``num_partitions``
    files (default: current shuffle-partition setting), in the
    freshly-built layout (``_write_dirs``), without touching row
    content: a probe before and after compaction is row-identical
    (pytest-asserted).

    Single-writer, stop-the-world by contract, and crash-safe by
    construction: each data dir (``index``, or the lexical kind's
    ``tf``, ``df`` and ``stats``) stages on its own, all of them
    concurrently, into ``<dir>.compacting`` (one full write —
    the postings are never written twice), then swaps in with
    filesystem metadata-only operations (delete old dir, rename
    staging). A crash before the staged ``_SUCCESS`` marker leaves the
    live dir untouched and the dead staging dir is discarded on the
    next run; a crash inside the swap window is detected on the next
    run (staging committed) and the swap completes WITHOUT re-reading
    the data dir — the one sequence that must never happen is
    recompacting a half-replaced data dir. Readers must
    not hold the path open across a compaction outside a
    transactional table format. Bumps the metadata epoch; returns
    the metadata plus ``files_before`` / ``files_after`` so callers
    and tests can see the layout actually collapsed.
    """
    meta = _read_meta_any_kind(spark, path, verb="compact")
    # uncommitted ledgered batches settle first (swept, or compaction
    # refuses); then the pending COMMITTED delete tombstones purge
    # PHYSICALLY here (every loader anti-joined them logically until
    # now); the tombstone dir clears after every data dir has swapped —
    # a crash in between leaves tombstones pointing at already-purged
    # rows, whose anti-join is a no-op, so any intermediate state stays
    # load-correct
    _settle_ledger_for_compaction(spark, path, _BATCH_SUBS)
    if not data_files(spark, join(path, "tombstones")):
        delete(spark, join(path, "tombstones"))  # only deletes populate it
    tomb = _read_tombstones(spark, path)
    counts = _compact_dirs(
        spark,
        [(f"{path}/{sub}", *spec) for sub, *spec in _compact_specs(meta, tomb)],
        num_partitions,
    )
    before = [fb for fb, _ in counts]
    before_total = None if None in before else sum(before)
    after_total = sum(fa for _, fa in counts)

    if tomb is not None:  # every dir swapped: the purge is physical
        delete(spark, join(path, "tombstones"))

    meta = dict(meta, epoch=int(meta.get("epoch") or 0) + 1)
    _write_meta(spark, path, meta, "overwrite")
    return dict(meta, files_before=before_total, files_after=after_total)


def _compact_specs(meta: dict, tomb: DataFrame | None) -> list:
    """Per-dir specs (subdir, cluster keys, transform, one-file flag)
    that rewrite the artifact at ``meta`` into its freshly-built layout
    with the tombstoned ids ``tomb`` purged — what ``compact_index``
    writes in place and ``restore_index`` writes to a new path. The
    data dir re-clusters; the lexical df and stats FOLD their
    per-batch signed partials into one net record each (append
    partials positive, delete partials negative — the loader
    aggregates either way, so the fold is load-equivalent while
    collapsing thousands of batch files; terms fully deleted net to
    df ≤ 0 and are dropped, as a rebuild would)."""
    lay = _LAYOUTS[meta["kind"]]

    def purge(d: DataFrame) -> DataFrame:
        return d.join(F.broadcast(tomb), lay.id_col, "left_anti")

    specs = [(lay.data, lay.keys, purge if tomb is not None else None, False)]
    if meta["kind"] == _LEXICAL_KIND:
        specs += [
            ("df", lay.keys, _fold_df, True),
            ("stats", (), _fold_stats, True),
        ]
    return specs


def _compact_dirs(
    spark: SparkSession, dirs: list, num_partitions: int | None
) -> list[tuple[int | None, int]]:
    """Stage-and-swap data dirs (the crash-safe core of
    ``compact_index``): each ``(data dir, keys, transform, one_file)``
    stages into ``<dir>.compacting`` (one full write; ``transform``,
    when given, rewrites the relation on the way and must be
    load-equivalent), then swaps in with metadata-only delete+rename.
    The dirs stage concurrently, then swap one by one. A crash before a
    staged ``_SUCCESS`` leaves its live dir untouched (dead staging
    discarded next run); a crash inside the swap window is detected
    (staging committed) and the swap completes WITHOUT re-reading the
    possibly half-deleted data dir. Returns (files_before | None on
    crash-recovery, files_after) per dir."""
    writes, before = [], []
    for data, keys, transform, one_file in dirs:
        staging = f"{data}.compacting"
        if exists(spark, f"{staging}/_SUCCESS"):
            before.append(None)  # crash recovery: old layout already gone
            continue
        # an uncommitted leftover from a crash mid-stage: the live data
        # dir is intact — discard it and compact normally
        delete(spark, staging)
        before.append(len(data_files(spark, data)))
        rel = readers.read_parquet(spark, data)
        writes.append(_Write(transform(rel) if transform else rel, staging,
                             keys, one_file))
    _write_dirs(spark, [writes], "overwrite", num_partitions)

    # every staged copy is complete and durable; swap each in with
    # metadata-only filesystem ops (both re-runnable after a crash)
    for data, *_ in dirs:
        delete(spark, data)
        rename_or_raise(spark, f"{data}.compacting", data)
    return [
        (fb, len(data_files(spark, data))) for (data, *_), fb in zip(dirs, before)
    ]


def restore_index(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    as_of: int | None = None,
    mode: str = "error",
    num_partitions: int | None = None,
) -> dict:
    """Materialize a SNAPSHOT of the index at ``src_path`` as a fresh
    artifact at ``dst_path`` — the rollback/clone verb completing the
    ``as_of`` time-travel story (Delta's RESTORE, made blue/green:
    the source stays read-only and keeps serving, like
    ``retrain_ivf_index``). ``as_of=None`` clones the CURRENT state —
    a physical copy with pending tombstones purged and partials
    folded, i.e. a compacted clone.

    The restored artifact is a NEW LIFE: base files only, in the
    kind's freshly-built clustered layout, with an empty ledger and
    no tombstones — its loads and probes are bit-exactly those of
    ``load_*(src_path, as_of=N)`` (parquet round-trips doubles
    exactly; the lexical df/stats folds are integer sums), and every
    lifecycle verb (append / ingest / delete / compact / snapshot)
    starts from scratch on it. History semantics are the loader's:
    ``as_of`` orders the ledgered batches (appends, stream epochs,
    deletes) by their recorded commit sequence and reaches back to
    the last compaction.

    At scale this is one clustered write of the snapshot's surviving
    rows (the same shuffle ``compact_index`` pays) plus
    dimension-sized sidecar writes — no driver-side row movement.
    Refuses ``dst_path == src_path``: an in-place restore would
    destroy the history it is reading (restore next to, then swap at
    the catalog level). ``mode`` is ``'overwrite'`` or
    ``'error'``/``'errorifexists'``; any other mode raises before
    anything is written. Returns the metadata written."""
    _check_save_mode(mode)
    if src_path.rstrip("/") == dst_path.rstrip("/"):
        raise ValueError(
            f"restore_index target equals the source ({src_path}) — an "
            "in-place restore would destroy the history it reads; "
            "restore to a new path and swap at the catalog level"
        )
    meta = _read_meta_any_kind(spark, src_path, verb="restore")
    _reset_lifecycle_state(spark, dst_path, mode)
    tomb = _read_tombstones(spark, src_path, as_of=as_of)
    # the compaction specs over the snapshot; the writes read
    # DIFFERENT source dirs and write different target dirs, so the
    # lexical kind's dimension-sized fold jobs back-fill the clustered
    # tf rewrite's straggler tail instead of queuing behind it
    writes = []
    for sub, keys, transform, one_file in _compact_specs(meta, tomb):
        rel = _gated_or_raise(spark, src_path, sub, as_of=as_of)
        writes.append(_Write(transform(rel) if transform else rel,
                             f"{dst_path}/{sub}", keys, one_file))
    _write_dirs(spark, [writes], mode, num_partitions)
    if meta["kind"] == _IVF_POSTINGS_KIND:
        # the quantizer (and pq8 codebooks) ride the artifact —
        # the snapshot's postings are only meaningful under them
        centroids = _read_centroid_rows(
            spark, f"{src_path}/centroids", meta
        )
        _write_centroid_rows(
            spark, centroids, int(meta["dim"]), f"{dst_path}/centroids",
            mode,
        )
        if meta.get("store_dtype") == "pq8":
            codebooks = _read_codebook_rows(
                spark, f"{src_path}/codebooks", meta
            )
            _write_codebook_rows(
                spark, codebooks, int(meta["dim"]),
                f"{dst_path}/codebooks", mode,
            )

    out = {k: v for k, v in meta.items() if k != "_codebooks"}
    out["epoch"] = 0
    _write_meta(spark, dst_path, out, mode)
    return out


def index_changes(
    spark: SparkSession,
    path: str,
    from_seq: int = 0,
    to_seq: int | None = None,
) -> DataFrame:
    """The CHANGELOG of ledgered mutations between two commit
    sequences — the CDC feed a downstream consumer (cache invalidator,
    replica, audit) tails instead of diffing snapshots: one row per
    (commit_seq, op, id) with ``op`` ∈ {'insert', 'delete'}, covering
    committed batches with ``from_seq < seq <= to_seq`` (``to_seq``
    defaults to the current metadata epoch). Events, not a net diff —
    a document inserted at seq 2 and deleted at seq 5 appears twice,
    exactly as it happened.

    Reads ONLY the selected batches' own files (each ledgered batch
    renames in under its batch-owned names), so the changelog costs
    the CHANGE volume, never a corpus scan — at 100 TB, tailing a day
    of epochs reads a day of epoch files. The id column carries the
    artifact's own id name ('doc_id' for the lexical kind, 'id' for
    the postings kinds); for the lexical kind an insert means the
    document contributed ≥1 posting (empty-token docs never enter the
    index, matching the loader's n_docs).

    Scope is the ledger's: append batches and stream-ingest epochs
    (inserts) and delete batches. The base save is the artifact's
    INITIAL state, not a change (start tailing from the seq you
    snapshotted); compaction folds batch files into base files, so —
    by the same fold rule as ``as_of`` (operators/ledger.py) — history
    reaches back to the last compaction, and asking past it raises
    rather than under-reporting. Legacy (pre-sequence, empty) markers
    carry no order: they raise while their batch's files are live, and
    are skipped once a compaction has folded those files into the base
    state, so compacting once adopts the sequenced format going
    forward."""
    meta = _read_meta_any_kind(spark, path, verb="read changes from")
    lay = _LAYOUTS[meta["kind"]]
    if to_seq is None:
        to_seq = int(meta.get("epoch") or 0)
    if from_seq > to_seq:
        raise ValueError(
            f"index_changes needs from_seq <= to_seq, got "
            f"({from_seq}, {to_seq})"
        )

    ledger.check_unfolded(spark, path, as_of=from_seq)
    batches = []
    for b, seq in ledger.commits(spark, path):
        if seq is None:
            if not any(
                ledger.batch_files(spark, path, sub, b) for sub in _BATCH_SUBS
            ):
                continue  # a compaction folded it into the base state
            raise ValueError(
                f"ledger marker {b.marker} at {path} carries no commit "
                "sequence (legacy pre-snapshot format or a crash "
                "while writing the marker) — the changelog needs a "
                "total order; compact the index and tail from there"
            )
        if from_seq < seq <= to_seq:
            batches.append((seq, b))

    parts: list[DataFrame] = []
    for seq, b in sorted(batches):
        op, sub = (
            ("delete", "tombstones") if b.kind == ledger.DELETE
            else ("insert", lay.data)
        )
        files = ledger.batch_files(spark, path, sub, b)
        ids = readers.read_parquet(spark, *files).select(lay.id_col).distinct()
        parts.append(
            ids.select(
                F.lit(seq).cast("long").alias("commit_seq"),
                F.lit(op).alias("op"),
                lay.id_col,
            )
        )
    if not parts:
        rel = _gated_or_raise(spark, path, lay.data)
        return (
            rel.select(
                F.lit(0).cast("long").alias("commit_seq"),
                F.lit("").alias("op"),
                lay.id_col,
            ).limit(0)
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def check_index(spark: SparkSession, path: str) -> DataFrame:
    """Consistency check (fsck) over a persisted index artifact — the
    invariants every lifecycle verb maintains, re-verified from the
    bytes on disk. One row:

    - ``kind`` / ``epoch`` — identity;
    - ``n_live`` — reader-visible rows (marker-gated, tombstones
      anti-joined): tf rows for the lexical kind, postings otherwise;
    - ``n_tombstones`` — pending logical deletes (compact when large);
    - ``n_uncommitted_batches`` — ledgered batches with renamed files
      but no marker (crashed or in-flight writers; readers don't see
      them — resume/replay to converge);
    - ``n_orphan_staging`` — leftover staging dirs (a ledgered
      batch's, see operators/ledger.py, or a ``*.compacting`` one) from
      crashed writers: harmless to readers, swept or completed by their
      verb's replay;
    - ``consistent`` + ``problems`` — kind-specific invariants:
      lexical: the loader's folded df/stats partials must equal a
      recount over the visible tf rows (the additivity every append/
      delete/stream epoch preserves); IVF: every posting's cell must
      exist in the riding quantizer; LSH: every table_id within the
      recorded geometry.

    Cost is one corpus-relation aggregate plus dimension-sized reads —
    the honest fsck price; run it on the maintenance cadence, not per
    probe. Read-only, safe against a live artifact (it sees the last
    committed state, like any reader)."""
    meta = _read_meta_any_kind(spark, path, verb="check")
    lay = _LAYOUTS[meta["kind"]]
    problems: list[str] = []

    n_orphans = len(ledger.staging_dirs(spark, path)) + sum(
        1 for name in list_child_dirs(spark, path)
        if name.endswith(".compacting")
    )
    n_uncommitted = len(ledger.uncommitted(spark, path, _BATCH_SUBS))

    rel = _ledger_gated_parquet(spark, path, lay.data)
    tomb = _read_tombstones(spark, path)
    n_tomb = int(tomb.count()) if tomb is not None else 0
    if rel is None:
        n_live = 0
        problems.append(f"no committed data under {lay.data}/")
    else:
        live = (
            rel.join(F.broadcast(tomb), lay.id_col, "left_anti")
            if tomb is not None else rel
        )
        n_live = int(live.count())
        if meta["kind"] == _LEXICAL_KIND:
            # the loader's folded partials vs a recount over visible tf
            got_df_rel = _ledger_gated_parquet(spark, path, "df")
            if got_df_rel is None:  # tampered: the loader would raise
                problems.append("df/ missing or every partial uncommitted")
            else:
                got_df = _fold_df(got_df_rel)
                want_df = live.groupBy("term").agg(
                    F.count(F.lit(1)).alias("df")
                )
                bad_terms = int(
                    got_df.join(want_df, "term", "full_outer")
                    .filter(~got_df["df"].eqNullSafe(want_df["df"]))
                    .count()
                )
                if bad_terms:
                    problems.append(
                        f"df partials disagree with visible tf on "
                        f"{bad_terms} term(s)"
                    )
            got_stats_rel = _ledger_gated_parquet(spark, path, "stats")
            if got_stats_rel is None:
                problems.append("stats/ missing or every partial uncommitted")
            else:
                got_stats = _fold_stats(got_stats_rel).collect()[0]
                want_stats = _doc_stats(live).collect()[0]
                if (int(got_stats.n_docs), int(got_stats.sum_dl)) != (
                    int(want_stats.n_docs), int(want_stats.sum_dl)
                ):
                    problems.append(
                        f"stats partials sum to (n_docs={got_stats.n_docs}, "
                        f"sum_dl={got_stats.sum_dl}) but visible tf recounts "
                        f"to (n_docs={want_stats.n_docs}, "
                        f"sum_dl={want_stats.sum_dl})"
                    )
        elif meta["kind"] == _IVF_POSTINGS_KIND:
            try:
                cents = _read_centroid_rows(spark, f"{path}/centroids", meta)
            except Exception as ex:  # noqa: BLE001 — fsck reports, not raises
                problems.append(f"quantizer unreadable: {ex}")
                cents = []
            if meta.get("store_dtype") == "pq8":
                try:
                    _read_codebook_rows(spark, f"{path}/codebooks", meta)
                except Exception as ex:  # noqa: BLE001
                    problems.append(f"pq codebooks unreadable: {ex}")
            known = {cid for cid, _ in cents}
            orphan_cells = (
                [
                    r.centroid_id
                    for r in live.select("centroid_id").distinct().collect()
                    if r.centroid_id not in known
                ]
                if cents
                else []  # unreadable quantizer is already the headline
            )
            if orphan_cells:
                problems.append(
                    f"postings reference {len(orphan_cells)} cell(s) "
                    "absent from the riding quantizer "
                    f"(e.g. {sorted(orphan_cells)[:3]})"
                )
        else:  # LSH geometry
            nt = int(meta["num_tables"])
            bad = int(
                live.filter(
                    (F.col("table_id") < 0) | (F.col("table_id") >= nt)
                ).count()
            )
            if bad:
                problems.append(
                    f"{bad} signed row(s) outside the recorded "
                    f"num_tables={nt} geometry"
                )

    row = (
        str(meta["kind"]),
        int(meta.get("epoch") or 0),
        n_live,
        n_tomb,
        n_uncommitted,
        n_orphans,
        not problems,
        "; ".join(problems),
    )
    return local_relation(
        spark,
        [row],
        "kind string, epoch long, n_live long, n_tombstones long,"
        " n_uncommitted_batches long, n_orphan_staging long,"
        " consistent boolean, problems string",
    )


def _read_meta_any_kind(
    spark: SparkSession, path: str, verb: str = "compact"
) -> dict:
    """Metadata of whichever index kind (``_LAYOUTS``) lives at
    ``path``; refuses other artifacts — e.g. a centroids-only artifact
    is one file, with nothing to ``verb``."""
    meta = _read_meta(spark, path, expect_kind="*")
    if meta["kind"] not in _LAYOUTS:
        allowed = " and ".join(repr(k) for k in _LAYOUTS)
        raise ValueError(
            f"artifact at {path} is kind={meta['kind']!r} — only "
            f"{allowed} indexes {verb}"
        )
    return meta


__all__ = [
    "FORMAT_VERSION",
    "save_lsh_index",
    "append_lsh_index",
    "load_lsh_index",
    "probe_lsh_index",
    "save_centroids",
    "load_centroids",
    "save_ivf_index",
    "append_ivf_index",
    "load_ivf_index",
    "probe_ivf_index",
    "compact_index",
    "delete_from_index",
    "restore_index",
    "index_changes",
    "check_index",
    "retrain_ivf_index",
    "ivf_index_stats",
    "lsh_index_stats",
]
