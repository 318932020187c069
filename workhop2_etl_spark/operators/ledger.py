"""The ledger of a persisted artifact's batch commits: one commit path
for every verb that changes an artifact in multi-file batches, and
the one place that knows how those batches are named.

The ``append_*_index`` verbs commit an append batch (a delta's rows,
plus positive df/stats partials for the lexical kind) and
``index_stream.ingest_epoch`` a stream epoch (the same for one
micro-batch), both through ``index_store._commit_rows``;
``index_store.delete_from_index`` commits a delete batch (tombstones,
plus negative partials). The stream sinks commit each micro-batch as
a stream epoch of a sink artifact: a metadata record (kind, format
version, epoch) and one sub per kind (``SINKS``):

- ``stream-rollup`` (``streaming/windows.py::stream_rollup_to_parquet``):
  ``partials``, one combinable rollup partial per epoch;
- ``neardup-docs`` and ``neardup-bands``
  (``streaming/dedup_stream.py::stream_neardup_ingest``): ``docs``,
  the surviving documents, and ``bands``, their LSH band rows;
- ``join-rows`` (``operators/incremental.py::apply_join_delta``):
  ``rows``, for each of a join view's two sides and the view.

Under the artifact root ``<path>``:

- append or delete batch ``<label>`` (kind ``append`` or ``delete``):
  files ``<sub>/<kind>-<label>-NNNNN.parquet``, marker
  ``ledger/<kind>-<label>``, staging dir ``<kind>.<label>``;
- stream epoch ``e``: files ``<sub>/stream-<e:012d>-NNNNN.parquet``,
  marker ``ledger/epoch-<e:012d>``, staging dir ``ingest.epoch-<e:012d>``.

Other names under ``ledger/`` are not batches: ``_stream-<digest>``
binds the artifact to the checkpoint of the stream that feeds it
(``bind_stream``). Every ledgered stream sink is bound — the index
ingest, the rollup, the near-dup sinks and the join views — because a
stream epoch id is the checkpoint's batch id: a fresh checkpoint
restarts them at 0, and step 1 below would silently skip its batches
as already committed. The JDBC sink binds its ledger table by the
same digest (``checkpoint_binding``).

Files with no batch name are base files (a save's, a compaction's,
and an append's from before appends were ledgered).

Labels may contain ``-``: a file belongs to the batch whose tag is its
whole name minus the kind and the trailing file number, never to a
batch whose tag is a prefix.

``commit`` runs the protocol that makes a batch exactly-once and
atomic for readers:

1. a batch whose marker exists is committed: a replay sweeps its
   staging leftover and returns ``'skipped'``;
2. files a crashed attempt of THIS batch already renamed in are
   deleted, so its live file set is rebuilt whole from fresh staging;
3. the caller stages the batch under ``<staging>/<sub>/``;
4. the staged files rename into ``<path>/<sub>/`` under batch-owned
   names;
5. the marker is written, holding the commit sequence (the metadata
   epoch + 1). Its existence is the commit point: readers hide the
   files of a batch without a marker, so a reader racing the renames
   or loading after a crash sees the whole batch or none of it;
6. staging is swept and the metadata epoch bumped to the sequence.

A marker that exists but holds no sequence (a crash between creating
and writing it, or one written before markers carried sequences) is
committed at an unknown point: ``as_of`` snapshot reads always show
it.

A compaction folds every committed batch's files into base files
(files with no batch name); the markers stay, so a replay of a folded
batch still skips. A snapshot — as of a commit sequence, or through a
stream epoch — that must hide a folded batch PREDATES THE FOLD: its
rows are in the base files, so ``visible_files`` raises rather than
answer with the folded state. Single writer by contract, like every
index mutator. All I/O goes through sources/fs.py, so the artifact may
live on any Hadoop filesystem."""

from __future__ import annotations

import hashlib
import os
import re
from typing import NamedTuple

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession

from workhop2_etl_spark.sources.fs import (
    data_files,
    delete,
    exists,
    join,
    list_child_dirs,
    list_names,
    mkdirs,
    read_bytes,
    rename_or_raise,
    write_bytes,
)

APPEND = "append"
DELETE = "delete"
STREAM = "stream"

#: the stream-sink kinds, each with the one sub its epochs write
SINKS = {
    "stream-rollup": "partials",
    "neardup-docs": "docs",
    "neardup-bands": "bands",
    "join-rows": "rows",
}

_FILE = re.compile(r"(append|delete|stream)-(.+)-\d+\.parquet")
_MARKER = re.compile(r"(append|delete)-(.+)|epoch-(\d+)")
_STAGING = re.compile(r"(append|delete)\.(.+)|ingest\.epoch-(.+)")


class Batch(NamedTuple):
    """One ledgered batch: ``kind`` is ``APPEND``, ``DELETE`` or
    ``STREAM``, ``tag`` its label or its zero-padded stream epoch."""

    kind: str
    tag: str

    @property
    def marker(self) -> str:
        return f"{'epoch' if self.kind == STREAM else self.kind}-{self.tag}"

    @property
    def staging(self) -> str:
        if self.kind == STREAM:
            return f"ingest.epoch-{self.tag}"
        return f"{self.kind}.{self.tag}"

    def file_name(self, i: int) -> str:
        return f"{self.kind}-{self.tag}-{i:05d}.parquet"


def stream_batch(epoch_id: int) -> Batch:
    return Batch(STREAM, f"{epoch_id:012d}")


def _parse_file(name: str) -> Batch | None:
    """The batch a data file belongs to, or None for a base file."""
    m = _FILE.fullmatch(name)
    return Batch(m[1], m[2]) if m else None


def _parse(pattern: re.Pattern, name: str) -> Batch | None:
    """The batch a marker (``_MARKER``) or staging dir (``_STAGING``)
    name belongs to."""
    m = pattern.fullmatch(name)
    if not m:
        return None
    return Batch(m[1], m[2]) if m[1] is not None else Batch(STREAM, m[3])


def parse_marker(name: str) -> Batch | None:
    return _parse(_MARKER, name)


def _name(file_path: str) -> str:
    return file_path.rsplit("/", 1)[-1]


def _markers(spark: SparkSession, path: str) -> set[str]:
    return set(list_names(spark, join(path, "ledger")))


def committed(spark: SparkSession, path: str, batch: Batch) -> bool:
    return exists(spark, join(path, "ledger", batch.marker))


def _commit_seq(spark: SparkSession, path: str, batch: Batch) -> int | None:
    """The commit sequence in ``batch``'s marker, or None when the
    marker holds none (or vanished under a racing delete)."""
    try:
        data = read_bytes(spark, join(path, "ledger", batch.marker))
    except Py4JJavaError:
        return None
    try:
        return int(data) if data else None
    except ValueError:
        return None


def commits(spark: SparkSession, path: str) -> list[tuple[Batch, int | None]]:
    """Every committed batch with its commit sequence."""
    return [
        (b, _commit_seq(spark, path, b))
        for b in map(parse_marker, sorted(_markers(spark, path)))
        if b is not None
    ]


def auto_label(spark: SparkSession, path: str, kind: str) -> str:
    """The next default ``kind`` label, ``auto-NNNNNN``: one past the
    highest committed auto sequence of that kind (not a count, so gaps
    and explicit labels never collide with a marker; a crashed batch's
    label is reused, and its commit sweeps the crashed files)."""
    seqs = [
        int(m[1])
        for b in map(parse_marker, _markers(spark, path))
        if b is not None and b.kind == kind
        and (m := re.fullmatch(r"auto-(\d+)", b.tag))
    ]
    return f"auto-{(max(seqs) + 1 if seqs else 0):06d}"


def batch_files(
    spark: SparkSession, path: str, sub: str, batch: Batch
) -> list[str]:
    """``batch``'s own files under ``<path>/<sub>``."""
    return [
        f for f in data_files(spark, join(path, sub))
        if _parse_file(_name(f)) == batch
    ]


def _after(
    spark: SparkSession, path: str, b: Batch,
    as_of: int | None, through: int | None,
) -> bool:
    """Whether committed batch ``b`` lies after a snapshot as of commit
    sequence ``as_of`` or through stream epoch ``through``."""
    if through is not None and b.kind == STREAM and int(b.tag) > through:
        return True
    return (
        as_of is not None
        and (seq := _commit_seq(spark, path, b)) is not None
        and seq > as_of
    )


def check_unfolded(
    spark: SparkSession, path: str,
    as_of: int | None = None, through: int | None = None,
) -> None:
    """Raise if the snapshot as of ``as_of`` or through ``through``
    predates a fold (module docstring): a committed batch after it has
    no file left in any dir of the artifact."""
    live = batches(spark, path, list_child_dirs(spark, path))
    for b in map(parse_marker, sorted(_markers(spark, path))):
        if b is not None and b not in live and _after(spark, path, b, as_of, through):
            at = f"as_of={as_of}" if as_of is not None else f"through epoch {through}"
            raise ValueError(
                f"snapshot {at} of {path} predates a fold: a compaction "
                f"folded batch {b.marker} into the base files, so that "
                "history was compacted away — read at or after the fold"
            )


def visible_files(
    spark: SparkSession, path: str, sub: str,
    as_of: int | None = None, through: int | None = None,
) -> tuple[list[str], bool]:
    """The data files under ``<path>/<sub>`` a reader sees, and whether
    any file was hidden. Hidden are the files of a batch without a
    marker and, in a snapshot, of a batch after it: one whose marker
    holds a sequence greater than ``as_of``, or a stream epoch greater
    than ``through``. A snapshot that predates a fold raises."""
    if as_of is not None or through is not None:
        check_unfolded(spark, path, as_of, through)
    files = data_files(spark, join(path, sub))
    owner = {f: _parse_file(_name(f)) for f in files}
    owners = set(owner.values()) - {None}
    if not owners:
        return files, False
    hidden = {
        b for b in owners
        if not committed(spark, path, b)
        or _after(spark, path, b, as_of, through)
    }
    visible = [f for f in files if owner[f] not in hidden]
    return visible, len(visible) < len(files)


def batches(spark: SparkSession, path: str, subs) -> dict[Batch, list[str]]:
    """The files under each ``<path>/<sub>`` of every batch, by batch."""
    out: dict[Batch, list[str]] = {}
    for sub in subs:
        for f in data_files(spark, join(path, sub)):
            if (b := _parse_file(_name(f))) is not None:
                out.setdefault(b, []).append(f)
    return out


def uncommitted(
    spark: SparkSession, path: str, subs
) -> dict[Batch, list[str]]:
    """The files under each ``<path>/<sub>`` of every batch without a
    marker, by batch."""
    return {
        b: fl for b, fl in batches(spark, path, subs).items()
        if not committed(spark, path, b)
    }


def staging_dirs(spark: SparkSession, path: str) -> list[Batch]:
    """The batches whose staging dir exists at the artifact root."""
    return [
        b for n in sorted(list_child_dirs(spark, path))
        if (b := _parse(_STAGING, n)) is not None
    ]


def commit(
    spark: SparkSession, path: str, batch: Batch, meta: dict, subs, stage
) -> str:
    """Commit ``batch`` into the artifact at ``path`` (protocol in the
    module docstring). ``stage(staging)`` writes the batch's files
    under ``<staging>/<sub>`` for each of ``subs``; ``meta`` is the
    artifact's metadata record. Returns ``'committed'`` or
    ``'skipped'`` (already committed)."""
    from workhop2_etl_spark.operators.index_store import _write_meta

    staging = join(path, batch.staging)
    if committed(spark, path, batch):
        delete(spark, staging)  # a crash between marker and sweep
        return "skipped"
    for sub in subs:
        for f in batch_files(spark, path, sub, batch):
            delete(spark, f, False)
    stage(staging)
    for sub in subs:
        mkdirs(spark, join(path, sub))
        for i, src in enumerate(data_files(spark, join(staging, sub))):
            rename_or_raise(spark, src, join(path, sub, batch.file_name(i)))
    seq = int(meta.get("epoch") or 0) + 1
    write_bytes(spark, join(path, "ledger", batch.marker), str(seq).encode("ascii"))
    delete(spark, staging)
    _write_meta(spark, path, dict(meta, epoch=seq), "overwrite")
    return "committed"


def _canon_checkpoint(checkpoint_dir: str) -> str:
    """Canonical identity of a checkpoint path for the binding digest.
    The binding guards against a DIFFERENT checkpoint (whose batch ids
    restart at 0 and collide with committed epochs); the SAME
    checkpoint referenced through an equivalent-but-unequal string
    (trailing slash, relative vs absolute, a symlinked parent) must
    therefore digest identically, or the resume raises a false
    'different checkpoint' error. Remote URIs (hdfs://, s3a://) only
    lose trailing slashes — resolving them needs the remote
    filesystem; local paths — bare or spelled as file: URIs, which
    Spark treats identically — resolve symlinks and relativity via
    realpath."""
    if checkpoint_dir.startswith("file:"):
        # file:///p, file:/p (and the rare file://host-less //p) all
        # name the local path /p to Hadoop's local filesystem
        return os.path.realpath("/" + checkpoint_dir[5:].lstrip("/"))
    if "://" in checkpoint_dir:
        return checkpoint_dir.rstrip("/") or checkpoint_dir
    return os.path.realpath(checkpoint_dir)


def _binding(checkpoint: str) -> str:
    return f"_stream-{hashlib.md5(checkpoint.encode()).hexdigest()[:12]}"


def checkpoint_binding(checkpoint_dir: str) -> str:
    """The binding of a stream sink to the checkpoint ``checkpoint_dir``:
    the digest of its canonical path, the same for every spelling of
    the same checkpoint."""
    return _binding(_canon_checkpoint(checkpoint_dir))


def bind_stream(
    spark: SparkSession, paths, checkpoint_dir: str, adopt: bool = False
) -> None:
    """Bind the artifacts at ``paths`` to the stream checkpoint
    ``checkpoint_dir`` (module docstring), or raise before any batch
    runs when one of them holds committed stream epochs bound to a
    different checkpoint. Every path is checked before any marker is
    written, so a refused run binds nothing.

    The binding is the digest of the canonical checkpoint path
    (``_canon_checkpoint``). A binding made before canonicalization
    digests the raw spelling; resuming with that spelling accepts it
    and writes the canonical marker beside it. A binding left on an
    artifact with no stream epoch is replaced silently: nothing
    committed can be skipped. ``adopt=True`` re-binds an artifact
    with committed epochs to the new checkpoint — for a deliberate
    migration whose source does not replay committed data."""
    mine = checkpoint_binding(checkpoint_dir)
    legacy = _binding(checkpoint_dir)
    drops = []
    for path in paths:
        entries = list_names(spark, join(path, "ledger"))
        bound = {e for e in entries if e.startswith("_stream-")}
        has_epochs = any(
            b is not None and b.kind == STREAM
            for b in map(parse_marker, entries)
        )
        drop = ()
        if has_epochs and not bound & {mine, legacy}:
            if not adopt:
                raise ValueError(
                    f"{path} has committed stream epochs bound to a "
                    f"different checkpoint than {checkpoint_dir} "
                    f"({'; '.join(sorted(bound)) or 'an untracked one'}). "
                    "A new checkpoint restarts batch ids at 0, so its "
                    "batches would collide with committed epochs and be "
                    "silently skipped. Resume with the original checkpoint "
                    "(path identity is canonicalized — trailing slashes, "
                    "relative prefixes, file: URIs and symlinks are already "
                    "ignored, so this really is a different checkpoint), or "
                    "write to a new sink dir; an index stream may instead "
                    "pass adopt_ledger=True to re-bind after verifying the "
                    "new source does not replay already-indexed data"
                )
            drop = bound
        elif not has_epochs and bound - {mine, legacy}:
            drop = bound
        drops.append((path, drop))
    for path, drop in drops:
        for e in drop:
            delete(spark, join(path, "ledger", e), False)
        write_bytes(spark, join(path, "ledger", mine), b"")
