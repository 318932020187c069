"""Storage-abstracted file operations via the Hadoop FileSystem API
(``spark._jvm.org.apache.hadoop.fs``).

The epoch-partitioned sinks (operators/incremental.py,
streaming/dedup_stream.py) need list / exists / rename / delete on the
table directory. Driver-local ``os.*`` only works when the table lives
on the driver's local disk; at 100 TB the table is on HDFS / S3 /
ABFS, where the same operations must go through the Hadoop FileSystem
for the path's scheme. These helpers resolve the filesystem from the
path URI and the session's Hadoop configuration, so a plain local
path, a ``file:/`` URI, and an ``hdfs://`` / ``s3a://`` / ``viewfs://``
URI all take the same code path.

The same surface carries the driver-side I/O of dimension-sized files:
``write_bytes`` / ``read_bytes`` move whole files through the
FileSystem's streams, and ``write_parquet`` / ``read_parquet`` put a
pyarrow table through them as one in-memory parquet file. Index
metadata, IVF centroids, PQ codebooks and empty seed saves use these,
so no Spark job runs for a file that lives on the driver anyway. Each
file is read in ONE call: through py4j a response above ~8 KB stalls
~44 ms, so chunked reads would pay that once per chunk.

Semantics note for object stores: ``rename`` is atomic on HDFS and
local file systems but is copy+delete on S3A. The commit protocols in
incremental.py are therefore designed so that *readers never depend on
rename atomicity* — every intermediate state (tmp dir present, old
dirs not yet deleted) still reads correctly, because readers ignore
underscore-prefixed dirs and superseded epoch/base generations.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def fs_and_path(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath


def exists(spark: SparkSession, path: str) -> bool:
    fs, p = fs_and_path(spark, path)
    return bool(fs.exists(p))


def list_names(spark: SparkSession, path: str) -> list[str]:
    """Child names of a directory ([] if it does not exist)."""
    fs, p = fs_and_path(spark, path)
    if not fs.exists(p):
        return []
    return [st.getPath().getName() for st in fs.listStatus(p)]


def list_child_dirs(spark: SparkSession, path: str) -> list[str]:
    """Names of child DIRECTORIES of ``path`` ([] if absent)."""
    fs, p = fs_and_path(spark, path)
    if not fs.exists(p):
        return []
    return [
        st.getPath().getName()
        for st in fs.listStatus(p)
        if st.isDirectory()
    ]


def has_data(spark: SparkSession, path: str) -> bool:
    """True when the directory exists and has any non-hidden child
    (Spark convention: names starting with ``_`` or ``.`` are
    metadata, not data)."""
    return any(
        not n.startswith(("_", ".")) for n in list_names(spark, path)
    )


def mkdirs(spark: SparkSession, path: str) -> None:
    fs, p = fs_and_path(spark, path)
    fs.mkdirs(p)


def rename(spark: SparkSession, src: str, dst: str) -> bool:
    fs, s = fs_and_path(spark, src)
    _, d = fs_and_path(spark, dst)
    return bool(fs.rename(s, d))


def rename_or_raise(spark: SparkSession, src: str, dst: str) -> None:
    """Publish-by-rename that FAILS LOUDLY: Hadoop's
    ``FileSystem.rename`` signals most failures (dst exists, src
    missing, object-store copy error) by returning false, not by
    throwing. A publish step that ignores that false and proceeds to
    delete its inputs destroys the only copy of the data — so
    commit-path renames must go through this wrapper."""
    if not rename(spark, src, dst):
        raise IOError(f"rename failed (publish aborted): {src} -> {dst}")


def delete(spark: SparkSession, path: str, recursive: bool = True) -> bool:
    fs, p = fs_and_path(spark, path)
    if not fs.exists(p):
        return False
    return bool(fs.delete(p, recursive))


def dir_bytes(spark: SparkSession, path: str) -> int:
    """Total on-disk bytes under ``path`` (recursive), via the
    FileSystem's content summary — works on local, HDFS, and
    object-store paths alike (an ``os.walk`` would silently report 0
    for any non-local URI)."""
    fs, p = fs_and_path(spark, path)
    return int(fs.getContentSummary(p).getLength())


def join(base: str, *parts: str) -> str:
    """URI-safe path join (os.path.join breaks ``scheme://`` paths on
    some platforms; Hadoop paths always use '/')."""
    out = base.rstrip("/")
    for part in parts:
        out = out + "/" + part.strip("/")
    return out


def write_bytes(spark: SparkSession, path: str, data: bytes) -> None:
    """Create (or replace) the file at ``path`` holding ``data``."""
    fs, p = fs_and_path(spark, path)
    out = fs.create(p, True)
    try:
        out.write(bytearray(data))
    finally:
        out.close()


def read_bytes(spark: SparkSession, path: str) -> bytes:
    """The whole file at ``path``, fetched in one py4j call."""
    fs, p = fs_and_path(spark, path)
    stream = fs.open(p)
    try:
        return bytes(stream.readAllBytes())
    finally:
        stream.close()


def data_files(spark: SparkSession, path: str) -> list[str]:
    """Paths of the non-hidden files directly under the directory
    ``path``, sorted by name ([] if it does not exist; Spark
    convention: ``_``/``.`` names are commit markers and checksums,
    not data)."""
    fs, p = fs_and_path(spark, path)
    if not fs.exists(p):
        return []
    return [
        st.getPath().toString()
        for st in sorted(fs.listStatus(p), key=lambda s: s.getPath().getName())
        if st.isFile() and not st.getPath().getName().startswith(("_", "."))
    ]


def write_parquet(spark: SparkSession, table, path: str, mode: str) -> None:
    """Write the pyarrow ``table`` as one snappy parquet part file of
    the directory ``path``, in the layout Spark's writer leaves
    (``part-00000-<uuid>-c000.snappy.parquet`` plus ``_SUCCESS``).
    ``mode``: ``'overwrite'`` replaces the directory,
    ``'error'``/``'errorifexists'`` raise ``FileExistsError`` if it
    exists."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    if mode not in ("overwrite", "error", "errorifexists"):
        raise ValueError(
            f"write mode must be 'overwrite', 'error' or 'errorifexists', "
            f"got {mode!r}"
        )
    fs, d = fs_and_path(spark, path)
    if fs.exists(d):
        if mode != "overwrite":
            raise FileExistsError(f"path {path} already exists (mode {mode!r})")
        fs.delete(d, True)
    sink = pa.BufferOutputStream()
    pq.write_table(table, sink, compression="snappy")
    write_bytes(
        spark,
        join(path, f"part-00000-{uuid.uuid4()}-c000.snappy.parquet"),
        sink.getvalue().to_pybytes(),
    )
    write_bytes(spark, join(path, "_SUCCESS"), b"")


def read_parquet(spark: SparkSession, path: str):
    """Every data file of the parquet directory ``path`` as one
    pyarrow table. Raises ``ValueError`` naming the path when the
    directory is missing or holds no data files, or a file does not
    decode (truncated or corrupt)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from py4j.protocol import Py4JJavaError

    files = data_files(spark, path)
    if not files:
        raise ValueError(f"no parquet data files under {path}")
    tables = []
    for f in files:
        try:
            tables.append(pq.read_table(pa.BufferReader(read_bytes(spark, f))))
        except (Py4JJavaError, pa.ArrowException, OSError) as ex:
            raise ValueError(f"unreadable parquet file {f}: {ex}") from ex
    return pa.concat_tables(tables)
