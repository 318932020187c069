"""Source readers — SURVEY.md §2.1 (S1–S3).

Every reader takes an explicit schema where the format can't carry
one (CSV): the reference infers dtypes from pandas (`pd.read_csv`,
dags/etl_grammy_spotify.py:43), which at scale means a full extra
pass and nondeterministic types. Inference stays available as a dev
fallback only.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
    header: bool = True,
    **options: str,
) -> DataFrame:
    """S1 — CSV scan (reference: dags/etl_grammy_spotify.py:43,85-86).

    With a declared schema the scan is single-pass and column-prunable;
    ``mode=PERMISSIVE`` keeps malformed rows as NULLs (the engine's
    null-first policy) instead of failing the job.
    """
    require_exists(path)
    reader = spark.read.option("header", str(header).lower()).option("mode", "PERMISSIVE")
    for k, v in options.items():
        reader = reader.option(k, v)
    if schema is not None:
        return reader.schema(schema).csv(path)
    return reader.option("inferSchema", "true").csv(path)


def read_parquet(spark: SparkSession, *paths: str) -> DataFrame:
    """Parquet scan of the files and directories ``paths`` — the
    engine's native interchange format. The schema travels in the
    footer and is resolved on the driver by ``_parquet_schema``, so
    building the frame runs no Spark job (a schema-less
    ``spark.read.parquet`` launches one per call to read that same
    footer). Partition columns of a hive-partitioned directory are
    discovered as usual; predicate pushdown and column pruning reach
    the row groups via Catalyst. Raises ``FileNotFoundError`` for a
    missing path and ``ValueError`` naming the path when there is no
    data file or the footer does not decode."""
    return spark.read.schema(_parquet_schema(spark, *paths)).parquet(*paths)


def _parquet_schema(spark: SparkSession, *paths: str) -> StructType:
    """The data schema Spark's non-merging inference gives the parquet
    files at ``paths``, resolved on the driver without a Spark job: the
    listing of Spark's file index (recursive; ``_``/``.`` names
    skipped, except partition dirs and summary files), then the footer
    of the first summary file or else of the first data file in path
    order, converted under the session's SQL conf. Spark-written files
    carry their Spark schema in the footer, which takes precedence."""
    from py4j.protocol import Py4JJavaError
    from pyspark.sql.types import _parse_datatype_json_string

    jvm = spark._jvm
    state = spark._jsparkSession.sessionState()
    conf = state.newHadoopConf()
    files = {}  # qualified path -> FileStatus
    pending = _stat(jvm.org.apache.hadoop.fs.Path, conf, paths)
    while pending:
        fs, st, qualified = pending.pop()
        if not st.isDirectory():
            files[qualified] = st
            continue
        for child in fs.listStatus(st.getPath()):
            child_path = child.getPath().toString()
            if _listed(_name(child_path)):
                pending.append((fs, child, child_path))
    rank = {name: i for i, name in enumerate(_SUMMARY_FILES)}
    first = min(
        files, key=lambda f: (rank.get(_name(f), len(rank)), f), default=None
    )
    if first is None:
        raise ValueError(f"no parquet data files under {', '.join(paths)}")
    st = files[first]
    pq = jvm.org.apache.spark.sql.execution.datasources.parquet
    try:
        footer = pq.ParquetFooterReader.readFooter(
            jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf),
            jvm.org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS,
        )
    except Py4JJavaError as ex:
        raise ValueError(f"unreadable parquet footer in {first}: {ex}") from ex
    schema = pq.ParquetFileFormat.readSchemaFromFooter(
        jvm.org.apache.parquet.hadoop.Footer(st.getPath(), footer),
        pq.ParquetToSparkSchemaConverter(state.conf()),
    )
    return _parse_datatype_json_string(schema.json())


def _stat(Path, conf, paths):
    """(FileSystem, FileStatus, qualified path) of each of ``paths``,
    in order. Paths that share a parent dir are stated with ONE
    ``listStatus`` of the parent (a reader handed a ledger's visible
    files passes one path per file); a path alone in its parent is
    stated directly. Raises ``FileNotFoundError`` for a missing
    path."""
    groups: dict[tuple[str, bool], list[int]] = {}
    for i, path in enumerate(paths):
        parent, sep, _ = path.rstrip("/").rpartition("/")
        shared = bool(sep and parent and not parent.endswith((":", "/")))
        groups.setdefault((parent, True) if shared else (path, False), []).append(i)
    out = [None] * len(paths)
    for (parent, shared), members in groups.items():
        if not shared or len(members) == 1:
            for i in members:
                jpath = Path(paths[i])
                fs = jpath.getFileSystem(conf)
                if fs.exists(jpath):
                    st = fs.getFileStatus(jpath)
                    out[i] = fs, st, st.getPath().toString()
            continue
        jparent = Path(parent)
        fs = jparent.getFileSystem(conf)
        listed = {}
        if fs.exists(jparent):
            for st in fs.listStatus(jparent):
                qualified = st.getPath().toString()
                listed[_name(qualified)] = fs, st, qualified
        for i in members:
            out[i] = listed.get(_name(paths[i].rstrip("/")))
    for path, got in zip(paths, out):
        if got is None:
            raise FileNotFoundError(f"source path does not exist: {path}")
    return out


#: parquet summary files, preferred over data files in this order
_SUMMARY_FILES = ("_common_metadata", "_metadata")


def _name(path: str) -> str:
    return path.rsplit("/", 1)[-1]


def _listed(name: str) -> bool:
    """Whether Spark's file index lists a child of this name: it skips
    ``_``/``.`` names (commit markers, checksums, staging) except
    partition dirs (``_k=v``) and parquet summary files, and files
    still being copied in."""
    if name.startswith(_SUMMARY_FILES):
        return True
    return not (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )


def read_json(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
    multiline: bool = False,
    **options: str,
) -> DataFrame:
    """JSON-lines scan (beyond the reference's CSV/JDBC surface —
    the interchange format every LLM-corpus pipeline actually ships).

    Same schema policy as CSV: declare it and the scan is single-pass;
    without one Spark runs a full inference pass first (dev only).
    ``multiline=False`` is the scalable layout — one JSON doc per
    line splits cleanly across executors; a multiline array cannot.
    """
    require_exists(path)
    reader = spark.read.option("mode", "PERMISSIVE")
    if multiline:
        reader = reader.option("multiLine", "true")
    for k, v in options.items():
        reader = reader.option(k, v)
    if schema is not None:
        return reader.schema(schema).json(path)
    return reader.json(path)


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str | None = None,
    query: str | None = None,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int = 8,
    **options: str,
) -> DataFrame:
    """S2 — JDBC scan (reference: dags/etl_grammy_spotify.py:56-58,
    full-table `pd.read_sql` over MySQL — single connection, single
    pass, whole table in driver memory).

    Spark-first version: pass ``partition_column``/bounds so the scan
    fans out over ``num_partitions`` parallel connections — the only
    way a JDBC source scales past one executor. Exactly one of
    ``table``/``query`` must be given.
    """
    if (table is None) == (query is None):
        raise ValueError("exactly one of table/query is required")
    reader = spark.read.format("jdbc").option("url", url)
    if table is not None:
        reader = reader.option("dbtable", table)
    else:
        reader = reader.option("query", query)
    if partition_column is not None:
        if table is None:
            raise ValueError("partitioned JDBC reads require dbtable (not query)")
        if lower_bound is None or upper_bound is None:
            raise ValueError("partition_column requires lower_bound/upper_bound")
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions))
        )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def read_binary_files(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    recursive: bool = True,
) -> DataFrame:
    """Raw-file ingestion for multimodal corpora — Spark's
    ``binaryFile`` source: one row per file with columns
    (path, modificationTime, length, content: binary).

    This is the step BEFORE the m1–m4 multimodal operators: image /
    audio / video shards on disk or object store become the opaque
    binary column those stages decode. ``glob`` filters by filename
    pattern at listing time (``*.jpg``) so non-matching files are
    never opened.

    Scale: Spark packs many small files into each task up to
    ``spark.sql.files.maxPartitionBytes``, but at 100 TB the listing
    itself is the bottleneck for millions of loose files — ingest once
    via this reader, then persist as parquet (payload + metadata
    columns) so every later pass gets footers, pruning, and sane
    partition sizes. Metadata-only queries should select
    (path, length) WITHOUT ``content`` — the column is only read when
    projected.
    """
    require_exists(path)
    reader = spark.read.format("binaryFile")
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    return reader.load(path)


def require_exists(path: str) -> None:
    """S3 — explicit pre-check with a clean error (reference:
    dags/etl_grammy_spotify.py:40-41) instead of a deep
    AnalysisException. Only checks local paths; object-store URIs are
    left to Spark."""
    if "://" not in path and not os.path.exists(path):
        raise FileNotFoundError(f"source path does not exist: {path}")
