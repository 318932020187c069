"""SparkSession factory + testdata loaders.

Local runs use ``local[$SPARK_GRAFT_CPUS]`` (default all cores); the
same builder settings are what we would ship on a real cluster:
AQE on (runtime coalescing, skew-join splitting, dynamic broadcast),
shuffle partitions sized to the parallelism rather than the 200
default, Arrow enabled for any pandas interchange.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, TimestampType

from workhop2_etl_spark.sources.fs import fs_and_path
from workhop2_etl_spark.sources.readers import read_parquet

#: Tables the driver generates under /root/testdata/sf*/ (TESTDATA.md).
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.1"

#: Ceiling of the default driver heap.
MAX_DRIVER_MEMORY_MB = 16 * 1024


def driver_memory(physical_bytes: int | None = None) -> str:
    """``spark.driver.memory``: ``$SPARK_DRIVER_MEMORY`` when set, else
    half the machine's physical memory capped at 16g. A fixed 16g let
    the driver heap grow past what a 15 GB box had before collecting,
    and the kernel killed the JVM."""
    if os.environ.get("SPARK_DRIVER_MEMORY"):
        return os.environ["SPARK_DRIVER_MEMORY"]
    if physical_bytes is None:
        physical_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(physical_bytes // 2 >> 20, MAX_DRIVER_MEMORY_MB)}m"


def get_spark(app_name: str = "workhop2_etl_spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``shuffle_partitions`` defaults to the local parallelism — at
    cluster scale this would instead be sized to total cores (AQE
    coalesces small post-shuffle partitions either way, so erring
    high is safe).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    # Shuffle/spill scratch space: the root disk on CI-class boxes has
    # very slow fsync (a trivial 600k-row shuffle measured 14.7s vs
    # 0.6s on tmpfs). A real cluster puts local.dir on NVMe; tmpfs is
    # the local-mode equivalent. Falls back to the default if absent.
    local_dir = os.environ.get("SPARK_LOCAL_DIRS")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark-local"
    if shuffle_partitions is None:
        n = os.cpu_count() or 8
        shuffle_partitions = int(cpus) if cpus.isdigit() else n
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Let AQE size post-shuffle partitions purely by bytes. The
        # default parallelismFirst=true refuses to coalesce below the
        # cluster parallelism, which at small scale leaves dozens of
        # near-empty tasks per shuffle (measured 11.6s → 2.5s on a
        # 600k-row distinct). At 100 TB the advisory size, not the
        # partition count, is the thing to tune.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        # spark.sql.files.maxPartitionBytes stays at the 128 MB
        # default: a controlled best-of-3 A/B at sf0.1 (single ~11 MB
        # files) showed no measurable win from 16 MB splits — the
        # scans here are row-group-bound, not split-bound — and at
        # production scale 128-256 MB splits are the right answer.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # bounded-collect guards (`.limit(cap+1).collect()` on small
        # relations) otherwise run CollectLimit's incremental probe —
        # one job at 1 partition, then 4×, 16×... — costing 2-3 extra
        # job launches per guard. Sized to the parallelism (like
        # shuffle.partitions above), one job scans all partitions at
        # once, scale-adaptive by construction.
        .config("spark.sql.limit.initialNumPartitions", str(shuffle_partitions))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Shuffled-hash-vs-sort-merge was A/B'd both ways and
        # REJECTED: the static knob (preferSortMergeJoin=false) never
        # fired (the surviving SMJs sit on subplans with no usable
        # size estimates), and AQE's runtime conversion
        # (maxShuffledHashJoinLocalMapThreshold=64m) measurably HURT
        # (j3 1.1s → 2.3s, g6 2.7s → 6.7s min-of-4 back-to-back) —
        # the sort-merge sorts are cheaper here than per-partition
        # hash-map builds. Defaults kept deliberately.
        .config("spark.sql.session.timeZone", "UTC")
        # managed-table home for bucketed layouts (sources/bucketing.py);
        # a cluster deployment points this at the metastore warehouse
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/w2e_warehouse"),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def arrow_table(rows, schema: StructType | str):
    """``rows`` (positional tuples or ``Row``s) as a pyarrow Table
    typed by ``to_arrow_schema(schema)`` — the one row-to-Arrow
    conversion shared by ``local_relation`` and the driver-side
    parquet writer. Columns convert straight from Python values, not
    through pandas, so a nullable int column stays an int column and
    every double keeps its exact bits. Naive datetimes in TIMESTAMP
    columns are read as local time, as ``createDataFrame(list)``
    reads them."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    aschema = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(schema.fields)
    arrays = []
    for i, (col, field) in enumerate(zip(cols, schema.fields)):
        if isinstance(field.dataType, TimestampType):
            col = [v.astimezone() if v is not None else None for v in col]
        arrays.append(pa.array(list(col), type=aschema.field(i).type))
    return pa.Table.from_arrays(arrays, schema=aschema)


def local_relation(
    spark: SparkSession, rows, schema: StructType | str
) -> DataFrame:
    """A driver-side list of rows as a DataFrame whose plan is a
    ``LocalRelation`` — the one way to build a tiny driver-side
    relation in this engine.

    ``spark.createDataFrame(list)`` plans as a ``LogicalRDD``: every
    use of it runs ``defaultParallelism`` Python-worker tasks that do
    almost no work, and the planner has no size statistics for it,
    so it never auto-broadcasts and an empty one never folds away.
    An Arrow-built frame is a ``LocalRelation``: its rows travel
    inside the plan (no Python workers), it carries its exact size,
    and Catalyst prunes it when it is empty. Schema (DDL string or
    ``StructType``, nullability included) and rows equal the
    list-built frame's.

    The rows live on the driver, so every caller bounds them first:
    query-side relations through ``collect_bounded``, index geometry
    (planes, centroids, codebooks) by its parameters, delete ids by
    the caller's list, and report rows at one per rule or index."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    return spark.createDataFrame(arrow_table(rows, schema), schema)


def collect_bounded(df: DataFrame, cap: int, what: str) -> list:
    """The rows of ``df``, which must number at most ``cap`` — the one
    rule by which a relation that is bounded by contract (a probe's
    query side, its vocabulary-sized statistics) reaches the driver.
    One action reads at most ``cap + 1`` rows; more than ``cap``
    raises a ``ValueError`` naming ``what`` and the cap instead of
    running the caller's plan lazily or exhausting the driver."""
    rows = df.limit(cap + 1).collect()
    if len(rows) > cap:
        raise ValueError(
            f"{what} has more than {cap} rows; it must be the bounded "
            "relation — raise the cap explicitly if this is intentional"
        )
    return rows


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver-generated parquet table (lazy scan; column
    pruning + predicate pushdown reach the footer via Catalyst).

    `events.ts` has shipped in two physical spellings across driver
    testdata generations: TIMESTAMP(NANOS) — which the Spark parquet
    reader rejects, so it is read as raw nanos (legacy conf,
    runtime-settable) and floored to microseconds, the same
    `epoch_ns // 1000` convention the oracles use — and plain
    TIMESTAMP(MICROS), which Spark reads natively. Both normalize to
    TIMESTAMP_NTZ here so downstream code sees one type.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name != "events":
        return read_parquet(spark, path)
    from pyspark.sql import functions as F
    from pyspark.sql.types import TimestampNTZType

    if _events_ts_is_nanos(spark, path):
        # The legacy conf is consulted at EXECUTION time (per-file
        # footer conversion), not just at analysis, so it cannot be
        # restored while an events frame is alive; setting it only
        # when the footer actually spells TIMESTAMP(NANOS) keeps the
        # common micros generation from silently changing how every
        # other parquet read in the session decodes nanos columns.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        raw = read_parquet(spark, path)
        # integer `div`, not `/`: ns epochs (~1.7e18) overflow double's
        # 53-bit mantissa, so float division would corrupt microseconds.
        ts = _ntz_of_epoch_micros("ts div 1000")
    else:
        raw = read_parquet(spark, path)
        if isinstance(raw.schema["ts"].dataType, TimestampNTZType):
            # parquet isAdjustedToUTC=false read natively as NTZ
            # (inferTimestampNTZ) — already session-tz-independent
            ts = F.col("ts")
        else:
            # Read as an instant (a session with inferTimestampNTZ
            # off, or an adjusted-to-UTC generation). A plain
            # CAST(... AS TIMESTAMP_NTZ) renders the instant in the
            # SESSION timezone — under a non-UTC session every date
            # bucket downstream would shift. unix_micros is
            # tz-independent, so rebuild the UTC wall-clock exactly.
            ts = _ntz_of_epoch_micros("unix_micros(ts)")
    return raw.withColumn("ts", ts)


def _ntz_of_epoch_micros(us_expr: str):
    """TIMESTAMP_NTZ carrying the UTC wall-clock of an epoch-micros
    BIGINT expression, independent of ``spark.sql.session.timeZone``:
    pure interval arithmetic from the NTZ epoch, never an
    instant→wall cast (which renders in the session timezone). The
    sub-day remainder is < 8.64e10 µs, so the double seconds argument
    of make_dt_interval is exact to well under half a microsecond."""
    from pyspark.sql import functions as F

    return F.expr(
        "make_timestamp_ntz(1970, 1, 1, 0, 0, 0) + make_dt_interval("
        f"CAST(({us_expr}) DIV 86400000000 AS INT), 0, 0, "
        f"CAST(({us_expr}) % 86400000000 AS DOUBLE) / 1000000.0)"
    )


def _events_ts_is_nanos(spark: SparkSession, path: str) -> bool:
    """True when this testdata generation ships events.ts as
    TIMESTAMP(NANOS) — which Spark's reader rejects without the
    legacy nanos-as-long conf.

    Reads the footer of the dataset's first non-hidden data file
    on the driver: the file is found through the Hadoop FileSystem
    (recursively, so a partitioned layout works, on any scheme) and
    its footer read with parquet-mr. No Spark job runs and no session
    conf changes."""
    jvm = spark._jvm
    fs, root = fs_and_path(spark, path)
    if not fs.exists(root):
        return False
    depth = fs.makeQualified(root).depth()
    files = fs.listFiles(root, True)
    while True:
        if not files.hasNext():
            return False
        part = p = files.next().getPath()
        hidden = False
        while p.depth() > depth:  # the file and its dirs below root
            hidden = hidden or p.getName().startswith(("_", "."))
            p = p.getParent()
        if not hidden:
            break
    reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(
        jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            part, spark._jsc.hadoopConfiguration()
        )
    )
    try:
        schema = reader.getFooter().getFileMetaData().getSchema()
    finally:
        reader.close()
    if not schema.containsField("ts"):
        return False
    ann = schema.getType("ts").getLogicalTypeAnnotation()
    return (
        ann is not None
        and ann.getClass().getSimpleName() == "TimestampLogicalTypeAnnotation"
        and ann.getUnit().name() == "NANOS"
    )


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """All testdata tables as a dict of lazy DataFrames."""
    return {t: load_table(spark, sf_dir, t) for t in TESTDATA_TABLES}
