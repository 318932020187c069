"""Small-file compaction — the table-maintenance op every long-lived
100 TB lake needs (streaming sinks, incremental upserts, and
per-trigger appends all fragment a table into thousands of tiny part
files; each file costs a task + open + footer read, so scan cost
degrades from bytes to file count).

``compact_parquet`` rewrites a parquet directory into
~``target_mb``-sized files, optionally range-clustered on sort keys
so min/max row-group statistics become selective (the poor man's
clustering: a filtered scan skips whole files via footer stats).

The file count is derived from the table's ACTUAL on-disk bytes, not
a guess — the same rule works at any scale. Output goes to a new
directory + atomic-ish swap is left to the caller / table format;
rewriting in place would lose the table on failure.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from workhop2_etl_spark.sources import fs
from workhop2_etl_spark.sources.readers import read_parquet


def plan_file_count(spark: SparkSession, path: str, target_mb: int = 128) -> int:
    """Number of output files so each is ~target_mb of the SOURCE's
    on-disk (compressed) bytes. Sized via the Hadoop FileSystem
    content summary so the same rule holds for local, HDFS, and
    object-store tables (an os.walk would report 0 bytes for any
    non-local URI and collapse the table into one file)."""
    return max(1, -(-fs.dir_bytes(spark, path) // (target_mb * 1024 * 1024)))


def compact_parquet(
    spark: SparkSession,
    src: str,
    dst: str,
    target_mb: int = 128,
    sort_by: list[str] | None = None,
) -> int:
    """Rewrite ``src`` parquet into ``dst`` as ~target_mb files.
    Returns the planned file count.

    With ``sort_by``: repartitionByRange + sortWithinPartitions, so
    each output file covers a tight key range and its row-group
    min/max stats prune filtered scans (data skipping). Without:
    a plain repartition (round-robin) that just fixes file sizes.
    """
    n = plan_file_count(spark, src, target_mb)
    df = read_parquet(spark, src)
    if sort_by:
        cols = [F.col(c) for c in sort_by]
        df = df.repartitionByRange(n, *cols).sortWithinPartitions(*cols)
    else:
        df = df.repartition(n)
    df.write.mode("overwrite").parquet(dst)
    return n
