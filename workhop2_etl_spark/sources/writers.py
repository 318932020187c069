"""Sink writers — SURVEY.md §2.1 (S4–S6).

All writers are partitioned-write capable (the reference writes
single CSV files from one process — dags/etl_grammy_spotify.py:326);
``single_file`` exists only for byte-level parity with it and must
never be used at scale.

S7, the reference's Google Drive upload of its final CSV
(dags/etl_grammy_spotify.py:332-359), is driver-side work on the
written path, not a Spark concern: it is left to the caller.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_csv(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    header: bool = True,
    single_file: bool = False,
) -> None:
    """S4 — CSV sink (reference: df.to_csv, dags/etl_grammy_spotify.py:50,66,326).

    Default is a directory of part files (one per partition — the
    scalable layout); ``single_file=True`` coalesces to 1 partition
    for parity with the reference's one-file output.
    """
    out = df.coalesce(1) if single_file else df
    out.write.option("header", str(header).lower()).mode(mode).csv(path)


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """Parquet sink — the engine's native checkpoint/export format.
    ``partition_by`` produces hive-style directory partitioning so
    downstream scans get partition pruning for free."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_json(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    compression: str | None = None,
) -> None:
    """JSON-lines sink — one doc per line, one part file per
    partition (the layout ``read_json`` splits in parallel)."""
    writer = df.write.mode(mode)
    if compression:
        writer = writer.option("compression", compression)
    writer.json(path)


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "overwrite",
    batch_size: int = 10_000,
    **options: str,
) -> None:
    """S5 — JDBC sink, overwrite (reference: df.to_sql(if_exists="replace"),
    dags/etl_grammy_spotify.py:374-375; dags/cargar_grammy.py:23-28).

    Writes in parallel from every partition with batched inserts —
    the reference funnels the whole table through one connection.
    Any DDL the target needs beforehand (the reference's CREATE
    DATABASE, :364-372 — S6) is driver-side work for the caller.
    """
    (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batch_size))
        .options(**options)
        .mode(mode)
        .save()
    )
