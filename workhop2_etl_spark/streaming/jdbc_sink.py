"""Transactional exactly-once streaming sink into a JDBC database.

The parquet/epoch sinks in this package get exactly-once from
idempotent file layouts; an OPERATIONAL database (the reference
serves its final table out of MySQL, dags/etl_grammy_spotify.py:374)
offers something stronger — a real transaction. This sink uses it:

1. each micro-batch is written DISTRIBUTED (every Spark partition a
   JDBC connection, batched inserts) into a scratch staging table,
   overwritten per attempt so a crashed attempt leaves no residue;
2. the driver then applies ONE database transaction containing
   (a) ``MERGE`` staging → target keyed on ``keys`` and (b) an
   ``INSERT`` of the batch id into a ledger table
   ``<table>_EPOCHS`` — committed together, atomically;
3. on foreachBatch replay (at-least-once delivery: restart after a
   crash replays the in-flight batch) the ledger row makes the batch
   a no-op BEFORE any write happens.

The batch ids are the stream checkpoint's, so the stream first binds
the ledger to its checkpoint (``_bind_checkpoint``).

Crash anywhere before the commit → neither merge nor ledger row
exist, the replay redoes both; crash after → the replay skips. This
holds even for payloads that are NOT naturally idempotent (deltas,
counters), which pure upsert-replay sinks can't promise.

Scale: the only driver-side database work is the MERGE statement
itself (executed in-database, no rows move through the driver) and
two point lookups; all row transfer is the parallel staging write.
At 100 TB of *stream history* the per-batch staging volume is the
trigger interval's worth of rows, not the table size.

SQL dialect contract: the sink speaks standard SQL:2003 —
``MERGE``, double-quoted identifiers, ``CREATE TABLE … AS … WITH NO
DATA`` — which covers Derby (tested here), PostgreSQL, Oracle, and
DB2. MySQL needs a dialect adapter (backtick quoting,
``INSERT … ON DUPLICATE KEY UPDATE``, ``CREATE TABLE … LIKE``);
the transaction/ledger protocol itself is engine-agnostic.
"""

from __future__ import annotations

import re

from pyspark.sql import SparkSession

from workhop2_etl_spark.operators.ledger import checkpoint_binding
from workhop2_etl_spark.sources.readers import read_parquet
from workhop2_etl_spark.sources.writers import write_jdbc
from workhop2_etl_spark.streaming.drain import drain


def _exec(conn, sql: str) -> None:
    st = conn.createStatement()
    try:
        st.execute(sql)
    finally:
        st.close()


def _column(conn, sql: str) -> list:
    """The first column of the rows ``sql`` selects (NULL as None)."""
    st = conn.createStatement()
    try:
        rs, out = st.executeQuery(sql), []
        while rs.next():
            out.append(rs.getObject(1))
        return out
    finally:
        st.close()  # closes its result set too


def _check_identifier(table: str) -> None:
    """The generated names (table, _STAGE, _EPOCHS, _STREAM) are
    interpolated UNQUOTED so the database's identifier folding matches
    the folding-aware ``_table_exists`` probe; a mixed-case or reserved
    name would need quoting everywhere at once, so it is refused."""
    if not re.fullmatch(r"[A-Za-z][A-Za-z0-9_]*", table):
        raise ValueError(
            f"jdbc sink target {table!r} is not a plain SQL identifier; "
            "quoted/mixed-case targets need a dialect adapter"
        )


def _table_exists(conn, table: str) -> bool:
    """Existence probe that respects the database's identifier
    folding: Derby/Oracle store unquoted names upper-cased,
    PostgreSQL lower-cased — probing only one folding would
    re-CREATE (and crash on) an existing table elsewhere. The
    metadata pattern arguments are LIKE patterns, so '_' in the
    generated names (T_STAGE, T_EPOCHS) must be escaped, and the
    search is pinned to the connection's current schema — an
    unescaped cross-schema probe can match a DIFFERENT table and
    skip a CREATE this schema actually needs."""
    meta = conn.getMetaData()
    if meta.storesUpperCaseIdentifiers():
        name = table.upper()
    elif meta.storesLowerCaseIdentifiers():
        name = table.lower()
    else:
        name = table
    esc = meta.getSearchStringEscape()
    pattern = name.replace("_", esc + "_").replace("%", esc + "%")
    schema = conn.getSchema()
    rs = meta.getTables(None, schema, pattern, None)
    try:
        return bool(rs.next())
    finally:
        rs.close()


def _connect(spark, url: str, jdbc_options: dict):
    """Driver-side control connection with the SAME credentials the
    distributed staging write uses (Spark-style ``user``/``password``
    options; any other option keys are writer-only)."""
    props = spark._jvm.java.util.Properties()
    for k in ("user", "password"):
        if k in jdbc_options:
            props.setProperty(k, str(jdbc_options[k]))
    return spark._jvm.java.sql.DriverManager.getConnection(url, props)


def _q(col: str) -> str:
    """Quote a column identifier the way Spark's JDBC writer created
    it (case-preserving double quotes)."""
    return '"' + col.replace('"', '""') + '"'


def jdbc_upsert_batch(
    batch_df,
    epoch_id: int,
    url: str,
    table: str,
    keys: list[str],
    **jdbc_options: str,
) -> bool:
    """Apply one micro-batch transactionally; returns False if the
    batch id was already committed (replay no-op).

    Split out from the stream wiring so tests (and backfills) can
    drive it directly with synthetic epoch ids.
    """
    spark = batch_df.sparkSession
    _check_identifier(table)
    staging, ledger = f"{table}_STAGE", f"{table}_EPOCHS"
    conn = _connect(spark, url, jdbc_options)
    try:
        # --- bookkeeping DDL (idempotent, autocommitted) ---
        if not _table_exists(conn, ledger):
            _exec(conn, f"CREATE TABLE {ledger} (batch_id BIGINT PRIMARY KEY)")
        # Batch ids commit in order, so in same-checkpoint operation
        # the only id that can legitimately arrive already-committed
        # is the TOP one (crash after DB commit, before the Spark
        # checkpoint commit). An id strictly below the ledger's max —
        # committed or not — means the stream's checkpoint no longer
        # matches this ledger (deleted checkpoint restarting at 0, or
        # a second pipeline sharing the target): skipping would
        # silently drop every new batch, so fail loudly instead. A new
        # checkpoint whose batch 0 meets a ledger at 0 is caught
        # before the stream starts (``_bind_checkpoint``).
        top = _column(conn, f"SELECT MAX(batch_id) FROM {ledger}")[0]
        if top is not None:
            if int(epoch_id) == top:
                return False  # replay of the in-flight batch: no-op
            if int(epoch_id) < top:
                raise RuntimeError(
                    f"ledger {ledger} is at batch {top} but the stream "
                    f"delivered batch {epoch_id}: the checkpoint does not "
                    "match this ledger (checkpoint lost, or another "
                    "pipeline shares the target) — refusing to silently "
                    "skip new data"
                )

        # --- distributed staging write (scratch; crash-safe via overwrite) ---
        write_jdbc(batch_df, url, staging, mode="overwrite", **jdbc_options)
        if not _table_exists(conn, table):
            _exec(conn, f"CREATE TABLE {table} AS SELECT * FROM {staging} WITH NO DATA")

        # --- the transaction: merge + ledger row commit together ---
        cols = list(batch_df.columns)
        non_keys = [c for c in cols if c not in keys]
        on = " AND ".join(f"t.{_q(k)} = s.{_q(k)}" for k in keys)
        insert_cols = ", ".join(_q(c) for c in cols)
        insert_vals = ", ".join(f"s.{_q(c)}" for c in cols)
        matched = (
            "WHEN MATCHED THEN UPDATE SET "
            + ", ".join(f"{_q(c)} = s.{_q(c)}" for c in non_keys)
            if non_keys
            else ""
        )
        conn.setAutoCommit(False)
        _exec(
            conn,
            f"MERGE INTO {table} t USING {staging} s ON ({on}) {matched} "
            f"WHEN NOT MATCHED THEN INSERT ({insert_cols}) VALUES ({insert_vals})",
        )
        _exec(conn, f"INSERT INTO {ledger} (batch_id) VALUES ({int(epoch_id)})")
        conn.commit()
        return True
    except Exception:
        try:
            conn.rollback()
        except Exception as rb_ex:  # noqa: BLE001
            # Swallowing is correct here: the original exception is
            # about to propagate and must not be masked by a rollback
            # failure on an already-broken connection (close() below
            # releases it either way; the ledger row was not
            # committed, so a replay redoes the whole batch).
            print(f"jdbc_sink: rollback after failed merge also failed: {rb_ex}")
        raise
    finally:
        conn.close()


def _bind_checkpoint(
    spark, url: str, table: str, checkpoint_dir: str, jdbc_options: dict
) -> None:
    """Bind the ledger table ``<table>_EPOCHS`` to the checkpoint by
    the rule of ``ledger.bind_stream``: the binding digest
    (``checkpoint_binding``) is the one row of ``<table>_STREAM``, and
    a ledger holding batches bound to another checkpoint, or to none,
    raises before any batch runs."""
    _check_identifier(table)
    epochs, bound_to = f"{table}_EPOCHS", f"{table}_STREAM"
    mine = checkpoint_binding(checkpoint_dir)
    conn = _connect(spark, url, jdbc_options)
    try:
        if not _table_exists(conn, bound_to):
            _exec(conn, f"CREATE TABLE {bound_to} (binding VARCHAR(64) NOT NULL)")
        bound = set(_column(conn, f"SELECT binding FROM {bound_to}"))
        if mine not in bound and _table_exists(conn, epochs) and _column(
            conn, f"SELECT COUNT(*) FROM {epochs}"
        )[0]:
            raise ValueError(
                f"JDBC ledger {epochs} holds batches of another checkpoint "
                f"than {checkpoint_dir}, whose batch ids restart at 0 and "
                "would be skipped as replays: resume with the original "
                "checkpoint, or write to a new table"
            )
        # one autocommitted statement each: never a moment unbound
        if not bound:
            _exec(conn, f"INSERT INTO {bound_to} (binding) VALUES ('{mine}')")
        elif bound != {mine}:
            _exec(conn, f"UPDATE {bound_to} SET binding = '{mine}'")
    finally:
        conn.close()


def stream_upsert_to_jdbc(
    spark: SparkSession,
    parquet_path: str,
    url: str,
    table: str,
    keys: list[str],
    checkpoint_dir: str,
    **jdbc_options: str,
) -> None:
    """Replay a parquet directory as a bounded stream (availableNow)
    into a JDBC table with transactional exactly-once upserts.

    Same source/trigger contract as ``stream_upsert_to_parquet``
    (streaming/drain.py); re-running with the same checkpoint adds
    nothing, and a replayed in-flight batch is skipped by the ledger
    even if its merge had already committed. The ledger table is
    bound to ``checkpoint_dir`` first (``_bind_checkpoint``): a
    different checkpoint raises before any batch runs, naming it.
    """
    schema = read_parquet(spark, parquet_path).schema
    _bind_checkpoint(spark, url, table, checkpoint_dir, jdbc_options)

    def apply_batch(batch_df, epoch_id: int) -> None:
        jdbc_upsert_batch(batch_df, epoch_id, url, table, keys, **jdbc_options)

    drain(spark, parquet_path, schema, checkpoint_dir, apply_batch)
