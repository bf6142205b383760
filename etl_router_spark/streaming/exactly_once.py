"""Per-epoch delivery: the one ``foreachBatch`` path and its markers.

Native file sinks are exactly-once through Spark's manifest log. Every
other streaming query is per-epoch: ``start_per_epoch`` starts it with
``per_epoch`` as its ``foreachBatch`` body. A per-epoch query is
at-least-once (an epoch whose writes completed but whose checkpoint
commit did not is replayed), or exactly-once per epoch with a marker
directory. The reference solves this with commit markers + idempotency
acks (``proto/sink.proto:26-30, 67-70``, ack ``DUPLICATE``
``source.proto:43-48``); the same idea here:

- ``per_epoch(write, marker_dir)`` writes an epoch, then commits its
  marker. A replayed epoch finds its marker and is skipped — write-once
  per epoch id, because Structured Streaming guarantees epoch ids are
  stable across replays of the same data.
- ``dedupe_idempotency(df, key)`` drops replayed records by
  idempotency key inside the stream (the record-level guard, e.g. after
  ``envelope.from_kafka`` which builds topic:partition:offset keys).
- ``jdbc_idempotent_writer`` keeps its epoch markers in the database
  it writes to.

Markers are one small file per epoch in ``marker_dir`` — same
durability class as the sink itself (put it next to the sink path so
both survive or vanish together).
"""

from __future__ import annotations

import os
import re
from typing import Any, Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

# SQL identifiers this module interpolates into raw statements (the
# marker-protocol SQL runs over plain java.sql, outside Spark's quoted
# writer path) — restrict to the unquoted-identifier grammar so a
# malicious/typo'd config can't smuggle SQL
_SQL_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")

# "table already exists" SQLStates: Derby X0Y32, MySQL/SQLServer 42S01,
# Postgres 42P07 — the ONLY failure CREATE TABLE is allowed to swallow
# (permission/schema/connection errors must propagate, not vanish)
_TABLE_EXISTS_SQLSTATES = frozenset({"X0Y32", "42S01", "42P07"})


def _check_ident(name: str, what: str, dotted: bool = False) -> str:
    """Validate a name against the unquoted-identifier grammar. With
    ``dotted=True`` a schema-qualified name (``schema.table``) is
    accepted by validating each dot-separated segment independently —
    the injection protection is identical, but configs that address a
    table through a schema prefix keep working."""
    segments = (name or "").split(".") if dotted else [name or ""]
    if not segments or not all(_SQL_IDENT.match(s) for s in segments):
        grammar = ("dot-separated ^[A-Za-z_][A-Za-z0-9_]*$ segments"
                   if dotted else "^[A-Za-z_][A-Za-z0-9_]*$")
        raise ValueError(
            f"{what} {name!r} is not a valid SQL identifier "
            f"(expected {grammar})")
    return name


def _like_escape(pattern: str, esc: str) -> str:
    """Escape JDBC metadata LIKE wildcards (``_`` matches any single
    char, ``%`` any run) with the driver's search-string escape, so a
    probe for ``etl_epochs`` cannot false-positive on ``ETLXEPOCHS``."""
    if not esc:
        return pattern
    return (pattern.replace(esc, esc + esc)
            .replace("_", esc + "_")
            .replace("%", esc + "%"))


def _jdbc_table_exists(conn, name: str) -> bool:
    """DB-agnostic existence probe via DatabaseMetaData. Spark's JDBC
    writer passes ``dbtable`` through UNQUOTED (the database applies
    its case fold — Derby/Postgres differ), so probe both casings.
    ``getTables`` treats its arguments as LIKE patterns, so wildcards
    are escaped AND the returned TABLE_NAME is compared back to the
    candidate — belt and braces against drivers whose
    ``getSearchStringEscape`` is empty/unsupported."""
    md = conn.getMetaData()
    try:
        esc = md.getSearchStringEscape() or ""
    except Exception:
        esc = ""
    schema, _, table = name.rpartition(".")
    for fold in (str, str.upper, str.lower):
        schema_pat = _like_escape(fold(schema), esc) if schema else None
        rs = md.getTables(None, schema_pat, _like_escape(fold(table), esc), None)
        try:
            while rs.next():
                if str(rs.getString("TABLE_NAME")).lower() == table.lower():
                    return True
        finally:
            rs.close()
    return False


def _sql_state(exc: BaseException) -> str | None:
    """SQLState of a py4j-wrapped java.sql.SQLException (walking the
    cause chain — Derby nests the stated exception)."""
    je = getattr(exc, "java_exception", None)
    while je is not None:
        try:
            state = je.getSQLState()
        except Exception:
            state = None
        if state:
            return str(state)
        try:
            je = je.getCause()
        except Exception:
            return None
    return None


def epoch_committed(marker_dir: str, epoch_id: int) -> bool:
    """A marker counts ONLY if it is complete: it must exist under its
    final name (tmp files never match — rename is the commit point)
    and carry the expected content. A corrupt/empty marker (crash
    mid-write with a non-atomic writer, disk-full truncation) is
    treated as NOT committed — the epoch re-runs, which at-least-once
    sinks tolerate, instead of silently dropping an epoch's data."""
    path = os.path.join(marker_dir, f"epoch-{epoch_id}")
    try:
        with open(path) as fh:
            return fh.read() == f"committed epoch {epoch_id}\n"
    except OSError:
        return False


def mark_epoch(marker_dir: str, epoch_id: int) -> None:
    """Crash-atomic marker write: content to a dot-tmp name, fsync the
    file, rename onto the final name, fsync the directory. A crash at
    any point leaves either no final-name marker or a complete one —
    a torn marker can never be observed under the committed name."""
    os.makedirs(marker_dir, exist_ok=True)
    final = os.path.join(marker_dir, f"epoch-{epoch_id}")
    tmp = os.path.join(marker_dir, f".epoch-{epoch_id}.tmp")
    fd = os.open(tmp, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    try:
        os.write(fd, f"committed epoch {epoch_id}\n".encode())
        os.fsync(fd)
    finally:
        os.close(fd)
    os.rename(tmp, final)
    dfd = os.open(marker_dir, os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)


def per_epoch(write: Callable[[DataFrame], None], marker_dir: str | None = None,
              persist: bool = True) -> Callable[[DataFrame, int], None]:
    """The ``foreachBatch`` body of every per-epoch query: skip an epoch
    whose marker exists, ``write`` the batch (persisted around the write
    when ``persist``, for writers that read it more than once), then mark
    the epoch. ``marker_dir=None``: no marker (at-least-once)."""

    def write_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        if marker_dir and epoch_committed(marker_dir, epoch_id):
            return  # replayed epoch: sink ack DUPLICATE
        if persist:
            batch_df.persist()
        try:
            write(batch_df)
        finally:
            if persist:
                batch_df.unpersist()
        if marker_dir:
            mark_epoch(marker_dir, epoch_id)

    return write_epoch


def start_per_epoch(
    root: DataFrame,
    write: Callable[[DataFrame], None],
    checkpoint: str,
    trigger: dict[str, Any],
    name: str | None,
    marker_dir: str | None = None,
    output_mode: str = "append",
    persist: bool = True,
) -> StreamingQuery:
    """Start the query that hands each epoch of ``root`` to
    ``per_epoch(write, marker_dir, persist)``: the one place the engine
    starts a ``foreachBatch`` query."""
    writer = (root.writeStream
              .foreachBatch(per_epoch(write, marker_dir, persist))
              .option("checkpointLocation", checkpoint)
              .trigger(**trigger)
              .outputMode(output_mode))
    if name:
        writer = writer.queryName(name)
    return writer.start()


def dedupe_idempotency(df: DataFrame, key: str = "idempotency_key",
                       within_watermark: bool = False) -> DataFrame:
    """Record-level replay guard: first occurrence of each idempotency
    key wins (``common.proto:12`` + ack DUPLICATE semantics). Use
    ``within_watermark=True`` on watermarked streams so key state is
    evicted instead of growing forever."""
    if df.isStreaming and within_watermark:
        return df.dropDuplicatesWithinWatermark([key])
    return df.dropDuplicates([key])


def jdbc_idempotent_writer(
    url: str,
    table: str,
    driver: str,
    epochs_table: str = "etl_epochs",
    epoch_col: str = "etl_epoch",
) -> Callable[[DataFrame, int], None]:
    """Exactly-once foreachBatch into an RDBMS: the delete-then-insert
    epoch protocol (the production pattern for JDBC sinks, where the
    file sink's atomic rename does not exist).

    Per epoch: (1) if the epoch's row exists in ``epochs_table`` the
    whole epoch is a DUPLICATE and is skipped; (2) otherwise DELETE the
    epoch's rows from ``table`` (clears a half-written crash window),
    (3) append the batch stamped with ``epoch_col``, (4) insert the
    epoch marker — the commit point. A crash between (3) and (4)
    replays into (2)'s delete, so the data lands exactly once no matter
    where the failure hits; marker-before-data would instead LOSE the
    epoch. Marker checks ride the same database as the data (one
    durability domain — the same placement rule as the file-sink
    markers above).

    ``table``/``epochs_table``/``epoch_col`` are interpolated into raw
    SQL, so they are validated as plain identifiers at construction
    (fail fast, not at the first epoch inside a running stream).
    """
    from pyspark.sql import functions as F

    _check_ident(table, "table", dotted=True)
    _check_ident(epochs_table, "epochs_table", dotted=True)
    _check_ident(epoch_col, "epoch_col")

    def _connect(spark):
        jvm = spark._jvm  # noqa: SLF001 - DriverManager for marker SQL
        jvm.java.lang.Class.forName(driver)
        return jvm.java.sql.DriverManager.getConnection(url)

    def _ensure_epochs_table(spark) -> None:
        conn = _connect(spark)
        try:
            if _jdbc_table_exists(conn, epochs_table):
                return  # the common every-epoch path: metadata, no DDL
            st = conn.createStatement()
            try:
                st.executeUpdate(
                    f"CREATE TABLE {epochs_table} (epoch_id BIGINT PRIMARY KEY)")
            except Exception as exc:
                # swallow ONLY "already exists" — either the metadata
                # probe confirms a concurrent create won the race
                # (DB-agnostic), or the SQLState is a known
                # table-exists code. Permission / schema / syntax
                # failures propagate instead of hiding until the
                # epoch-marker SELECT fails confusingly later
                if not (_jdbc_table_exists(conn, epochs_table)
                        or _sql_state(exc) in _TABLE_EXISTS_SQLSTATES):
                    raise
            st.close()
        finally:
            conn.close()

    def write_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        _ensure_epochs_table(spark)
        conn = _connect(spark)
        try:
            st = conn.createStatement()
            rs = st.executeQuery(
                f"SELECT 1 FROM {epochs_table} WHERE epoch_id = {int(epoch_id)}")
            committed = rs.next()
            rs.close()
            if committed:
                st.close()
                return  # replayed epoch: DUPLICATE, skip entirely
            if _jdbc_table_exists(conn, table):
                # table name UNQUOTED (created unquoted -> folded, so
                # unquoted SQL folds identically); epoch column QUOTED
                # (Spark's writer quotes column identifiers at CREATE)
                st.executeUpdate(
                    f'DELETE FROM {table} WHERE "{epoch_col}" = {int(epoch_id)}')
            st.close()
        finally:
            conn.close()
        (
            batch_df.withColumn(epoch_col, F.lit(int(epoch_id)))
            .write.format("jdbc")
            .option("url", url).option("dbtable", table)
            .option("driver", driver).mode("append").save()
        )
        conn = _connect(spark)
        try:
            st = conn.createStatement()
            st.executeUpdate(
                f"INSERT INTO {epochs_table} VALUES ({int(epoch_id)})")
            st.close()
        finally:
            conn.close()

    return write_epoch
