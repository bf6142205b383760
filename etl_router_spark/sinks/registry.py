"""Sink registry: file/parquet sinks, console, memory, kafka, jdbc.

The reference types only one sink config (gRPC, ``types.rs:703-720``)
plus named sink manifests (e.g. the S3 parquet archive,
``examples/manifests/sinks/s3-archive.yaml``). Our engine exposes Spark's
writer surface under the same config shape.

Batch and streaming share one config, as sources do: ``write_sink``
writes a batch frame, ``start_sink`` starts a sink's streaming query, and
both decode a file, s3 or gcs sink through ``_file_sink``. ``start_sink``
streams memory and console natively, and a file, s3 or gcs sink through
Spark's exactly-once file sink when the output mode is append and the
config ``mode`` is append or unset. Everything else (an upsert or
overwrite ``mode``, update output mode, other sink types) is a per-epoch
query (``streaming.exactly_once.start_per_epoch``) whose epochs
``write_sink`` writes, so each epoch gets what a batch run of that epoch
gets: at-least-once on a replayed epoch, or exactly-once per epoch with
a marker directory. Batch parquet writes are atomic per job
(``proto/sink.proto:26-30``).
"""

from __future__ import annotations

import os
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from etl_router_spark.sources.registry import object_store_uri

_FILE_SINKS = ("file", "s3", "gcs")


def _sink_type(cfg: dict[str, Any]) -> str:
    return (cfg.get("sink_type") or cfg.get("type") or "file").lower()


def file_sink_path(cfg: dict[str, Any]) -> str | None:
    """The path a file, s3 or gcs sink writes to; None for other sink
    types."""
    stype = _sink_type(cfg)
    if stype not in _FILE_SINKS:
        return None
    return cfg.get("path") if stype == "file" else object_store_uri(stype, cfg)


def _target(cfg: dict[str, Any]) -> str | None:
    path = file_sink_path(cfg)
    if path is None:
        return None
    if path.startswith("file:"):
        path = "/" + path[len("file:"):].lstrip("/")
    if "://" not in path:
        path = os.path.abspath(path)
    return path.rstrip("/")


def same_file_target(a: dict[str, Any], b: dict[str, Any]) -> bool:
    """Whether two file, s3 or gcs sink configs write the same or nested
    directories (``out`` and ``out/``, ``file:/x`` and ``/x``, ``/x``
    and ``/x/y``)."""
    ta, tb = _target(a), _target(b)
    if ta is None or tb is None:
        return False
    return ta == tb or ta.startswith(tb + "/") or tb.startswith(ta + "/")


def _file_sink(cfg: dict[str, Any], writer):
    """A file, s3 or gcs sink config -> (format, path, ``writer`` with the
    format and options set); ``writer`` is ``df.write`` or
    ``df.writeStream``."""
    path = file_sink_path(cfg)
    fmt = (cfg.get("format") or "parquet").lower()
    if fmt == "lines":  # reference's line-delimited text (types.rs:280)
        fmt = "text"
    writer = writer.format(fmt)
    # scale: partition the sink by natural keys -> partition pruning
    # for downstream readers
    if cfg.get("partition_by"):
        writer = writer.partitionBy(*cfg["partition_by"])
    if fmt == "csv":
        writer = writer.option("header", "true")
    if cfg.get("compression"):
        writer = writer.option("compression", cfg["compression"])
    return fmt, path, writer


def _upsert_file_sink(df: DataFrame, cfg: dict[str, Any]) -> None:
    """mode=upsert, MERGE without a table format: merge ``df`` into the
    dataset at ``path`` keyed on ``merge_keys`` (latest-by-``order_by``
    wins; optional ``op_col`` tombstones deletes; changed keys cost one
    left_anti join), then atomically swap the rewrite in, like
    ``compact_files``. On object stores or with partial-key updates,
    prefer a table format's MERGE INTO: this is the whole-dataset
    rewrite fallback.

    Single-writer assumption: the rename swap serializes readers
    against ONE writer; concurrent upserts to the same path race
    (last swap wins, the loser's merge is lost). Coordinate writers
    externally, or use a table format (Delta/Iceberg MERGE) where
    optimistic concurrency is required."""
    spark = df.sparkSession
    fmt, path, _ = _file_sink(cfg, df.write)
    merge_keys = cfg.get("merge_keys")
    order_by = cfg.get("order_by")
    if not merge_keys or not order_by:
        raise ValueError("mode=upsert requires merge_keys and order_by")
    from etl_router_spark.functions.cdc import cdc_snapshot_merge

    jvm = spark._jvm
    fs_path = jvm.org.apache.hadoop.fs.Path(path)
    fs = fs_path.getFileSystem(spark._jsc.hadoopConfiguration())
    # a new target's columns: the batch's, in its order, without op_col
    target = df.drop(cfg["op_col"]) if cfg.get("op_col") else df
    if not fs.exists(fs_path):
        # bootstrap: apply the batch against an empty target — latest
        # per key, deletes tombstoned
        from etl_router_spark.functions.cdc import cdc_apply

        df_out = cdc_apply(
            df, list(merge_keys), list(order_by), op_col=cfg.get("op_col")
        )
        _file_sink(cfg, df_out.select(*target.columns).write)[2].save(path)
        return
    reader = spark.read.format(fmt)
    if fmt == "csv":
        # csv carries no types: read back with the batch's schema, which
        # applies by position, so a header in another order must fail
        reader = (reader.option("header", "true")
                  .option("enforceSchema", "false").schema(target.schema))
    existing = reader.load(path)
    merged = cdc_snapshot_merge(
        existing,
        df.select(*existing.columns,
                  *([cfg["op_col"]] if cfg.get("op_col")
                    and cfg["op_col"] not in existing.columns else [])),
        key_cols=list(merge_keys),
        order_cols=list(order_by),
        op_col=cfg.get("op_col"),
    )
    # atomic swap (same discipline as compact_files): write sibling tmp,
    # move old aside, move new in, delete old; rollback on failure
    tmp = path.rstrip("/") + ".__upsert_tmp"
    old = path.rstrip("/") + ".__upsert_old"
    # (the merge's anti join moves the keys first)
    _file_sink(cfg, merged.select(*existing.columns).write)[2] \
        .mode("overwrite").save(tmp)
    jtmp = jvm.org.apache.hadoop.fs.Path(tmp)
    jold = jvm.org.apache.hadoop.fs.Path(old)
    if not fs.rename(fs_path, jold):
        raise IOError(f"upsert: could not move {path} aside")
    if not fs.rename(jtmp, fs_path):
        fs.rename(jold, fs_path)
        raise IOError(f"upsert: could not move merged data into {path}")
    fs.delete(jold, True)


def write_sink(df: DataFrame, cfg: dict[str, Any]) -> None:
    """Batch write dispatch on sink_type/format."""
    stype = _sink_type(cfg)
    if stype in _FILE_SINKS:
        if (cfg.get("mode") or "").lower() == "upsert":
            _upsert_file_sink(df, cfg)
            return
        _, path, writer = _file_sink(cfg, df.write)
        writer = writer.mode(cfg.get("mode", "append"))
        # backfill surface: overwrite ONLY the partitions present in
        # this batch (per-writer option — no session conf mutation);
        # static overwrite would drop every other partition
        if cfg.get("partition_by") and (
                (cfg.get("partition_overwrite") or "").lower() == "dynamic"):
            writer = writer.option("partitionOverwriteMode", "dynamic")
        writer.save(path)
        return
    if stype == "console":
        df.show(int(cfg.get("num_rows", 20)), truncate=False)
        return
    if stype == "noop":
        df.write.format("noop").mode("overwrite").save()
        return
    if stype == "jdbc":
        writer = (
            df.write.format("jdbc")
            .option("url", cfg["url"])
            .option("dbtable", cfg["table"])
            .mode(cfg.get("mode", "append"))
        )
        for k in ("user", "password", "driver"):
            if cfg.get(k):
                writer = writer.option(k, cfg[k])
        writer.save()
        return
    if stype == "table":
        from etl_router_spark.io import write_bucketed

        write_bucketed(
            df,
            cfg["table"],
            bucket_by=cfg.get("bucket_by"),
            buckets=int(cfg.get("buckets", 8)),
            sort_by=cfg.get("sort_by"),
            partition_by=cfg.get("partition_by"),
            path=cfg.get("path"),
            fmt=cfg.get("format", "parquet"),
            mode=cfg.get("mode", "overwrite"),
        )
        return
    if stype == "grpc":
        # the reference's only TYPED sink (types.rs:703-759): endpoint +
        # retry policy. Executor-parallel: each partition opens one
        # HTTP/2 connection and streams its batches as unary gRPC
        # calls; per-call exponential backoff per the retry config;
        # exhausted retries fail the task (at-least-once via task
        # retry, the reference's default delivery guarantee).
        import json

        from etl_router_spark.sinks.grpc_client import send_rows_partition

        host, port = cfg["endpoint"].rsplit(":", 1)
        path = cfg.get("path", "/conveyor.etl.Ingest/Push")
        batch_size = int(cfg.get("batch_size", 500))
        retry = cfg.get("retry") or {}
        max_retries = int(retry.get("max_retries", 3))
        initial_ms = int(retry.get("initial_backoff_ms", 100))
        mult = float(retry.get("backoff_multiplier", 2.0))
        max_ms = int(retry.get("max_backoff_ms", 30_000))
        columns = df.columns

        def _part(rows):
            send_rows_partition(
                rows, host, int(port), path, batch_size,
                lambda r: json.dumps(dict(zip(columns, r)), default=str),
                max_retries=max_retries, initial_backoff_ms=initial_ms,
                backoff_multiplier=mult, max_backoff_ms=max_ms,
            )

        df.foreachPartition(_part)
        return
    if stype == "warc":
        # Corpus export as WET archives (one per partition, atomic
        # publish) — the inverse of the warc source; see sources/warc.py
        from etl_router_spark.sources.warc import register

        register(df.sparkSession)
        writer = df.write.format("warc").option("path", cfg["path"])
        for k in ("url_field", "payload_field"):
            if cfg.get(k):
                writer = writer.option(k, cfg[k])
        if cfg.get("gzip") is not None:
            writer = writer.option("gzip", str(bool(cfg["gzip"])).lower())
        writer.mode("append").save()
        return
    if stype == "kafka":
        (
            df.write.format("kafka")
            .option("kafka.bootstrap.servers", cfg["brokers"])
            .option("topic", cfg["topic"])
            .save()
        )
        return
    raise ValueError(f"unknown sink_type: {stype!r}")


def start_sink(
    df: DataFrame,
    cfg: dict[str, Any],
    output_mode: str,
    checkpoint: str,
    trigger: dict[str, Any],
    name: str | None = None,
    marker_dir: str | None = None,
) -> StreamingQuery:
    """Start the streaming query that writes ``df`` to the sink ``cfg``;
    the module docstring gives the rule that picks the writer. A
    per-epoch sink commits its epochs under ``marker_dir`` when given."""
    stype = _sink_type(cfg)
    qname = cfg.get("name") or name  # memory sink: queryName == table name
    if stype not in ("memory", "console") and not (
            stype in _FILE_SINKS and output_mode == "append"
            and (cfg.get("mode") or "append").lower() == "append"):
        # imported here: the streaming package imports this module
        from etl_router_spark.streaming.exactly_once import start_per_epoch

        return start_per_epoch(df, lambda batch_df: write_sink(batch_df, cfg),
                               checkpoint, trigger, qname, marker_dir,
                               output_mode, persist=False)
    writer = df.writeStream.option("checkpointLocation", checkpoint).trigger(**trigger)
    if qname:
        writer = writer.queryName(qname)
    if stype == "memory":
        # memory sink supports append/complete; update-shaped results
        # are materialized via complete so tests can read final state
        mode = "complete" if output_mode == "update" else output_mode
        return writer.format("memory").outputMode(mode).start()
    if stype == "console":
        return writer.format("console").outputMode(output_mode).start()
    _, path, writer = _file_sink(cfg, writer)
    return writer.outputMode("append").start(path)
