"""Source registry: the 16 reference source types -> Spark readers.

Config fidelity follows ``conveyor-etl-dsl/src/types.rs:143-383``. Pull
sources with first-party Spark connectors map directly; push/queue
sources (HTTP/WS/gRPC/SQS/Rabbit/Redis/NATS) are declared with their full
config surface but require either the matching Spark connector package or
a staging path — they raise ``ConnectorUnavailable`` with the exact
deploy-time requirements instead of silently degrading (SURVEY §2.1).

Batch vs streaming is a single flag: the same config compiles to
``spark.read`` or ``spark.readStream`` so one manifest runs in both
modes (SURVEY §7.1 design stance).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession


class ConnectorUnavailable(RuntimeError):
    """Raised when a source type needs an external connector/service."""


_FILE_FORMATS = {"json", "csv", "parquet", "avro", "orc", "text", "lines"}


def _avro_available(spark: SparkSession) -> bool:
    # DataSource.lookupDataSource is the registration check Spark itself
    # performs — some avro *classes* ship in the pyspark jars, so a bare
    # Class.forName probe false-positives without the module jar
    try:
        spark._jvm.org.apache.spark.sql.execution.datasources.DataSource.lookupDataSource(  # noqa: SLF001
            "avro", spark._jsparkSession.sessionState().conf()  # noqa: SLF001
        )
        return True
    except Exception:
        return False


def _file_reader(spark: SparkSession, cfg: dict[str, Any], streaming: bool, path: str) -> DataFrame:
    fmt = (cfg.get("format") or "parquet").lower()
    if fmt == "lines":
        fmt = "text"
    if fmt not in _FILE_FORMATS:
        raise ValueError(f"unsupported file format: {fmt!r}")
    if fmt == "avro" and not _avro_available(spark):
        raise ConnectorUnavailable(
            "avro is an external Spark module: add the spark-avro jar "
            "matching your Spark version (--packages org.apache.spark:"
            "spark-avro_2.13:<spark-version>) to the cluster image"
        )
    nano_cols: list[str] = []
    if fmt == "parquet":
        # TIMESTAMP(NANOS) parquet: unreadable by Spark without the
        # nanosAsLong conf, which this reader cannot assume was set at
        # session construction. Detect ns columns from the footer and
        # restore TimestampType in-plan after the read.
        from etl_router_spark.io import ensure_nanos_readable, nano_ts_columns

        ensure_nanos_readable(spark)
        nano_cols = nano_ts_columns(path)
    watch = bool(cfg.get("watch", False))
    reader = spark.readStream if (streaming or watch) else spark.read
    opts: dict[str, str] = {}
    if fmt == "csv":
        opts["header"] = str(cfg.get("header", True)).lower()
        opts["inferSchema"] = str(cfg.get("infer_schema", not cfg.get("schema"))).lower()
    if cfg.get("pattern"):
        opts["pathGlobFilter"] = cfg["pattern"]
    if cfg.get("merge_schema") and fmt in ("parquet", "orc"):
        # schema evolution across files (columns added over time):
        # reconcile per-file schemas instead of trusting the first footer
        opts["mergeSchema"] = "true"
    if cfg.get("recursive"):
        opts["recursiveFileLookup"] = "true"
    # generic reader-option passthrough (parser mode, corrupt-record
    # column, multiline, samplingRatio, ...) — explicit keys above win
    for k, v in (cfg.get("options") or {}).items():
        opts.setdefault(str(k), v if isinstance(v, str) else str(v).lower()
                        if isinstance(v, bool) else str(v))
    schema = cfg.get("schema")
    if schema is None and (streaming or watch):
        # file streams require a schema; bootstrap it from the files
        # already present (a one-time driver-side footer read)
        try:
            schema = spark.read.options(**opts).format(fmt).load(path).schema
        except Exception:
            schema = None
    if schema is not None:
        reader = reader.schema(schema)
    if streaming or watch:
        opts["maxFilesPerTrigger"] = str(cfg.get("max_files_per_trigger", 64))
    df = reader.options(**opts).format(fmt).load(path)
    if nano_cols:
        from etl_router_spark.io import restore_nano_timestamps

        df = restore_nano_timestamps(df, nano_cols)
    return df


def _read_file(spark, cfg, streaming):
    return _file_reader(spark, cfg, streaming, cfg["path"])


def object_store_uri(store: str, cfg: dict[str, Any]) -> str:
    """An ``s3``/``gcs`` config's bucket and prefix as the Hadoop URI
    (``s3a://bucket/prefix``, ``gs://bucket/prefix``), for sources and
    sinks alike."""
    scheme = {"s3": "s3a://", "gcs": "gs://"}[store]
    return f"{scheme}{cfg['bucket']}/{cfg.get('prefix', '').lstrip('/')}"


def _object_store_reader(store: str):
    # S3/GCS source (types.rs:290-303): bucket/prefix/format; poll_interval
    # maps to the file-stream trigger. staging_path = the drained-object
    # bridge (a lister/fetcher daemon mirrors the prefix locally) for
    # environments without hadoop-aws on the classpath — exercised
    # end-to-end by the hermetic S3-API gate. _file_reader already
    # defaults watch=False.
    def read(spark, cfg, streaming):
        return _file_reader(spark, cfg, streaming,
                            cfg.get("staging_path") or object_store_uri(store, cfg))

    return read


def kafka_reader_options(cfg: dict[str, Any]) -> dict[str, str]:
    """Kafka config (types.rs:164-188) -> Spark reader options.

    Pure mapping so contract tests can pin option names/values without
    a broker: topic -> ``subscribe``, brokers ->
    ``kafka.bootstrap.servers``, auto_offset_reset ->
    ``startingOffsets``, consumer_group -> ``kafka.group.id``,
    max_offsets_per_trigger -> ``maxOffsetsPerTrigger``, and every
    ``security`` key passes through under the ``kafka.`` prefix
    (SASL/SSL)."""
    opts = {
        "kafka.bootstrap.servers": (
            ",".join(cfg["brokers"]) if isinstance(cfg.get("brokers"), list) else cfg["brokers"]
        ),
        "subscribe": cfg["topic"],
        "startingOffsets": {"earliest": "earliest", "latest": "latest"}.get(
            cfg.get("auto_offset_reset", "latest"), "latest"
        ),
    }
    if cfg.get("consumer_group"):
        opts["kafka.group.id"] = cfg["consumer_group"]
    if cfg.get("max_offsets_per_trigger"):
        opts["maxOffsetsPerTrigger"] = str(cfg["max_offsets_per_trigger"])
    for k, v in (cfg.get("security") or {}).items():
        opts[f"kafka.{k}"] = v
    return opts


#: Spark's kafka-connector output schema, reconstructed by the staging
#: branch below so downstream envelope code sees identical shapes.
KAFKA_WIRE_SCHEMA = (
    "key BINARY, value BINARY, topic STRING, partition INT, "
    "offset BIGINT, timestamp TIMESTAMP, timestampType INT, "
    "headers ARRAY<STRUCT<key: STRING, value: BINARY>>"
)

_KAFKA_STAGING_SCHEMA = (
    "topic STRING, partition INT, offset BIGINT, timestamp BIGINT, "
    "key STRING, value STRING, headers ARRAY<STRUCT<key: STRING, value: STRING>>"
)


def _read_kafka(spark, cfg, streaming):
    staging = cfg.get("staging_path")
    if staging:
        # Hermetic/bridge path: a consumer (e.g. the wire-protocol gate
        # broker in sources/kafka_wire.py) drains records to jsonl with
        # binary fields base64-coded; reconstruct the connector's exact
        # wire schema so from_kafka/promote run unchanged.
        raw = _file_reader(
            spark,
            {**cfg, "format": "json", "schema": _KAFKA_STAGING_SCHEMA,
             "watch": cfg.get("watch", False)},
            streaming, staging,
        )
        return raw.selectExpr(
            "unbase64(key) AS key",
            "unbase64(value) AS value",
            "topic", "partition", "offset",
            "timestamp_millis(timestamp) AS timestamp",
            "CAST(0 AS INT) AS timestampType",  # CreateTime
            "transform(headers, h -> struct(h.key AS key, "
            "unbase64(h.value) AS value)) AS headers",
        )
    reader = (spark.readStream if streaming else spark.read).format("kafka")
    reader = reader.options(**kafka_reader_options(cfg))
    try:
        return reader.load()
    except Exception as exc:  # connector jar not on classpath in this env
        raise ConnectorUnavailable(
            "kafka source requires spark-sql-kafka on the classpath "
            "(--packages org.apache.spark:spark-sql-kafka-0-10_2.13)"
        ) from exc


def jdbc_reader_options(cfg: dict[str, Any]) -> dict[str, str]:
    """JDBC config -> Spark reader options (pure, contract-testable).

    Partitioned reads (the scale path — one task per split of a numeric
    column) map partition_column/lower_bound/upper_bound/num_partitions
    onto Spark's partitionColumn quad."""
    opts = {
        "url": cfg["url"],
        "dbtable": cfg.get("table") or cfg.get("dbtable") or f"({cfg['query']}) q",
    }
    for k in ("user", "password", "driver"):
        if cfg.get(k):
            opts[k] = cfg[k]
    if cfg.get("partition_column"):
        opts.update({
            "partitionColumn": cfg["partition_column"],
            "lowerBound": str(cfg["lower_bound"]),
            "upperBound": str(cfg["upper_bound"]),
            "numPartitions": str(cfg.get("num_partitions", 32)),
        })
    return opts


def _read_jdbc(spark, cfg, streaming):
    if streaming:
        raise ConnectorUnavailable("jdbc source is batch/snapshot only; CDC streams arrive via Debezium->Kafka")
    return spark.read.format("jdbc").options(**jdbc_reader_options(cfg)).load()


def _read_postgres_cdc(spark, cfg, streaming):
    # Postgres CDC (types.rs:346-355): snapshot via JDBC; the logical-
    # replication stream itself needs Debezium->Kafka (SURVEY §2.1 S13).
    if streaming:
        raise ConnectorUnavailable("postgres_cdc streaming requires Debezium->Kafka; use source_type=kafka on the CDC topic")
    url = cfg.get("url") or f"jdbc:postgresql://{cfg['host']}:{cfg.get('port', 5432)}/{cfg['database']}"
    return _read_jdbc(spark, {**cfg, "url": url}, streaming)


def _read_mysql_cdc(spark, cfg, streaming):
    if streaming:
        raise ConnectorUnavailable("mysql_cdc streaming requires Debezium->Kafka; use source_type=kafka on the CDC topic")
    url = cfg.get("url") or f"jdbc:mysql://{cfg['host']}:{cfg.get('port', 3306)}/{cfg['database']}"
    return _read_jdbc(spark, {**cfg, "url": url}, streaming)


def mongodb_reader_options(cfg: dict[str, Any]) -> dict[str, str]:
    """MongoDB config -> mongo-spark options (pure, contract-testable)."""
    opts = {"database": cfg["database"], "collection": cfg["collection"]}
    if cfg.get("connection_uri"):
        opts["connection.uri"] = cfg["connection_uri"]
    if cfg.get("pipeline"):
        opts["aggregation.pipeline"] = cfg["pipeline"]
    return opts


def _read_mongodb(spark, cfg, streaming):
    staging = cfg.get("staging_path")
    if staging:
        # bridge path: a consumer (e.g. the OP_MSG wire client in
        # sources/mongo_wire.py) drains find-cursor batches to jsonl;
        # Spark reads the directory pull-based, same as every queue
        # connector's staging pattern
        return _file_reader(
            spark, {**cfg, "format": cfg.get("format", "json")},
            streaming, staging,
        )
    reader = (spark.readStream if streaming else spark.read).format("mongodb")
    reader = reader.options(**mongodb_reader_options(cfg))
    try:
        return reader.load()
    except Exception as exc:
        raise ConnectorUnavailable("mongodb source requires the mongo-spark connector jar") from exc


def _read_memory(spark, cfg, streaming):
    """In-memory rows for tests: cfg = {rows: [...], schema: ddl}."""
    return spark.createDataFrame(cfg["rows"], schema=cfg.get("schema"))


def _read_rate(spark, cfg, streaming):
    """Spark's rate source — the stand-in for push/queue sources in tests."""
    reader = (spark.readStream if streaming else spark.read).format("rate")
    return reader.option("rowsPerSecond", str(cfg.get("rows_per_second", 10))).load()


def _read_jsonl_queue(spark, cfg, streaming):
    """Custom Python data source (PySpark 4 DataSource API) over a
    drained-queue directory — see ``sources.python_queue``."""
    from etl_router_spark.sources.python_queue import register

    register(spark)
    reader = (spark.readStream if streaming else spark.read).format("jsonl_queue")
    path = cfg.get("path") or cfg.get("staging_path")
    if not path:
        raise ValueError("jsonl_queue requires path (or staging_path)")
    if not cfg.get("schema"):
        raise ValueError("jsonl_queue requires an explicit schema (DDL string)")
    return reader.option("path", path).option("schema", cfg["schema"]).load()


def _queue_source(kind: str, requirement: str):
    def _reader(spark, cfg, streaming):
        # Full config surface accepted (types.rs queue sources); execution
        # needs the named connector or a staging path.
        staging = cfg.get("staging_path")
        if staging:
            # Deployment pattern: a tiny consumer daemon drains the queue
            # into files; Spark tails the directory (watch=True default —
            # set watch: false for a one-shot batch drain of the staging
            # dir). Keeps Spark pull-based.
            return _file_reader(
                spark, {**cfg, "watch": cfg.get("watch", True)}, streaming, staging
            )
        raise ConnectorUnavailable(
            f"{kind} source requires {requirement}, or set staging_path "
            "to consume via the file-staging pattern"
        )

    return _reader


def _read_warc(spark, cfg, streaming):
    """WARC/WET web-archive source (CommonCrawl ingestion) — see
    ``sources.warc`` for the scale design."""
    if streaming:
        raise ValueError(
            "warc is a batch corpus source (archives are immutable); "
            "use source_type=file with watch=true over a landing dir for "
            "arrival-driven processing"
        )
    from etl_router_spark.sources.warc import register

    register(spark)
    path = cfg.get("path")
    if not path:
        raise ValueError("warc source requires path")
    reader = spark.read.format("warc").option("path", path)
    if cfg.get("record_types"):
        rt = cfg["record_types"]
        reader = reader.option(
            "record_types", rt if isinstance(rt, str) else ",".join(rt)
        )
    if cfg.get("min_length") is not None:
        reader = reader.option("min_length", str(cfg["min_length"]))
    return reader.load()


SOURCE_REGISTRY = {
    "file": _read_file,
    "s3": _object_store_reader("s3"),
    "gcs": _object_store_reader("gcs"),
    "kafka": _read_kafka,
    "jdbc": _read_jdbc,
    "postgres_cdc": _read_postgres_cdc,
    "mysql_cdc": _read_mysql_cdc,
    "mongodb": _read_mongodb,
    "memory": _read_memory,
    "rate": _read_rate,
    "jsonl_queue": _read_jsonl_queue,
    "warc": _read_warc,
    "kinesis": _queue_source("kinesis", "the spark-sql-kinesis connector"),
    "pulsar": _queue_source("pulsar", "the pulsar-spark connector"),
    "rabbitmq": _queue_source("rabbitmq", "a RabbitMQ->file/Kafka bridge"),
    "sqs": _queue_source("sqs", "an SQS->S3 notification pipeline"),
    "redis": _queue_source("redis", "a Redis-stream->file bridge"),
    "nats": _queue_source("nats", "a NATS->file bridge"),
    "http": _queue_source("http", "an HTTP-ingest->staging shim (push sources are out of Spark's pull model)"),
    "websocket": _queue_source("websocket", "a WebSocket->staging shim"),
    "grpc": _queue_source("grpc", "a gRPC-ingest->staging shim"),
}


def read_source(spark: SparkSession, cfg: dict[str, Any], streaming: bool = False) -> DataFrame:
    """Dispatch on ``source_type`` (types.rs:143-162 tag)."""
    stype = cfg.get("source_type") or cfg.get("type")
    reader = SOURCE_REGISTRY.get(stype)
    if reader is None:
        raise ValueError(f"unknown source_type: {stype!r}")
    return reader(spark, cfg, streaming)
