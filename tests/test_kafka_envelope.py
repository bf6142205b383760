"""Kafka wire shape -> envelope mapping (no broker needed: the Kafka
source's output schema is fixed, so a synthetic frame of the same shape
exercises the exact mapping used in production)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import types as T

from etl_router_spark.model.envelope import from_kafka, promote

KAFKA_SCHEMA = T.StructType([
    T.StructField("key", T.BinaryType()),
    T.StructField("value", T.BinaryType()),
    T.StructField("topic", T.StringType()),
    T.StructField("partition", T.IntegerType()),
    T.StructField("offset", T.LongType()),
    T.StructField("timestamp", T.TimestampType()),
    T.StructField("timestampType", T.IntegerType()),
    T.StructField("headers", T.ArrayType(T.StructType([
        T.StructField("key", T.StringType()),
        T.StructField("value", T.BinaryType()),
    ]))),
])


def _kafka_frame(spark):
    ts = dt.datetime(2026, 1, 1, 9, 0, 0)
    rows = [
        (b"u1", b'{"user_id": 1, "amount": 9.5}', "user-events", 0, 100, ts, 0,
         [("status", b"active"), ("region", b"eu")]),
        (b"u2", b'{"user_id": 2, "amount": 1.25}', "user-events", 1, 7, ts, 0, None),
    ]
    return spark.createDataFrame(rows, KAFKA_SCHEMA)


def test_kafka_option_contract():
    """Pin the reference-config -> Spark-option mapping (types.rs:164-188)
    without a broker: these names are the connector's wire contract, so
    a drifted option name fails here instead of silently at deploy."""
    from etl_router_spark.sources.registry import kafka_reader_options

    opts = kafka_reader_options({
        "topic": "user-events",
        "brokers": ["b1:9092", "b2:9092"],
        "consumer_group": "etl",
        "auto_offset_reset": "earliest",
        "max_offsets_per_trigger": 50_000,
        "security": {
            "security.protocol": "SASL_SSL",
            "sasl.mechanism": "SCRAM-SHA-512",
            "sasl.jaas.config": "org.apache.kafka.common.security.scram.ScramLoginModule required;",
        },
    })
    assert opts == {
        "kafka.bootstrap.servers": "b1:9092,b2:9092",
        "subscribe": "user-events",
        "startingOffsets": "earliest",
        "kafka.group.id": "etl",
        "maxOffsetsPerTrigger": "50000",
        "kafka.security.protocol": "SASL_SSL",
        "kafka.sasl.mechanism": "SCRAM-SHA-512",
        "kafka.sasl.jaas.config": "org.apache.kafka.common.security.scram.ScramLoginModule required;",
    }
    # defaults: latest offsets, single broker string passes through
    dflt = kafka_reader_options({"topic": "t", "brokers": "b:9092"})
    assert dflt["startingOffsets"] == "latest"
    assert dflt["kafka.bootstrap.servers"] == "b:9092"
    assert "kafka.group.id" not in dflt and "maxOffsetsPerTrigger" not in dflt


def test_jdbc_option_contract():
    from etl_router_spark.sources.registry import jdbc_reader_options

    opts = jdbc_reader_options({
        "url": "jdbc:postgresql://db:5432/app",
        "table": "public.orders",
        "user": "u", "password": "p", "driver": "org.postgresql.Driver",
        "partition_column": "o_orderkey",
        "lower_bound": 0, "upper_bound": 1_000_000, "num_partitions": 64,
    })
    assert opts == {
        "url": "jdbc:postgresql://db:5432/app",
        "dbtable": "public.orders",
        "user": "u", "password": "p", "driver": "org.postgresql.Driver",
        "partitionColumn": "o_orderkey",
        "lowerBound": "0", "upperBound": "1000000", "numPartitions": "64",
    }
    # query form wraps as a derived table; no partition opts unless asked
    q = jdbc_reader_options({"url": "jdbc:mysql://m/d", "query": "SELECT 1 AS x"})
    assert q["dbtable"] == "(SELECT 1 AS x) q"
    assert "partitionColumn" not in q


def test_mongodb_option_contract():
    from etl_router_spark.sources.registry import mongodb_reader_options

    opts = mongodb_reader_options({
        "database": "app", "collection": "events",
        "connection_uri": "mongodb://m:27017",
        "pipeline": '[{"$match": {"k": 1}}]',
    })
    assert opts == {
        "database": "app", "collection": "events",
        "connection.uri": "mongodb://m:27017",
        "aggregation.pipeline": '[{"$match": {"k": 1}}]',
    }


def test_from_kafka_envelope(spark):
    env = from_kafka(_kafka_frame(spark), record_type="user.event")
    rows = {r.sequence_number: r for r in env.collect()}
    r = rows[100]
    assert r.source_id == "user-events"
    assert r.partition == 0
    assert r.idempotency_key == "user-events:0:100"
    assert r.record_type == "user.event"
    assert r.metadata == {"status": "active", "region": "eu"}
    assert r.payload == '{"user_id": 1, "amount": 9.5}'
    assert rows[7].metadata is None


def test_from_kafka_then_promote(spark):
    env = from_kafka(_kafka_frame(spark))
    typed = promote(env, "user_id BIGINT, amount DOUBLE")
    got = {r.user_id: r.amount for r in typed.select("user_id", "amount").collect()}
    assert got == {1: 9.5, 2: 1.25}
    # envelope predicate surface retained next to typed columns
    assert typed.filter("metadata['status'] = 'active'").count() == 1


def test_idle_source_policy_applied(spark, events, tmp_path):
    from etl_router_spark.compile.pipeline import compile_pipeline
    from etl_router_spark.model.parser import parse_manifest_dict
    from etl_router_spark.streaming import run_streaming

    src_dir = str(tmp_path / "in")
    events.limit(100).write.parquet(src_dir)
    schema = spark.read.parquet(src_dir).schema
    stream = spark.readStream.schema(schema).parquet(src_dir)

    doc = {
        "apiVersion": "etl.dev/v1", "kind": "Pipeline",
        "metadata": {"name": "idle-fanin"},
        "spec": {
            "stages": [
                {"id": "a", "type": "source",
                 "config": {"source_type": "file", "path": src_dir, "format": "parquet"}},
                {"id": "b", "type": "source",
                 "config": {"source_type": "file", "path": src_dir, "format": "parquet"}},
                {"id": "merge", "type": "fan_in",
                 "config": {"inputs": [
                     {"watermark": {"event_time_field": "ts", "idle_timeout": "30s"}},
                     {"watermark": {"event_time_field": "ts"}},
                 ]}},
                {"id": "out", "type": "sink",
                 "config": {"sink_type": "file", "format": "parquet",
                            "path": str(tmp_path / "out")}},
            ],
            "edges": [
                {"from": "a", "to": "merge"}, {"from": "b", "to": "merge"},
                {"from": "merge", "to": "out"},
            ],
        },
    }
    pipeline = parse_manifest_dict(doc)
    spark.conf.set("spark.sql.streaming.multipleWatermarkPolicy", "min")
    compiled = compile_pipeline(spark, pipeline, streaming=True,
                                source_overrides={"a": stream, "b": stream})
    execu = run_streaming(compiled, str(tmp_path / "ckpt"))
    assert spark.conf.get("spark.sql.streaming.multipleWatermarkPolicy") == "max"
    execu.await_termination()
    assert spark.read.parquet(str(tmp_path / "out")).count() == 200


def test_kafka_cdc_stream_manifest_end_to_end(spark, tmp_path):
    """The kafka-cdc-stream example must compile AND apply tombstone
    semantics correctly: deletes reach the upsert sink (the compaction
    stage must NOT filter them) so already-materialized keys die, and
    later re-inserts resurrect keys. The kafka source is overridden
    with a memory source carrying the connector's exact wire schema."""
    import datetime as dt
    import json

    import yaml

    from etl_router_spark.compile.pipeline import compile_pipeline
    from etl_router_spark.model.parser import parse_manifest_dict
    from etl_router_spark.sources.registry import KAFKA_WIRE_SCHEMA

    def wire_row(offset, account, lsn, op, balance):
        payload = {"account_id": account,
                   "committed_at": f"2024-01-01T00:00:{lsn:02d}",
                   "lsn": lsn, "op": op, "balance": balance}
        return (bytearray(str(account).encode()),
                bytearray(json.dumps(payload).encode()),
                "app.accounts.changelog", 0, offset,
                dt.datetime(2024, 1, 1, 0, 0, lsn), 0, [])

    rows = [
        wire_row(0, 1, 1, "upsert", 10.0),
        wire_row(1, 1, 2, "upsert", 20.0),   # account 1 -> survives at 20
        wire_row(2, 2, 1, "upsert", 5.0),
        wire_row(3, 2, 2, "delete", None),   # account 2 -> tombstoned
        wire_row(4, 3, 1, "delete", None),
        wire_row(5, 3, 2, "upsert", 7.0),    # account 3 -> resurrected
    ]
    with open("examples/manifests/kafka-cdc-stream.yaml") as fh:
        doc = yaml.safe_load(fh)
    doc["spec"].pop("streaming", None)  # drive the batch twin
    doc["spec"]["stages"][0]["config"] = {
        "source_type": "memory", "rows": rows, "schema": KAFKA_WIRE_SCHEMA}
    doc["spec"]["stages"][-1]["config"]["path"] = str(tmp_path / "state")
    m = parse_manifest_dict(doc)
    compile_pipeline(spark, m).run()
    got = {r.account_id: r.balance
           for r in spark.read.parquet(str(tmp_path / "state")).collect()}
    assert got == {1: 20.0, 3: 7.0}


def test_kafka_staging_streaming_read(spark, tmp_path):
    """The kafka staging bridge must also serve as a STREAM: watch the
    drained directory, reconstruct the wire schema, and run the
    envelope promotion inside a streaming query."""
    import base64
    import json

    from pyspark.sql import functions as F

    from etl_router_spark.model.envelope import from_kafka, promote
    from etl_router_spark.sources.registry import read_source

    stage = tmp_path / "stage"
    stage.mkdir()
    recs = [{"topic": "t", "partition": p, "offset": o,
             "timestamp": 1_700_000_000_000 + o,
             "key": base64.b64encode(str(p).encode()).decode(),
             "value": base64.b64encode(
                 json.dumps({"k": p, "v": o * 1.5}).encode()).decode(),
             "headers": []}
            for p in (0, 1) for o in (0, 1, 2)]
    (stage / "part_0.jsonl").write_text(
        "\n".join(json.dumps(r) for r in recs))
    wire = read_source(spark, {
        "source_type": "kafka", "topic": "t",
        "brokers": "127.0.0.1:9", "staging_path": str(stage),
        "watch": True,
    }, streaming=True)
    assert wire.isStreaming
    typed = promote(from_kafka(wire), "k INT, v DOUBLE", keep_envelope=True)
    q = (typed.writeStream.format("memory").queryName("kafka_staging_stream")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM kafka_staging_stream").collect()
    assert len(rows) == 6
    by_key = {(r.k, r.sequence_number): r for r in rows}
    assert by_key[(1, 2)].v == 3.0
    assert by_key[(0, 0)].idempotency_key == "t:0:0"


def test_kafka_cdc_stream_manifest_streaming(spark, tmp_path):
    """The kafka-cdc-stream example starts in streaming: ``cdc_apply`` is
    a running per-key aggregate, so its sink runs in update mode and the
    upsert sink is written per epoch, giving the batch twin's state. The
    kafka source reads a drained staging directory."""
    import base64
    import json

    import yaml

    from etl_router_spark.compile.pipeline import compile_pipeline
    from etl_router_spark.model.parser import parse_manifest_dict
    from etl_router_spark.streaming import run_streaming

    def staged(offset, account, lsn, op, balance):
        payload = {"account_id": account,
                   "committed_at": f"2024-01-01T00:00:{lsn:02d}",
                   "lsn": lsn, "op": op, "balance": balance}
        return {"topic": "app.accounts.changelog", "partition": 0,
                "offset": offset, "timestamp": 1_704_067_200_000 + lsn * 1000,
                "key": base64.b64encode(str(account).encode()).decode(),
                "value": base64.b64encode(json.dumps(payload).encode()).decode(),
                "headers": []}

    # the six wire rows of test_kafka_cdc_stream_manifest_end_to_end
    recs = [staged(0, 1, 1, "upsert", 10.0), staged(1, 1, 2, "upsert", 20.0),
            staged(2, 2, 1, "upsert", 5.0), staged(3, 2, 2, "delete", None),
            staged(4, 3, 1, "delete", None), staged(5, 3, 2, "upsert", 7.0)]
    stage_dir = tmp_path / "staging"
    stage_dir.mkdir()
    (stage_dir / "part_0.jsonl").write_text("\n".join(json.dumps(r) for r in recs))

    with open("examples/manifests/kafka-cdc-stream.yaml") as fh:
        doc = yaml.safe_load(fh)
    doc["spec"]["stages"][0]["config"].update(
        staging_path=str(stage_dir), watch=True)
    doc["spec"]["stages"][-1]["config"]["path"] = str(tmp_path / "state")
    compiled = compile_pipeline(spark, parse_manifest_dict(doc), streaming=True)
    run_streaming(compiled, str(tmp_path / "ck"),
                  trigger={"availableNow": True}).await_termination(180)
    got = {r.account_id: r.balance
           for r in spark.read.parquet(str(tmp_path / "state")).collect()}
    assert got == {1: 20.0, 3: 7.0}
