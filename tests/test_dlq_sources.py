"""DLQ retry/re-drive semantics (``dlq/src/policy.rs``, ``manager.rs``)
and the source-connector registry surface (SURVEY §2.1)."""

from __future__ import annotations

import pytest

from etl_router_spark.compile.pipeline import compile_pipeline
from etl_router_spark.model.parser import parse_manifest_dict
from etl_router_spark.sinks.dlq import (
    backoff_ms,
    redrive,
    redrive_eligible,
    strip_dlq,
    to_dlq,
)
from etl_router_spark.sources.registry import ConnectorUnavailable, read_source


# ---------------------------------------------------------------------------
# DLQ
# ---------------------------------------------------------------------------
def test_backoff_math():
    # policy.rs:33-47: initial * multiplier^n capped
    assert backoff_ms(0) == 100
    assert backoff_ms(1) == 200
    assert backoff_ms(4) == 1600
    assert backoff_ms(20) == 30_000  # cap


def _dlq_pipeline(sf_dir, out, dlq_path):
    return parse_manifest_dict({
        "apiVersion": "etl.dev/v1", "kind": "Pipeline",
        "metadata": {"name": "dlq-redrive"},
        "spec": {
            "dlq": {"sink_type": "file", "format": "parquet", "path": dlq_path},
            "stages": [
                {"id": "src", "type": "source",
                 "config": {"source_type": "file", "format": "parquet",
                            "path": f"{sf_dir}/events.parquet"}},
                {"id": "checked", "type": "transform",
                 "config": {"transform_type": "validate", "on_invalid": "route",
                            "rules": [{"field": "value", "required": True, "min": 0.5}]}},
                {"id": "out", "type": "sink",
                 "config": {"sink_type": "file", "format": "parquet", "path": out}},
            ],
        },
    })


def test_dlq_redrive_increments_retry_count(spark, events, tmp_path):
    pipeline = _dlq_pipeline("unused", str(tmp_path / "good"), str(tmp_path / "dlq"))
    compiled = compile_pipeline(spark, pipeline, source_overrides={"src": events})
    compiled.run()

    dlq1 = spark.read.parquet(str(tmp_path / "dlq"))
    assert dlq1.count() > 0
    assert dlq1.filter("_dlq_retry_count != 0").count() == 0
    assert dlq1.filter("_dlq_error_code != 'VALIDATION'").count() == 0

    # every failing row deterministically fails again -> retry_count = 1
    again = redrive(spark, pipeline, dlq1)
    dlq2 = again.dlq_frames["checked"]  # enriched by the compiler
    rows = dlq2.select("_dlq_retry_count").distinct().collect()
    assert [r._dlq_retry_count for r in rows] == [1]
    assert dlq2.count() == dlq1.count()
    # good side of the redrive is empty (all rows still invalid)
    assert again.sink_frames["out"].count() == 0


def test_redrive_eligibility_caps(spark, events):
    failed = to_dlq(events.limit(10), failed_stage="x")
    # simulate rows at the retry cap
    from pyspark.sql import functions as F

    capped = failed.withColumn("_dlq_retry_count", F.lit(3))
    assert redrive_eligible(capped).count() == 0
    assert redrive_eligible(failed).count() == 10


def test_strip_dlq_round_trip(spark, events):
    original_cols = set(events.columns)
    enriched = to_dlq(events.limit(5), failed_stage="s")
    stripped = strip_dlq(enriched)
    assert original_cols <= set(stripped.columns)
    assert set(stripped.columns) - original_cols == {"_dlq_retry_count", "_dlq_first_failure"}
    bare = strip_dlq(enriched, keep_retry_state=False)
    assert set(bare.columns) == original_cols


# ---------------------------------------------------------------------------
# Sources
# ---------------------------------------------------------------------------
def test_file_source_formats(spark, sf_dir, tmp_path):
    df = read_source(spark, {"source_type": "file", "format": "parquet",
                             "path": f"{sf_dir}/nation.parquet"})
    assert df.count() > 0
    df.write.mode("overwrite").option("header", "true").csv(str(tmp_path / "n_csv"))
    back = read_source(spark, {"source_type": "file", "format": "csv",
                               "path": str(tmp_path / "n_csv")})
    assert back.count() == df.count()
    df.write.mode("overwrite").json(str(tmp_path / "n_json"))
    back = read_source(spark, {"source_type": "file", "format": "json",
                               "path": str(tmp_path / "n_json")})
    assert back.count() == df.count()


def test_queue_sources_require_connector_or_staging(spark):
    for stype in ("sqs", "rabbitmq", "redis", "nats", "http", "websocket",
                  "grpc", "kinesis", "pulsar"):
        with pytest.raises(ConnectorUnavailable):
            read_source(spark, {"source_type": stype, "queue": "q"})


def test_queue_source_staging_pattern(spark, sf_dir, tmp_path):
    """Queue drained to a staging dir by a consumer daemon; Spark tails
    the directory — the pull-model bridge for push sources."""
    staging = str(tmp_path / "staging")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    nation.write.mode("overwrite").json(staging)
    df = read_source(spark, {"source_type": "sqs", "queue_url": "q",
                             "staging_path": staging, "format": "json"})
    assert df.isStreaming  # watch=True tails the staging dir


def test_jsonl_queue_python_datasource(spark, tmp_path):
    """PySpark 4 custom DataSource: offset tracking across restarts —
    a second availableNow run from the same checkpoint reads only the
    file that arrived in between."""
    import json

    qdir = tmp_path / "queue"
    qdir.mkdir()
    (qdir / "000.jsonl").write_text("\n".join(
        json.dumps({"msg_id": i, "body": f"m{i}"}) for i in range(5)))
    (qdir / "001.jsonl").write_text(json.dumps({"msg_id": 5, "body": "m5"}))

    cfg = {"source_type": "jsonl_queue", "path": str(qdir),
           "schema": "msg_id bigint, body string"}
    # batch read sees everything
    assert read_source(spark, cfg).count() == 6

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def drain():
        q = (read_source(spark, cfg, streaming=True)
             .writeStream.format("parquet").option("path", out)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    drain()
    assert spark.read.parquet(out).count() == 6
    # a new message file arrives; restart consumes ONLY the delta
    (qdir / "002.jsonl").write_text(json.dumps({"msg_id": 6, "body": "m6"}))
    drain()
    got = spark.read.parquet(out)
    assert got.count() == 7
    assert got.filter("msg_id = 6").count() == 1


def test_jdbc_streaming_rejected(spark):
    with pytest.raises(ConnectorUnavailable):
        read_source(spark, {"source_type": "jdbc", "url": "jdbc:postgresql://x/db",
                            "table": "t"}, streaming=True)


def test_unknown_source_type(spark):
    with pytest.raises(ValueError, match="unknown source_type"):
        read_source(spark, {"source_type": "carrier_pigeon"})


def test_json_dropmalformed_drops_exactly_corrupt_rows(spark, tmp_path):
    """DROPMALFORMED must drop exactly the rows PERMISSIVE flags
    corrupt (the malformed-modes gate emits both counts from one
    PERMISSIVE read; this pins the real DROPMALFORMED reader against
    it)."""
    from etl_router_spark.sources.registry import read_source

    p = str(tmp_path / "j")
    spark.createDataFrame(
        [('{"a": 1}',), ('{"a": BROKEN',), ('{"a": 3}',)], ["value"]
    ).coalesce(1).write.text(p)
    dropped = read_source(spark, {
        "source_type": "file", "format": "json", "path": p,
        "schema": "a BIGINT",
        "options": {"mode": "DROPMALFORMED"},
    }, streaming=False)
    assert sorted(r["a"] for r in dropped.collect()) == [1, 3]


def test_jdbc_roundtrip_embedded_derby(spark, sf_dir):
    """Real JDBC write + partitioned read against embedded Derby (the
    same config surface production uses for Postgres/MySQL)."""
    from etl_router_spark.queries import QUERIES

    out = QUERIES["sink_jdbc_roundtrip"](spark, sf_dir)
    assert out.count() > 0
    assert out.rdd.getNumPartitions() == 8
    assert set(out.columns) == {"event_id", "user_id", "event_type", "value"}
