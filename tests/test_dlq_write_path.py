"""One write path for sinks and DLQs: every route-mode side is enriched
into its DLQ frame once, at compile, and batch and streaming write the
same DLQ rows (record model ``dlq/src/record.rs:96-180``)."""

from __future__ import annotations

import datetime as dt

import pytest

from etl_router_spark.compile.pipeline import compile_pipeline
from etl_router_spark.model.parser import parse_manifest_dict
from etl_router_spark.streaming import run_streaming

SCHEMA = "event_id bigint, user_id bigint, event_type string, value double"
ROWS = [
    (1, 10, "click", 5.0),        # SUCCESS, valid
    (2, None, "click", 7.0),      # SUCCESS, then invalid (no user_id)
    (3, 12, "view", 400.0),       # service ERROR: value over the cap
    (4, 13, "purchase", 100.0),   # SPLIT into net + fee
    (5, 14, "error", 1.0),        # FILTERED
    (6, None, "view", 350.0),     # service ERROR first: never validated
]
# the _dlq_* columns both modes must agree on (timestamps excluded)
DLQ_COLS = ("_dlq_error_code", "_dlq_error_message", "_dlq_failed_stage",
            "_dlq_failed_stage_type", "_dlq_retry_count", "_dlq_pipeline",
            "_dlq_source")


def _routed(src, out, dlq, fan_out):
    """``fan_out``: source -> service (route) -> fan_out -> {validate
    (route) -> out_a, out_b}: the service side streams on its own, the
    validate side is written by the fan-out's foreachBatch writer.
    Otherwise source -> service -> validate -> out_a: two DLQ streams
    share one directory."""
    def sink(sid, sub):
        return {"id": sid, "type": "sink",
                "config": {"sink_type": "file", "format": "parquet",
                           "path": f"{out}/{sub}"}}

    stages = [
        {"id": "src", "type": "source",
         "config": {"source_type": "file", "format": "parquet", "path": src}},
        {"id": "svc", "type": "transform",
         "config": {"transform_type": "service",
                    "transform": "demo_enrich_split",
                    "output_schema": SCHEMA,
                    "transform_config": {"max_value": "300"},
                    "on_error": "route"}},
        {"id": "chk", "type": "transform",
         "config": {"transform_type": "validate", "on_invalid": "route",
                    "rules": [{"field": "user_id", "required": True}]}},
        sink("out_a", "a"),
    ]
    edges = [{"from": "src", "to": "svc"}, {"from": "svc", "to": "chk"},
             {"from": "chk", "to": "out_a"}]
    if fan_out:
        stages += [{"id": "fan", "type": "fan_out", "config": {}},
                   sink("out_b", "b")]
        edges[1:2] = [{"from": "svc", "to": "fan"},
                      {"from": "fan", "to": "chk"},
                      {"from": "fan", "to": "out_b"}]
    return parse_manifest_dict({
        "apiVersion": "etl.dev/v1", "kind": "Pipeline",
        "metadata": {"name": "dlq-path"},
        "spec": {"dlq": {"sink_type": "file", "format": "parquet", "path": dlq},
                 "stages": stages, "edges": edges},
    })


def _dlq_rows(spark, path):
    # a plain directory read, as a DLQ consumer (redrive) does it
    return sorted(tuple(r) for r in spark.read.parquet(path)
                  .select("event_id", "event_type", *DLQ_COLS).collect())


@pytest.mark.parametrize("fan_out", [True, False], ids=["fan_out", "chain"])
def test_route_stage_dlq_rows_batch_and_streaming_agree(spark, tmp_path, fan_out):
    src = str(tmp_path / "in")
    spark.createDataFrame(ROWS, SCHEMA).coalesce(1).write.parquet(src)

    batch_dlq = str(tmp_path / "batch_dlq")
    compile_pipeline(
        spark, _routed(src, str(tmp_path / "batch"), batch_dlq, fan_out)).run()

    stream_dlq = str(tmp_path / "stream_dlq")
    compiled = compile_pipeline(
        spark, _routed(src, str(tmp_path / "stream"), stream_dlq, fan_out),
        streaming=True)
    run_streaming(compiled, str(tmp_path / "ck"),
                  trigger={"availableNow": True}).await_termination(180)

    batch = _dlq_rows(spark, batch_dlq)
    assert batch == [
        (2, "CLICK", "VALIDATION", "", "chk", "validate", 0, "dlq-path", ""),
        (3, "view", "TRANSFORM", "value 400.0 exceeds cap 300.0", "svc",
         "service", 0, "dlq-path", ""),
        (6, "view", "TRANSFORM", "value 350.0 exceeds cap 300.0", "svc",
         "service", 0, "dlq-path", ""),
    ]
    assert _dlq_rows(spark, stream_dlq) == batch
    for mode in ("batch", "stream"):
        assert sorted(r.event_id for r in
                      spark.read.parquet(str(tmp_path / mode / "a")).collect()) \
            == [1, 4, 4]


def test_fanin_late_policy_feeds_route_validate(spark, tmp_path):
    """The late-policy fan-in writer replays its sub-DAG per epoch: a
    route-mode validate below it sends its invalid on-time rows to the
    DLQ once, stamped as a validate failure, while late rows go to the
    DLQ as the fan-in's (a late invalid row only once, as late)."""
    t0 = dt.datetime(2024, 1, 1)
    a_path, b_path = str(tmp_path / "a"), str(tmp_path / "b")
    sec = lambda s: t0 + dt.timedelta(seconds=s)  # noqa: E731
    schema = "event_id bigint, ts timestamp, value double"
    spark.createDataFrame(
        [(1, sec(100), 5.0), (2, sec(10), 5.0), (4, sec(90), -1.0),
         (5, sec(5), -1.0)], schema).coalesce(1).write.parquet(a_path)
    spark.createDataFrame([(3, sec(40), 1.0)], schema).coalesce(1).write.parquet(b_path)

    out, dlq = str(tmp_path / "out"), str(tmp_path / "dlq")
    pipeline = parse_manifest_dict({
        "apiVersion": "etl.dev/v1", "kind": "Pipeline",
        "metadata": {"name": "fanin-route"},
        "spec": {
            "dlq": {"sink_type": "file", "format": "parquet", "path": dlq},
            "stages": [
                {"id": "a", "type": "source",
                 "config": {"source_type": "file", "format": "parquet",
                            "path": a_path}},
                {"id": "b", "type": "source",
                 "config": {"source_type": "file", "format": "parquet",
                            "path": b_path}},
                {"id": "both", "type": "fan_in",
                 "config": {"late_policy": "route", "allowed_lateness": "10s",
                            "inputs": [{"watermark": {"event_time_field": "ts"}},
                                       {"watermark": {"event_time_field": "ts"}}]}},
                {"id": "chk", "type": "transform",
                 "config": {"transform_type": "validate", "on_invalid": "route",
                            "rules": [{"field": "value", "required": True,
                                       "min": 0}]}},
                {"id": "out", "type": "sink",
                 "config": {"sink_type": "file", "format": "parquet", "path": out}},
            ],
            "edges": [{"from": "a", "to": "both"}, {"from": "b", "to": "both"},
                      {"from": "both", "to": "chk"}, {"from": "chk", "to": "out"}],
        },
    })
    compiled = compile_pipeline(spark, pipeline, streaming=True)
    run_streaming(compiled, str(tmp_path / "ck"),
                  trigger={"availableNow": True}).await_termination(180)

    assert sorted(r.event_id for r in spark.read.parquet(out).collect()) == [1, 3]
    got = sorted((r.event_id, r._dlq_failed_stage, r._dlq_failed_stage_type,
                  r._dlq_error_code, r._dlq_pipeline)
                 for r in spark.read.parquet(dlq).collect())
    assert got == [
        (2, "both", "transform", "VALIDATION", "fanin-route"),
        (4, "chk", "validate", "VALIDATION", "fanin-route"),
        (5, "both", "transform", "VALIDATION", "fanin-route"),
    ]


@pytest.mark.parametrize("declared", ["override", "manifest"])
def test_shared_dlq_collects_every_pipeline(spark, tmp_path, declared):
    """A DLQ directory several pipelines write gets no native file-sink
    query (whose metadata log admits one query): two pipelines that do
    not fuse, each with a route-mode validate, both land their invalid
    rows in the one DLQ, whether it is the ``dlq_sink`` override or the
    DLQ both manifests declare."""
    from etl_router_spark.streaming.group import run_streaming_group

    dlq = {"sink_type": "file", "format": "parquet",
           "path": str(tmp_path / "dlq")}
    schema = "event_id bigint, user_id bigint"
    pipelines = []
    for name, rows in (("left", [(1, 10), (2, None)]),
                       ("right", [(3, None), (4, 40), (5, None)])):
        src = str(tmp_path / f"in_{name}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)
        pipelines.append(parse_manifest_dict({
            "apiVersion": "etl.dev/v1", "kind": "Pipeline",
            "metadata": {"name": name},
            "spec": {**({"dlq": dict(dlq)} if declared == "manifest" else {}),
                     "stages": [
                {"id": "src", "type": "source",
                 "config": {"source_type": "file", "format": "parquet",
                            "path": src}},
                {"id": "chk", "type": "transform",
                 "config": {"transform_type": "validate", "on_invalid": "route",
                            "rules": [{"field": "user_id", "required": True}]}},
                {"id": "out", "type": "sink",
                 "config": {"sink_type": "file", "format": "parquet",
                            "path": str(tmp_path / f"out_{name}")}},
            ], "edges": [{"from": "src", "to": "chk"},
                         {"from": "chk", "to": "out"}]},
        }))
    run_streaming_group(
        spark, pipelines, str(tmp_path / "ck"), trigger={"availableNow": True},
        dlq_sink=dlq if declared == "override" else None,
    ).await_termination(180)

    got = sorted((r.event_id, r._dlq_pipeline, r._dlq_failed_stage)
                 for r in spark.read.parquet(dlq["path"]).collect())
    assert got == [(2, "left", "chk"), (3, "right", "chk"), (5, "right", "chk")]
