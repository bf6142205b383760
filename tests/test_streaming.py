"""Streaming mode: same DAG over Structured Streaming (SURVEY §2.8).

Every test runs a real StreamingQuery (availableNow trigger, file-stream
source over the fixture events) and cross-checks the result against the
batch compilation of the identical pipeline/operator — the engine's
"one compiler, two execution modes" invariant.
"""

from __future__ import annotations

import datetime as dt

import pytest

from etl_router_spark.compile.pipeline import compile_pipeline
from etl_router_spark.compile import transforms as T
from etl_router_spark.model.parser import parse_manifest_dict
from etl_router_spark.streaming import infer_output_mode, run_streaming


@pytest.fixture(scope="module")
def events_in(spark, events, tmp_path_factory):
    """Fixture events re-written to a plain-timestamp parquet dir the
    file-stream source can tail."""
    d = str(tmp_path_factory.mktemp("stream") / "events_in")
    events.write.mode("overwrite").parquet(d)
    return d


def stream_events(spark, path):
    schema = spark.read.parquet(path).schema
    return spark.readStream.schema(schema).parquet(path)


def _manifest(events_in, out, sink_extra=None, transforms=(), dlq=None):
    stages = [
        {"id": "src", "type": "source",
         "config": {"source_type": "file", "path": events_in, "format": "parquet"}},
        *transforms,
        {"id": "out", "type": "sink",
         "config": {"sink_type": "file", "format": "parquet", "path": out,
                    **(sink_extra or {})}},
    ]
    doc = {"apiVersion": "etl.dev/v1", "kind": "Pipeline",
           "metadata": {"name": "stream-test"},
           "spec": {"stages": stages, **({"dlq": dlq} if dlq else {})}}
    return parse_manifest_dict(doc)


def test_ratelimit_delay_maps_to_source_pacing(spark, events_in, tmp_path):
    """ratelimit on_exceed=delay (types.rs:592-601) = backpressure:
    the upstream source's per-trigger intake is capped (file:
    maxFilesPerTrigger, kafka: maxOffsetsPerTrigger) and no row is
    ever dropped — delivery is spread over more micro-batches."""
    from etl_router_spark.compile.pipeline import delay_pacing_overrides

    transforms = (
        {"id": "paced", "type": "transform",
         "config": {"transform_type": "ratelimit", "key_fields": ["user_id"],
                    "max_rate": 1, "window": "1h", "ts_field": "ts",
                    "on_exceed": "delay"}},
    )
    out = str(tmp_path / "out")
    pipeline = _manifest(events_in, out, transforms=transforms)

    # contract: the pacing override lands on the root source
    assert delay_pacing_overrides(pipeline) == {"src": {"max_files_per_trigger": 1}}
    kafka_pipeline = parse_manifest_dict({
        "apiVersion": "etl.dev/v1", "kind": "Pipeline",
        "metadata": {"name": "kafka-paced"},
        "spec": {"stages": [
            {"id": "k", "type": "source",
             "config": {"source_type": "kafka", "topic": "t", "brokers": "b:9092"}},
            {"id": "paced", "type": "transform",
             "config": {"transform_type": "ratelimit", "key_fields": ["user_id"],
                        "max_rate": 500, "window": "1h", "on_exceed": "delay"}},
            {"id": "out", "type": "sink",
             "config": {"sink_type": "file", "format": "parquet", "path": "/tmp/x"}},
        ]},
    })
    assert delay_pacing_overrides(kafka_pipeline) == {"k": {"max_offsets_per_trigger": 500}}

    # live: paced run delivers EVERY row (delay never drops), across
    # multiple micro-batches (maxFilesPerTrigger=1)
    compiled = compile_pipeline(spark, pipeline, streaming=True)
    sink_df = compiled.sink_frames["out"]
    q = (sink_df.writeStream.format("parquet")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .option("path", out)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    expected = spark.read.parquet(events_in).count()
    assert spark.read.parquet(out).count() == expected


def test_stream_filter_mask_matches_batch(spark, events_in, tmp_path):
    transforms = (
        {"id": "purchases", "type": "transform",
         "config": {"transform_type": "filter",
                    "condition": {"type": "field_in", "key": "event_type",
                                  "values": ["purchase"]}}},
        {"id": "masked", "type": "transform",
         "config": {"transform_type": "mask",
                    "rules": [{"field": "props", "strategy": "hash"}]}},
    )
    out = str(tmp_path / "out")
    pipeline = _manifest(events_in, out, transforms=transforms)

    compiled = compile_pipeline(spark, pipeline, streaming=True,
                                source_overrides={"src": stream_events(spark, events_in)})
    assert compiled.sink_frames["out"].isStreaming
    execu = run_streaming(compiled, str(tmp_path / "ckpt"))
    execu.await_termination()

    got = spark.read.parquet(out)
    batch = compile_pipeline(spark, pipeline).sink_frames["out"]
    assert got.count() == batch.count() > 0
    assert {r.event_type for r in got.select("event_type").distinct().collect()} == {"purchase"}
    assert len(got.first().props) == 64  # sha256 mask applied
    # exactly-once restart: re-running from the same checkpoint adds nothing
    execu2 = run_streaming(compiled, str(tmp_path / "ckpt"))
    execu2.await_termination()
    assert spark.read.parquet(out).count() == batch.count()


def test_stream_fanout_shared_scan(spark, events_in, tmp_path):
    """Fan-out: 2 sinks, ONE streaming query (shared scan per epoch),
    per-edge routing conditions applied inside the replayed sub-DAG."""
    doc = {
        "apiVersion": "etl.dev/v1", "kind": "Pipeline",
        "metadata": {"name": "stream-fanout"},
        "spec": {
            "stages": [
                {"id": "src", "type": "source",
                 "config": {"source_type": "file", "path": events_in, "format": "parquet"}},
                {"id": "split", "type": "fan_out", "config": {}},
                {"id": "purchases", "type": "sink",
                 "config": {"sink_type": "file", "format": "parquet",
                            "path": str(tmp_path / "purchases")}},
                {"id": "clicks", "type": "sink",
                 "config": {"sink_type": "file", "format": "parquet",
                            "path": str(tmp_path / "clicks")}},
            ],
            "edges": [
                {"from": "src", "to": "split"},
                {"from": "split", "to": "purchases",
                 "condition": {"type": "field_in", "key": "event_type", "values": ["purchase"]}},
                {"from": "split", "to": "clicks",
                 "condition": {"type": "field_in", "key": "event_type", "values": ["click"]}},
            ],
        },
    }
    pipeline = parse_manifest_dict(doc)
    compiled = compile_pipeline(spark, pipeline, streaming=True,
                                source_overrides={"src": stream_events(spark, events_in)})
    execu = run_streaming(compiled, str(tmp_path / "ckpt"))
    assert list(execu.queries) == ["fanout:split"]  # one shared query
    execu.await_termination()

    ev = spark.read.parquet(events_in)
    n_purch = ev.filter("event_type = 'purchase'").count()
    n_click = ev.filter("event_type = 'click'").count()
    assert spark.read.parquet(str(tmp_path / "purchases")).count() == n_purch > 0
    assert spark.read.parquet(str(tmp_path / "clicks")).count() == n_click > 0


def test_stream_windowed_aggregate_matches_batch(spark, events_in, tmp_path):
    """Tumbling-window aggregate, emit on_update -> update mode via
    foreachBatch; single epoch => final values equal the batch agg."""
    agg_cfg = {
        "transform_type": "aggregate",
        "group_by": ["event_type"],
        "window": {"type": "tumbling", "size": "1h"},
        "ts_field": "ts",
        "emit": "on_update",
        "aggregations": [
            {"function": "count", "field": "*", "output_field": "n"},
            {"function": "sum", "field": "value", "output_field": "total"},
        ],
    }
    out = str(tmp_path / "agg_out")
    pipeline = _manifest(events_in, out,
                         transforms=({"id": "agg", "type": "transform", "config": agg_cfg},))
    assert infer_output_mode(pipeline, "out") == "update"

    src = stream_events(spark, events_in).withWatermark("ts", "0 seconds")
    compiled = compile_pipeline(spark, pipeline, streaming=True,
                                source_overrides={"src": src})
    run_streaming(compiled, str(tmp_path / "ckpt")).await_termination()

    got = spark.read.parquet(out)
    ev = spark.read.parquet(events_in)
    want = T.apply_aggregate(ev, ["event_type"], agg_cfg["aggregations"],
                             agg_cfg["window"], "ts")
    assert got.count() == want.count()
    assert got.selectExpr("sum(n) n").first().n == want.selectExpr("sum(n) n").first().n


def test_stream_dedupe_keep_first(spark, events_in, tmp_path):
    """Streaming dedupe: dropDuplicatesWithinWatermark, one row per key,
    watermark-scoped state."""
    src = (stream_events(spark, events_in)
           .selectExpr("user_id", "event_type", "ts")
           .withWatermark("ts", "1 hour"))
    deduped = T.apply_dedupe(src, ["user_id", "event_type"], keep="first",
                             within_watermark=True).select("user_id", "event_type")
    out = str(tmp_path / "dedup_out")
    q = (deduped.writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()

    got = spark.read.parquet(out)
    want = spark.read.parquet(events_in).select("user_id", "event_type").distinct()
    assert got.count() == want.count()
    assert got.distinct().count() == got.count()


def test_stream_dedupe_keep_last_matches_batch(spark, events_in, tmp_path):
    """Keep-last is a running max_by per key (update mode); final state
    equals the batch keep-last."""
    src = stream_events(spark, events_in).selectExpr("user_id", "event_type", "ts", "event_id")
    latest = T.apply_dedupe(src, ["user_id"], keep="last", order_field="ts",
                            tiebreak_fields=["event_id"])
    q = (latest.writeStream.format("memory").queryName("keep_last_tbl")
         .outputMode("complete")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()

    got = spark.table("keep_last_tbl")
    batch = T.apply_dedupe(
        spark.read.parquet(events_in).selectExpr("user_id", "event_type", "ts", "event_id"),
        ["user_id"], keep="last", order_field="ts", tiebreak_fields=["event_id"])
    assert got.count() == batch.count()
    g = {(r.user_id, r.event_id) for r in got.select("user_id", "event_id").collect()}
    b = {(r.user_id, r.event_id) for r in batch.select("user_id", "event_id").collect()}
    assert g == b


def test_stream_ratelimit_drop_matches_batch(spark, events_in, tmp_path):
    """applyInPandasWithState rate limiter == batch row_number limiter
    (same admit order: ts + event_id tiebreak)."""
    cols = ["user_id", "event_type", "ts", "event_id"]
    src = stream_events(spark, events_in).selectExpr(*cols)
    limited = T.apply_ratelimit(src, ["user_id"], max_rate=2, window_duration="1h",
                                ts_field="ts", on_exceed="drop", tiebreak_fields=["event_id"])
    out = str(tmp_path / "rl_out")
    q = (limited.writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()

    got = spark.read.parquet(out)
    batch = T.apply_ratelimit(spark.read.parquet(events_in).selectExpr(*cols),
                              ["user_id"], max_rate=2, window_duration="1h",
                              ts_field="ts", on_exceed="drop", tiebreak_fields=["event_id"])
    assert got.count() == batch.count() > 0
    g = {r.event_id for r in got.select("event_id").collect()}
    b = {r.event_id for r in batch.select("event_id").collect()}
    assert g == b


def test_stream_dlq_route(spark, events_in, tmp_path):
    """validate(on_invalid=route) in streaming: failing rows land in the
    pipeline-level DLQ sink with _dlq_* metadata."""
    transforms = (
        {"id": "checked", "type": "transform",
         "config": {"transform_type": "validate", "on_invalid": "route",
                    "rules": [{"field": "value", "required": True, "min": 0.5}]}},
    )
    out = str(tmp_path / "good")
    dlq_path = str(tmp_path / "dlq")
    pipeline = _manifest(events_in, out, transforms=transforms,
                         dlq={"sink_type": "file", "format": "parquet", "path": dlq_path})
    compiled = compile_pipeline(spark, pipeline, streaming=True,
                                source_overrides={"src": stream_events(spark, events_in)})
    execu = run_streaming(compiled, str(tmp_path / "ckpt"))
    assert "dlq:checked" in execu.queries
    execu.await_termination()

    good = spark.read.parquet(out)
    bad = spark.read.parquet(dlq_path)
    total = spark.read.parquet(events_in).count()
    assert good.count() + bad.count() == total
    assert good.filter("value < 0.5 OR value IS NULL").count() == 0
    assert {"_dlq_error_code", "_dlq_failed_stage", "_dlq_retry_count"} <= set(bad.columns)
    assert bad.filter("_dlq_failed_stage = 'checked'").count() == bad.count()


def test_run_streaming_group_fuses_and_propagates_dlq(spark, events_in,
                                                      tmp_path):
    """run_streaming_group (r11 verdict ask): two pipelines sharing
    (source, route-validate) fuse into ONE streaming query whose
    epochs compute the prefix once and fan both tails — and the shared
    prefix's DLQ side lands in EVERY member's DLQ sink under the
    member's own stage id, the same propagation contract the batch
    compile_group enforces (commit 3517453)."""
    from etl_router_spark.streaming.group import run_streaming_group

    def pipe(name, fields, out, dlq_path):
        return parse_manifest_dict({
            "apiVersion": "etl.dev/v1", "kind": "Pipeline",
            "metadata": {"name": name},
            "spec": {
                "dlq": {"sink_type": "file", "format": "parquet",
                        "path": dlq_path},
                "stages": [
                    {"id": "src", "type": "source",
                     "config": {"source_type": "file", "path": events_in,
                                "format": "parquet"}},
                    {"id": "vgate", "type": "transform",
                     "config": {"transform_type": "validate",
                                "on_invalid": "route",
                                "rules": [{"field": "value",
                                           "required": True, "min": 0.5}]}},
                    {"id": "t", "type": "transform",
                     "config": {"transform_type": "project",
                                "fields": fields}},
                    {"id": "out", "type": "sink",
                     "config": {"sink_type": "file", "format": "parquet",
                                "path": out}}]}})

    out_a, out_b = str(tmp_path / "ga"), str(tmp_path / "gb")
    dlq_a, dlq_b = str(tmp_path / "dlq_a"), str(tmp_path / "dlq_b")
    a = pipe("ga", ["event_id", "value"], out_a, dlq_a)
    b = pipe("gb", ["event_id", "user_id"], out_b, dlq_b)
    execu = run_streaming_group(spark, [a, b], str(tmp_path / "ck"))
    assert len(execu.queries) == 1  # ONE fused query for the group
    execu.await_termination()

    total = spark.read.parquet(events_in).count()
    good_a = spark.read.parquet(out_a)
    bad_a = spark.read.parquet(dlq_a)
    assert good_a.count() + bad_a.count() == total
    assert good_a.filter("value < 0.5 OR value IS NULL").count() == 0
    # the SHARED stage's rejects reached BOTH members, keyed by the
    # member's own stage id
    bad_b = spark.read.parquet(dlq_b)
    assert bad_b.count() == bad_a.count() > 0
    for bad in (bad_a, bad_b):
        assert bad.filter("_dlq_failed_stage = 'vgate'").count() \
            == bad.count()
    assert set(good_a.columns) == {"event_id", "value"}
    assert set(spark.read.parquet(out_b).columns) == {"event_id", "user_id"}


def test_run_streaming_group_multi_epoch(spark, tmp_path):
    """The fused group under MULTIPLE epochs (maxFilesPerTrigger=1 over
    three staged files): per-epoch prefix replay + append-mode sinks
    must reassemble the complete result for every member — no epoch
    lost, none double-written."""
    from pyspark.sql import functions as F

    from etl_router_spark.streaming.group import run_streaming_group

    src = str(tmp_path / "in")
    base = spark.range(90).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 7).alias("user_id"),
        (F.col("id") % 5 * 30.0).alias("value"))
    for i in range(3):
        base.filter(F.col("event_id") % 3 == i).coalesce(1) \
            .write.mode("append").parquet(src)

    def pipe(name, fields, out):
        return parse_manifest_dict({
            "apiVersion": "etl.dev/v1", "kind": "Pipeline",
            "metadata": {"name": name},
            "spec": {"stages": [
                {"id": "src", "type": "source",
                 "config": {"source_type": "file", "path": src,
                            "format": "parquet",
                            "max_files_per_trigger": 1}},
                {"id": "big", "type": "transform",
                 "config": {"transform_type": "filter",
                            "condition": {"type": "expression",
                                          "expression": "value >= 60"}}},
                {"id": "t", "type": "transform",
                 "config": {"transform_type": "project",
                            "fields": fields}},
                {"id": "out", "type": "sink",
                 "config": {"sink_type": "file", "format": "parquet",
                            "path": out}}]}})

    out_a, out_b = str(tmp_path / "ea"), str(tmp_path / "eb")
    execu = run_streaming_group(
        spark,
        [pipe("ea", ["event_id", "value"], out_a),
         pipe("eb", ["event_id", "user_id"], out_b)],
        str(tmp_path / "ck"))
    execu.await_termination()
    expect = {(r.event_id,) for r in
              base.filter("value >= 60").select("event_id").collect()}
    got_a = {(r.event_id,) for r in
             spark.read.parquet(out_a).select("event_id").collect()}
    got_b = {(r.event_id,) for r in
             spark.read.parquet(out_b).select("event_id").collect()}
    assert got_a == expect and got_b == expect
    # append mode, one row per event per member — no epoch replayed
    assert spark.read.parquet(out_a).count() == len(expect)


def test_run_streaming_group_stateful_tail_runs_individually(spark, tmp_path):
    """r12 verdict/advice guard: a group member whose TAIL contains a
    stateful stage (here dedupe keep-first — dropDuplicates key state)
    must NOT be fused into per-epoch batch replay, which would reset
    its state each epoch (one survivor per user PER EPOCH instead of
    per stream). The member runs individually with genuine cross-epoch
    streaming state, a fusion-skip warning names the stage, and fusion
    still proceeds for the remaining stateless-tail members."""
    from pyspark.sql import functions as F

    from etl_router_spark.streaming.group import run_streaming_group

    src = str(tmp_path / "in")
    base = spark.range(90).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 7).alias("user_id"),
        (F.col("id") % 5 * 30.0).alias("value"))
    # 3 staged files -> 3 epochs under maxFilesPerTrigger=1; every
    # user_id appears in every epoch, so per-epoch dedupe is visibly
    # wrong (21 rows) vs cross-epoch streaming dedupe (7 rows)
    for i in range(3):
        base.filter(F.col("event_id") % 3 == i).coalesce(1) \
            .write.mode("append").parquet(src)

    def stage_src():
        return {"id": "src", "type": "source",
                "config": {"source_type": "file", "path": src,
                           "format": "parquet",
                           "max_files_per_trigger": 1}}

    def stage_filter():
        return {"id": "keep", "type": "transform",
                "config": {"transform_type": "filter",
                           "condition": {"type": "expression",
                                         "expression": "value >= 0"}}}

    def stateless(name, fields, out):
        return parse_manifest_dict({
            "apiVersion": "etl.dev/v1", "kind": "Pipeline",
            "metadata": {"name": name},
            "spec": {"stages": [
                stage_src(), stage_filter(),
                {"id": "t", "type": "transform",
                 "config": {"transform_type": "project",
                            "fields": fields}},
                {"id": "out", "type": "sink",
                 "config": {"sink_type": "file", "format": "parquet",
                            "path": out}}]}})

    out_a, out_c = str(tmp_path / "sa"), str(tmp_path / "sc")
    out_b = str(tmp_path / "sb")
    stateful = parse_manifest_dict({
        "apiVersion": "etl.dev/v1", "kind": "Pipeline",
        "metadata": {"name": "sb"},
        "spec": {"stages": [
            stage_src(), stage_filter(),
            {"id": "one_per_user", "type": "transform",
             "config": {"transform_type": "dedupe",
                        "key_fields": ["user_id"], "keep": "first"}},
            {"id": "out", "type": "sink",
             "config": {"sink_type": "file", "format": "parquet",
                        "path": out_b}}]}})

    with pytest.warns(UserWarning,
                      match="excluded from shared-prefix fusion.*"
                            "one_per_user.*dedupe"):
        execu = run_streaming_group(
            spark,
            [stateless("sa", ["event_id", "value"], out_a), stateful,
             stateless("sc", ["event_id", "user_id"], out_c)],
            str(tmp_path / "ck"))
    # the two stateless-tail members still fused into ONE group query;
    # the stateful member started individually
    assert sum(k.startswith("group:") for k in execu.queries) == 1
    assert any(k.startswith("sb:") for k in execu.queries)
    assert len(execu.queries) == 2
    execu.await_termination()

    # cross-epoch streaming semantics: ONE row per user over the whole
    # stream — identical to running the pipeline through run_streaming
    # individually; per-epoch replay would emit one per user per epoch
    got_b = spark.read.parquet(out_b)
    assert got_b.count() == 7
    assert {r.user_id for r in got_b.select("user_id").collect()} \
        == set(range(7))
    # fused members unaffected
    expect = {r.event_id for r in base.select("event_id").collect()}
    assert {r.event_id for r in
            spark.read.parquet(out_a).collect()} == expect
    assert {r.event_id for r in
            spark.read.parquet(out_c).collect()} == expect


def test_stream_stream_windowed_join(spark, events_in, tmp_path):
    """T13 streaming: stream-stream equi-join with watermarks on both
    sides and a time-range bound (types.rs:643-678 windowed join)."""
    purchases = (stream_events(spark, events_in)
                 .filter("event_type = 'purchase'")
                 .selectExpr("user_id", "ts AS p_ts", "event_id AS p_id")
                 .withWatermark("p_ts", "1 hour"))
    clicks = (stream_events(spark, events_in)
              .filter("event_type = 'click'")
              .selectExpr("user_id AS c_user", "ts AS c_ts", "event_id AS c_id")
              .withWatermark("c_ts", "1 hour"))
    joined = T.apply_join(
        purchases, clicks,
        conditions=[{"left_key": "user_id", "right_key": "c_user"}],
        how="inner",
        time_bound=("p_ts", "c_ts", "30 minutes"),
    ).select("user_id", "p_id", "c_id")
    out = str(tmp_path / "joined")
    q = (joined.writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()

    got = spark.read.parquet(out)
    ev = spark.read.parquet(events_in)
    p = ev.filter("event_type = 'purchase'").selectExpr("user_id", "ts AS p_ts", "event_id AS p_id")
    c = ev.filter("event_type = 'click'").selectExpr("user_id AS c_user", "ts AS c_ts", "event_id AS c_id")
    want = T.apply_join(p, c, [{"left_key": "user_id", "right_key": "c_user"}],
                        time_bound=("p_ts", "c_ts", "30 minutes")).select("user_id", "p_id", "c_id")
    assert got.count() == want.count() > 0
    g = {(r.p_id, r.c_id) for r in got.collect()}
    w = {(r.p_id, r.c_id) for r in want.collect()}
    assert g == w


def test_metrics_listener(spark, events_in, tmp_path):
    """StreamingQueryListener -> the reference's Prometheus counter names
    (conveyor-etl-metrics/README.md)."""
    from etl_router_spark.metrics import MetricsListener

    listener = MetricsListener()
    spark.streams.addListener(listener)
    try:
        src = stream_events(spark, events_in)
        q = (src.writeStream.format("noop").queryName("metrics_probe")
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination()
        # listener events are delivered asynchronously
        import time
        for _ in range(50):
            if listener.counters["conveyor_router_records_received_total"].get("metrics_probe"):
                break
            time.sleep(0.2)
    finally:
        spark.streams.removeListener(listener)
    got = listener.counters["conveyor_router_records_received_total"]["metrics_probe"]
    assert got == spark.read.parquet(events_in).count()
    rendered = listener.render_prometheus()
    assert 'conveyor_router_records_received_total{pipeline="metrics_probe"}' in rendered


def test_streaming_sessionize_on_event_and_max_duration(spark, tmp_path):
    """Custom stateful sessionizer: gap splits + max_duration chunking
    + per-event emission (types.rs:680-697 on_event/both modes)."""
    import datetime as dt

    base = dt.datetime(2026, 1, 1, 12, 0, 0)
    rows = [
        # user 1: events at 0s,10s,20s (one session), then 2000s gap -> new session
        (1, base), (1, base + dt.timedelta(seconds=10)), (1, base + dt.timedelta(seconds=20)),
        (1, base + dt.timedelta(seconds=2020)),
        # user 2: long session crossing max_duration=60s: 0,30,70 -> chunks [0,30] and [70]
        (2, base), (2, base + dt.timedelta(seconds=30)), (2, base + dt.timedelta(seconds=70)),
    ]
    src_dir = str(tmp_path / "in")
    spark.createDataFrame(rows, "user_id long, ts timestamp").write.parquet(src_dir)
    schema = spark.read.parquet(src_dir).schema
    stream = (spark.readStream.schema(schema).parquet(src_dir)
              .withWatermark("ts", "0 seconds"))

    from etl_router_spark.compile.transforms import apply_sessionize

    sessions = apply_sessionize(stream, ["user_id"], gap="5m", ts_field="ts",
                                max_duration="1m", emit="both")
    out = str(tmp_path / "out")
    q = (sessions.writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()

    got = spark.read.parquet(out)
    closed = {(r.user_id, r.n_events) for r in got.filter("closed").collect()}
    # user 1 session 1 closes via the 2000s gap (3 events); user 2 chunk 1
    # closes via max_duration (2 events); user 2's open tail (1 event at
    # 70s) closes via the event-time TIMEOUT once the global watermark
    # (2020s) passes its gap deadline. user 1's tail at 2020s stays open.
    assert closed == {(1, 3), (2, 2), (2, 1)}
    # on_event rows: one running emission per event
    assert got.filter("NOT closed").count() == len(rows)


def test_infer_output_mode_defaults(spark, events_in, tmp_path):
    pipeline = _manifest(events_in, str(tmp_path / "x"))
    assert infer_output_mode(pipeline, "out") == "append"
    agg = {"id": "agg", "type": "transform",
           "config": {"transform_type": "aggregate", "group_by": ["event_type"],
                      "emit": "on_window_close",
                      "aggregations": [{"function": "count", "field": "*"}]}}
    pipeline2 = _manifest(events_in, str(tmp_path / "y"), transforms=(agg,))
    assert infer_output_mode(pipeline2, "out") == "append"


def test_streaming_cdc_apply_emits_only_on_advance(spark, tmp_path):
    """A key's row is emitted only when its winner advances: stale
    (out-of-order) changes arriving in a later batch emit nothing."""
    import pandas as pd

    from etl_router_spark.streaming.stateful import streaming_cdc_apply

    src = str(tmp_path / "in")
    # file 1: seq 5 (the winner); file 2: seq 3 (stale, must not emit)
    spark.createDataFrame([(1, 5, "update", 50.0)], "k long, seq long, op string, v double") \
        .coalesce(1).write.parquet(f"{src}/f1")
    spark.createDataFrame([(1, 3, "update", 30.0)], "k long, seq long, op string, v double") \
        .coalesce(1).write.parquet(f"{src}/f2")
    schema = spark.read.parquet(f"{src}/f1").schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(f"{src}/*"))
    out = str(tmp_path / "out")

    def write_epoch(batch_df, epoch_id):
        batch_df.write.mode("append").parquet(out)

    q = (streaming_cdc_apply(stream, ["k"], ["seq"])
         .writeStream.foreachBatch(write_epoch).outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    emitted = spark.read.parquet(out).collect()
    # exactly one emission: the winner; the stale batch emitted nothing
    assert len(emitted) == 1 and emitted[0].seq == 5 and emitted[0].v == 50.0


def test_checkpoint_resume_processes_only_new_files(spark, tmp_path):
    """Two availableNow runs sharing one checkpoint: the second run
    must pick up exactly the files added in between — no reprocessing,
    no duplicates (the offset log, not the data, decides)."""
    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string") \
        .coalesce(1).write.parquet(f"{src}/batch1")
    schema = spark.read.parquet(f"{src}/batch1").schema

    def run_once():
        q = (spark.readStream.schema(schema).parquet(f"{src}/*")
             .writeStream.format("parquet")
             .option("path", out).option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    run_once()
    assert sorted(r.id for r in spark.read.parquet(out).collect()) == [1, 2]

    spark.createDataFrame([(3, "c")], "id long, v string") \
        .coalesce(1).write.parquet(f"{src}/batch2")
    run_once()
    ids = sorted(r.id for r in spark.read.parquet(out).collect())
    assert ids == [1, 2, 3]  # batch1 NOT duplicated, batch2 picked up


def test_periodic_emit_derives_processing_time_trigger(spark, events_in, tmp_path):
    # emit=periodic -> update output mode + processingTime trigger from
    # the stage's emit_interval (AggregateEmit::Periodic, types.rs:634-641)
    from etl_router_spark.streaming.runner import _derive_trigger

    agg = {"id": "agg", "type": "transform",
           "config": {"transform_type": "aggregate", "group_by": ["event_type"],
                      "emit": "periodic", "emit_interval": "5s",
                      "aggregations": [{"function": "count", "field": "*"}]}}
    pipeline = _manifest(events_in, str(tmp_path / "p"), transforms=(agg,))
    assert infer_output_mode(pipeline, "out") == "update"
    assert _derive_trigger(pipeline) == {"processingTime": "5 seconds"}
    # no periodic stage -> no derived trigger (availableNow default)
    assert _derive_trigger(_manifest(events_in, str(tmp_path / "q"))) is None


def test_group_topk_rejects_non_json_exact_columns(spark, tmp_path):
    # timestamp state would come back as a string next micro-batch —
    # reject at call time with a cast hint instead of failing mid-stream
    import pytest
    from pyspark.sql import functions as F

    from etl_router_spark.streaming.stateful import streaming_group_topk

    src = str(tmp_path / "in")
    spark.createDataFrame(
        [(1, 2.0, "2020-01-01 00:00:00")], "uid long, v double, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp")).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    with pytest.raises(TypeError, match="epoch_us"):
        streaming_group_topk(stream, ["uid"], "v", k=3)


def test_stream_bloom_probe_via_manifest_filter_key(spark, tmp_path):
    """The nightly micro-batch shape as a STREAMING manifest: a
    bloom_decontaminate stage with the `filter:` key probes a
    persisted filter on a file-stream source — no per-batch rebuild
    (there is no benchmark source to rebuild from), results equal the
    batch run. This is stream_bloom_probe's API gate re-proved at the
    declarative layer."""
    from etl_router_spark.functions.corpus import (
        bloom_bitmap, bloom_decontaminate, save_bloom_filter)

    bench = spark.createDataFrame(
        [(900001, "benchmark eval question alpha beta gamma delta")],
        ["doc_id", "text"])
    bf_path = str(tmp_path / "bf")
    kw = dict(n=4, m_bits=1 << 14, k=3, hash_family="xxhash64")
    save_bloom_filter(spark, bloom_bitmap(bench, **kw), bf_path,
                      n=4, k=3, hash_family="xxhash64")
    docs = spark.createDataFrame(
        [(1, "benchmark eval question alpha beta gamma delta leaked"),
         (2, "completely unrelated clean text nothing shared at all"),
         (3, "another clean document with different words entirely")],
        ["doc_id", "text"])
    docs_in = str(tmp_path / "docs_in")
    docs.write.parquet(docs_in)

    out = str(tmp_path / "out")
    pipeline = parse_manifest_dict({
        "apiVersion": "etl.dev/v1", "kind": "Pipeline",
        "metadata": {"name": "stream-bloom-probe"},
        "spec": {"stages": [
            {"id": "src", "type": "source",
             "config": {"source_type": "file", "path": docs_in,
                        "format": "parquet"}},
            {"id": "probe", "type": "transform", "depends_on": ["src"],
             "config": {"transform_type": "bloom_decontaminate",
                        "filter": bf_path}},
            {"id": "out", "type": "sink", "depends_on": ["probe"],
             "config": {"sink_type": "file", "format": "parquet",
                        "path": out}}]}})
    schema = spark.read.parquet(docs_in).schema
    compiled = compile_pipeline(
        spark, pipeline, streaming=True,
        source_overrides={"src": spark.readStream.schema(schema)
                          .parquet(docs_in)})
    assert compiled.sink_frames["out"].isStreaming
    run_streaming(compiled, str(tmp_path / "ckpt")).await_termination()
    got = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    expect = sorted(r.doc_id for r in bloom_decontaminate(
        docs, None, prebuilt_words=bloom_bitmap(bench, **kw),
        **kw).collect())
    assert got == expect == [2, 3]


def _fanout_dedupe(src, out_a, out_b, fan_in=False, stage=None):
    """source -> fan_out -> {``stage`` (default: dedupe keep-first on
    user_id) -> a, b}; with ``fan_in`` a late-policy fan-in takes the
    fan-out's place."""
    src_cfg = {"source_type": "file", "path": src, "format": "parquet",
               "max_files_per_trigger": 1}
    stages = [
        {"id": "src", "type": "source", "config": src_cfg},
        {"id": "fan", "type": "fan_in" if fan_in else "fan_out",
         "config": {"late_policy": "drop"} if fan_in else {}},
        {"id": "first", "type": "transform",
         "config": stage or {"transform_type": "dedupe", "key_fields": ["user_id"],
                             "keep": "first"}},
        {"id": "a", "type": "sink",
         "config": {"sink_type": "file", "format": "parquet", "path": out_a}},
        {"id": "b", "type": "sink",
         "config": {"sink_type": "file", "format": "parquet", "path": out_b}},
    ]
    edges = [{"from": "src", "to": "fan"}, {"from": "fan", "to": "first"},
             {"from": "first", "to": "a"}, {"from": "fan", "to": "b"}]
    if fan_in:
        stages.insert(1, {"id": "src2", "type": "source", "config": src_cfg})
        edges.append({"from": "src2", "to": "fan"})
    return parse_manifest_dict({
        "apiVersion": "etl.dev/v1", "kind": "Pipeline",
        "metadata": {"name": "fanout-dedupe"},
        "spec": {"stages": stages, "edges": edges}})


_T0 = dt.datetime(2024, 1, 1)
_DOCS = "doc_id bigint, text string"
# the stage below the fan-out, the rows of the two source files (one
# epoch each), and the columns of its branch compared against the batch
# run over both files (None: Spark refuses the stage on this stream)
_FANOUT_STATE = {
    "dedupe": (
        None, "event_id bigint, user_id bigint, event_time timestamp",
        [[(10 * i + j, j % 5, _T0 + dt.timedelta(seconds=10 * i + j))
          for j in range(10)] for i in range(2)], ["user_id"]),
    # a stream-stream self-join: the near-duplicate in the second file
    # pairs with its twin in the first
    "edit_distance_pairs": (
        {"transform_type": "edit_distance_pairs", "max_distance": 2}, _DOCS,
        [[(1, "hello world"), (2, "completely different")],
         [(3, "hello wurld"), (4, "nothing alike here")]],
        ["id_a", "id_b", "distance"]),
    "dedup_exact": (
        {"transform_type": "dedup_exact"}, _DOCS,
        [[(1, "same text"), (2, "other text")]] * 2, None),
}


def test_stream_fanout_keeps_dedupe_state_across_epochs(spark, tmp_path):
    """A fan-out whose sub-DAG holds a stateful stage gets no shared
    per-epoch writer: its sinks start as their own queries, so a
    keep-first dedupe over two epochs (two files of the same 5 users)
    keeps one row per user, as it does without the fan-out."""
    _check_fanout_state(spark, tmp_path, "dedupe")


@pytest.mark.parametrize("case", sorted(set(_FANOUT_STATE) - {"dedupe"}))
def test_stream_fanout_keeps_stateful_stage_across_epochs(spark, tmp_path, case):
    """The same holds for every stage the transform table declares
    stateful: a near-duplicate pair across the two files is found, and
    exact dedup, which Spark refuses on an append stream, fails as loudly
    as in a straight pipeline."""
    _check_fanout_state(spark, tmp_path, case)


def _check_fanout_state(spark, tmp_path, case):
    """Run ``case`` of ``_FANOUT_STATE`` below a fan-out over two epochs
    and compare its branch with the batch run over both files."""
    stage, schema, parts, cols = _FANOUT_STATE[case]
    src = str(tmp_path / "in")
    for rows in parts:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)
    out_a, out_b = str(tmp_path / "a"), str(tmp_path / "b")
    pipeline = _fanout_dedupe(src, out_a, out_b, stage=stage)
    if cols is None:
        straight = parse_manifest_dict({
            "apiVersion": "etl.dev/v1", "kind": "Pipeline",
            "metadata": {"name": "straight"},
            "spec": {"stages": [
                {"id": "src", "type": "source",
                 "config": {"source_type": "file", "path": src, "format": "parquet"}},
                {"id": "first", "type": "transform", "config": stage},
                {"id": "a", "type": "sink",
                 "config": {"sink_type": "file", "format": "parquet", "path": out_a}}]}})
        try:
            for i, p in enumerate((straight, pipeline)):
                with pytest.raises(Exception,
                                   match="STREAMING_OUTPUT_MODE.UNSUPPORTED_OPERATION"):
                    run_streaming(compile_pipeline(spark, p, streaming=True),
                                  str(tmp_path / f"ck{i}"))
        finally:
            for q in spark.streams.active:
                q.stop()
        return
    execu = run_streaming(compile_pipeline(spark, pipeline, streaming=True),
                          str(tmp_path / "ck"))
    execu.await_termination()
    got = sorted(map(tuple, spark.read.parquet(out_a).select(cols).collect()))
    batch = compile_pipeline(spark, pipeline)
    want = sorted(map(tuple, batch.sink_frames["a"].select(cols).collect()))
    batch.release_shared()
    assert got == want != []
    assert spark.read.parquet(out_b).count() == sum(map(len, parts))
    assert sorted(execu.queries) == ["a", "b"]


def test_replay_writers_keep_query_keys_names_and_checkpoints(spark, tmp_path):
    """The fan-out, late-policy fan-in and fused-group writers keep their
    query keys, query names, checkpoint and marker directories, so a
    checkpoint written by an earlier build resumes: a fan-out below a
    route validate (``fanout:<id>`` plus its ``dlq:<id>`` query), a
    route fan-in (``fanin:<id>``) and a two-member group
    (``group:<n>:<label>``), all with ``exactly_once=True``."""
    import os

    from etl_router_spark.streaming.group import run_streaming_group

    src = str(tmp_path / "in")
    spark.createDataFrame(
        [(1, 10, _T0), (2, None, _T0 + dt.timedelta(seconds=5))],
        "event_id bigint, user_id bigint, event_time timestamp").write.parquet(src)

    def stage(sid, kind, **config):
        return {"id": sid, "type": kind, "config": config}

    def source(sid="src"):
        return stage(sid, "source", source_type="file", path=src, format="parquet")

    def sink(sid):
        return stage(sid, "sink", sink_type="file", format="parquet",
                     path=str(tmp_path / "out" / sid))

    def pipe(name, stages, edges=None):
        dlq = {"sink_type": "file", "format": "parquet", "path": str(tmp_path / name / "dlq")}
        return parse_manifest_dict({
            "apiVersion": "etl.dev/v1", "kind": "Pipeline", "metadata": {"name": name},
            "spec": {"dlq": dlq, "stages": stages, "edges": [
                {"from": f, "to": t} for f, t in edges or []]}})

    def layout(execu, ck):
        execu.await_termination()
        return ({k: q.name for k, q in execu.queries.items()}, sorted(os.listdir(ck)))

    fanout = pipe("ck-fanout", [
        source(), stage("chk", "transform", transform_type="validate",
                        on_invalid="route", rules=[{"field": "user_id", "required": True}]),
        stage("fan", "fan_out"), sink("x"), sink("y")],
        [("src", "chk"), ("chk", "fan"), ("fan", "x"), ("fan", "y")])
    ck = str(tmp_path / "ck_fanout")
    assert layout(run_streaming(compile_pipeline(spark, fanout, streaming=True), ck,
                                exactly_once=True), ck) == (
        {"fanout:fan": "ck-fanout.fanout.fan", "dlq:chk": "ck_fanout_dlq_chk"},
        ["dlq_chk", "fanout_fan", "markers_fan"])

    watermark = {"watermark": {"event_time_field": "event_time"}}
    fanin = pipe("ck-fanin", [
        source("a"), source("b"),
        stage("both", "fan_in", late_policy="route", inputs=[watermark, watermark]),
        sink("z")], [("a", "both"), ("b", "both"), ("both", "z")])
    ck = str(tmp_path / "ck_fanin")
    assert layout(run_streaming(compile_pipeline(spark, fanin, streaming=True), ck,
                                exactly_once=True), ck) == (
        {"fanin:both": "ck-fanin.fanin.both"}, ["fanin_both", "markers_both"])

    keep = stage("keep", "transform", transform_type="filter",
                 condition={"type": "expression", "expression": "event_id > 0"})
    members = [pipe(f"ck-g{i}", [source(), keep, sink(f"g{i}")]) for i in range(2)]
    ck = str(tmp_path / "ck_group")
    assert layout(run_streaming_group(spark, members, ck, exactly_once=True), ck) == (
        {"group:0:src": "group.src"}, ["group_0", "group_0_markers"])


def test_stream_late_fanin_rejects_stateful_stage_below(spark, tmp_path):
    """The late-policy fan-in writer replays its sub-DAG per epoch, so a
    stateful stage below it is an error that names the stage."""
    src = str(tmp_path / "in")
    spark.createDataFrame([(1, 1)], "event_id bigint, user_id bigint") \
        .write.parquet(src)
    compiled = compile_pipeline(
        spark, _fanout_dedupe(src, str(tmp_path / "a"), str(tmp_path / "b"),
                              fan_in=True), streaming=True)
    with pytest.raises(ValueError, match="'first'.*dedupe"):
        run_streaming(compiled, str(tmp_path / "ck"))
    assert not spark.streams.active
