"""Shared-prefix optimizer tests (mirror ``dsl/src/optimizer.rs:240-423``:
single pipeline, shared source, shared stateless prefix, distinct
sources) plus execution of the shared plan."""

from __future__ import annotations

from etl_router_spark.compile.optimizer import (
    compile_group,
    optimize,
    render_ascii,
    render_dot,
)
from etl_router_spark.model.parser import parse_manifest_dict


def _pipeline(name, sf_dir, out, source_path="events.parquet", steps=(), sink_id="out"):
    stages = [
        {"id": "src", "type": "source",
         "config": {"source_type": "file", "path": f"{sf_dir}/{source_path}",
                    "format": "parquet"}},
        *steps,
        {"id": sink_id, "type": "sink",
         "config": {"sink_type": "file", "format": "parquet", "path": out}},
    ]
    return parse_manifest_dict({
        "apiVersion": "etl.dev/v1", "kind": "Pipeline",
        "metadata": {"name": name}, "spec": {"stages": stages},
    })


FILTER = {"id": "keep", "type": "transform",
          "config": {"transform_type": "filter",
                     "condition": {"type": "field_in", "key": "event_type",
                                   "values": ["purchase", "click"]}}}
PROJECT = {"id": "slim", "type": "transform",
           "config": {"transform_type": "project",
                      "fields": ["event_id", "user_id", "event_type", "value"]}}
AGG = {"id": "agg", "type": "transform",
       "config": {"transform_type": "aggregate", "group_by": ["event_type"],
                  "aggregations": [{"function": "count", "field": "*",
                                    "output_field": "n"}]}}


def test_single_pipeline_no_sharing(sf_dir, tmp_path):
    dag = optimize([_pipeline("solo", sf_dir, str(tmp_path / "a"), steps=(FILTER,))])
    assert len(dag.groups) == 1
    assert dag.shared_stage_count() == 0


def test_shared_source_and_stateless_prefix(sf_dir, tmp_path):
    a = _pipeline("a", sf_dir, str(tmp_path / "a"), steps=(FILTER, PROJECT, AGG))
    b = _pipeline("b", sf_dir, str(tmp_path / "b"), steps=(FILTER, PROJECT))
    dag = optimize([a, b])
    assert len(dag.groups) == 1
    g = dag.groups[0]
    # filter+project shared; AGG is stateful -> prefix stops before it
    assert g.prefix_len == 2
    assert g.prefix_stage_ids("a") == ["keep", "slim"]


def test_prefix_stops_at_config_divergence(sf_dir, tmp_path):
    other_filter = {"id": "keep", "type": "transform",
                    "config": {"transform_type": "filter",
                               "condition": {"type": "field_in", "key": "event_type",
                                             "values": ["signup"]}}}
    a = _pipeline("a", sf_dir, str(tmp_path / "a"), steps=(FILTER, PROJECT))
    b = _pipeline("b", sf_dir, str(tmp_path / "b"), steps=(other_filter, PROJECT))
    dag = optimize([a, b])
    assert dag.groups[0].prefix_len == 0  # same ids, different configs


def test_distinct_sources_not_grouped(sf_dir, tmp_path):
    a = _pipeline("a", sf_dir, str(tmp_path / "a"), source_path="events.parquet")
    b = _pipeline("b", sf_dir, str(tmp_path / "b"), source_path="orders.parquet")
    dag = optimize([a, b])
    assert len(dag.groups) == 2
    assert all(len(g.pipelines) == 1 for g in dag.groups)


def test_compile_group_shared_results_match_independent(spark, sf_dir, tmp_path):
    a = _pipeline("a", sf_dir, str(tmp_path / "a"), steps=(FILTER, PROJECT, AGG))
    b = _pipeline("b", sf_dir, str(tmp_path / "b"), steps=(FILTER, PROJECT))
    compiled = compile_group(spark, [a, b])
    assert set(compiled) == {"a", "b"}

    from etl_router_spark.compile.pipeline import compile_pipeline

    for p in (a, b):
        shared_df = compiled[p.id].sink_frames["out"]
        solo_df = compile_pipeline(spark, p).sink_frames["out"]
        assert shared_df.count() == solo_df.count()
        assert sorted(shared_df.columns) == sorted(solo_df.columns)
    # the shared prefix frame is persisted exactly once and reused
    a_prefix = compiled["a"].stage_frames["slim"]
    b_prefix = compiled["b"].stage_frames["slim"]
    assert a_prefix is b_prefix
    assert a_prefix.storageLevel.useMemory
    a_prefix.unpersist()


def test_shared_prefix_unpersists_after_group_runs(spark, sf_dir, tmp_path):
    """The persisted shared prefix is RELEASED by the group's last
    run() — without this the CLI --all loop (and any session that
    compiles groups repeatedly) accretes persisted frames in executor
    storage forever (r11 advisor). release_shared is idempotent and
    available to callers that never run()."""
    a = _pipeline("a", sf_dir, str(tmp_path / "a"), steps=(FILTER, PROJECT))
    b = _pipeline("b", sf_dir, str(tmp_path / "b"), steps=(FILTER, PROJECT))
    compiled = compile_group(spark, [a, b])
    prefix = compiled["a"].stage_frames["slim"]
    assert prefix.storageLevel.useMemory
    compiled["a"].run()
    assert prefix.storageLevel.useMemory  # b still holds a claim
    compiled["b"].run()
    assert not prefix.storageLevel.useMemory  # last member released
    compiled["b"].release_shared()  # idempotent no-op
    # a singly-compiled pipeline has no shared handle
    from etl_router_spark.compile.pipeline import compile_pipeline

    solo = compile_pipeline(spark, _pipeline(
        "c", sf_dir, str(tmp_path / "c"), steps=(FILTER, PROJECT)))
    assert solo.shared_prefix is None
    solo.release_shared()


def _fan_out_pipeline(sf_dir, tmp_path):
    def sink(sid):
        return {"id": sid, "type": "sink",
                "config": {"sink_type": "file", "format": "parquet",
                           "path": str(tmp_path / sid)}}

    return parse_manifest_dict({
        "apiVersion": "etl.dev/v1", "kind": "Pipeline",
        "metadata": {"name": "fan"},
        "spec": {"stages": [
            {"id": "src", "type": "source",
             "config": {"source_type": "file", "format": "parquet",
                        "path": f"{sf_dir}/events.parquet"}},
            {"id": "fan", "type": "fan_out", "config": {}},
            sink("a"), sink("b")],
            "edges": [{"from": "src", "to": "fan"},
                      {"from": "fan", "to": "a"},
                      {"from": "fan", "to": "b"}]}})


def test_fan_out_persist_released_after_run(spark, sf_dir, tmp_path):
    """A batch fan_out stage's persisted upstream (one scan for all its
    sinks) is released by run() through the same handle the group's
    shared prefix uses — before, every fan-out run left one cached RDD
    behind for the session's life."""
    from etl_router_spark.compile.pipeline import compile_pipeline

    p = _fan_out_pipeline(sf_dir, tmp_path)
    jsc = spark.sparkContext._jsc  # noqa: SLF001
    before = jsc.getPersistentRDDs().size()
    compiled = compile_pipeline(spark, p)
    shared = compiled.stage_frames["fan"]
    assert shared.storageLevel.useMemory
    # both branches read the one persisted scan
    assert "InMemoryTableScan" in (compiled.sink_frames["a"]._jdf  # noqa: SLF001
                                   .queryExecution().executedPlan().toString())
    compiled.run()
    assert not shared.storageLevel.useMemory
    assert jsc.getPersistentRDDs().size() == before
    n = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    for sid in ("a", "b"):
        assert spark.read.parquet(str(tmp_path / sid)).count() == n
    compiled.release_shared()  # idempotent no-op


def test_fan_out_keeps_a_caller_cached_source(spark, sf_dir, tmp_path):
    """A fan_out directly on a source override the caller cached reuses
    that cache and leaves it cached after run(): the frame is the
    caller's to release."""
    from etl_router_spark.compile.pipeline import compile_pipeline

    events = spark.read.parquet(f"{sf_dir}/events.parquet").cache()
    try:
        compiled = compile_pipeline(spark, _fan_out_pipeline(sf_dir, tmp_path),
                                    source_overrides={"src": events})
        assert compiled.shared_prefix is None
        compiled.run()
        assert events.storageLevel.useMemory
        assert spark.read.parquet(str(tmp_path / "a")).count() == events.count()
    finally:
        events.unpersist()


def test_render_outputs(sf_dir, tmp_path):
    a = _pipeline("a", sf_dir, str(tmp_path / "a"), steps=(FILTER, PROJECT))
    b = _pipeline("b", sf_dir, str(tmp_path / "b"), steps=(FILTER, PROJECT))
    dot = render_dot([a, b])
    assert dot.startswith("digraph") and "peripheries=2" in dot
    txt = render_ascii([a, b])
    assert "keep*" in txt and "shared across 2 pipelines" in txt


def test_render_non_linear_dag(sf_dir, tmp_path):
    """A fan-out (non-linear) pipeline renders its DECLARED DAG —
    every stage node and every edge — instead of collapsing to a bare
    source cylinder (dot) or an opaque stage count (ascii), which is
    what `cli graph` showed for dedup-at-scale.yaml before r12."""
    from etl_router_spark.model.parser import parse_manifest_dict

    p = parse_manifest_dict({
        "apiVersion": "etl.dev/v1", "kind": "Pipeline",
        "metadata": {"name": "fan"},
        "spec": {"stages": [
            {"id": "src", "type": "source",
             "config": {"source_type": "file", "format": "parquet",
                        "path": f"{sf_dir}/events.parquet"}},
            {"id": "a", "type": "transform", "depends_on": ["src"],
             "config": {"transform_type": "filter",
                        "condition": {"type": "expression",
                                      "expression": "value >= 0"}}},
            {"id": "a_out", "type": "sink", "depends_on": ["a"],
             "config": {"sink_type": "file", "format": "parquet",
                        "path": str(tmp_path / "a")}},
            {"id": "b", "type": "transform", "depends_on": ["src"],
             "config": {"transform_type": "project",
                        "fields": ["event_id"]}},
            {"id": "b_out", "type": "sink", "depends_on": ["b"],
             "config": {"sink_type": "file", "format": "parquet",
                        "path": str(tmp_path / "b")}}]}})
    dot = render_dot([p])
    for sid in ("src", "a", "a_out", "b", "b_out"):
        assert f"fan_{sid} " in dot, sid
    assert "fan_src -> fan_a;" in dot and "fan_src -> fan_b;" in dot
    assert "shape=cylinder" in dot and dot.count("shape=cds") == 2
    txt = render_ascii([p])
    assert "src->a" in txt and "src->b" in txt and "b->b_out" in txt


def test_shared_prefix_validate_route_keeps_dlq(spark, sf_dir, tmp_path):
    """A route-mode validate inside the SHARED prefix still delivers
    its DLQ side to EVERY pipeline in the group (r11 fix — the shared
    compile's dlq_frames were discarded, silently losing the rejected
    rows for the whole group). Each pipeline sees the side under its
    OWN stage id, and the rows match an independent compile."""
    from etl_router_spark.compile.pipeline import compile_pipeline

    VALIDATE = {"id": "gate", "type": "transform",
                "config": {"transform_type": "validate",
                           "on_invalid": "route",
                           "rules": [{"field": "value", "required": True,
                                      "min": 0}]}}
    ps = [
        _pipeline("a", sf_dir, str(tmp_path / "a"), steps=(VALIDATE, FILTER)),
        _pipeline("b", sf_dir, str(tmp_path / "b"), steps=(VALIDATE, PROJECT)),
    ]
    dag = optimize(ps)
    (grp,) = [g for g in dag.groups if len(g.pipelines) == 2]
    assert grp.prefix_len >= 1  # validate IS shared
    compiled = compile_group(spark, ps)
    solo = compile_pipeline(spark, ps[0])
    assert "gate" in solo.dlq_frames  # the side exists independently
    expect = solo.dlq_frames["gate"].count()
    for pid in ("a", "b"):
        assert "gate" in compiled[pid].dlq_frames, pid
        assert compiled[pid].dlq_frames["gate"].count() == expect
