"""TransformService (proto/transform.proto ProcessBatch) contract tests:
status routing, DLQ enrichment, entry-point resolution, pipeline stage."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from etl_router_spark.functions.transform_service import (
    apply_transform_service,
    register_transform,
    resolve_transform,
)

SCHEMA = "id bigint, kind string, v double"


def _toy(spark):
    return spark.createDataFrame(
        [(1, "keep", 1.0), (2, "drop", 2.0), (3, "boom", 3.0), (4, "fan", 4.0)],
        SCHEMA,
    )


def _make_statuses():
    # a closure (not a module-level function) so cloudpickle ships it by
    # value — executors cannot import the tests package
    def _statuses(pdf, config):
        out_rows = []
        for r in pdf.to_dict("records"):
            if r["kind"] == "drop":
                continue  # FILTERED: emit nothing
            if r["kind"] == "boom":
                out_rows.append({**r, "__status": "ERROR", "__error": f"bad id {r['id']}"})
            elif r["kind"] == "fan":
                out_rows.append({**r, "v": r["v"] / 2, "__status": "SPLIT"})
                out_rows.append({**r, "v": r["v"] / 2, "__status": "SPLIT"})
            else:
                out_rows.append({**r, "__status": "SUCCESS"})
        return pd.DataFrame(out_rows, columns=["id", "kind", "v", "__status", "__error"])

    return _statuses


def test_status_routing_and_dlq(spark):
    main, errors = apply_transform_service(
        _toy(spark), _make_statuses(), SCHEMA, on_error="route"
    )
    got = {(r.id, r.kind, r.v) for r in main.collect()}
    assert got == {(1, "keep", 1.0), (4, "fan", 2.0)}
    # SPLIT emitted two identical rows
    assert main.count() == 3
    # the error side is the ERROR rows with their message; the pipeline
    # compiler enriches it into the DLQ frame (tests/test_dlq_write_path.py)
    d = errors.collect()
    assert len(d) == 1 and (d[0].id, d[0].kind) == (3, "boom")
    assert d[0]["__error"] == "bad id 3"
    assert "__status" not in main.columns and "__status" not in errors.columns
    assert not any(c.startswith("_dlq_") for c in errors.columns)


def test_on_error_drop_and_raise(spark):
    main = apply_transform_service(_toy(spark), _make_statuses(), SCHEMA, on_error="drop")
    assert main.filter(F.col("kind") == "boom").count() == 0
    with pytest.raises(ValueError, match="on_error=error"):
        apply_transform_service(_toy(spark), _make_statuses(), SCHEMA, on_error="error")


def test_default_status_and_proto_enum_names(spark):
    def passthrough(pdf, config):
        return pdf  # no __status column -> all SUCCESS

    out = apply_transform_service(_toy(spark), passthrough, SCHEMA, on_error="drop")
    assert out.count() == 4

    def proto_names(pdf, config):
        return pdf.assign(__status="TRANSFORM_STATUS_SUCCESS")

    out = apply_transform_service(_toy(spark), proto_names, SCHEMA, on_error="drop")
    assert out.count() == 4


def test_unknown_status_raises(spark):
    def bad(pdf, config):
        return pdf.assign(__status="WAT")

    with pytest.raises(Exception, match="unknown statuses"):
        apply_transform_service(_toy(spark), bad, SCHEMA, on_error="drop").count()


def test_reserved_schema_and_unknown_transform():
    with pytest.raises(ValueError, match="reserved"):
        # schema declaring __status is rejected before any Spark work
        from etl_router_spark.functions.transform_service import apply_transform_service as a

        a(None, lambda p, c: p, "id bigint, __status string")
    with pytest.raises(ValueError, match="unknown transform"):
        resolve_transform("no_such_transform")


def test_registry_and_entry_point_resolution():
    @register_transform("t_test_identity")
    def ident(pdf, config):
        return pdf

    assert resolve_transform("t_test_identity") is ident
    fn = resolve_transform("etl_router_spark.functions.transform_service:demo_enrich_split")
    assert callable(fn)


def test_config_reaches_transform(spark):
    def cfg_filter(pdf, config):
        return pdf[pdf["v"] >= float(config["min_v"])]

    out = apply_transform_service(
        _toy(spark), cfg_filter, SCHEMA, config={"min_v": "3"}, on_error="drop"
    )
    assert out.count() == 2


def test_pipeline_service_stage(spark):
    """transform_type: service dispatches through the compiler and, in
    route mode, returns its error side as a value (as validate route
    does)."""
    from etl_router_spark.compile.pipeline import apply_transform_stage
    from etl_router_spark.model.manifest import Stage, StageType

    stage = Stage(
        id="svc",
        stage_type=StageType.TRANSFORM,
        config={
            "transform_type": "service",
            "transform": "demo_enrich_split",
            "output_schema": "event_id bigint, user_id bigint, event_type string, value double",
            "transform_config": {"max_value": "300"},
            "on_error": "route",
        },
    )
    df = spark.createDataFrame(
        [(1, 10, "purchase", 100.0), (2, 11, "error", 5.0), (3, 12, "click", 400.0)],
        "event_id bigint, user_id bigint, event_type string, value double",
    )
    out, dlq = apply_transform_stage(df, stage, spark)
    rows = {(r.event_type, round(r.value, 6)) for r in out.collect()}
    assert rows == {("purchase_net", 97.0), ("purchase_fee", 3.0)}
    assert dlq.count() == 1 and dlq.first().event_id == 3


def test_service_in_known_transforms():
    from etl_router_spark.compile.table import TRANSFORMS

    assert "service" in TRANSFORMS
