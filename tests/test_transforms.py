"""Per-operator tests for the transform library (SURVEY §2.2-§2.3)."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from etl_router_spark.compile import transforms as T
from etl_router_spark.model.conditions import Condition as C
from etl_router_spark.model.manifest import FieldMapping as M


def test_map_precedence_and_defaults(spark):
    df = spark.createDataFrame([(1, None), (2, "x")], "a int, b string")
    out = T.apply_map(
        df,
        [
            M(target="lit", literal="L"),
            M(target="b2", source="b", default="dflt"),
            M(target="twice", expression="a * 2"),
        ],
        drop_unmapped=True,
    )
    rows = {r.twice: r for r in out.collect()}
    assert out.columns == ["lit", "b2", "twice"]
    assert rows[2].b2 == "dflt" and rows[4].b2 == "x"
    assert rows[2].lit == "L"


def test_project_and_rename_and_cast(spark):
    df = spark.createDataFrame([("1", "x", "2024-01-01 00:00:00")], "a string, b string, ts string")
    out = T.apply_project(df, ["a", "ts"])
    assert out.columns == ["a", "ts"]
    out = T.apply_rename(out, {"a": "alpha"})
    assert out.columns == ["alpha", "ts"]
    out = T.apply_cast(out, {"alpha": "int64", "ts": "timestamp"})
    r = out.first()
    assert r.alpha == 1 and isinstance(r.ts, datetime)


def test_cast_safe_mode(spark):
    df = spark.createDataFrame([("oops",)], "a string")
    out = T.apply_cast(df, {"a": "int"}, safe=True)
    assert out.first().a is None


def test_mask_strategies(spark):
    df = spark.createDataFrame([("secret-value", "4111111111111111", "x@y.com", "k", None,
                                 "a@b.org")],
                               "redact string, card string, email string, tok string, nul string, "
                               "`e mail` string")
    out = (
        T.apply_mask(df, [
            {"field": "redact", "strategy": "redact", "preserve_length": True},
            {"field": "card", "strategy": "partial", "show_first": 0, "show_last": 4},
            # a field name that needs quoting in SQL text
            {"field": "e mail", "strategy": "partial", "show_first": 1, "show_last": 3},
            {"field": "email", "strategy": "hash"},
            {"field": "tok", "strategy": "tokenize", "salt": "s1"},
            {"field": "nul", "strategy": "nullify"},
        ])
    ).first()
    assert out.redact == "*" * len("secret-value")
    assert out.card == "*" * 12 + "1111"
    assert out["e mail"] == "a***org"
    assert len(out.email) == 64 and out.email != "x@y.com"
    assert out.tok.startswith("tok_")
    assert out.nul is None
    # tokenize deterministic: same input+salt -> same token
    again = T.apply_mask(df, [{"field": "tok", "strategy": "tokenize", "salt": "s1"}]).first().tok
    assert again == out.tok


def test_validate_modes(spark):
    df = spark.createDataFrame([(1, "a"), (None, "b"), (99, "zzz")], "id int, name string")
    rules = [{"field": "id", "required": True, "max": 50}, {"field": "name", "pattern": "^[a-z]{1,2}$"}]
    assert T.apply_validate(df, rules, "drop").count() == 1
    tagged = T.apply_validate(df, rules, "tag").collect()
    assert [r.valid for r in tagged].count(True) == 1
    good, bad = T.apply_validate(df, rules, "route")
    assert good.count() == 1 and bad.count() == 2
    with pytest.raises(ValueError, match="on_invalid=error"):
        T.apply_validate(df, rules, "error")


def test_validate_json_schema_and_registry_subject(spark, tmp_path):
    """ValidateTransformConfig's schema / schema_registry_url / subject
    fields (types.rs:496-506): inline JSON schema and a local file
    registry (subject.json and subject/version.json layouts)."""
    import json

    df = spark.createDataFrame(
        [(1, "ok", 10.0), (2, None, 5.0), (3, "ok", -1.0)],
        "id int, status string, amount double",
    )
    schema = {
        "type": "object",
        "required": ["status"],
        "properties": {
            "status": {"type": "string", "enum": ["ok", "retry"]},
            "amount": {"type": "number", "minimum": 0},
        },
    }
    assert T.apply_validate(df, on_invalid="drop", schema=schema).count() == 1

    # flat layout: {subject}.json
    reg = tmp_path / "registry"
    reg.mkdir()
    (reg / "orders-value.json").write_text(json.dumps(schema))
    out = T.apply_validate(
        df, on_invalid="drop",
        schema_registry_url=f"file://{reg}", subject="orders-value",
    )
    assert out.count() == 1

    # versioned layout: {subject}/{n}.json, latest = highest n
    subj = reg / "events-value"
    subj.mkdir()
    (subj / "1.json").write_text(json.dumps({"required": ["missing_col"]}))
    (subj / "2.json").write_text(json.dumps(schema))
    out2 = T.apply_validate(
        df, on_invalid="drop",
        schema_registry_url=str(reg), subject="events-value",
    )
    assert out2.count() == 1  # v2 (latest) applies, not v1

    # live registries need network: explicit error, not silent degrade
    with pytest.raises(T.ConnectorError, match="file://"):
        T.apply_validate(df, on_invalid="drop",
                         schema_registry_url="https://registry:8081",
                         subject="orders-value")
    with pytest.raises(ValueError, match="schema_registry_url"):
        T.apply_validate(df, on_invalid="drop", subject="orders-value")

    # manifest-level config fidelity: compiles through the pipeline
    from etl_router_spark.model.parser import parse_manifest_dict
    from etl_router_spark.model.validation import validate_pipeline

    p = parse_manifest_dict({
        "apiVersion": "etl.dev/v1", "kind": "Pipeline",
        "metadata": {"name": "registry-validate"},
        "spec": {"stages": [
            {"id": "src", "type": "source",
             "config": {"source_type": "file", "format": "parquet", "path": "/tmp/x"}},
            {"id": "v", "type": "transform",
             "config": {"transform_type": "validate", "on_invalid": "drop",
                        "schema_registry_url": str(reg), "subject": "orders-value"}},
            {"id": "out", "type": "sink",
             "config": {"sink_type": "file", "format": "parquet", "path": "/tmp/y"}},
        ]},
    })
    validate_pipeline(p)


def test_flatmap(spark):
    df = spark.createDataFrame([(1, ["a", "b"]), (2, [])], "id int, tags array<string>")
    out = T.apply_flatmap(df, "tags", "tag")
    assert out.count() == 2  # inner explode drops empty arrays
    outer = T.apply_flatmap(df, "tags", "tag", outer=True)
    assert outer.count() == 3
    kept = T.apply_flatmap(df, "tags", "tag", keep_parent=True)
    assert set(kept.columns) == {"id", "tags", "tag"}


def test_split_broadcast_and_first_match(spark):
    df = spark.createDataFrame(
        [("user.event", {"sev": "9"}), ("user.event", {"sev": "3"}), ("audit", {})],
        "record_type string, metadata map<string,string>",
    )
    outputs = [
        {"name": "all_users", "condition": C.record_type("user.event")},
        {"name": "critical", "condition": C.metadata_gt("sev", 5)},
    ]
    # broadcast: the sev=9 record lands in BOTH outputs (tests.rs:651-738)
    parts = T.apply_split(df, outputs, default_output="rest")
    assert parts["all_users"].count() == 2
    assert parts["critical"].count() == 1
    assert parts["rest"].count() == 1  # audit matches nothing
    # first-match: sev=9 only lands in all_users
    excl = T.apply_split(df, outputs, default_output="rest", first_match=True)
    assert excl["all_users"].count() == 2
    assert excl["critical"].count() == 0
    assert excl["rest"].count() == 1


def test_dedupe_keep_first_last(spark):
    df = spark.createDataFrame(
        [("k1", 1, "a"), ("k1", 2, "b"), ("k2", 5, "c")],
        "key string, seq int, val string",
    )
    first = {r.key: r.val for r in T.apply_dedupe(df, ["key"], "first", "seq").collect()}
    last = {r.key: r.val for r in T.apply_dedupe(df, ["key"], "last", "seq").collect()}
    assert first == {"k1": "a", "k2": "c"}
    assert last == {"k1": "b", "k2": "c"}


def test_ratelimit_drop_and_tag(spark):
    rows = [("u1", datetime(2024, 1, 1, 0, m), m) for m in range(10)]
    df = spark.createDataFrame(rows, "user string, ts timestamp, seq int")
    out = T.apply_ratelimit(df, ["user"], 3, "1 hour", "ts", "drop", ["seq"])
    assert out.count() == 3
    tagged = T.apply_ratelimit(df, ["user"], 3, "1 hour", "ts", "tag", ["seq"])
    assert tagged.filter("rate_limited").count() == 7


def test_aggregate_tumbling_window(spark, events):
    out = T.apply_aggregate(
        events,
        group_by=["event_type"],
        aggregations=[
            {"function": "count", "field": "*", "output_field": "n"},
            {"function": "sum", "field": "value", "output_field": "total"},
            {"function": "first", "field": "event_id", "output_field": "first_id"},
        ],
        window_config={"type": "tumbling", "size": "1h"},
        ts_field="ts",
    )
    assert {"window_start", "window_end", "event_type", "n", "total", "first_id"} == set(out.columns)
    total_n = out.agg(F.sum("n")).first()[0]
    assert total_n == events.count()


def test_aggregate_first_last_deterministic(spark):
    df = spark.createDataFrame(
        [("a", datetime(2024, 1, 1, 0, 0), 1), ("a", datetime(2024, 1, 1, 0, 5), 2)],
        "k string, ts timestamp, v int",
    )
    out = T.apply_aggregate(
        df, ["k"],
        [{"function": "first", "field": "v", "output_field": "f"},
         {"function": "last", "field": "v", "output_field": "l"}],
        ts_field="ts",
    ).first()
    assert out.f == 1 and out.l == 2


def test_join_shapes(spark, orders, customer):
    out = T.apply_join(
        orders, customer,
        conditions=[{"left_key": "o_custkey", "right_key": "c_custkey"}],
        how="inner", right_prefix="cust", broadcast_right=True,
    )
    assert "cust_c_name" in out.columns
    assert out.count() == orders.count()  # FK always resolves
    anti = T.apply_join(
        customer, orders,
        conditions=[{"left_key": "c_custkey", "right_key": "o_custkey"}],
        how="left_anti",
    )
    # customers with no orders
    with_orders = orders.select("o_custkey").distinct().count()
    assert anti.count() == customer.count() - with_orders


def test_sessionize_gap(spark):
    rows = [
        ("u1", datetime(2024, 1, 1, 0, 0)),
        ("u1", datetime(2024, 1, 1, 0, 10)),   # same session (gap 15m)
        ("u1", datetime(2024, 1, 1, 1, 0)),    # new session
        ("u2", datetime(2024, 1, 1, 0, 0)),
    ]
    df = spark.createDataFrame(rows, "user string, ts timestamp")
    out = T.apply_sessionize(df, ["user"], "15m", ts_field="ts")
    sessions = {(r.user, r.session_start.isoformat()): r.n_events for r in out.collect()}
    assert len(sessions) == 3
    assert sessions[("u1", "2024-01-01T00:00:00")] == 2


def test_sessionize_max_duration_splits(spark):
    rows = [("u1", datetime(2024, 1, 1, 0, 0) + timedelta(minutes=10 * i)) for i in range(7)]  # 0..60m, gaps 10m
    df = spark.createDataFrame(rows, "user string, ts timestamp")
    one = T.apply_sessionize(df, ["user"], "15m", ts_field="ts")
    assert one.count() == 1  # all one session without max_duration
    split = T.apply_sessionize(df, ["user"], "15m", ts_field="ts", max_duration="30m")
    assert split.count() > 1


# ---------------------------------------------------------------------------
# salted skew join
# ---------------------------------------------------------------------------
class TestSaltedJoin:
    def test_inner_matches_plain_join(self, spark, sf_dir):
        from etl_router_spark.compile.transforms import apply_join, salted_join

        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
            "l_orderkey", "l_partkey", "l_quantity")
        part = spark.read.parquet(f"{sf_dir}/part.parquet").select(
            "p_partkey", "p_brand")
        conds = [{"left_key": "l_partkey", "right_key": "p_partkey"}]
        plain = apply_join(li, part, conds, "inner")
        salted = salted_join(li, part, conds, "inner", salt_buckets=8)
        assert salted.columns == plain.columns
        assert salted.count() == plain.count()
        a = sorted(map(tuple, plain.collect()))
        b = sorted(map(tuple, salted.collect()))
        assert a == b

    def test_left_keeps_unmatched(self, spark, sf_dir):
        from etl_router_spark.compile.transforms import salted_join
        from pyspark.sql import functions as F

        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
            "l_orderkey", "l_partkey")
        # dimension missing some keys -> left join must null-fill, once
        part = (spark.read.parquet(f"{sf_dir}/part.parquet")
                .filter(F.col("p_partkey") % 2 == 0)
                .select("p_partkey", "p_brand"))
        out = salted_join(
            li, part, [{"left_key": "l_partkey", "right_key": "p_partkey"}],
            "left", salt_buckets=4)
        assert out.count() == li.count()
        assert out.filter(F.col("p_brand").isNull()).count() == \
            li.filter(F.col("l_partkey") % 2 == 1).count()

    def test_rejects_replicating_join_types(self, spark, sf_dir):
        import pytest as _pytest

        from etl_router_spark.compile.transforms import salted_join

        df = spark.range(10)
        with _pytest.raises(ValueError):
            salted_join(df, df, [{"left_key": "id", "right_key": "id"}], "full")
