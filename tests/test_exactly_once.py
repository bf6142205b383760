"""Exactly-once foreachBatch helpers (``proto/sink.proto`` delivery
guarantees + ``CommitMarker`` semantics)."""

from __future__ import annotations

import pytest

from etl_router_spark.sinks.registry import write_sink
from etl_router_spark.streaming.exactly_once import (
    dedupe_idempotency,
    epoch_committed,
    per_epoch,
)


def test_per_epoch_skips_replayed_epoch(spark, events, tmp_path):
    out = str(tmp_path / "out")
    markers = str(tmp_path / "markers")
    write = per_epoch(lambda b: write_sink(
        b, {"sink_type": "file", "format": "parquet", "path": out}), markers)
    batch = events.limit(50)
    write(batch, 0)
    assert epoch_committed(markers, 0)
    n1 = spark.read.parquet(out).count()
    write(batch, 0)  # replay of the same epoch: must be a no-op
    assert spark.read.parquet(out).count() == n1 == 50
    write(batch, 1)  # a new epoch appends
    assert spark.read.parquet(out).count() == 100


def test_fanout_exactly_once_markers(spark, events, tmp_path):
    """Checkpoint lost but markers intact -> replayed epoch 0 is skipped,
    sinks are not duplicated (CommitMarker semantics)."""
    import shutil

    from etl_router_spark.compile.pipeline import compile_pipeline
    from etl_router_spark.model.parser import parse_manifest_dict
    from etl_router_spark.streaming import run_streaming

    src_dir = str(tmp_path / "in")
    events.limit(100).write.parquet(src_dir)
    schema = spark.read.parquet(src_dir).schema

    doc = {
        "apiVersion": "etl.dev/v1", "kind": "Pipeline",
        "metadata": {"name": "eo-fanout"},
        "spec": {
            "stages": [
                {"id": "src", "type": "source",
                 "config": {"source_type": "file", "path": src_dir, "format": "parquet"}},
                {"id": "split", "type": "fan_out", "config": {}},
                {"id": "s1", "type": "sink",
                 "config": {"sink_type": "file", "format": "parquet",
                            "path": str(tmp_path / "s1")}},
                {"id": "s2", "type": "sink",
                 "config": {"sink_type": "file", "format": "parquet",
                            "path": str(tmp_path / "s2")}},
            ],
            "edges": [
                {"from": "src", "to": "split"},
                {"from": "split", "to": "s1"},
                {"from": "split", "to": "s2"},
            ],
        },
    }
    pipeline = parse_manifest_dict(doc)

    def _go():
        stream = spark.readStream.schema(schema).parquet(src_dir)
        compiled = compile_pipeline(spark, pipeline, streaming=True,
                                    source_overrides={"src": stream})
        run_streaming(compiled, str(tmp_path / "ckpt"),
                      exactly_once=True).await_termination()

    _go()
    assert spark.read.parquet(str(tmp_path / "s1")).count() == 100
    # lose the checkpoint (epoch ids restart at 0) but keep the markers:
    # the replayed epoch must be skipped
    shutil.rmtree(str(tmp_path / "ckpt" / "fanout_split"))
    _go()
    assert spark.read.parquet(str(tmp_path / "s1")).count() == 100
    assert spark.read.parquet(str(tmp_path / "s2")).count() == 100


def test_group_exactly_once_markers(spark, events, tmp_path):
    """run_streaming_group's CommitMarker arm (r12): checkpoint lost but
    the group's epoch markers intact -> the replayed epoch is skipped
    for EVERY member's sinks, none duplicated."""
    import shutil

    from etl_router_spark.model.parser import parse_manifest_dict
    from etl_router_spark.streaming.group import run_streaming_group

    src_dir = str(tmp_path / "in")
    events.limit(100).write.parquet(src_dir)

    def pipe(name, fields, out):
        return parse_manifest_dict({
            "apiVersion": "etl.dev/v1", "kind": "Pipeline",
            "metadata": {"name": name},
            "spec": {"stages": [
                {"id": "src", "type": "source",
                 "config": {"source_type": "file", "path": src_dir,
                            "format": "parquet"}},
                {"id": "big", "type": "transform",
                 "config": {"transform_type": "filter",
                            "condition": {"type": "expression",
                                          "expression": "value >= 0"}}},
                {"id": "t", "type": "transform",
                 "config": {"transform_type": "project",
                            "fields": fields}},
                {"id": "out", "type": "sink",
                 "config": {"sink_type": "file", "format": "parquet",
                            "path": out}}]}})

    out_a, out_b = str(tmp_path / "xa"), str(tmp_path / "xb")

    def _go():
        run_streaming_group(
            spark,
            [pipe("xa", ["event_id", "value"], out_a),
             pipe("xb", ["event_id", "user_id"], out_b)],
            str(tmp_path / "ck"), exactly_once=True).await_termination()

    _go()
    n = spark.read.parquet(out_a).count()
    assert n > 0
    # lose the streaming checkpoint (epoch ids restart at 0) but keep
    # the group's markers: the replayed epoch must be skipped
    shutil.rmtree(str(tmp_path / "ck" / "group_0"))
    _go()
    assert spark.read.parquet(out_a).count() == n
    assert spark.read.parquet(out_b).count() == n


def _replay_case(tmp_path, case):
    """(stages, edges, dlq_sink override, the query's checkpoint subdir,
    the stage it is rooted at, where the rows to count land)."""
    def src(sid, path):
        return {"id": sid, "type": "source",
                "config": {"source_type": "file", "format": "parquet", "path": path}}

    def parquet(sid, path):
        return {"id": sid, "type": "sink",
                "config": {"sink_type": "file", "format": "parquet", "path": path}}

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    out, dlq = str(tmp_path / "out"), str(tmp_path / "dlq")
    if case == "fanin":
        stages = [src("a", a), src("b", b),
                  {"id": "both", "type": "fan_in",
                   "config": {"late_policy": "tag", "inputs": [
                       {"watermark": {"event_time_field": "ts"}},
                       {"watermark": {"event_time_field": "ts"}}]}},
                  parquet("out", out)]
        edges = [("a", "both"), ("b", "both"), ("both", "out")]
        return stages, edges, None, "fanin_both", "both", ("parquet", out)
    if case == "dlq":
        stages = [src("a", a),
                  {"id": "chk", "type": "transform",
                   "config": {"transform_type": "validate", "on_invalid": "route",
                              "rules": [{"field": "user_id", "required": True}]}},
                  parquet("out", out)]
        edges = [("a", "chk"), ("chk", "out")]
        return (stages, edges, {"sink_type": "file", "format": "parquet", "path": dlq},
                "dlq_chk", "chk", ("parquet", dlq))
    jdbc = {"url": f"jdbc:derby:{tmp_path}/db;create=true", "table": "replayed",
            "driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    stages = [src("a", a), {"id": "out", "type": "sink",
                            "config": {"sink_type": "jdbc", **jdbc}}]
    return stages, [("a", "out")], None, "out", "out", ("jdbc", jdbc)


@pytest.mark.parametrize("case", ["fanin", "dlq", "jdbc"])
def test_per_epoch_query_replay_is_skipped(spark, tmp_path, case):
    """Every per-epoch query keeps CommitMarker semantics, not only the
    fan-out and group writers: with ``exactly_once=True``, losing the
    query's checkpoint but keeping its markers replays epoch 0, which is
    skipped. Cases: a late-policy fan-in writer, a DLQ query under a
    ``dlq_sink`` override, and a jdbc sink ``start_sink`` writes per
    epoch."""
    import datetime as dt
    import shutil

    from etl_router_spark.compile.pipeline import compile_pipeline
    from etl_router_spark.model.parser import parse_manifest_dict
    from etl_router_spark.streaming import run_streaming

    t0 = dt.datetime(2024, 1, 1)
    schema = "event_id bigint, user_id bigint, ts timestamp"
    for name, rows in (("a", [(1, 10, t0), (2, None, t0)]),
                       ("b", [(3, 30, t0), (4, 40, t0)])):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(tmp_path / name))
    stages, edges, dlq_sink, ckpt, root, (fmt, where) = _replay_case(tmp_path, case)
    pipeline = parse_manifest_dict({
        "apiVersion": "etl.dev/v1", "kind": "Pipeline",
        "metadata": {"name": f"replay-{case}"},
        "spec": {"stages": stages,
                 "edges": [{"from": f, "to": t} for f, t in edges]}})

    def _go():
        run_streaming(compile_pipeline(spark, pipeline, streaming=True),
                      str(tmp_path / "ck"), trigger={"availableNow": True},
                      dlq_sink=dlq_sink, exactly_once=True).await_termination(180)
        if fmt == "parquet":
            return spark.read.parquet(where).count()
        return spark.read.format("jdbc").option("url", where["url"]).option(
            "dbtable", where["table"]).option("driver", where["driver"]).load().count()

    n = _go()
    assert n == {"fanin": 4, "dlq": 1, "jdbc": 2}[case]
    shutil.rmtree(str(tmp_path / "ck" / ckpt))
    assert (tmp_path / "ck" / f"markers_{root}").is_dir()
    assert _go() == n


def test_dedupe_idempotency(spark, events):
    from etl_router_spark.model.envelope import wrap

    env = wrap(events.limit(20), record_type="t", event_time_field="ts")
    doubled = env.unionAll(env)  # simulate a replayed batch
    assert dedupe_idempotency(doubled).count() == env.count()


def test_half_written_marker_not_committed(tmp_path):
    # a torn marker (crash mid-write under a non-atomic writer) must
    # NOT read as committed — the epoch should re-run, not vanish
    from etl_router_spark.streaming.exactly_once import epoch_committed, mark_epoch

    mdir = tmp_path / "markers"
    mdir.mkdir()
    (mdir / "epoch-7").write_text("")               # empty = torn
    assert not epoch_committed(str(mdir), 7)
    (mdir / "epoch-8").write_text("committed ep")   # truncated = torn
    assert not epoch_committed(str(mdir), 8)
    (mdir / ".epoch-9.tmp").write_text("committed epoch 9\n")  # pre-rename
    assert not epoch_committed(str(mdir), 9)

    # a real mark_epoch over a previously-torn marker recovers it
    mark_epoch(str(mdir), 7)
    assert epoch_committed(str(mdir), 7)
    assert not (mdir / ".epoch-7.tmp").exists()     # tmp renamed away


def test_mark_epoch_atomic_content(tmp_path):
    from etl_router_spark.streaming.exactly_once import epoch_committed, mark_epoch

    mark_epoch(str(tmp_path / "m"), 0)
    mark_epoch(str(tmp_path / "m"), 0)  # idempotent re-mark
    assert epoch_committed(str(tmp_path / "m"), 0)
    assert not epoch_committed(str(tmp_path / "m"), 1)


def test_jdbc_idempotent_writer_replay_windows(spark, tmp_path):
    """Every failure window of the delete-then-insert epoch protocol:
    committed-epoch redelivery no-ops, and a lost-marker replay
    (crash between data and marker) deletes the half-write first."""
    from etl_router_spark.streaming.exactly_once import jdbc_idempotent_writer

    url = f"jdbc:derby:{tmp_path}/db;create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    writer = jdbc_idempotent_writer(url, "t_eo", driver,
                                    epochs_table="eo_epochs")
    b0 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    b1 = spark.createDataFrame([(3, "c")], "id long, v string")
    writer(b0, 0)
    writer(b1, 1)
    writer(b0, 0)  # full redelivery: marker exists -> skip

    def count():
        return (spark.read.format("jdbc").option("url", url)
                .option("dbtable", "t_eo").option("driver", driver)
                .load().count())

    assert count() == 3
    # crash window: marker lost after epoch 1's data landed
    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    st = conn.createStatement()
    st.executeUpdate("DELETE FROM eo_epochs WHERE epoch_id = 1")
    st.close()
    conn.close()
    writer(b1, 1)  # must delete the old epoch-1 rows before re-append
    assert count() == 3


def test_jdbc_writer_rejects_bad_identifiers(tmp_path):
    """Identifier validation happens at CONSTRUCTION (fail fast), not
    at the first epoch inside a running stream — and it closes the
    SQL-interpolation hole in the raw marker-protocol statements."""
    import pytest

    from etl_router_spark.streaming.exactly_once import jdbc_idempotent_writer

    url = f"jdbc:derby:{tmp_path}/db2;create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    for bad in ('t; DROP TABLE x', 'a b', '1tab', '', 'x"y'):
        with pytest.raises(ValueError, match="identifier"):
            jdbc_idempotent_writer(url, bad, driver)
        with pytest.raises(ValueError, match="identifier"):
            jdbc_idempotent_writer(url, "ok", driver, epochs_table=bad)
        with pytest.raises(ValueError, match="identifier"):
            jdbc_idempotent_writer(url, "ok", driver, epoch_col=bad)


def test_jdbc_writer_create_failure_propagates(spark, tmp_path):
    """A CREATE TABLE failure that is NOT 'already exists' must raise,
    not be silently swallowed: 'select' passes the identifier regex but
    is a Derby reserved word, so CREATE fails with a syntax error
    (SQLState 42X01) — exactly the class of permission/schema failure
    the old blanket `except: pass` used to hide."""
    import pytest

    from etl_router_spark.streaming.exactly_once import jdbc_idempotent_writer

    url = f"jdbc:derby:{tmp_path}/db3;create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    writer = jdbc_idempotent_writer(url, "t_ok", driver, epochs_table="select")
    b0 = spark.createDataFrame([(1, "a")], "id long, v string")
    with pytest.raises(Exception, match="(?i)syntax|select"):
        writer(b0, 0)


def test_jdbc_writer_schema_qualified_names(spark, tmp_path):
    """Schema-qualified table names (``wh.events``) are valid configs:
    each dot-separated segment is validated independently, the
    existence probe splits schema/table, and the full delete-then-
    insert protocol works end-to-end inside a non-default schema."""
    from etl_router_spark.streaming.exactly_once import jdbc_idempotent_writer

    url = f"jdbc:derby:{tmp_path}/db4;create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    jvm = spark._jvm
    jvm.java.lang.Class.forName(driver)
    conn = jvm.java.sql.DriverManager.getConnection(url)
    st = conn.createStatement()
    st.executeUpdate("CREATE SCHEMA wh")
    st.close()
    conn.close()
    writer = jdbc_idempotent_writer(url, "wh.t_eo", driver,
                                    epochs_table="wh.eo_epochs")
    b0 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    writer(b0, 0)
    writer(b0, 0)  # replay: marker in wh.eo_epochs -> skip
    got = (spark.read.format("jdbc").option("url", url)
           .option("dbtable", "wh.t_eo").option("driver", driver)
           .load().count())
    assert got == 2
    # the column stays single-segment: dots rejected there
    import pytest
    with pytest.raises(ValueError, match="identifier"):
        jdbc_idempotent_writer(url, "ok", driver, epoch_col="a.b")


def test_jdbc_table_exists_escapes_like_wildcards(spark, tmp_path):
    """``getTables`` treats its name argument as a LIKE pattern where
    ``_`` matches any char — a probe for ``etl_epochs`` must NOT
    false-positive on ``ETLXEPOCHS`` (the probe is load-bearing: it
    gates CREATE TABLE and confirms the swallowed already-exists
    path)."""
    from etl_router_spark.streaming.exactly_once import _jdbc_table_exists

    url = f"jdbc:derby:{tmp_path}/db5;create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    jvm = spark._jvm
    jvm.java.lang.Class.forName(driver)
    conn = jvm.java.sql.DriverManager.getConnection(url)
    st = conn.createStatement()
    st.executeUpdate("CREATE TABLE ETLXEPOCHS (epoch_id BIGINT)")
    st.close()
    assert not _jdbc_table_exists(conn, "etl_epochs")
    assert _jdbc_table_exists(conn, "etlxepochs")
    st = conn.createStatement()
    st.executeUpdate("CREATE TABLE etl_epochs (epoch_id BIGINT)")
    st.close()
    assert _jdbc_table_exists(conn, "etl_epochs")
    conn.close()


def test_one_per_epoch_starter():
    """Outside the ``queries*.py`` gate modules the engine calls
    ``foreachBatch`` only in ``start_per_epoch`` and ``mark_epoch`` only
    in ``per_epoch``, so ``exactly_once=True`` reaches every per-epoch
    query. Parses the source; starts no Spark."""
    import ast
    import pathlib

    import etl_router_spark

    root = pathlib.Path(etl_router_spark.__file__).parent
    found: dict[str, set[tuple[str, str]]] = {"foreachBatch": set(), "mark_epoch": set()}

    class Calls(ast.NodeVisitor):
        def __init__(self, path):
            self.path, self.outer = path, []

        def visit_FunctionDef(self, node):
            self.outer.append(node.name)
            self.generic_visit(node)
            self.outer.pop()

        visit_AsyncFunctionDef = visit_FunctionDef

        def visit_Call(self, node):
            name = getattr(node.func, "attr", getattr(node.func, "id", None))
            if name in found:
                found[name].add((self.path, self.outer[0] if self.outer else "<module>"))
            self.generic_visit(node)

    for path in sorted(root.rglob("*.py")):
        if not path.name.startswith("queries"):
            rel = path.relative_to(root).as_posix()
            Calls(rel).visit(ast.parse(path.read_text(), rel))
    assert found == {
        "foreachBatch": {("streaming/exactly_once.py", "start_per_epoch")},
        "mark_epoch": {("streaming/exactly_once.py", "per_epoch")},
    }


def test_one_replay_body():
    """The per-epoch replay has one body and one rule: no module under
    ``compile/`` or ``model/`` imports ``etl_router_spark.streaming``
    (the rule of which stages a replay may hold lives in the transform
    table), and under ``streaming/`` only ``runner.epoch_replay`` calls
    ``compile_stages``. Parses the source; starts no Spark."""
    import ast
    import pathlib

    import etl_router_spark

    root = pathlib.Path(etl_router_spark.__file__).parent
    imports, calls = set(), set()
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        tree = ast.parse(path.read_text(), rel)
        if rel.startswith(("compile/", "model/")):
            for node in ast.walk(tree):
                names = ([a.name for a in node.names] if isinstance(node, ast.Import)
                         else [node.module or ""] if isinstance(node, ast.ImportFrom)
                         else [])
                imports.update((rel, n) for n in names
                               if n.startswith("etl_router_spark.streaming"))
        if rel.startswith("streaming/"):
            for top in tree.body:
                calls.update(
                    (rel, getattr(top, "name", "<module>")) for node in ast.walk(top)
                    if isinstance(node, ast.Call)
                    and getattr(node.func, "attr", getattr(node.func, "id", None))
                    == "compile_stages")
    assert imports == set()
    assert calls == {("streaming/runner.py", "epoch_replay")}
