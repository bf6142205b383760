"""The concurrent write step: ``write_outputs`` overlaps writes to
different targets, keeps one target's writes in order, raises the first
failing output's error after every other target is written, and keeps
the caller's job group on every job it starts."""

from __future__ import annotations

import os

import pytest

from etl_router_spark.compile.pipeline import compile_pipeline
from etl_router_spark.model.parser import parse_manifest_dict
from etl_router_spark.sinks.registry import same_file_target, write_sink
from etl_router_spark.streaming import run_streaming
from etl_router_spark.streaming.exactly_once import epoch_committed

SCHEMA = "user_id bigint, ts bigint, name string"
ROWS = [(u, t, f"u{u}-{t}") for t in range(1, 4) for u in range(1, 4)]


def _fan_out(src, sinks, name="fan-write"):
    """source -> fan_out -> one file sink per ``sinks`` entry
    (``(sink id, path, format)``)."""
    stages = [{"id": "src", "type": "source",
               "config": {"source_type": "file", "format": "parquet",
                          "path": src}},
              {"id": "fan", "type": "fan_out", "config": {}}]
    edges = [{"from": "src", "to": "fan"}]
    for sid, path, fmt in sinks:
        stages.append({"id": sid, "type": "sink",
                       "config": {"sink_type": "file", "format": fmt,
                                  "path": path}})
        edges.append({"from": "fan", "to": sid})
    return parse_manifest_dict({
        "apiVersion": "etl.dev/v1", "kind": "Pipeline",
        "metadata": {"name": name}, "spec": {"stages": stages, "edges": edges}})


@pytest.fixture
def src(spark, tmp_path):
    path = str(tmp_path / "in")
    spark.createDataFrame(ROWS, SCHEMA).coalesce(1).write.parquet(path)
    return path


def _count(spark, path):
    return spark.read.parquet(path).count()


@pytest.mark.parametrize("bad", [["b"], ["b", "c"]], ids=["one", "two"])
def test_failing_sink_others_written(spark, tmp_path, src, bad):
    """The sinks that do not fail are written, and ``run()`` raises the
    error of the first failing sink in the manifest's order."""
    sinks = [(sid, str(tmp_path / sid),
              f"nosuchformat_{sid}" if sid in bad else "parquet")
             for sid in ("a", "b", "c")]
    with pytest.raises(Exception, match=f"nosuchformat_{bad[0]}"):
        compile_pipeline(spark, _fan_out(src, sinks)).run()
    for sid, path, _ in sinks:
        if sid not in bad:
            assert _count(spark, path) == len(ROWS)


def _group_jobs(spark, group):
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_writer_threads_keep_the_job_group(spark, tmp_path, src):
    """Every job of a three-sink fan-out's concurrent writes carries the
    caller's job group: the group lists as many jobs as the same writes
    made one after another on the calling thread."""
    sc = spark.sparkContext

    def sinks(tag):
        return [(sid, str(tmp_path / tag / sid), "parquet")
                for sid in ("a", "b", "c")]

    serial = compile_pipeline(spark, _fan_out(src, sinks("serial")))
    sc.setJobGroup("write-serial", "sinks one by one")
    try:
        for sid, df in serial.sink_frames.items():
            write_sink(df, serial.pipeline.stages[sid].config)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        serial.release_shared()

    concurrent = compile_pipeline(spark, _fan_out(src, sinks("concurrent")))
    sc.setJobGroup("write-concurrent", "run()")
    try:
        concurrent.run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)

    expected = _group_jobs(spark, "write-serial")
    assert expected >= 3
    assert _group_jobs(spark, "write-concurrent") == expected
    for sid, path, _ in sinks("concurrent"):
        assert _count(spark, path) == len(ROWS)


@pytest.mark.parametrize("spelling", ["same", "trailing_slash", "file_scheme"])
def test_sinks_sharing_a_path_both_land(spark, tmp_path, src, spelling):
    """Two append sinks on one directory, however its path is spelled,
    write in one chain, one after the other, so neither clobbers the
    other's staging."""
    out = str(tmp_path / "out")
    other = {"same": out, "trailing_slash": out + "/",
             "file_scheme": "file:" + out}[spelling]
    compile_pipeline(spark, _fan_out(
        src, [("a", out, "parquet"), ("b", other, "parquet"),
              ("c", str(tmp_path / "c"), "parquet")])).run()
    assert _count(spark, out) == 2 * len(ROWS)


@pytest.mark.parametrize("a, b, same", [
    ("out", "out/", True),
    ("/x/out", "file:/x/out", True),
    ("/x/out", "file:///x/out/", True),
    ("/x/out", "/x/out/part", True),
    ("/x/out", "/x/outer", False),
    ("s3a://b/x", "s3a://b/x/", True),
    ("s3a://b/x", "s3a://b/y", False),
])
def test_same_file_target(a, b, same):
    cfg = lambda p: {"sink_type": "file", "path": p}  # noqa: E731
    assert same_file_target(cfg(a), cfg(b)) is same
    assert same_file_target(cfg(b), cfg(a)) is same
    assert not same_file_target(cfg(a), {"sink_type": "console"})


def test_exactly_once_epoch_with_failing_sink_gets_no_marker(spark, tmp_path, src):
    """A fan-out epoch whose write fails is not marked, so it replays;
    the sink that did not fail is written."""
    ok = str(tmp_path / "ok")
    pipeline = _fan_out(src, [("ok", ok, "parquet"),
                              ("bad", str(tmp_path / "bad"), "nosuchformat")])
    ck = str(tmp_path / "ck")
    execution = run_streaming(
        compile_pipeline(spark, pipeline, streaming=True), ck,
        trigger={"availableNow": True}, exactly_once=True)
    with pytest.raises(Exception, match="nosuchformat"):
        execution.await_termination(180)
    marker_dir = f"{ck}/markers_fan"
    assert not epoch_committed(marker_dir, 0)
    assert not os.path.isdir(marker_dir) or not os.listdir(marker_dir)
    assert _count(spark, ok) == len(ROWS)
