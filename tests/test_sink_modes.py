"""One sink config, two modes: a manifest's file sink writes the same rows
and the same kind of files in batch (``compile_pipeline(...).run()``) and
in streaming (``run_streaming``), because both decode the config through
``sinks.registry``."""

from __future__ import annotations

import gzip
import os
import re

import pytest

from etl_router_spark.compile.pipeline import compile_pipeline
from etl_router_spark.model.parser import parse_manifest_dict
from etl_router_spark.streaming import run_streaming

SCHEMA = "user_id bigint, ts bigint, name string"
# three users, three changes each; upsert keeps the latest per user
ROWS = [(u, t, f"u{u}-{t}") for t in range(1, 4) for u in range(1, 4)]


def _manifest(src, out, sink, fields):
    stages = [{"id": "src", "type": "source",
               "config": {"source_type": "file", "format": "parquet",
                          "path": src}}]
    if fields:
        stages.append({"id": "cols", "type": "transform",
                       "config": {"transform_type": "project",
                                  "fields": fields}})
    stages.append({"id": "out", "type": "sink",
                   "config": {"sink_type": "file", "path": out, **sink}})
    return parse_manifest_dict({
        "apiVersion": "etl.dev/v1", "kind": "Pipeline",
        "metadata": {"name": "sink-modes"}, "spec": {"stages": stages}})


def _data_files(path):
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        yield from (os.path.join(root, f) for f in files
                    if not f.startswith(("_", ".")))


def _suffixes(path):
    # the extension chain after the part file's name: .csv, .json.gz, ...
    return {re.search(r"(\.[a-z]+)+$", f).group(0) for f in _data_files(path)}


def _rows(spark, path, fmt):
    if fmt == "csv":
        df = spark.read.option("header", True).csv(path)
    elif fmt == "lines":
        df = spark.read.text(path)
    else:
        df = spark.read.format(fmt).load(path)
    return sorted(tuple(str(v) for v in r) for r in df.collect())


CASES = {
    "csv": ({"format": "csv"}, None),
    "json_gzip": ({"format": "json", "compression": "gzip"}, None),
    "lines": ({"format": "lines"}, ["name"]),
    "partition_by": ({"format": "parquet", "partition_by": ["user_id"]}, None),
    "upsert": ({"format": "parquet", "mode": "upsert", "merge_keys": ["user_id"],
                "order_by": ["ts"]}, None),
}


@pytest.mark.parametrize("case", list(CASES))
def test_file_sink_batch_and_streaming_agree(spark, tmp_path, case):
    sink, fields = CASES[case]
    src = str(tmp_path / "in")
    spark.createDataFrame(ROWS, SCHEMA).coalesce(1).write.parquet(src)
    batch_out, stream_out = str(tmp_path / "batch"), str(tmp_path / "stream")

    compile_pipeline(spark, _manifest(src, batch_out, sink, fields)).run()
    compiled = compile_pipeline(
        spark, _manifest(src, stream_out, sink, fields), streaming=True)
    run_streaming(compiled, str(tmp_path / "ck"),
                  trigger={"availableNow": True}).await_termination(180)

    fmt = sink["format"]
    batch = _rows(spark, batch_out, fmt)
    assert len(batch) == (3 if case == "upsert" else len(ROWS))
    assert _rows(spark, stream_out, fmt) == batch
    assert _suffixes(stream_out) == _suffixes(batch_out)
    if fmt == "csv":
        for out in (batch_out, stream_out):
            for f in _data_files(out):
                with open(f) as fh:
                    assert fh.readline().strip() == "user_id,ts,name"


UPSERT = {"mode": "upsert", "merge_keys": ["user_id"], "order_by": ["ts"]}
UPSERT_CASES = {
    "csv_gzip": ({"format": "csv", "compression": "gzip", **UPSERT}, None),
    # the merge key is not the first column: a csv target's columns must
    # keep the batch's order, since the read-back schema applies by position
    "csv_key_last": ({"format": "csv", **UPSERT}, ["ts", "name", "user_id"]),
    "partition_by": ({"format": "parquet", "partition_by": ["user_id"],
                      **UPSERT}, None),
}


@pytest.mark.parametrize("case", list(UPSERT_CASES))
def test_upsert_file_sink_keeps_decoded_options(spark, tmp_path, case):
    """An upsert sink writes its first batch and every merge with the
    options a plain file sink decodes (csv header, compression,
    ``partition_by``), and reads the existing dataset back with them."""
    sink, fields = UPSERT_CASES[case]
    out = str(tmp_path / "out")
    for i, rows in enumerate((ROWS[:6], ROWS[6:])):  # ts 1-2, then ts 3
        src = str(tmp_path / f"in{i}")
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(src)
        compile_pipeline(spark, _manifest(src, out, sink, fields)).run()

    latest = sorted((str(u), "3", f"u{u}-3") for u in range(1, 4))
    fmt = sink["format"]
    df = (spark.read.option("header", True).csv(out) if fmt == "csv"
          else spark.read.parquet(out))
    assert sorted(tuple(str(r[c]) for c in ("user_id", "ts", "name"))
                  for r in df.collect()) == latest
    if fmt == "csv":
        header = ",".join(fields or ["user_id", "ts", "name"])
        assert _suffixes(out) == (
            {".csv.gz"} if sink.get("compression") else {".csv"})
        for f in _data_files(out):
            with (gzip.open(f, "rt") if f.endswith(".gz") else open(f)) as fh:
                assert fh.readline().strip() == header
    else:
        assert sorted(d for d in os.listdir(out) if d.startswith("user_id=")) \
            == ["user_id=1", "user_id=2", "user_id=3"]
