"""DSIR importance resampling + Efraimidis-Spirakis weighted sampling:
cross-checked against an independent pure-Python reimplementation of
the published recipes (hashed-ngram LR model, Gumbel-top-k, exponential
clocks), plus behavioral properties (target-like docs win selection)."""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import functions as F

from etl_router_spark.functions.selection import (
    dsir_logratios,
    dsir_sample,
    dsir_scores,
    weighted_sample,
)


def _h60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _grams(text: str) -> list[str]:
    toks = text.strip().split()
    return toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]


def _py_model(raw, target, buckets, smooth=0.5):
    """(lr_micro per bucket, raw gram total, target gram total)."""
    cr, ct = {}, {}
    tr = tt = 0
    for t in raw:
        for g in _grams(t):
            b = _h60(g) % buckets
            cr[b] = cr.get(b, 0) + 1
            tr += 1
    for t in target:
        for g in _grams(t):
            b = _h60(g) % buckets
            ct[b] = ct.get(b, 0) + 1
            tt += 1
    lr = {}
    for b in set(cr) | set(ct):
        v = math.log((ct.get(b, 0) + smooth) / (tt + smooth * buckets)) - math.log(
            (cr.get(b, 0) + smooth) / (tr + smooth * buckets)
        )
        lr[b] = round(v * 1e6)
    return lr


def _py_scores(raw_rows, target_texts, buckets, smooth=0.5):
    lr = _py_model([t for _, t in raw_rows], target_texts, buckets, smooth)
    return {
        i: sum(lr[_h60(g) % buckets] for g in _grams(t))
        for i, t in raw_rows
    }


RAW = [
    (1, "apple banana cherry apple"),
    (2, "dog cat mouse dog cat"),
    (3, "apple cherry banana cherry"),
    (4, "rocket launch orbit rocket"),
    (5, "banana apple apple banana"),
    (6, "dog mouse cat"),
]
TARGET = ["apple banana apple", "cherry banana apple cherry", "banana cherry"]
BUCKETS = 64


def _raw_df(spark):
    return spark.createDataFrame(RAW, ["doc_id", "text"])


def _target_df(spark):
    return spark.createDataFrame([(i, t) for i, t in enumerate(TARGET)],
                                 ["doc_id", "text"])


def test_dsir_model_matches_python_reference(spark):
    got = {
        r["bucket"]: (r["lr_micro"], r["c_target"], r["c_raw"])
        for r in dsir_logratios(_raw_df(spark), _target_df(spark),
                                buckets=BUCKETS).collect()
    }
    lr = _py_model([t for _, t in RAW], TARGET, BUCKETS)
    assert set(got) == set(lr)
    for b, v in lr.items():
        assert got[b][0] == v, f"bucket {b}"
    assert all(0 <= b < BUCKETS for b in got)


def test_dsir_scores_match_python_reference(spark):
    ref = _py_scores(RAW, TARGET, BUCKETS)
    got = {
        r["doc_id"]: r["dsir_score_micro"]
        for r in dsir_scores(_raw_df(spark), _target_df(spark),
                             buckets=BUCKETS).collect()
    }
    assert got == ref


def test_dsir_prefers_target_like_docs(spark):
    """Docs built from the target vocabulary outscore disjoint-vocab
    docs — the defining DSIR property."""
    ref = _py_scores(RAW, TARGET, BUCKETS)
    target_like = {1, 3, 5}
    assert min(ref[i] for i in target_like) > max(
        ref[i] for i in set(ref) - target_like
    )
    picked = {
        r["doc_id"]
        for r in dsir_sample(_raw_df(spark), _target_df(spark), 3,
                             buckets=BUCKETS, salt="t1").collect()
    }
    assert len(picked) == 3


def test_dsir_sample_keys_match_python_reference(spark):
    ref = _py_scores(RAW, TARGET, BUCKETS)
    keys = {}
    for i in ref:
        u = (_h60(f"t2|{i}") % 1_000_000 + 0.5) / 1_000_000.0
        keys[i] = ref[i] + round(-math.log(-math.log(u)) * 1e6)
    expect = sorted(ref, key=lambda i: (-keys[i], i))[:4]
    rows = dsir_sample(_raw_df(spark), _target_df(spark), 4,
                       buckets=BUCKETS, salt="t2").collect()
    assert [r["doc_id"] for r in rows] == expect
    for r in rows:
        assert r["dsir_key_micro"] == keys[r["doc_id"]]
        assert r["dsir_score_micro"] == ref[r["doc_id"]]


def test_dsir_scores_pass_through_input_columns(spark):
    df = _raw_df(spark).withColumn("extra", F.lit("x"))
    out = dsir_scores(df, _target_df(spark), buckets=BUCKETS)
    assert {"doc_id", "text", "extra", "dsir_score_micro"} <= set(out.columns)
    assert out.count() == len(RAW)


def _py_es_keys(rows, salt):
    out = {}
    for i, w in rows:
        if w is None or w <= 0:
            continue
        u = (_h60(f"{salt}|{i}") % 1_000_000 + 0.5) / 1_000_000.0
        out[i] = round(-math.log(u) / w * 1e6)
    return out


def test_weighted_sample_matches_python_reference(spark):
    rows = [(i, "g" + str(i % 2), float(10 * (i + 1))) for i in range(12)]
    df = spark.createDataFrame(rows, ["doc_id", "grp", "w"])
    keys = _py_es_keys([(i, w) for i, _, w in rows], "es1")
    expect = set()
    for g in ("g0", "g1"):
        members = [i for i, gg, _ in rows if gg == g]
        expect |= set(sorted(members, key=lambda i: (keys[i], i))[:2])
    got = {
        r["doc_id"]
        for r in weighted_sample(df, 2, weight_col="w", group_col="grp",
                                 salt="es1").collect()
    }
    assert got == expect


def test_weighted_sample_global_and_nonpositive(spark):
    rows = [(1, 5.0), (2, 0.0), (3, -1.0), (4, None), (5, 2.0), (6, 9.0)]
    df = spark.createDataFrame(rows, ["doc_id", "w"])
    keys = _py_es_keys(rows, "es2")
    expect = sorted(keys, key=lambda i: (keys[i], i))[:2]
    got = [r["doc_id"]
           for r in weighted_sample(df, 2, weight_col="w", salt="es2").collect()]
    assert sorted(got) == sorted(expect)
    assert {2, 3, 4}.isdisjoint(got)


HOSTILE_SALTS = ["it's", "back\\slash", "\\'", "end\\", "ünïcødé—😀"]


def test_hostile_salts_draw_as_the_python_reference(spark):
    """The SQL-text draw splices the salt into a string literal: a
    quote, a backslash or unicode must give exactly the draw of a
    pure-Python h60 of salt|id, never a parse error or a silently
    different literal."""
    import hashlib

    from etl_router_spark.functions.selection import _u_micro_sql

    df = spark.range(40).withColumnRenamed("id", "doc_id")
    for salt in HOSTILE_SALTS:
        rows = df.select("doc_id", F.expr(_u_micro_sql("doc_id", salt)).alias("u")).collect()
        for r in rows:
            h = int(hashlib.md5(f"{salt}|{r.doc_id}".encode()).hexdigest()[:15], 16)
            assert r.u == (h % 1000000 + 0.5) / 1e6, salt


def test_weighted_sample_hostile_salts_match_python_reference(spark):
    rows = [(1, 5.0), (2, 1.0), (3, 7.0), (4, 3.0), (5, 2.0), (6, 9.0)]
    df = spark.createDataFrame(rows, ["doc_id", "w"])
    for salt in HOSTILE_SALTS:
        keys = _py_es_keys(rows, salt)
        expect = sorted(keys, key=lambda i: (keys[i], i))[:3]
        got = [r["doc_id"] for r in
               weighted_sample(df, 3, weight_col="w", salt=salt).collect()]
        assert sorted(got) == sorted(expect), salt


def test_selection_stage_manifests(spark, sf_dir, tmp_path):
    """dsir_sample / weighted_sample as manifest transform_types — the
    data-selection stage is declarable in YAML like any filter."""
    from etl_router_spark.compile.pipeline import compile_pipeline
    from etl_router_spark.model.parser import parse_manifest_dict

    docs_path = f"{sf_dir}/documents.parquet"

    def run(cfg, out_name):
        pipeline = parse_manifest_dict({
            "apiVersion": "etl.dev/v1", "kind": "Pipeline",
            "metadata": {"name": out_name},
            "spec": {"stages": [
                {"id": "src", "type": "source",
                 "config": {"source_type": "file", "format": "parquet",
                            "path": docs_path}},
                {"id": "op", "type": "transform", "config": cfg},
                {"id": "out", "type": "sink",
                 "config": {"sink_type": "file", "format": "parquet",
                            "path": str(tmp_path / out_name)}},
            ]},
        })
        return compile_pipeline(spark, pipeline).sink_frames["out"]

    picked = run({"transform_type": "dsir_sample", "k": 10, "buckets": 256,
                  "salt": "m1",
                  "target": {"source_type": "file", "format": "parquet",
                             "path": docs_path}}, "dsir")
    assert picked.count() == 10
    assert "dsir_score_micro" in picked.columns

    ws = run({"transform_type": "weighted_sample", "k": 2,
              "weight_field": "n_chars", "group_field": "source",
              "salt": "m2"}, "ws")
    per_group = ws.groupBy("source").count().collect()
    assert per_group and all(r["count"] <= 2 for r in per_group)


def test_dsir_manifest_family_default_warns_once(spark, sf_dir, tmp_path):
    """The manifest default flipped h60 -> xxhash64 (bloom_*
    consistency) with NO persisted artifact to fail fast against, so a
    pre-existing manifest with a pinned salt silently selects a
    different sample — a dsir_sample stage that omits hash_family must
    warn (once per process), and pinning either family silences it
    (r14 ADVICE, the round's one medium)."""
    import warnings

    from etl_router_spark.compile import table as P
    from etl_router_spark.compile.pipeline import compile_pipeline
    from etl_router_spark.model.parser import parse_manifest_dict

    docs_path = f"{sf_dir}/documents.parquet"

    def run(cfg, out_name):
        return compile_pipeline(spark, parse_manifest_dict({
            "apiVersion": "etl.dev/v1", "kind": "Pipeline",
            "metadata": {"name": out_name},
            "spec": {"stages": [
                {"id": "src", "type": "source",
                 "config": {"source_type": "file", "format": "parquet",
                            "path": docs_path}},
                {"id": "op", "type": "transform", "config": cfg},
                {"id": "out", "type": "sink",
                 "config": {"sink_type": "file", "format": "parquet",
                            "path": str(tmp_path / out_name)}},
            ]},
        })).sink_frames["out"]

    base = {"transform_type": "dsir_sample", "k": 5, "buckets": 64,
            "salt": "release-2026-08",
            "target": {"source_type": "file", "format": "parquet",
                       "path": docs_path}}
    P._DSIR_FAMILY_WARNED = False
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        run(dict(base), "d1")
        hits = [x for x in w if "hash_family" in str(x.message)]
    assert len(hits) == 1 and "xxhash64" in str(hits[0].message)
    # once per process: a second omission does not warn again
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        run(dict(base), "d2")
    assert not [x for x in w if "hash_family" in str(x.message)]
    # an explicit family never warns
    P._DSIR_FAMILY_WARNED = False
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        run({**base, "hash_family": "h60"}, "d3")
    assert not [x for x in w if "hash_family" in str(x.message)]


def test_dsir_null_text_docs_count_zero_grams_in_both_entry_points(spark):
    """The r10 fix for the advisor finding: dsir_logratios' sum(size(
    grams)) totals treated null-text docs as -1 gram under legacy
    sizeOfNull, while dsir_scores' exploded aggregate contributes 0 —
    the two entry points must emit the SAME lr table on corpora
    containing null text."""
    from pyspark.sql import functions as F

    from etl_router_spark.functions.selection import dsir_logratios

    rows = [(i, f"alpha beta doc {i}") for i in range(20)]
    rows += [(97, None), (98, None)]  # null-text documents in raw
    raw = spark.createDataFrame(rows, "doc_id bigint, text string")
    tgt = spark.createDataFrame(
        [(100 + i, f"alpha beta target {i}") for i in range(5)]
        + [(99, None)],
        "doc_id bigint, text string")
    direct = {r["bucket"]: r["lr_micro"]
              for r in dsir_logratios(raw, tgt, buckets=64).collect()}
    # null-text docs must contribute ZERO grams to the totals: the
    # model over the full corpora equals the model over the corpora
    # with null rows dropped beforehand — exactly the identity the
    # legacy size(NULL) = -1 behavior broke
    direct_nonnull = {
        r["bucket"]: r["lr_micro"]
        for r in dsir_logratios(raw.filter(F.col("text").isNotNull()),
                                tgt.filter(F.col("text").isNotNull()),
                                buckets=64).collect()}
    assert direct == direct_nonnull


def test_dsir_hash_family_xxhash64_contract(spark):
    """The native-hash production family (mirrors the Bloom design:
    h60 = oracle-exact default, xxhash64 = codegen scale path): same
    estimator, different bucket assignment — so (a) it must be
    deterministic across runs, (b) with buckets=1 every gram lands in
    the single bucket under EITHER family, making scores and selection
    keys bit-identical to h60's (pins the plumbing end-to-end), and
    (c) an unknown family is a named error."""
    import pytest

    raw, tgt = _raw_df(spark), _target_df(spark)

    a = dsir_sample(raw, tgt, 3, buckets=BUCKETS, salt="hf",
                    hash_family="xxhash64").collect()
    b = dsir_sample(raw, tgt, 3, buckets=BUCKETS, salt="hf",
                    hash_family="xxhash64").collect()
    assert [r["doc_id"] for r in a] == [r["doc_id"] for r in b]
    assert len(a) == 3

    for fn, kw in ((dsir_scores, {}), (dsir_sample, {"salt": "hf"})):
        args = (raw, tgt, 3) if fn is dsir_sample else (raw, tgt)
        h = fn(*args, buckets=1, hash_family="h60", **kw).collect()
        x = fn(*args, buckets=1, hash_family="xxhash64", **kw).collect()
        key = lambda r: r["doc_id"]
        assert sorted([r.asDict() for r in h], key=lambda d: d["doc_id"]) == \
            sorted([r.asDict() for r in x], key=lambda d: d["doc_id"])

    lr1 = dsir_logratios(raw, tgt, buckets=1, hash_family="xxhash64").collect()
    lr2 = dsir_logratios(raw, tgt, buckets=1, hash_family="h60").collect()
    assert [r.asDict() for r in lr1] == [r.asDict() for r in lr2]

    with pytest.raises(ValueError, match="hash_family"):
        dsir_scores(raw, tgt, hash_family="fnv").collect()


def test_dsir_manifest_hash_family(spark, tmp_path):
    """dsir_sample manifests accept hash_family and default to the
    native xxhash64 family (like bloom_* stages); h60 is opt-in."""
    from etl_router_spark.compile.pipeline import compile_pipeline
    from etl_router_spark.model.parser import parse_manifest_dict

    raw_p, tgt_p = str(tmp_path / "raw"), str(tmp_path / "tgt")
    _raw_df(spark).write.parquet(raw_p)
    _target_df(spark).write.parquet(tgt_p)
    out = {}
    for fam in ("default", "h60"):
        cfg = {"transform_type": "dsir_sample", "k": 3, "buckets": 64,
               "salt": "hf",
               "target": {"source_type": "file", "format": "parquet",
                          "path": tgt_p}}
        if fam != "default":
            cfg["hash_family"] = fam
        pipeline = parse_manifest_dict({
            "apiVersion": "etl.dev/v1", "kind": "Pipeline",
            "metadata": {"name": f"dsir-hf-{fam}"},
            "spec": {"stages": [
                {"id": "src", "type": "source",
                 "config": {"source_type": "file", "format": "parquet",
                            "path": raw_p}},
                {"id": "op", "type": "transform", "config": cfg},
                {"id": "out", "type": "sink",
                 "config": {"sink_type": "file", "format": "parquet",
                            "path": str(tmp_path / f"o-{fam}")}},
            ]},
        })
        df = compile_pipeline(spark, pipeline).sink_frames["out"]
        out[fam] = [r["doc_id"] for r in df.collect()]
    for fam, family in (("default", "xxhash64"), ("h60", "h60")):
        expect = [r["doc_id"] for r in dsir_sample(
            _raw_df(spark), _target_df(spark), 3, buckets=64, salt="hf",
            hash_family=family).collect()]
        assert out[fam] == expect, fam


def test_targeted_selection_example_manifest(spark, tmp_path):
    """The shipped examples/manifests/targeted-selection.yaml compiles
    and runs end-to-end (paths and k swapped for the fixture): DSIR
    selection with the manifest-default xxhash64 family chained into a
    per-source weighted cap."""
    import yaml

    from etl_router_spark.compile.pipeline import compile_pipeline
    from etl_router_spark.model.parser import parse_manifest_dict

    raw_p, tgt_p = str(tmp_path / "raw"), str(tmp_path / "tgt")
    docs = spark.createDataFrame(
        [(i, t, len(t), s) for i, (t, s) in enumerate([
            ("apple banana cherry apple", "web"),
            ("dog cat mouse dog cat", "web"),
            ("apple cherry banana cherry", "books"),
            ("rocket launch orbit rocket", "books"),
            ("banana apple apple banana", "web"),
            ("dog mouse cat", "books")])],
        ["doc_id", "text", "n_chars", "source"])
    docs.write.parquet(raw_p)
    _target_df(spark).write.parquet(tgt_p)

    with open("examples/manifests/targeted-selection.yaml") as fh:
        doc = yaml.safe_load(fh)
    stages = doc["spec"]["stages"]
    stages[0]["config"]["path"] = raw_p
    stages[1]["config"]["k"] = 4
    stages[1]["config"]["target"]["path"] = tgt_p
    stages[2]["config"]["k"] = 1
    stages[-1]["config"]["path"] = str(tmp_path / "out")
    frames = compile_pipeline(spark, parse_manifest_dict(doc)).sink_frames
    rows = frames["selected"].collect()
    # k=1 per source group, from the 4 DSIR winners
    assert 1 <= len(rows) <= 2
    assert {"doc_id", "text", "n_chars", "source"} <= set(rows[0].asDict())
