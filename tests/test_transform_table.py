"""The transform table (``compile/table.py``) and the key checks it feeds.

Three parts: every shipped manifest validates (no Spark); typos fail
``validate_pipeline`` loudly; every table entry compiles from a minimal
manifest (``SMOKE``). ``SMOKE`` and ``smoke_pipeline`` are plain data
and one builder, so a script can compile the same manifests against
another checkout and diff the analyzed plans.
"""

from __future__ import annotations

import glob
import os
from datetime import datetime

import pytest
import yaml

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# one input row set for every smoke manifest; `side` is the same rows
# written as parquet, the source of every side input
DOCS_SCHEMA = (
    "doc_id long, vec_id long, text string, query_text string, "
    "source string, url string, embedding array<double>, media binary, "
    "items array<string>, n_tokens long, score double, query_id long, "
    "rank int, rel int, src long, dst long, op string, seq long, "
    "event_time timestamp")
DOCS_ROWS = [
    (1, 1, "the cat sat on the mat. the cat sat.\nsame line\nsame line",
     "cat mat", "a", "http://Example.com/a?x=1", [1.0, 0.0, 0.0, 0.5],
     b"img1", ["x", "y"], 10, 0.9, 1, 1, 1, 1, 2, "upsert", 1, datetime(2024, 1, 1, 0, 0)),
    (2, 2, "the cat sat on the mat. the cat sat.\nsame line\nother line",
     "dog", "a", "http://example.com/b", [0.9, 0.1, 0.0, 0.5],
     b"img2", ["z"], 20, 0.4, 1, 2, 0, 2, 3, "upsert", 2, datetime(2024, 1, 1, 0, 5)),
    (3, 3, "a dog ran far away from home. it came back later on.",
     "cat", "b", "http://other.org/c", [0.0, 1.0, 0.5, 0.0],
     b"img3", [], 30, 0.1, 2, 1, 1, 3, 1, "delete", 3, datetime(2024, 1, 1, 0, 10)),
    (4, 4, "email me at x@y.com or call 555-123-4567 today please ok",
     "email", "b", "http://other.org/d", [0.0, 0.9, 0.5, 0.1],
     b"img4", ["w"], 40, 0.7, 2, 2, 0, 1, 3, "upsert", 4, datetime(2024, 1, 1, 0, 15)),
]
SIDE = {"source_type": "file", "format": "parquet", "path": "__SIDE__"}
CONDITION = {"type": "field_in", "key": "source", "values": ["a"]}

# transform_type[:variant] -> stage config (without transform_type);
# keys with a manifest default are left out, so the default shows in the plan
SMOKE: dict[str, dict] = {
    "filter": {"condition": CONDITION, "negate": True},
    "map": {"mappings": [{"target": "body", "source": "text"}]},
    "project": {"fields": ["doc_id", "text"]},
    "rename": {"renames": {"text": "body"}},
    "cast": {"casts": {"doc_id": "string"}},
    "mask": {"rules": [{"field": "url", "strategy": "redact"}]},
    "validate": {"rules": [{"field": "score", "min": 0.2}], "on_invalid": "route"},
    "flatmap": {"field": "items", "target_field": "item"},
    "split": {"outputs": [{"name": "out", "condition": CONDITION}]},
    "join": {"right": "src", "conditions": [{"left_key": "doc_id", "right_key": "doc_id"}],
             "right_prefix": "r_", "join_type": "left"},
    "dedupe": {"key_fields": ["source"], "keep": "last"},
    "ratelimit": {"key_fields": ["source"], "max_rate": 1},
    "aggregate": {"group_by": ["source"],
                  "aggregations": [{"function": "sum", "field": "score"}]},
    "sessionize": {"key_fields": ["source"], "gap": "10 minutes"},
    "service": {"transform": "demo_enrich_split",
                "output_schema": "event_id bigint, user_id bigint, event_type string, value double",
                "transform_config": {"max_value": "300"}},
    "dedup_exact": {},
    "dedup_index_build": {"num_hashes": 8, "bands": 4},
    "dedup_index_probe": {"index_path": "__INDEX__"},
    "dedup_minhash": {},
    "dedup_ngram": {"n": 2},
    "dedup_simhash": {"max_hamming": 2},
    "dedup_embedding": {},
    "dedup_embedding:lsh": {"method": "lsh", "dim": 4, "planes": 4},
    "dedup_embedding:semantic": {"method": "semantic", "n_cells": 2, "salt_cap": 64},
    "dedup_cluster": {},
    "dedup_cluster:minhash": {"method": "minhash", "emit": "canonical"},
    "similarity_topk": {"k": 2, "query_condition": CONDITION},
    "pq_encode": {"dim": 4, "m": 2, "k_centroids": 4, "keep_vec": True},
    "pq_topk": {"dim": 4, "m": 2, "k_centroids": 4, "k": 2},
    "pq_topk:ivf": {"dim": 4, "m": 2, "k_centroids": 4, "nprobe": 1, "n_centroids": 2},
    "pq_topk:rerank": {"dim": 4, "m": 2, "k_centroids": 4, "nprobe": 1,
                       "n_centroids": 2, "shortlist": 3, "query_condition": CONDITION},
    "quality_classifier": {"num_features": 16},
    "text_stats": {},
    "langid": {},
    "fingerprint": {},
    "tokenize": {},
    "multimodal_extract": {"feature_dim": 4},
    "decontaminate": {"benchmark": SIDE, "ngram": 4},
    "redact_spans": {"benchmark": SIDE, "n": 4},
    "decontaminate_fuzzy": {"benchmark": SIDE},
    "bloom_build": {"ngram": 4},
    "bloom_decontaminate": {"benchmark": SIDE, "ngram": 4},
    "retrieval_eval": {"qrels": SIDE, "k": 2},
    "hard_negatives": {"qrels": SIDE, "n_negatives": 1},
    "epoch_upsample": {"weights": {"a": 1.0, "b": 2}, "token_budget": 100,
                       "size_field": "n_tokens"},
    "snapshot_diff": {"baseline": SIDE, "compare_fields": ["text"]},
    "hash_sample": {"salt": "s"},
    "c4_filter": {"min_sentences": 1},
    "gopher_filter": {"min_words": 3, "mode": "drop"},
    "duplicate_spans": {"n": [3, 5]},
    "mix_sample": {"weights": {"a": 0.5, "b": 0.5}},
    "dsir_sample": {"target": SIDE},
    "weighted_sample": {"weight_field": "score"},
    "pack_sequences": {"id_field": "vec_id"},
    "pack_boundaries": {},
    "bpe_tokenize": {"merges": [["t", "h"], ["th", "e"]]},
    "kafka_envelope": {"payload_schema": "a int", "record_type": "r"},
    "repetition_stats": {},
    "pii_redact": {},
    "chunk": {},
    "line_dedup": {},
    "strip_repeated_lines": {},
    "text_normalize": {"strip_non_alnum": True},
    "embedding_normalize": {},
    "embedding_quantize": {},
    "embedding_mean_pool": {},
    "embedding_pca_project": {"components": [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]},
    "tfidf": {"k": 2},
    "heavy_hitters": {"k": 3},
    "inverted_index": {"max_df": 3},
    "group_topk": {"group_field": "source", "order_field": "score", "k": 1},
    "global_shuffle": {"seed": 7},
    "leakage_splits": {"fractions": {"train": 0.5, "test": 0.5}},
    "cdc_apply": {"key_fields": ["source"], "order_fields": ["seq"], "op_field": "op"},
    "split_assign": {"fractions": {"train": 0.5, "test": 0.5}},
    "ngram_counts": {"k": 5},
    "char_entropy": {"output_field": "ent"},
    "unigram_logprob": {},
    "bigram_logprob": {"lam": 0.5},
    "url_normalize": {},
    "domain_cap": {"cap": 1},
    "filter_attribution": {"rules": {"long": "length(text) > 40"}},
    "yield_curve": {"score_field": "score", "thresholds": [0.2, 0.5]},
    "quality_filter": {"score_field": "score", "group_field": "source"},
    "quality_buckets": {"score_field": "score", "group_field": "source"},
    "chunk_sentences": {"max_chars": 30},
    "bm25": {"queries": SIDE, "k": 2},
    "edit_distance_pairs": {"max_distance": 3},
    "pagerank": {"iterations": 2},
    "degree_stats": {},
    "triangle_count": {},
}

# types whose operator reads another input shape
EVENTS = ("event_id bigint, user_id bigint, event_type string, value double",
          [(1, 10, "purchase", 100.0), (2, 11, "error", 5.0), (3, 12, "click", 400.0)])
KAFKA = ("key binary, value string, topic string, partition int, offset long, "
         "timestamp timestamp", [(b"k", '{"a": 1}', "t", 0, 5, None)])
FRAMES = {"service": EVENTS, "kafka_envelope": KAFKA}


def smoke_pipeline(case: str, paths: dict[str, str]) -> dict:
    """The manifest of one ``SMOKE`` case: source ``src`` -> the stage
    ``t`` -> sink ``out``; ``paths`` fills the ``__SIDE__``/``__INDEX__``
    placeholders."""
    cfg = yaml.safe_load(yaml.safe_dump(SMOKE[case]))  # a deep copy
    for key, value in cfg.items():
        if isinstance(value, dict) and value.get("path") == "__SIDE__":
            cfg[key] = {**value, "path": paths["side"]}
        elif value == "__INDEX__":
            cfg[key] = paths["index"]
    return {
        "apiVersion": "etl.dev/v1", "kind": "Pipeline",
        "metadata": {"name": f"smoke-{case.replace(':', '-')}"},
        "spec": {"stages": [
            {"id": "src", "type": "source", "config": {"source_type": "memory"}},
            {"id": "t", "type": "transform",
             "config": {"transform_type": case.split(":")[0], **cfg}},
            {"id": "out", "type": "sink",
             "config": {"sink_type": "file", "format": "parquet",
                        "path": "/nonexistent/out"}},
        ]},
    }


def smoke_inputs(spark, workdir: str) -> tuple[dict, dict[str, str]]:
    """Input frames by type (``None`` = the docs rows) and the side
    input paths, written under ``workdir``."""
    from etl_router_spark.functions.dedup import minhash_index

    docs = spark.createDataFrame(DOCS_ROWS, DOCS_SCHEMA)
    paths = {"side": os.path.join(workdir, "side"),
             "index": os.path.join(workdir, "index")}
    if not os.path.exists(paths["side"]):
        docs.write.parquet(paths["side"])
        minhash_index(docs).write.parquet(paths["index"])
    frames = {None: docs}
    frames.update({tt: spark.createDataFrame(rows, schema)
                   for tt, (schema, rows) in FRAMES.items()})
    return frames, paths


def _shipped_pipelines():
    from etl_router_spark.model.parser import parse_manifests
    from etl_router_spark.model.registry import Registry, load_documents, resolve

    files = sorted(glob.glob(os.path.join(ROOT, "examples", "manifests", "**", "*.yaml"),
                             recursive=True)
                   + glob.glob(os.path.join(ROOT, "perfbench", "manifests", "*.yaml")))
    assert files
    for path in files:
        with open(path) as fh:
            text = fh.read()
        for key in ("IN", "OUT", "STATS"):
            text = text.replace(f"__{key}__", f"/tmp/{key.lower()}")
        text = text.replace("__SCHEMA__", "event_id bigint")
        docs = [d for d in yaml.safe_load_all(text) if d]
        if all(d.get("apiVersion") == "etl.dev/v1" for d in docs):
            pipelines = parse_manifests(text)
        else:
            reg = Registry()
            pipelines = [resolve(reg, r) for r in load_documents(docs, reg)
                         if r.kind == "Pipeline"]
        assert pipelines, path
        yield from pipelines


def test_every_shipped_manifest_validates():
    from etl_router_spark.model.validation import validate_pipeline

    seen = 0
    for pipeline in _shipped_pipelines():
        validate_pipeline(pipeline)
        seen += 1
    assert seen >= 24


def _smoke(case: str, **config) -> object:
    from etl_router_spark.model.parser import parse_manifest_dict

    doc = smoke_pipeline(case, {"side": "/s", "index": "/i"})
    stage = doc["spec"]["stages"][1]["config"]
    stage.update(config)
    for key in [k for k, v in config.items() if v is None]:
        del stage[key]
    return parse_manifest_dict(doc)


@pytest.mark.parametrize("case, config, needle", [
    # a misspelled key: it used to compile with the defaults
    ("dedup_ngram", {"treshold": 0.5}, "'treshold'"),
    ("dedup_ngram", {"text_feild": "body"}, "'text_feild'"),
    ("filter", {"negte": True}, "'negte'"),
    # a key of another transform type
    ("dedup_minhash", {"max_hamming": 3}, "'max_hamming'"),
    ("pq_encode", {"index_path": "/x"}, "'index_path'"),
    ("chunk", {"out_field": "c"}, "'out_field'"),
    # a missing required key
    ("filter", {"condition": None}, "requires key 'condition'"),
    ("epoch_upsample", {"token_budget": None}, "requires key 'token_budget'"),
    ("service", {"transform": None}, "requires key 'transform'"),
    # a misspelled value of an operator's Literal[...] parameter: it used
    # to fail only at compile
    ("domain_cap", {"method": "exactt"}, "key 'method' has value 'exactt'"),
    ("decontaminate", {"mode": "flg"}, "key 'mode' has value 'flg'"),
    ("decontaminate_fuzzy", {"mode": "dorp"}, "key 'mode' has value 'dorp'"),
    ("bloom_decontaminate", {"mode": "tagg"}, "key 'mode' has value 'tagg'"),
    ("gopher_filter", {"mode": "keep"}, "key 'mode' has value 'keep'"),
    ("c4_filter", {"mode": "Tag"}, "key 'mode' has value 'Tag'"),
])
def test_typos_fail_validation(case, config, needle):
    from etl_router_spark.model.validation import ValidationError, validate_pipeline

    with pytest.raises(ValidationError, match=needle) as err:
        validate_pipeline(_smoke(case, **config))
    # the message names the stage, and for an unknown key the allowed ones
    assert "stage 't'" in str(err.value)
    if "requires" not in needle:
        assert "allowed: [" in str(err.value)


@pytest.mark.parametrize("case, config, needle", [
    # a misspelled selector value: it used to pick another operator or
    # fail only at compile
    ("dedup_embedding", {"method": "lshh"}, "key 'method' has value 'lshh'"),
    ("dedup_cluster", {"emit": "canonicl"}, "key 'emit' has value 'canonicl'"),
    ("dedup_cluster", {"method": "minhashh"}, "key 'method' has value 'minhashh'"),
    ("leakage_splits", {"method": "minhashh"}, "key 'method' has value 'minhashh'"),
    ("pq_topk", {"method": "fast"}, "key 'method' has value 'fast'"),
    ("ratelimit", {"on_exceed": "dorp"}, "key 'on_exceed' has value 'dorp'"),
    # a key only the picked PARTS operator requires
    ("dedup_embedding", {"method": "lsh", "dim": None}, "requires key 'dim'"),
    ("pq_encode", {"dim": None}, "requires key 'dim'"),
    ("pq_topk", {"dim": None}, "requires key 'dim'"),
])
def test_selectors_fail_validation(case, config, needle):
    from etl_router_spark.model.validation import ValidationError, validate_pipeline

    with pytest.raises(ValidationError, match=needle) as err:
        validate_pipeline(_smoke(case, **config))
    assert "stage 't'" in str(err.value)
    if "requires" not in needle:
        assert "allowed: [" in str(err.value)


@pytest.mark.parametrize("case, config, branch", [
    ("pq_topk:ivf", {"method": "sql"}, "nprobe"),
    ("pq_topk", {"method": "blas", "index_path": "/i", "dim": None}, "index_path"),
])
def test_key_unread_on_the_picked_branch_fails_validation(case, config, branch):
    """pq_topk's IVF-PQ branch (picked by nprobe or index_path) has one
    scorer: a method key there used to validate and be dropped."""
    from etl_router_spark.model.validation import ValidationError, validate_pipeline

    with pytest.raises(ValidationError, match=f"stage 't': transform 'pq_topk' key "
                       f"'method' is not read on the branch that key '{branch}' selects"):
        validate_pipeline(_smoke(case, **config))


@pytest.mark.parametrize("case, config", [
    ("dedup_embedding", {"method": None}),  # unset: the cosine path
    ("dedup_embedding", {"method": "cosine"}),
    ("dedup_cluster", {"emit": None, "method": None}),  # labels, simhash
    ("pq_encode", {"dim": None, "train": True}),
    ("pq_encode", {"dim": None, "codebooks": [[[0.0, 0.0]]]}),
    ("pq_topk", {"dim": None, "index_path": "/i"}),
    ("pq_topk", {"method": "sql"}),  # the flat ADC scorer reads it
    ("domain_cap", {"method": "hybrid"}),
    ("gopher_filter", {"mode": "tag"}),
])
def test_selector_defaults_and_alternatives_validate(case, config):
    from etl_router_spark.model.validation import validate_pipeline

    validate_pipeline(_smoke(case, **config))


def test_alias_and_streaming_keys_validate():
    from etl_router_spark.model.validation import validate_pipeline

    validate_pipeline(_smoke("service", transform=None, transform_id="demo_enrich_split"))
    validate_pipeline(_smoke("aggregate", emit="periodic", emit_interval="5s"))
    validate_pipeline(_smoke("sessionize", emit_interval="5s"))


def test_manifest_defaults_are_pinned_and_live():
    """The manifest defaults that override an operator's signature, all
    in one literal; each must differ from the signature default (a
    default equal to it is dead and belongs out of the table)."""
    import inspect

    from etl_router_spark.compile.table import PARTS, TRANSFORMS, _operator

    specs = {**TRANSFORMS, **PARTS}
    assert {name: dict(s.defaults) for name, s in specs.items() if s.defaults} == {
        "map": {"mappings": []},
        "aggregate": {"group_by": []},
        "dedup_minhash": {"num_hashes": 128, "bands": 32, "threshold": 0.8},
        "pairs.minhash": {"num_hashes": 128, "bands": 32, "threshold": 0.8},
        "embedding.lsh": {"threshold": 0.95},
        "bloom_build": {"m_bits": 1 << 22, "hash_family": "xxhash64"},
        "bloom_decontaminate": {"m_bits": 1 << 22, "hash_family": "xxhash64"},
        "dsir_sample": {"k": 1000, "hash_family": "xxhash64"},
        "hash_sample": {"rate": 1.0, "key_field": "doc_id"},
        "weighted_sample": {"k": 1000},
        "pack_sequences": {"max_tokens": 2048},
        "pack_boundaries": {"max_tokens": 2048},
        "chunk": {"window": 2048, "stride": 2048},
        "embedding_mean_pool": {"group_field": "doc_id"},
        "split_assign": {"key_field": "doc_id"},
        "quality_buckets": {"labels": ("tail", "middle", "head")},
        "pagerank": {"src_field": "src", "dst_field": "dst"},
        "degree_stats": {"src_field": "src", "dst_field": "dst"},
        "triangle_count": {"src_field": "src", "dst_field": "dst"},
    }
    for name, spec in specs.items():
        params = inspect.signature(_operator(spec.op)).parameters if spec.op else {}
        for key in spec.keys:
            # every key reaches a parameter of the operator
            assert spec.param(key) in params, (name, key)
        for key, value in spec.defaults.items():
            assert params[spec.param(key)].default != value, (name, key)


def test_coercion_follows_annotations():
    from etl_router_spark.compile.table import _coerce

    assert _coerce(8.0, "int") == 8 and type(_coerce(8.0, "int")) is int
    assert _coerce(" 4", "int") == 4
    assert _coerce(1, "float") == 1.0 and type(_coerce(1, "float")) is float
    assert _coerce("auto", "int | str") == "auto"
    assert _coerce(8, "int | str") == 8
    assert _coerce(None, "int") is None
    assert _coerce([3.0, "5"], "int | list[int]") == [3, 5]
    assert _coerce([0.2, 1], "tuple[float, ...]") == (0.2, 1.0)
    assert _coerce({"a": 1}, "dict[str, float] | None") == {"a": 1}
    assert _coerce(42, "str") == "42"


def test_every_table_entry_has_a_smoke_manifest():
    from etl_router_spark.compile.table import TRANSFORMS

    assert set(TRANSFORMS) == {case.split(":")[0] for case in SMOKE}


@pytest.fixture(scope="module")
def smoke_env(spark, tmp_path_factory):
    return smoke_inputs(spark, str(tmp_path_factory.mktemp("smoke")))


@pytest.mark.parametrize("case", sorted(SMOKE))
def test_table_entry_compiles_from_a_minimal_manifest(spark, smoke_env, case):
    from etl_router_spark.compile.pipeline import compile_pipeline
    from etl_router_spark.model.parser import parse_manifest_dict

    frames, paths = smoke_env
    df = frames.get(case.split(":")[0], frames[None])
    pipeline = parse_manifest_dict(smoke_pipeline(case, paths))
    compiled = compile_pipeline(spark, pipeline, source_overrides={"src": df})
    out = compiled.sink_frames["out"]
    out.schema  # analyzes the plan
    if case == "validate":
        assert set(compiled.dlq_frames) == {"t"}


# hostile column names, as (the column's name, the manifest's reference
# to it): a space and a dash; a keyword and an embedded backtick,
# referenced the way F.col takes it
HOSTILE = {
    "spaced": {"text": ("body text", "body text"), "doc_id": ("doc-id", "doc-id")},
    "quoted": {"text": ("we`ird", "`we``ird`"), "doc_id": ("select", "select")},
}
NAMED_FIELDS = {"text_field": "text", "id_field": "doc_id"}


def _reads_named_fields(case: str) -> bool:
    from etl_router_spark.compile.table import TRANSFORMS

    return bool(set(NAMED_FIELDS) & TRANSFORMS[case.split(":")[0]].allowed())


def _smoke_rows(spark, case, docs, paths, names):
    """The sorted output rows of ``case`` over ``docs`` whose text and
    id columns are referenced as ``names``."""
    from etl_router_spark.compile.pipeline import compile_pipeline
    from etl_router_spark.compile.table import TRANSFORMS
    from etl_router_spark.model.parser import parse_manifest_dict

    doc = smoke_pipeline(case, paths)
    cfg = doc["spec"]["stages"][1]["config"]
    allowed = TRANSFORMS[case.split(":")[0]].allowed()
    cfg.update({k: names[col] for k, col in NAMED_FIELDS.items() if k in allowed})
    for key, value in cfg.items():  # e.g. snapshot_diff's compare_fields
        if isinstance(value, list):
            cfg[key] = [names.get(v, v) if isinstance(v, str) else v for v in value]
    compiled = compile_pipeline(spark, parse_manifest_dict(doc), source_overrides={"src": docs})
    return sorted(repr(tuple(r)) for r in compiled.sink_frames["out"].collect())


@pytest.mark.parametrize("case", [c for c in sorted(SMOKE) if _reads_named_fields(c)])
def test_hostile_column_names_give_the_plain_values(spark, smoke_env, tmp_path, case):
    """A text or id column named with a space, a dash, a keyword or a
    backtick is quoted wherever an operator splices it into SQL text:
    the values equal the plain-name run."""
    frames, paths = smoke_env
    want = _smoke_rows(spark, case, frames[None], paths,
                       {col: col for col in NAMED_FIELDS.values()})
    for variant, renames in HOSTILE.items():
        docs = frames[None]
        for col, (name, _) in renames.items():
            docs = docs.withColumnRenamed(col, name)
        side = str(tmp_path / variant)
        docs.write.parquet(side)
        got = _smoke_rows(spark, case, docs, {**paths, "side": side},
                          {col: ref for col, (_, ref) in renames.items()})
        assert got == want, variant


def _keeps_state_on_a_stream(plan) -> bool:
    """Whether an analyzed streaming plan holds a node that keeps state
    across epochs or that Spark refuses on a stream: an Aggregate, a
    Deduplicate*, a FlatMapGroups*WithState, a Window, Sort or limit, a
    join of two streams, or a stream-static join that keeps the static
    side's rows (full outer; left outer, semi or anti with a static left
    side; right outer with a static right side)."""
    nodes = [plan]
    while nodes:
        node = nodes.pop()
        name = node.nodeName()
        if (name in ("Aggregate", "Window", "Sort", "GlobalLimit", "LocalLimit")
                or name.startswith("Deduplicate")
                or name.startswith("FlatMapGroups") and name.endswith("WithState")):
            return True
        if name == "Join":
            streams = (node.left().isStreaming(), node.right().isStreaming())
            how = node.joinType().toString()
            kept = (how in ("FullOuter", "LeftOuter", "LeftSemi", "LeftAnti"),
                    how in ("FullOuter", "RightOuter"))
            if any(streams) and (all(streams) or any(
                    k and not s for k, s in zip(kept, streams))):
                return True
        children = node.children().iterator()
        while children.hasNext():
            nodes.append(children.next())
    return False


def test_stateful_declaration_matches_the_streaming_plan(spark, smoke_env, tmp_path):
    """``Spec.stateful`` is declared exactly for the types whose ``SMOKE``
    manifest, compiled on a file stream, holds such a node, so a new
    transform type cannot drift from the declaration the streaming
    writers read. The cases whose streaming compile raises are skipped:
    they fail before any writer starts."""
    from etl_router_spark.compile.pipeline import compile_pipeline
    from etl_router_spark.compile.table import TRANSFORMS
    from etl_router_spark.model.parser import parse_manifest_dict

    frames, paths = smoke_env
    streams = {}
    for tt, df in frames.items():
        path = str(tmp_path / f"stream_{tt}")
        df.write.parquet(path)
        streams[tt] = spark.readStream.schema(df.schema).parquet(path)
    drift, raised = {}, []
    for case in sorted(SMOKE):
        tt = case.split(":")[0]
        try:
            compiled = compile_pipeline(
                spark, parse_manifest_dict(smoke_pipeline(case, paths)), streaming=True,
                source_overrides={"src": streams.get(tt, streams[None])})
        except Exception:
            raised.append(case)
            continue
        plan = compiled.sink_frames["out"]._jdf.queryExecution().analyzed()
        if _keeps_state_on_a_stream(plan) != TRANSFORMS[tt].stateful:
            drift[case] = TRANSFORMS[tt].stateful
    assert drift == {}
    assert raised == [
        "dedup_cluster", "dedup_cluster:minhash", "dedup_embedding:lsh",
        "dedup_embedding:semantic", "dedup_minhash", "dedup_ngram", "dedup_simhash",
        "dsir_sample", "global_shuffle", "leakage_splits", "pack_boundaries",
        "pack_sequences", "pagerank", "pq_topk", "pq_topk:ivf", "pq_topk:rerank",
        "similarity_topk", "triangle_count"]
