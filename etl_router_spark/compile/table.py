"""The transform table: every manifest ``transform_type`` declared once.

``TRANSFORMS`` maps a type to its ``Spec``: the operator it compiles to
and the stage-config keys it reads. The rest comes from the operator's
signature:

- a key ``<x>_field`` / ``<x>_fields`` fills the parameter ``<x>_col`` /
  ``<x>_cols`` when the operator has one, else the parameter of its own
  name; ``renames`` lists the keys that follow neither rule;
- an omitted key takes the operator's own default; ``defaults`` lists
  only the manifest defaults that differ from it, or that fill a
  parameter the operator requires;
- a value is coerced to the parameter's annotation (``int``, ``float``,
  ``bool``, ``str``, and the items of a ``list[...]``/``tuple[...]``),
  so a YAML ``8.0`` or ``' 4'`` reaches an ``int`` parameter as ``8``/``4``.

``apply_transform_stage`` compiles a stage through its spec and
``validate_pipeline`` checks a stage's keys against it, so a misspelled
key fails validation instead of silently leaving a default in place.
Types that read a side input or a persisted artifact first, or pick
among several operators, add a ``build`` function. ``PARTS`` holds the
specs such builds apply to a piece of the config (a pair generator, a
trainer); their keys count as the owning type's keys. ``stateful`` marks
the types a streaming writer may not replay per epoch.
"""

from __future__ import annotations

import importlib
import inspect
import json
import re
import warnings
from dataclasses import dataclass, field, replace
from functools import cache
from typing import Any, Callable, Literal, Mapping, get_args, get_origin, get_type_hints

from pyspark.sql import functions as F
from pyspark.sql import types as sqltypes

from etl_router_spark.model.manifest import FieldMapping, Pipeline, StageType

_SCALARS = {"bool": bool, "int": int, "float": float, "str": str}
_COL_RULE = re.compile(r"_field(s?)$")


@cache
def _operator(op: str) -> Callable:
    module, _, name = op.partition(":")
    return getattr(importlib.import_module(f"etl_router_spark.{module}"), name)


@cache
def _params(op: str) -> Mapping[str, inspect.Parameter]:
    return inspect.signature(_operator(op)).parameters


def _coerce(value: Any, annotation: Any) -> Any:
    """``value`` as the parameter annotation asks: the first of a union's
    ``bool``/``int``/``float``/``str`` unless the value already is one of
    them, and a list's items for ``list[...]``/``tuple[...]``."""
    if value is None or not isinstance(annotation, str):
        return value
    alts = [a.strip() for a in annotation.split("|")]
    if isinstance(value, (list, tuple)):
        for alt in alts:
            base, _, inner = alt.partition("[")
            if base in ("list", "tuple"):
                item = _SCALARS.get(inner.split(",")[0].rstrip("]").strip())
                items = [item(v) for v in value] if item else list(value)
                return tuple(items) if base == "tuple" else items
        return value
    scalars = [_SCALARS[a] for a in alts if a in _SCALARS]
    if not scalars or type(value) in scalars:
        return value
    return scalars[0](value)


@dataclass(frozen=True)
class Spec:
    """One transform type: ``op`` is ``"<module>:<function>"`` under
    ``etl_router_spark``, imported on first use. ``keys`` are passed to
    it; ``sources`` among them hold a source config, read as a batch
    frame; ``aliases`` maps a back-compat key to the key it stands for;
    ``extra`` keys are read by ``build`` or by the streaming runner. Each
    key list may be written as one space-separated string.
    ``build(op, df, cfg, kwargs)`` replaces the plain ``op(df, **kwargs)``.
    ``choices`` maps a key whose value picks an operator or a build branch
    to its allowed values (a key filling a ``Literal[...]`` parameter gets
    them from the annotation); ``parts(cfg)`` names the ``PARTS`` specs the
    build applies for ``cfg``, whose required keys the stage then needs;
    ``unread`` maps a key to the keys picking a branch that ignores it.
    ``stateful``: the type's stream keeps state across epochs (aggregate,
    dedup, stream-stream join, group map with state) or is refused (window,
    sort, limit, a stream-static join keeping the static side's rows).
    """

    op: str | None = None
    keys: tuple[str, ...] | str = ()
    renames: Mapping[str, str] = field(default_factory=dict)
    defaults: Mapping[str, Any] = field(default_factory=dict)
    sources: tuple[str, ...] | str = ()
    aliases: Mapping[str, str] = field(default_factory=dict)
    extra: tuple[str, ...] | str = ()
    build: Callable[..., Any] | None = None
    choices: Mapping[str, tuple[str, ...]] = field(default_factory=dict)
    parts: Callable[[Mapping[str, Any]], tuple[str, ...]] = lambda cfg: ()
    unread: Mapping[str, tuple[str, ...]] = field(default_factory=dict)
    stateful: bool = False

    def __post_init__(self):
        for name in ("keys", "sources", "extra"):
            if isinstance(getattr(self, name), str):
                object.__setattr__(self, name, tuple(getattr(self, name).split()))

    def param(self, key: str) -> str:
        if key in self.renames:
            return self.renames[key]
        col = _COL_RULE.sub(r"_col\1", key)
        return col if col in _params(self.op) else key

    def spellings(self, key: str) -> tuple[str, ...]:
        return (key, *(a for a, k in self.aliases.items() if k == key))

    def allowed(self) -> set[str]:
        return {"transform_type", "type", *self.keys, *self.aliases, *self.extra}

    def selectors(self) -> dict[str, tuple]:
        """The keys whose value must be one of a fixed set, with that set."""
        if not self.op:
            return dict(self.choices)
        hints = get_type_hints(_operator(self.op))
        lits = {k: get_args(hints[p]) for k in (*self.keys, *self.extra)
                if get_origin(hints.get(p := self.param(k))) is Literal}
        return {**lits, **self.choices}

    def required(self) -> list[str]:
        """Keys whose parameter has neither a signature nor a manifest
        default."""
        return [k for k in self.keys if k not in self.defaults
                and _params(self.op)[self.param(k)].default is inspect.Parameter.empty]

    def kwargs(self, df, cfg: Mapping[str, Any]) -> dict[str, Any]:
        """The operator's keyword arguments decoded from ``cfg``."""
        kw: dict[str, Any] = {}
        for key in self.keys:
            given = next((k for k in self.spellings(key) if k in cfg), None)
            if given is None and key not in self.defaults:
                continue
            value = cfg[given] if given is not None else self.defaults[key]
            name = self.param(key)
            if key in self.sources:
                from etl_router_spark.sources.registry import read_source

                kw[name] = (read_source(df.sparkSession, value, streaming=False)
                            if value else None)
            else:
                kw[name] = _coerce(value, _params(self.op)[name].annotation)
        return kw

    def apply(self, df, cfg: Mapping[str, Any]):
        kw = self.kwargs(df, cfg)
        op = _operator(self.op) if self.op else None
        return self.build(op, df, cfg, kw) if self.build else op(df, **kw)


def _keys(*specs: Spec) -> tuple[str, ...]:
    return tuple(dict.fromkeys(k for s in specs for k in (*s.keys, *s.extra)))


def _adopt_persisted(tt: str, what: str, cfg: Mapping[str, Any],
                     kw: dict[str, Any], built: dict[str, tuple[str, Any]]) -> None:
    """A persisted artifact's build parameters are authoritative: each
    ``key -> (param, value)`` of ``built`` goes into ``kw``, and a stage
    key that disagrees is a compile error. A mismatch probes other band
    keys or bit positions, i.e. silent non-detection, never a loud
    failure. Integers compare as ints, so ``8.0`` and ``' 8'`` match 8;
    ``hash_family`` compares as a string."""
    def norm(key: str, value: Any) -> Any:
        return str(value) if key == "hash_family" else int(value)

    for key, (param, have) in built.items():
        if key in cfg and norm(key, cfg[key]) != norm(key, have):
            raise ValueError(
                f"{tt}: {key}={cfg[key]!r} conflicts with the persisted "
                f"{what}'s {have!r} — probe params must match the build "
                f"exactly; drop the key to use the {what}'s own")
        kw[param] = have


def _queries(df, cfg: Mapping[str, Any]):
    """The query side of a top-k stage: ``df``, or its rows matching
    ``query_condition``."""
    qcond = cfg.get("query_condition")
    if qcond is None:
        return df
    from etl_router_spark.compile.conditions import compile_condition
    from etl_router_spark.model.conditions import Condition

    if isinstance(qcond, dict):
        qcond = Condition.from_dict(qcond)
    return df.filter(compile_condition(qcond))


def _ratelimit(op, df, cfg, kw):
    if cfg.get("on_exceed") == "delay" and df.isStreaming:
        # delay = backpressure, not row dropping (types.rs:592-601):
        # enforced at the SOURCE via per-trigger intake caps
        # (delay_pacing_overrides), so the stage itself passes through
        return df
    return op(df, **kw)


def _index_probe(op, df, cfg, kw):
    # incremental fuzzy dedup: keep input rows with no near-dup in the
    # persisted index at index_path; its (num_hashes, bands, shingle_n,
    # hash_family) are authoritative when present, omitted keys adopt them
    from etl_router_spark.functions.dedup import minhash_index_params

    index = df.sparkSession.read.parquet(cfg["index_path"])
    built = minhash_index_params(index) or {}
    _adopt_persisted("dedup_index_probe", "index", cfg, kw,
                     {k: (k, v) for k, v in built.items()})
    return op(df, index, **kw)


def _decontaminate_fuzzy(op, df, cfg, kw):
    # build-once: `benchmark_index` names a persisted minhash_index table
    # (a source config, like lookup's dim), so the benchmark
    # shingle->minhash build is skipped and the stage costs one corpus
    # probe pass. The index's own parameters, persisted as column
    # metadata through the parquet footer, are authoritative, exactly
    # like the Bloom twin's `filter:`
    from etl_router_spark.functions.dedup import minhash_index_params
    from etl_router_spark.sources.registry import read_source

    if "benchmark_index" not in cfg:
        return op(df, read_source(df.sparkSession, cfg["benchmark"]), **kw)
    index = read_source(df.sparkSession, cfg["benchmark_index"])
    built = minhash_index_params(index) or {}
    _adopt_persisted("decontaminate_fuzzy", "index", cfg, kw,
                     {k: (k, v) for k, v in built.items()})
    return op(df, None, benchmark_index=index, **kw)


def _bloom_decontaminate(op, df, cfg, kw):
    from etl_router_spark.functions.corpus import load_bloom_filter
    from etl_router_spark.sources.registry import read_source

    if "filter" not in cfg:
        return op(df, read_source(df.sparkSession, cfg["benchmark"]), **kw)
    # build-once: `filter` is the path of a save_bloom_filter artifact —
    # no benchmark source, no driver-side gram collection; the stage
    # compiles to ONE map-side codegen probe pass (the stream_bloom_probe
    # shape). Its build parameters are authoritative: a conflicting
    # override would probe other positions and silently void the
    # one-sided-error contract
    bf = load_bloom_filter(df.sparkSession, cfg["filter"])
    _adopt_persisted("bloom_decontaminate", "filter", cfg, kw, {
        "ngram": ("n", bf["n"]), "m_bits": ("m_bits", bf["m_bits"]),
        "hashes": ("k", bf["k"]), "hash_family": ("hash_family", bf["hash_family"])})
    return op(df, None, prebuilt_words=bf["words"], **kw)


# one-time (per process) reproducibility warning for dsir_sample
# manifests that omit hash_family
_DSIR_FAMILY_WARNED = False


def _dsir_sample(op, df, cfg, kw):
    global _DSIR_FAMILY_WARNED
    if "hash_family" not in cfg and not _DSIR_FAMILY_WARNED:
        # the manifest default flipped h60 -> xxhash64 for bloom_*
        # consistency, and unlike the MinHash index path dsir_sample has
        # no persisted artifact to fail fast against: a pinned-salt
        # manifest silently selects a DIFFERENT document set after the
        # upgrade. Warn once per process; pin hash_family to silence
        _DSIR_FAMILY_WARNED = True
        warnings.warn(
            "dsir_sample: hash_family not set — the manifest default is now 'xxhash64' "
            "(native hash, the production family shared with bloom_* stages). Manifests "
            "written before this default selected documents with 'h60'; the same salt now "
            "yields a DIFFERENT sample. Pin hash_family: h60 to reproduce old selections, "
            "or hash_family: xxhash64 to silence this warning.")
    return op(df, **kw)


PARTS: dict[str, Spec] = {
    # dedup_embedding's method: lsh | semantic | anything else (cosine)
    "embedding.lsh": Spec("functions.dedup:embedding_lsh_pairs", "dim id_field vec_field "
                          "threshold planes tables salt_cap max_candidates",
                          defaults={"threshold": 0.95}),
    # salt_cap has NO implicit default here: cosine is not transitive,
    # so salting loses recall for this operator's whole-cell contract
    # (see semantic_dedup) — only a declared stage/spec.limits value opts in
    "embedding.semantic": Spec("functions.dedup:semantic_dedup", "id_field vec_field threshold "
                               "n_cells salt_cap max_candidates target_occupancy"),
    "embedding.cosine": Spec("functions.dedup:embedding_cosine_pairs",
                             "id_field vec_field threshold"),
    # near-dup pairs for the cluster consumers (dedup_cluster,
    # leakage_splits). They tolerate salting's sub-bucket pair loss
    # (transitive closure re-links what the cap splits), so salt_cap
    # defaults ON here, unlike semantic_dedup. h60 provides 60 usable
    # bits, so 60 is the widest valid simhash default
    "pairs.simhash": Spec("functions.dedup:simhash_pairs",
                          "id_field text_field max_hamming bits salt_cap max_candidates"),
    # h60 stays the manifest default for the whole MinHash stack (unlike
    # bloom/dsir): signatures feed PERSISTED indexes, and a default flip
    # would silently mis-key every pre-existing index
    "pairs.minhash": Spec("functions.dedup:minhash_lsh_pairs", "id_field text_field num_hashes "
                          "bands threshold salt_cap max_candidates hash_family",
                          defaults={"num_hashes": 128, "bands": 32, "threshold": 0.8}),
    "pq.train": Spec("functions.pq:pq_train", "m k_centroids vec_field id_field sample_fraction",
                     renames={"k_centroids": "k"}),
    "pq.books": Spec("functions.pq:deterministic_codebooks", "dim m k_centroids",
                     renames={"k_centroids": "k"}, build=lambda op, df, cfg, kw: op(**kw)),
    "classifier.train": Spec("functions.classifier:quality_classifier_train",
                             "label_field text_field num_features max_iter reg_param"),
    "envelope": Spec("model.envelope:from_kafka", "record_type source_id"),
}


def _methods(family: str) -> tuple[str, ...]:
    """The ``method`` values of a ``PARTS`` family: ``<family>.<method>``."""
    return tuple(k.partition(".")[2] for k in PARTS if k.startswith(f"{family}."))


def _embedding_parts(cfg):
    # an unset method is the exact cosine path
    return (f"embedding.{cfg.get('method') or 'cosine'}",)


def _pairs_parts(cfg):
    return (f"pairs.{cfg.get('method') or 'simhash'}",)


def _dedup_embedding(op, df, cfg, kw):
    return PARTS[_embedding_parts(cfg)[0]].apply(df, cfg)


def _near_dup_pairs(df, cfg):
    return PARTS[_pairs_parts(cfg)[0]].apply(df, cfg)


def _dedup_cluster(op, df, cfg, kw):
    # pairs -> connected components -> (id, cluster_id) per row, or the
    # canonical row per cluster
    if cfg.get("emit") == "canonical":
        op = _operator("functions.dedup:dedup_canonical")
    return op(df, _near_dup_pairs(df, cfg), **kw)


def _codebook_parts(cfg):
    """Product-quantization codebooks come from explicit config, training
    over the input frame, or the deterministic md5-derived set (which
    needs ``dim``) — in that precedence order."""
    if cfg.get("codebooks") is not None:
        return ()
    return ("pq.train",) if cfg.get("train") else ("pq.books",)


def _codebooks(df, cfg):
    parts = _codebook_parts(cfg)
    return PARTS[parts[0]].apply(df, cfg) if parts else cfg["codebooks"]


def _pq_topk(op, df, cfg, kw):
    from etl_router_spark.functions import pq

    index_path = cfg.get("index_path")
    books = None if index_path else _codebooks(df, cfg)
    queries = _queries(df, cfg)
    if "nprobe" not in cfg and not index_path:
        method = cfg.get("method")
        if method is None:
            # blas is the numpy fast path but requires integral ids;
            # route string/other id manifests to the portable sql twin
            # instead of crashing (an explicit method still wins and gets
            # pq_adc_topk's descriptive error)
            integral = (sqltypes.ByteType, sqltypes.ShortType,
                        sqltypes.IntegerType, sqltypes.LongType)
            id_type = df.schema[kw.get("id_col", "vec_id")].dataType
            method = "blas" if isinstance(id_type, integral) else "sql"
        return op(queries, df, books, method=method, **kw)
    # IVF-PQ: coarse cells prune candidates before ADC ranking. The
    # nprobe KEY (any value, a blank YAML null meaning auto) or a
    # persisted index declares this branch; index_path serves the probe
    # from a self-describing write_pq_index artifact (codes + sidecar
    # codebooks/centroids, no re-encoding) and alone implies IVF with
    # nprobe auto. "auto" -> suggest_nprobe's size-aware probed fraction;
    # no n_centroids key -> suggest_n_centroids sizing (sqrt(corpus)
    # cells, one count() at build)
    nprobe = cfg.get("nprobe", "auto")
    ivf = {"nprobe": None if nprobe in ("auto", None) else int(nprobe),
           "n_centroids": int(cfg["n_centroids"]) if "n_centroids" in cfg else None}
    occ = {}
    if index_path:
        ivf["corpus_index"], books, ivf["centroids"], meta = pq.read_pq_index(
            df.sparkSession, index_path)
        occ = meta.get("cell_occupancy") or {}
        # the corpus size rides the sidecar too: it feeds the size-aware
        # auto-nprobe fraction at zero cost (absent from older sidecars
        # -> None, a flat 5%)
        ivf["corpus_n"] = occ.get("n_vectors")
    if cfg.get("shortlist") is None:
        return pq.ivfpq_topk(queries, df, books, **ivf, **kw)
    # shortlist: N declares the two-stage recipe: an exact-L2 re-rank of
    # the top-N ADC candidates raises the PQ recall ceiling that nprobe
    # cannot move
    return pq.ivfpq_rerank_topk(
        queries, df, books, shortlist=int(cfg["shortlist"]),
        cell_occupancy_p95=occ.get("p95"),
        occupancy_guard=cfg.get("occupancy_guard", "warn"), **ivf, **kw)


def _quality_classifier(op, df, cfg, kw):
    # weights from explicit config, training over the input frame
    # (label_field), or the deterministic md5-derived set — as for pq
    from etl_router_spark.functions.classifier import deterministic_weights

    ws, bias = cfg.get("weights"), cfg.get("bias", 0.0)
    if ws is None and cfg.get("label_field"):
        ws, bias = PARTS["classifier.train"].apply(df, cfg)
    elif ws is None:
        ws, bias = deterministic_weights(int(cfg.get("num_features", 256)))
    return op(df, list(ws), float(bias), **kw)


def _read_json(path: str) -> Any:
    with open(path) as fh:
        return json.load(fh)


def _bpe_tokenize(op, df, cfg, kw):
    merges = cfg.get("merges")
    if isinstance(merges, str):  # a bpe_train result persisted as JSON
        merges = _read_json(merges)
    if not merges:
        raise ValueError("bpe_tokenize requires merges "
                         "(inline pair list or bpe_train JSON path)")
    return op(df, [tuple(m) for m in merges], **kw)


def _pca_project(op, df, cfg, kw):
    # components: an inline k x d matrix, or the path of a JSON file
    # written by pca_train (a driver-side job run once, not a row transform)
    comps, mean = cfg.get("components"), cfg.get("mean")
    if isinstance(comps, str):
        model = _read_json(comps)
        comps, mean = model["components"], cfg.get("mean", model.get("mean"))
    if not comps:
        raise ValueError("embedding_pca_project requires components "
                         "(inline matrix or pca_train JSON path)")
    return op(df, comps, mean=mean, **kw)


def _text(op: str, keys: str = "", **kw) -> Spec:
    """A per-document text operator: ``text_field`` plus ``keys``."""
    return Spec(op, f"text_field {keys}", **kw)


_PAIR_KEYS = _keys(PARTS["pairs.simhash"], PARTS["pairs.minhash"])
_PQ_KEYS = ("codebooks", "train", *_keys(PARTS["pq.train"], PARTS["pq.books"]))
_GRAPH = {"renames": {"src_field": "src", "dst_field": "dst"},
          "defaults": {"src_field": "src", "dst_field": "dst"}}

TRANSFORMS: dict[str, Spec] = {
    # the reference's transform set (types.rs:389-697)
    "filter": Spec("compile.transforms:apply_filter", "condition negate"),
    "map": Spec("compile.transforms:apply_map", "mappings drop_unmapped",
                defaults={"mappings": []},
                build=lambda op, df, cfg, kw: op(df, **{
                    **kw, "mappings": [FieldMapping.from_dict(m) for m in kw["mappings"]]})),
    "project": Spec("compile.transforms:apply_project", "fields exclude"),
    "rename": Spec("compile.transforms:apply_rename", "renames"),
    "cast": Spec("compile.transforms:apply_cast", "casts"),
    "mask": Spec("compile.transforms:apply_mask", "rules"),
    "validate": Spec("compile.transforms:apply_validate",
                     "rules on_invalid tag_field schema schema_registry_url subject"),
    "flatmap": Spec("compile.transforms:apply_flatmap", "field target_field keep_parent outer"),
    # split and join are compiled in the DAG walk (_compile_stage_sides)
    "split": Spec("compile.transforms:apply_split", "outputs default_output first_match"),
    "join": Spec("compile.transforms:apply_join", "conditions join_type left_prefix "
                 "right_prefix include exclude broadcast strategy", extra="right",
                 renames={"join_type": "how", "broadcast": "broadcast_right"}, stateful=True),
    "dedupe": Spec("compile.transforms:apply_dedupe", "key_fields keep order_field "
                   "tiebreak_fields within_watermark window", stateful=True),
    "ratelimit": Spec("compile.transforms:apply_ratelimit", "key_fields max_rate window "
                      "ts_field on_exceed tiebreak_fields",
                      renames={"window": "window_duration"}, build=_ratelimit, stateful=True),
    # emit/emit_interval pick the streaming output mode and trigger
    "aggregate": Spec("compile.transforms:apply_aggregate",
                      "group_by aggregations window ts_field", extra="emit emit_interval",
                      renames={"window": "window_config"}, defaults={"group_by": []},
                      stateful=True),
    "sessionize": Spec("compile.transforms:apply_sessionize", "key_fields gap aggregations "
                       "ts_field max_duration emit", extra="emit_interval", stateful=True),
    # user-code extension point (proto/transform.proto ProcessBatch)
    "service": Spec("functions.transform_service:apply_transform_service",
                    "transform output_schema transform_config on_error",
                    renames={"transform_config": "config"},
                    aliases={"transform_id": "transform"}),

    # large-scale data-pipeline operators (SURVEY §7.3 M6)
    "dedup_exact": _text("functions.dedup:exact_dedup", "id_field normalize", stateful=True),
    # a persistable LSH index of the input corpus: point a file sink at
    # it (see functions/dedup.py:minhash_index)
    "dedup_index_build": _text("functions.dedup:minhash_index",
                               "id_field num_hashes bands shingle_n hash_family", stateful=True),
    "dedup_index_probe": _text("functions.dedup:dedup_against_minhash_index",
                               "id_field num_hashes bands shingle_n threshold hash_family",
                               extra="index_path", build=_index_probe, stateful=True),
    # max_candidates: an optional pre-flight candidate budget on the
    # pair-generation types — fail fast with CandidateBudgetExceeded
    # instead of launching a quadratic pair shuffle
    "dedup_minhash": replace(PARTS["pairs.minhash"], keys=(
        "num_hashes", "bands", "threshold", "text_field", "id_field", "salt_cap",
        "max_candidates")),
    "dedup_ngram": _text("functions.dedup:ngram_jaccard_pairs",
                         "id_field n threshold max_df pair_chunk max_candidates"),
    "dedup_simhash": PARTS["pairs.simhash"],
    "dedup_embedding": Spec(extra=("method", *_keys(*(
        v for k, v in PARTS.items() if k.startswith("embedding.")))), build=_dedup_embedding,
        choices={"method": _methods("embedding")}, parts=_embedding_parts),
    "dedup_cluster": Spec("functions.dedup:dedup_clusters", "id_field cc_algorithm",
                          renames={"cc_algorithm": "algorithm"},
                          extra=("emit", "method", *_PAIR_KEYS), build=_dedup_cluster,
                          choices={"emit": ("labels", "canonical"),
                                   "method": _methods("pairs")}, parts=_pairs_parts),
    "similarity_topk": Spec("functions.similarity:brute_force_topk", "k id_field vec_field",
                            extra="query_condition",
                            build=lambda op, df, cfg, kw: op(_queries(df, cfg), df, **kw)),
    "pq_encode": Spec("functions.pq:pq_encode", "id_field vec_field keep_vec", extra=_PQ_KEYS,
                      build=lambda op, df, cfg, kw: op(df, _codebooks(df, cfg), **kw),
                      parts=_codebook_parts),
    # index_path's sidecar codebooks win over every other source
    "pq_topk": Spec("functions.pq:pq_adc_topk", "k id_field vec_field",
                    extra=(*_PQ_KEYS, "index_path", "query_condition", "method", "nprobe",
                           "n_centroids", "shortlist", "occupancy_guard"), build=_pq_topk,
                    # method picks the flat ADC scorer; IVF-PQ has one
                    unread={"method": ("nprobe", "index_path")},
                    parts=lambda cfg: () if cfg.get("index_path") else _codebook_parts(cfg)),
    # model-based quality filter (fastText recipe)
    "quality_classifier": _text("functions.classifier:quality_classifier_apply", "threshold",
                                extra=("weights", "bias", *_keys(PARTS["classifier.train"])),
                                build=_quality_classifier),
    "text_stats": _text("functions.text:text_stats"),
    "langid": _text("functions.text:language_id"),
    "fingerprint": _text("functions.text:fingerprint"),
    "tokenize": _text("functions.text:tokenize"),
    "multimodal_extract": Spec("functions.multimodal:extract_media_features",
                               "media_field id_field decoder feature_dim"),
    # benchmark sides are declared like lookup's dim: a source config
    "decontaminate": _text("functions.corpus:decontaminate", "benchmark id_field ngram mode",
                           renames={"ngram": "n"}, sources="benchmark", stateful=True),
    # 'ngram' mirrors the sibling decontaminate/bloom stages; 'n' is kept
    # as a back-compat alias
    "redact_spans": _text("functions.corpus:redact_contaminated_spans",
                          "benchmark id_field ngram sentinel out_field",
                          renames={"ngram": "n"}, sources="benchmark", aliases={"n": "ngram"},
                          stateful=True),
    "decontaminate_fuzzy": _text("functions.corpus:decontaminate_fuzzy", "id_field num_hashes "
                                 "bands shingle_n threshold mode hash_family",
                                 extra="benchmark benchmark_index", build=_decontaminate_fuzzy,
                                 stateful=True),
    # the artifact-build half of build-once decontamination: the input
    # (a benchmark corpus) folds into a ONE-ROW persistable filter frame;
    # a parquet sink's output dir IS the probe stage's `filter:`. Manifests
    # default to the native xxhash64 family; the Python API to
    # oracle-exact h60
    "bloom_build": _text("functions.corpus:bloom_filter_frame", "ngram m_bits hashes hash_family",
                         renames={"ngram": "n", "hashes": "k"},
                         defaults={"m_bits": 1 << 22, "hash_family": "xxhash64"}, stateful=True),
    "bloom_decontaminate": _text("functions.corpus:bloom_decontaminate", "id_field ngram m_bits "
                                 "hashes mode hash_family broadcast",
                                 renames={"ngram": "n", "hashes": "k"},
                                 defaults={"m_bits": 1 << 22, "hash_family": "xxhash64"},
                                 extra="filter benchmark", build=_bloom_decontaminate),
    "retrieval_eval": Spec("functions.indexing:retrieval_eval", "qrels k query_id_field "
                           "doc_id_field rank_field rel_field", sources="qrels", stateful=True),
    "hard_negatives": Spec("functions.indexing:mine_hard_negatives", "qrels n_negatives "
                           "query_id_field doc_id_field rank_field rel_field", sources="qrels",
                           stateful=True),
    "epoch_upsample": Spec("functions.corpus:epoch_upsample", "weights token_budget "
                           "domain_field key_field size_field max_epochs salt epoch_field",
                           stateful=True),
    # the prior snapshot is a source config, diffed against the input
    "snapshot_diff": Spec("functions.corpus:snapshot_diff",
                          "baseline id_field compare_fields status_field",
                          renames={"baseline": "old"}, sources="baseline",
                          build=lambda op, df, cfg, kw: op(kw.pop("old"), df, **kw),
                          stateful=True),
    "hash_sample": Spec("functions.corpus:hash_sample",
                        "rate key_field salt strata_field strata_rates",
                        defaults={"rate": 1.0, "key_field": "doc_id"}),
    "c4_filter": _text("functions.text:c4_rules", "mode min_words_per_line terminal_punct "
                       "min_sentences banned_page_substrings banned_line_words"),
    "gopher_filter": _text("functions.text:gopher_rules", "mode min_words max_words "
                           "min_mean_word_len max_mean_word_len max_symbol_ratio "
                           "max_bullet_line_frac max_ellipsis_line_frac "
                           "min_alpha_word_ratio min_stopword_hits"),
    # n: one width, or a list of widths counted in one scan
    "duplicate_spans": _text("functions.dedup:duplicate_ngram_spans", "n id_field min_count",
                             stateful=True),
    "mix_sample": Spec("functions.corpus:mix_sample", "weights domain_field key_field salt "
                       "size_field rate_field temperature", stateful=True),
    # DSIR selects raw docs resembling the target corpus (a source config)
    "dsir_sample": _text("functions.selection:dsir_sample",
                         "target k id_field buckets smooth salt hash_family",
                         defaults={"k": 1000, "hash_family": "xxhash64"},
                         sources="target", build=_dsir_sample),
    "weighted_sample": Spec("functions.selection:weighted_sample",
                            "k weight_field id_field group_field salt", defaults={"k": 1000},
                            stateful=True),
    "pack_sequences": Spec("functions.corpus:pack_sequences",
                           "max_tokens id_field token_count_field",
                           defaults={"max_tokens": 2048}),
    "pack_boundaries": Spec("functions.corpus:pack_with_boundaries",
                            "max_tokens id_field token_count_field",
                            defaults={"max_tokens": 2048}),
    "bpe_tokenize": _text("functions.text:bpe_tokenize", "out_field", extra="merges",
                          build=_bpe_tokenize),
    # Kafka wire schema -> envelope -> typed columns, the manifest face
    # of model/envelope.py (offset -> sequence_number,
    # topic:partition:offset -> idempotency_key, headers -> metadata,
    # payload parsed once by from_json)
    "kafka_envelope": Spec("model.envelope:promote", "payload_schema keep_envelope",
                           extra=PARTS["envelope"].keys, build=lambda op, df, cfg, kw: op(
                               PARTS["envelope"].apply(df, cfg), **kw)),
    "repetition_stats": _text("functions.text:repetition_stats"),
    "pii_redact": _text("functions.text:pii_redact", "out_field"),
    "chunk": _text("functions.corpus:chunk_documents", "window stride id_field",
                   defaults={"window": 2048, "stride": 2048}),
    "line_dedup": _text("functions.corpus:line_dedup",
                        "id_field delimiter tokens_per_line join_sep out_field", stateful=True),
    "strip_repeated_lines": _text("functions.text:strip_repeated_lines", "out_field"),
    "text_normalize": _text("functions.text:normalize_text",
                            "out_field lowercase strip_non_alnum collapse_whitespace"),
    "embedding_normalize": Spec("functions.embedding:l2_normalize",
                                "vec_field out_field norm_field"),
    "embedding_quantize": Spec("functions.embedding:quantize_int8",
                               "vec_field out_field scale_field"),
    "embedding_mean_pool": Spec("functions.embedding:mean_pool", "group_field vec_field",
                                defaults={"group_field": "doc_id"}, stateful=True),
    "embedding_pca_project": Spec("functions.embedding:pca_project", "vec_field out_field",
                                  extra="components mean", build=_pca_project),
    "tfidf": _text("functions.indexing:tfidf_topk", "id_field k", stateful=True),
    "heavy_hitters": _text("functions.indexing:heavy_hitters", "id_field k", stateful=True),
    "inverted_index": _text("functions.indexing:inverted_index",
                            "id_field min_df max_df max_postings", stateful=True),
    "group_topk": Spec("functions.corpus:group_topk",
                       "group_field order_field k ascending tie_field", stateful=True),
    "global_shuffle": Spec("functions.corpus:global_shuffle", "seed id_field"),
    # near-dup pairs -> connected components -> ONE split per cluster:
    # the leakage guard split_assign alone lacks
    "leakage_splits": Spec("functions.corpus:leakage_safe_splits",
                           "fractions id_field salt out_field group_field cc_algorithm",
                           renames={"cc_algorithm": "algorithm"}, extra=("method", *_PAIR_KEYS),
                           build=lambda op, df, cfg, kw: op(df, _near_dup_pairs(df, cfg), **kw),
                           choices={"method": _methods("pairs")}, parts=_pairs_parts),
    "cdc_apply": Spec("functions.cdc:cdc_apply", "key_fields order_fields op_field delete_values",
                      stateful=True),
    "split_assign": Spec("functions.corpus:assign_splits", "key_field fractions salt out_field",
                         defaults={"key_field": "doc_id"}),
    "ngram_counts": _text("functions.text:ngram_counts", "n k", stateful=True),
    "char_entropy": _text("functions.text:char_entropy", "id_field output_field",
                          renames={"output_field": "out_col"}),
    "unigram_logprob": _text("functions.text:unigram_logprob", "id_field", stateful=True),
    "bigram_logprob": _text("functions.text:bigram_logprob", "id_field lam add_k", stateful=True),
    "url_normalize": Spec("functions.text:normalize_url", extra="url_field out_field",
                          build=lambda op, df, cfg, kw: df.withColumn(
                              cfg.get("out_field", "url_norm"),
                              op(F.col(cfg.get("url_field", "url"))))),
    "domain_cap": Spec("functions.corpus:domain_cap", "url_field cap id_field method "
                       "host_field domain_counts seed", sources="domain_counts", stateful=True),
    # rules: {name: SQL boolean expression (True = keep)}
    "filter_attribution": Spec("functions.corpus:filter_attribution", "rules",
                               build=lambda op, df, cfg, kw: op(df, {
                                   n: F.expr(sql) for n, sql in kw["rules"].items()}),
                               stateful=True),
    "yield_curve": Spec("functions.corpus:filter_yield_curve",
                        "score_field thresholds size_field group_field", stateful=True),
    "quality_filter": Spec("functions.corpus:adaptive_quality_filter",
                           "score_field group_field quantile threshold_round", stateful=True),
    "quality_buckets": Spec("functions.corpus:quality_buckets",
                            "score_field group_field quantiles labels threshold_round",
                            defaults={"labels": ("tail", "middle", "head")}, stateful=True),
    "chunk_sentences": _text("functions.corpus:chunk_by_sentences", "max_chars id_field",
                             stateful=True),
    # the query side is a source config, like lookup's dim
    "bm25": _text("functions.indexing:bm25_topk", "queries id_field k1 b k", sources="queries",
                  stateful=True),
    "edit_distance_pairs": _text("functions.dedup:edit_distance_pairs", "max_distance id_field",
                                 stateful=True),
    "pagerank": Spec("functions.graph:pagerank", "src_field dst_field iterations damping "
                     "broadcast_nodes assume_simple", **_GRAPH),
    "degree_stats": Spec("functions.graph:degree_stats", "src_field dst_field assume_simple",
                         **_GRAPH, stateful=True),
    # lazy in manifest pipelines: compile/explain must not execute the
    # triangle job at plan-construction time
    "triangle_count": Spec("functions.graph:triangle_count", "src_field dst_field assume_simple",
                           **_GRAPH, build=lambda op, df, cfg, kw: op(df, eager=False, **kw)),
}


def stateful_stage(pipeline: Pipeline, stage_ids: list[str]) -> str | None:
    """The first of ``stage_ids`` whose type is ``stateful``, or None: a
    per-epoch batch replay (``streaming.runner.epoch_replay``) may hold none."""
    return next((sid for sid in stage_ids
                 if pipeline.stages[sid].stage_type == StageType.TRANSFORM
                 and getattr(TRANSFORMS.get(pipeline.stages[sid].transform_type),
                             "stateful", False)), None)
