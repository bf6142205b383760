"""DAG -> DataFrame compiler: the engine's query lifecycle.

Replaces the reference's runtime routing engine
(``routing/src/engine.rs:55-104``) with plan construction: stages become
DataFrame transformations, conditional edges become filters (broadcast
routing: a record flows down *every* matching edge, engine.rs:79-95),
fan-in becomes unionByName, a batch fan-out is persisted until
``run()`` ends so its sinks share one scan, ``compile_stages`` turns each
route-mode side into its DLQ frame (``dlq/src/record.rs:96-180``) once,
and ``write_outputs`` is the one write path for sinks and DLQ frames.
It overlaps independent writes, like the reference's fan-out
(``engine.rs:324-352``): one concurrent chain per file path, one for the
other sinks and one for the DLQ, each in the given order. Every chain
finishes before the first failing output's error is raised, so a failed
run may have written its other targets.

Catalyst then owns what the reference never had: predicate pushdown,
column pruning, join planning, AQE. Whole-stage codegen replaces the
per-record interpreted condition matcher.

The same compiler serves batch and streaming: ``streaming=True`` reads
sources with ``readStream`` and applies declared watermarks
(``routing/src/watermark.rs:43-156`` semantics via ``withWatermark``);
``etl_router_spark.streaming.run_streaming`` turns the compiled sinks
into StreamingQueries. ``compile_stages`` is exposed so the streaming
fan-out runner can replay the sub-DAG below a fan-out stage inside one
``foreachBatch`` (the shared-scan optimization).
"""

from __future__ import annotations

import contextlib
import threading
from concurrent.futures import ThreadPoolExecutor
from typing import Any

from pyspark import StorageLevel, inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_router_spark.compile.conditions import compile_condition
from etl_router_spark.compile.fan import apply_fan_in
from etl_router_spark.compile.lookup import apply_lookup
from etl_router_spark.compile import transforms as T
from etl_router_spark.model.manifest import FieldMapping, Pipeline, Stage, StageType
from etl_router_spark.model.validation import validate_pipeline
from etl_router_spark.sources.registry import read_source
from etl_router_spark.sinks.registry import (
    file_sink_path,
    same_file_target,
    write_sink,
)


def _mappings(cfg: dict[str, Any]) -> list[FieldMapping]:
    return [FieldMapping.from_dict(m) for m in cfg.get("mappings", [])]


def _index_param_norm(key: str, value: Any) -> Any:
    """Normalize one persisted-index parameter for conflict checks.

    The integer params compare as ints so numerically-equal YAML
    spellings (``num_hashes: 8.0``, quoted ``' 8'``) don't raise a
    spurious compile error (r14 ADVICE: the blanket str() compare was
    a tolerance regression vs the old int() compare); ``hash_family``
    stays a string — ``'h60'`` vs ``'xxhash64'`` has no numeric form.
    """
    if key == "hash_family":
        return str(value)
    return int(value)


# one-time (per process) reproducibility warning for dsir_sample
# manifests that omit hash_family — see the stage comment below
_DSIR_FAMILY_WARNED = False


def _with_watermark(df: DataFrame, wm_cfg: dict[str, Any] | None,
                    default_lateness: str | None = None) -> DataFrame:
    """Apply a declared watermark (streaming only; no-op on batch).

    Reference shape (``convert.rs:108-151``): per-source
    ``{event_time_field, allowed_lateness?}`` plus a fan-in level
    ``allowed_lateness``. Spark: ``withWatermark``; the late predicate
    ``t < wm - lateness`` (watermark.rs:120-128) is identical.
    """
    if not wm_cfg or not df.isStreaming:
        return df
    field = wm_cfg.get("event_time_field") or wm_cfg.get("field") or "event_time"
    lateness = wm_cfg.get("allowed_lateness") or default_lateness or "0 seconds"
    from etl_router_spark.model.parser import duration_to_interval

    return df.withWatermark(field, duration_to_interval(lateness))


def apply_transform_stage(df: DataFrame, stage: Stage, spark: SparkSession,
                          limits: dict[str, Any] | None = None
                          ) -> DataFrame | tuple[DataFrame, DataFrame]:
    """Dispatch one transform stage config to the operator library.

    Route-mode validate and service stages return ``(main, failing)``.

    ``limits``: pipeline-level declarative capacity limits
    (``spec.limits`` — max_candidates/max_df/salt_cap/max_postings,
    the reference's settings.rs pattern). They act as DEFAULTS for any
    stage whose operator accepts the knob; an explicit per-stage config
    value always wins. Operators that take none of the keys ignore
    them, so the merge is semantics-free outside the guarded types.
    """
    cfg = {**limits, **stage.config} if limits else stage.config
    tt = stage.transform_type
    if tt == "filter":
        return T.apply_filter(df, cfg["condition"], negate=bool(cfg.get("negate", False)))
    if tt == "map":
        return T.apply_map(df, _mappings(cfg), drop_unmapped=bool(cfg.get("drop_unmapped", False)))
    if tt == "project":
        return T.apply_project(df, cfg["fields"], exclude=bool(cfg.get("exclude", False)))
    if tt == "rename":
        return T.apply_rename(df, cfg["renames"])
    if tt == "cast":
        return T.apply_cast(df, cfg["casts"])
    if tt == "mask":
        return T.apply_mask(df, cfg["rules"])
    if tt == "validate":
        return T.apply_validate(df, cfg.get("rules", []), cfg.get("on_invalid", "drop"),
                                cfg.get("tag_field", "valid"),
                                schema=cfg.get("schema"),
                                schema_registry_url=cfg.get("schema_registry_url"),
                                subject=cfg.get("subject"))
    if tt == "flatmap":
        return T.apply_flatmap(df, cfg["field"], cfg.get("target_field"),
                               keep_parent=bool(cfg.get("keep_parent", False)),
                               outer=bool(cfg.get("outer", False)))
    if tt == "dedupe":
        return T.apply_dedupe(df, cfg["key_fields"], cfg.get("keep", "first"),
                              cfg.get("order_field", "event_time"),
                              cfg.get("tiebreak_fields"),
                              within_watermark=bool(cfg.get("within_watermark", False)),
                              window=cfg.get("window"))
    if tt == "ratelimit":
        if cfg.get("on_exceed") == "delay" and df.isStreaming:
            # delay = backpressure, not row dropping (types.rs:592-601):
            # enforced at the SOURCE via per-trigger intake caps
            # (delay_pacing_overrides), so the stage itself passes through
            return df
        return T.apply_ratelimit(df, cfg["key_fields"], int(cfg["max_rate"]),
                                 cfg.get("window", "1 hour"), cfg.get("ts_field", "event_time"),
                                 cfg.get("on_exceed", "drop"), cfg.get("tiebreak_fields"))
    if tt == "aggregate":
        return T.apply_aggregate(df, cfg.get("group_by", []), cfg["aggregations"],
                                 cfg.get("window"), cfg.get("ts_field", "event_time"))
    if tt == "sessionize":
        return T.apply_sessionize(df, cfg["key_fields"], cfg["gap"], cfg.get("aggregations"),
                                  cfg.get("ts_field", "event_time"), cfg.get("max_duration"),
                                  emit=cfg.get("emit", "on_close"))
    if tt == "service":
        from etl_router_spark.functions.transform_service import apply_transform_service

        return apply_transform_service(
            df,
            cfg.get("transform") or cfg["transform_id"],
            cfg["output_schema"],
            config=cfg.get("transform_config"),
            on_error=cfg.get("on_error", "route"),
        )
    llm = _apply_llm_transform(df, tt, cfg)
    if llm is not None:
        return llm
    raise ValueError(f"stage {stage.id!r}: transform {tt!r} not dispatchable in a linear DAG")


def _near_dup_pairs(df: DataFrame, cfg: dict[str, Any], tt: str) -> DataFrame:
    """Shared pair-generation config for the cluster-consuming stages
    (``dedup_cluster``, ``leakage_splits``): method simhash|minhash
    with the family's usual knobs, salted + budget-capped. Cluster
    consumers tolerate salting's sub-bucket pair loss (transitive
    closure re-links what the cap splits), so salt_cap defaults ON
    here, unlike semantic_dedup."""
    from etl_router_spark.functions.dedup import minhash_lsh_pairs, simhash_pairs

    method = cfg.get("method", "simhash")
    id_col = cfg.get("id_field", "doc_id")
    text_col = cfg.get("text_field", "text")
    mc = cfg.get("max_candidates")
    mc = int(mc) if mc is not None else None
    salt_cap = cfg.get("salt_cap", 512)
    if method == "simhash":
        # h60 provides 60 usable bits, so 60 is the widest valid default
        return simhash_pairs(df, id_col=id_col, text_col=text_col,
                             max_hamming=int(cfg.get("max_hamming", 3)),
                             bits=int(cfg.get("bits", 60)),
                             salt_cap=salt_cap, max_candidates=mc)
    if method == "minhash":
        return minhash_lsh_pairs(df, id_col=id_col, text_col=text_col,
                                 num_hashes=int(cfg.get("num_hashes", 128)),
                                 bands=int(cfg.get("bands", 32)),
                                 threshold=float(cfg.get("threshold", 0.8)),
                                 salt_cap=salt_cap, max_candidates=mc,
                                 # h60 stays the manifest default for the
                                 # whole MinHash stack (unlike bloom/dsir):
                                 # signatures feed PERSISTED indexes, and a
                                 # default flip would silently mis-key
                                 # every pre-existing index
                                 hash_family=cfg.get("hash_family", "h60"))
    raise ValueError(f"{tt}: unknown method {method!r}")


def _apply_llm_transform(df: DataFrame, tt: str, cfg: dict[str, Any]) -> DataFrame | None:
    """The large-scale data-pipeline operators as first-class
    transform_types (SURVEY §7.3 M6). Returns None for unknown types."""
    if tt == "dedup_exact":
        from etl_router_spark.functions.dedup import exact_dedup

        return exact_dedup(df, cfg.get("text_field", "text"),
                           cfg.get("id_field", "doc_id"),
                           normalize=bool(cfg.get("normalize", True)))
    if tt == "dedup_index_build":
        # persistable LSH index of the input corpus; point a file sink
        # at this stage (partition by a short band-key prefix or bucket
        # by band_key — see functions/dedup.py:minhash_index)
        from etl_router_spark.functions.dedup import minhash_index

        return minhash_index(df, id_col=cfg.get("id_field", "doc_id"),
                             text_col=cfg.get("text_field", "text"),
                             num_hashes=int(cfg.get("num_hashes", 16)),
                             bands=int(cfg.get("bands", 4)),
                             shingle_n=int(cfg.get("shingle_n", 3)),
                             hash_family=cfg.get("hash_family", "h60"))
    if tt == "dedup_index_probe":
        # incremental fuzzy dedup: keep input rows with no near-dup in
        # the persisted index at index_path. The index's persisted
        # (num_hashes, bands, shingle_n) are authoritative when
        # present — conflicting overrides are compile errors (see
        # decontaminate_fuzzy's benchmark_index for why: a mismatch is
        # silent non-detection, not a loud failure), omitted keys
        # adopt the index's.
        from etl_router_spark.functions.dedup import (
            dedup_against_minhash_index,
            minhash_index_params,
        )

        idx = df.sparkSession.read.parquet(cfg["index_path"])
        nh, bd, sn = (int(cfg.get("num_hashes", 16)),
                      int(cfg.get("bands", 4)),
                      int(cfg.get("shingle_n", 3)))
        hf = cfg.get("hash_family", "h60")
        built = minhash_index_params(idx)
        if built is not None:
            for key in ("num_hashes", "bands", "shingle_n", "hash_family"):
                if key in cfg and (_index_param_norm(key, cfg[key])
                                   != _index_param_norm(key, built[key])):
                    raise ValueError(
                        f"dedup_index_probe: {key}={cfg[key]!r} conflicts "
                        f"with the persisted index's {built[key]!r} — "
                        "probe params must match the build exactly; drop "
                        "the key to use the index's own")
            nh, bd, sn, hf = (built["num_hashes"], built["bands"],
                              built["shingle_n"], built["hash_family"])
        return dedup_against_minhash_index(
            df, idx, id_col=cfg.get("id_field", "doc_id"),
            text_col=cfg.get("text_field", "text"),
            num_hashes=nh, bands=bd, shingle_n=sn,
            threshold=float(cfg.get("threshold", 0.5)),
            hash_family=hf)
    # optional pre-flight candidate budget (pair-generation types):
    # fail fast with CandidateBudgetExceeded instead of launching a
    # quadratic pair shuffle on a saturated corpus
    mc = cfg.get("max_candidates")
    mc = int(mc) if mc is not None else None
    if tt == "dedup_minhash":
        from etl_router_spark.functions.dedup import minhash_lsh_pairs

        return minhash_lsh_pairs(df, num_hashes=int(cfg.get("num_hashes", 128)),
                                 bands=int(cfg.get("bands", 32)),
                                 threshold=float(cfg.get("threshold", 0.8)),
                                 text_col=cfg.get("text_field", "text"),
                                 id_col=cfg.get("id_field", "doc_id"),
                                 salt_cap=cfg.get("salt_cap", 512),
                                 max_candidates=mc)
    if tt == "dedup_ngram":
        from etl_router_spark.functions.dedup import ngram_jaccard_pairs

        return ngram_jaccard_pairs(df, id_col=cfg.get("id_field", "doc_id"),
                                   text_col=cfg.get("text_field", "text"),
                                   n=int(cfg.get("n", 3)),
                                   threshold=float(cfg.get("threshold", 0.8)),
                                   max_df=cfg.get("max_df"),
                                   pair_chunk=int(cfg.get("pair_chunk", 2048)),
                                   max_candidates=mc)
    if tt == "dedup_simhash":
        from etl_router_spark.functions.dedup import simhash_pairs

        # h60 provides 60 usable bits, so 60 is the widest valid default
        return simhash_pairs(df, max_hamming=int(cfg.get("max_hamming", 3)),
                             bits=int(cfg.get("bits", 60)),
                             text_col=cfg.get("text_field", "text"),
                             id_col=cfg.get("id_field", "doc_id"),
                             salt_cap=cfg.get("salt_cap", 512),
                             max_candidates=mc)
    if tt == "dedup_embedding":
        if cfg.get("method") == "lsh":
            from etl_router_spark.functions.dedup import embedding_lsh_pairs

            return embedding_lsh_pairs(df, dim=int(cfg["dim"]),
                                       id_col=cfg.get("id_field", "vec_id"),
                                       vec_col=cfg.get("vec_field", "embedding"),
                                       threshold=float(cfg.get("threshold", 0.95)),
                                       planes=(cfg["planes"]
                                               if cfg.get("planes") == "auto"
                                               else int(cfg.get("planes", 8))),
                                       tables=int(cfg.get("tables", 2)),
                                       salt_cap=cfg.get("salt_cap", 512),
                                       max_candidates=mc)
        if cfg.get("method") == "semantic":
            from etl_router_spark.functions.dedup import semantic_dedup

            # salt_cap has NO implicit default here: cosine is not
            # transitive, so salting loses recall for this operator's
            # whole-cell contract (see semantic_dedup docstring) —
            # only a declared stage/spec.limits value opts in
            return semantic_dedup(df, id_col=cfg.get("id_field", "vec_id"),
                                  vec_col=cfg.get("vec_field", "embedding"),
                                  threshold=float(cfg.get("threshold", 0.95)),
                                  n_cells=(cfg["n_cells"]
                                           if cfg.get("n_cells") == "auto"
                                           else int(cfg.get("n_cells", 8))),
                                  salt_cap=cfg.get("salt_cap"),
                                  max_candidates=mc,
                                  target_occupancy=int(
                                      cfg.get("target_occupancy", 256)))
        from etl_router_spark.functions.dedup import embedding_cosine_pairs

        return embedding_cosine_pairs(df, id_col=cfg.get("id_field", "vec_id"),
                                      vec_col=cfg.get("vec_field", "embedding"),
                                      threshold=float(cfg.get("threshold", 0.95)))
    if tt == "similarity_topk":
        from etl_router_spark.compile.conditions import compile_condition
        from etl_router_spark.functions.similarity import brute_force_topk
        from etl_router_spark.model.conditions import Condition

        queries = df
        qcond = cfg.get("query_condition")
        if qcond is not None:
            if isinstance(qcond, dict):
                qcond = Condition.from_dict(qcond)
            queries = df.filter(compile_condition(qcond))
        return brute_force_topk(queries, df, k=int(cfg.get("k", 5)),
                                id_col=cfg.get("id_field", "vec_id"),
                                vec_col=cfg.get("vec_field", "embedding"))
    if tt in ("pq_encode", "pq_topk"):
        # product quantization (functions/pq.py): codebooks come from
        # explicit config, training over the input frame, or the
        # deterministic md5-derived set — in that precedence order
        from etl_router_spark.functions.pq import (
            deterministic_codebooks,
            pq_adc_topk,
            pq_encode,
            pq_train,
        )

        m = int(cfg.get("m", 4))
        kc = int(cfg.get("k_centroids", 16))
        books = cfg.get("codebooks")
        if books is None and cfg.get("index_path") and tt == "pq_topk":
            pass  # sidecar codebooks win below — no dim needed
        elif books is None and cfg.get("train"):
            books = pq_train(df, m=m, k=kc,
                             vec_col=cfg.get("vec_field", "embedding"),
                             id_col=cfg.get("id_field", "vec_id"),
                             sample_fraction=cfg.get("sample_fraction"))
        elif books is None:
            if "dim" not in cfg:
                raise ValueError(
                    "pq stage needs dim (for the deterministic codebooks) "
                    "unless codebooks/train/index_path is given")
            books = deterministic_codebooks(int(cfg["dim"]), m=m, k=kc)
        if tt == "pq_encode":
            return pq_encode(df, books,
                             id_col=cfg.get("id_field", "vec_id"),
                             vec_col=cfg.get("vec_field", "embedding"),
                             keep_vec=bool(cfg.get("keep_vec", False)))
        from etl_router_spark.compile.conditions import compile_condition
        from etl_router_spark.model.conditions import Condition

        queries = df
        qcond = cfg.get("query_condition")
        if qcond is not None:
            if isinstance(qcond, dict):
                qcond = Condition.from_dict(qcond)
            queries = df.filter(compile_condition(qcond))
        if "nprobe" in cfg or cfg.get("index_path"):
            # the nprobe KEY (any value, including a blank YAML null
            # meaning auto) or a persisted index declares the IVF
            # branch — a blank nprobe without index_path previously
            # fell through to the brute-force ADC scan below, a
            # silently different algorithm from `nprobe: auto`
            # IVF-PQ: coarse cells prune candidates before ADC ranking;
            # shortlist: N declares the two-stage recipe (exact-L2
            # re-rank of the top-N ADC candidates — raises the PQ
            # recall ceiling that nprobe cannot move); index_path
            # serves the probe from a persisted self-describing
            # write_pq_index artifact (codes + sidecar codebooks/
            # centroids — no re-encoding, no duplicated parameters).
            # index_path alone implies IVF (the artifact IS
            # cell-partitioned and carries centroids): before r15 an
            # index_path stage without nprobe fell through to plain
            # ADC with books=None and crashed; now it runs the same
            # nprobe="auto" default the Python API resolves for
            # nprobe=None (size-aware probed fraction via the
            # sidecar's n_vectors).
            corpus_index = None
            centroids = None
            occ_p95 = None
            corpus_n = None
            if cfg.get("index_path"):
                from etl_router_spark.functions.pq import read_pq_index

                corpus_index, books, centroids, idx_meta = read_pq_index(
                    df.sparkSession, cfg["index_path"])
                occ = idx_meta.get("cell_occupancy") or {}
                occ_p95 = occ.get("p95")
                # the corpus size rides the sidecar too (r15): it
                # feeds the size-aware auto-nprobe fraction at zero
                # cost (absent from pre-r15 sidecars -> None, flat 5%)
                corpus_n = occ.get("n_vectors")
            if cfg.get("shortlist") is not None:
                from etl_router_spark.functions.pq import ivfpq_rerank_topk

                return ivfpq_rerank_topk(
                    queries, df, books, k=int(cfg.get("k", 5)),
                    shortlist=int(cfg["shortlist"]),
                    # "auto" (the default when index_path implies the
                    # branch; a blank `nprobe:` YAML null means the
                    # same) -> suggest_nprobe's size-aware probed
                    # fraction (the sizing default's companion, r14/r15)
                    nprobe=(None if cfg.get("nprobe", "auto")
                            in ("auto", None)
                            else int(cfg["nprobe"])),
                    # no n_centroids key -> suggest_n_centroids sizing
                    # (sqrt(corpus) cells, one count() at build — the
                    # r12 chain A/B's fix for occupancy growing with
                    # the corpus under a fixed cell count)
                    n_centroids=(int(cfg["n_centroids"])
                                 if "n_centroids" in cfg else None),
                    centroids=centroids,
                    id_col=cfg.get("id_field", "vec_id"),
                    vec_col=cfg.get("vec_field", "embedding"),
                    corpus_index=corpus_index,
                    cell_occupancy_p95=occ_p95,
                    occupancy_guard=cfg.get("occupancy_guard", "warn"),
                    corpus_n=corpus_n)
            from etl_router_spark.functions.pq import ivfpq_topk

            return ivfpq_topk(queries, df, books, k=int(cfg.get("k", 5)),
                              nprobe=(None if cfg.get("nprobe", "auto")
                                      in ("auto", None)
                                      else int(cfg["nprobe"])),
                              n_centroids=(int(cfg["n_centroids"])
                                           if "n_centroids" in cfg
                                           else None),
                              centroids=centroids,
                              id_col=cfg.get("id_field", "vec_id"),
                              vec_col=cfg.get("vec_field", "embedding"),
                              corpus_index=corpus_index,
                              corpus_n=corpus_n)
        id_col = cfg.get("id_field", "vec_id")
        method = cfg.get("method")
        if method is None:
            # blas is the numpy fast path but requires integral ids;
            # route string/other id manifests to the portable sql
            # twin instead of crashing (explicit method= still wins
            # and gets pq_adc_topk's descriptive error)
            from pyspark.sql import types as sqltypes

            integral = (sqltypes.ByteType, sqltypes.ShortType,
                        sqltypes.IntegerType, sqltypes.LongType)
            method = ("blas" if isinstance(df.schema[id_col].dataType,
                                           integral) else "sql")
        return pq_adc_topk(queries, df, books, k=int(cfg.get("k", 5)),
                           id_col=id_col,
                           vec_col=cfg.get("vec_field", "embedding"),
                           method=method)
    if tt == "quality_classifier":
        # model-based quality filter (fastText recipe): weights from
        # explicit config, training over the input frame (label_field),
        # or the deterministic md5-derived set — same precedence as pq
        from etl_router_spark.functions.classifier import (
            deterministic_weights,
            quality_classifier_apply,
            quality_classifier_train,
        )

        ws, bias = cfg.get("weights"), cfg.get("bias", 0.0)
        if ws is None and cfg.get("label_field"):
            ws, bias = quality_classifier_train(
                df, cfg["label_field"],
                text_col=cfg.get("text_field", "text"),
                num_features=int(cfg.get("num_features", 256)),
                max_iter=int(cfg.get("max_iter", 50)),
                reg_param=float(cfg.get("reg_param", 0.0)))
        elif ws is None:
            ws, bias = deterministic_weights(int(cfg.get("num_features", 256)))
        return quality_classifier_apply(
            df, list(ws), float(bias),
            text_col=cfg.get("text_field", "text"),
            threshold=float(cfg.get("threshold", 0.5)))
    if tt == "text_stats":
        from etl_router_spark.functions.text import text_stats

        return text_stats(df, cfg.get("text_field", "text"))
    if tt == "langid":
        from etl_router_spark.functions.text import language_id

        return language_id(df, cfg.get("text_field", "text"))
    if tt == "fingerprint":
        from etl_router_spark.functions.text import fingerprint

        return fingerprint(df, cfg.get("text_field", "text"))
    if tt == "tokenize":
        from etl_router_spark.functions.text import tokenize

        return tokenize(df, cfg.get("text_field", "text"))
    if tt == "multimodal_extract":
        from etl_router_spark.functions.multimodal import extract_media_features

        return extract_media_features(df, media_col=cfg.get("media_field", "media"),
                                      id_col=cfg.get("id_field", "doc_id"),
                                      decoder=cfg.get("decoder", "fake"),
                                      feature_dim=int(cfg.get("feature_dim", 8)))
    if tt == "decontaminate":
        # benchmark side declared like lookup's dim: a source config
        from etl_router_spark.functions.corpus import decontaminate

        bench = read_source(df.sparkSession, cfg["benchmark"], streaming=False)
        return decontaminate(df, bench,
                             id_col=cfg.get("id_field", "doc_id"),
                             text_col=cfg.get("text_field", "text"),
                             n=int(cfg.get("ngram", 8)),
                             mode=cfg.get("mode", "drop"))
    if tt == "redact_spans":
        from etl_router_spark.functions.corpus import redact_contaminated_spans

        bench = read_source(df.sparkSession, cfg["benchmark"], streaming=False)
        return redact_contaminated_spans(
            df, bench,
            id_col=cfg.get("id_field", "doc_id"),
            text_col=cfg.get("text_field", "text"),
            # 'ngram' mirrors the sibling decontaminate/bloom stages;
            # 'n' kept as a back-compat alias
            n=int(cfg.get("ngram", cfg.get("n", 8))),
            sentinel=cfg.get("sentinel", "[REDACTED]"),
            out_col=cfg.get("out_field", "clean_text"),
        )
    if tt == "decontaminate_fuzzy":
        from etl_router_spark.functions.corpus import decontaminate_fuzzy

        # build-once (r10 verdict ask): `benchmark_index` names a
        # persisted minhash_index table (a source config, like
        # lookup's dim) — the benchmark shingle->minhash build is
        # skipped entirely and the stage costs one corpus probe pass.
        # The index's own (num_hashes, bands, shingle_n) — persisted
        # as column metadata through the parquet footer — are
        # authoritative, exactly like the Bloom twin's `filter:`: a
        # conflicting override would build band keys that never
        # collide and pass every contaminated doc through silently,
        # so it is a compile error; omitted keys adopt the index's.
        bench_index = None
        bench = None
        nh, bd, sn = (int(cfg.get("num_hashes", 16)),
                      int(cfg.get("bands", 4)),
                      int(cfg.get("shingle_n", 3)))
        hf = cfg.get("hash_family", "h60")
        if "benchmark_index" in cfg:
            from etl_router_spark.functions.dedup import minhash_index_params

            bench_index = read_source(
                df.sparkSession, cfg["benchmark_index"], streaming=False)
            built = minhash_index_params(bench_index)
            if built is not None:
                for key in ("num_hashes", "bands", "shingle_n",
                            "hash_family"):
                    if key in cfg and (_index_param_norm(key, cfg[key])
                                       != _index_param_norm(key, built[key])):
                        raise ValueError(
                            f"decontaminate_fuzzy: {key}={cfg[key]!r} "
                            f"conflicts with the persisted index's "
                            f"{built[key]!r} — probe params must match "
                            "the build exactly (a mismatch means zero "
                            "band-key collisions, i.e. silent "
                            "non-detection); drop the key to use the "
                            "index's own")
                nh, bd, sn, hf = (built["num_hashes"], built["bands"],
                                  built["shingle_n"], built["hash_family"])
        else:
            bench = read_source(
                df.sparkSession, cfg["benchmark"], streaming=False)
        return decontaminate_fuzzy(
            df, bench,
            id_col=cfg.get("id_field", "doc_id"),
            text_col=cfg.get("text_field", "text"),
            num_hashes=nh,
            bands=bd,
            shingle_n=sn,
            threshold=float(cfg.get("threshold", 0.5)),
            mode=cfg.get("mode", "drop"),
            benchmark_index=bench_index,
            hash_family=hf)
    if tt == "bloom_build":
        # the artifact-build half of build-once decontamination: the
        # input (a benchmark corpus) folds into a ONE-ROW persistable
        # filter frame, entirely engine-side; point a parquet sink at
        # this stage and the output dir IS the probe stage's `filter:`
        # (the MinHash analog is dedup_index_build -> benchmark_index)
        from etl_router_spark.functions.corpus import bloom_filter_frame

        return bloom_filter_frame(
            df,
            text_col=cfg.get("text_field", "text"),
            n=int(cfg.get("ngram", 8)),
            m_bits=int(cfg.get("m_bits", 1 << 22)),
            k=int(cfg.get("hashes", 3)),
            hash_family=cfg.get("hash_family", "xxhash64"))
    if tt == "bloom_decontaminate":
        from etl_router_spark.functions.corpus import (
            bloom_decontaminate,
            load_bloom_filter,
        )

        if "filter" in cfg:
            # build-once (r10 verdict ask): `filter` is the path of a
            # save_bloom_filter artifact — no benchmark source, no
            # driver-side gram collection; the stage compiles to ONE
            # map-side codegen probe pass (the stream_bloom_probe
            # shape, now declarable from a manifest). The persisted
            # build parameters are authoritative: a conflicting
            # override would probe different positions and silently
            # void the one-sided-error contract, so it is an error.
            bf = load_bloom_filter(df.sparkSession, cfg["filter"])
            for key, have in (("ngram", bf["n"]), ("m_bits", bf["m_bits"]),
                              ("hashes", bf["k"])):
                if key in cfg and int(cfg[key]) != have:
                    raise ValueError(
                        f"bloom_decontaminate: {key}={cfg[key]!r} conflicts"
                        f" with the persisted filter's {have!r} — probe"
                        " params must match the build bit-exactly; drop"
                        " the key to use the filter's own")
            if cfg.get("hash_family", bf["hash_family"]) != bf["hash_family"]:
                raise ValueError(
                    f"bloom_decontaminate: hash_family="
                    f"{cfg['hash_family']!r} conflicts with the persisted"
                    f" filter's {bf['hash_family']!r}")
            return bloom_decontaminate(
                df, None,
                id_col=cfg.get("id_field", "doc_id"),
                text_col=cfg.get("text_field", "text"),
                n=bf["n"], m_bits=bf["m_bits"], k=bf["k"],
                hash_family=bf["hash_family"],
                mode=cfg.get("mode", "drop"),
                broadcast=cfg.get("broadcast", "auto"),
                prebuilt_words=bf["words"])
        bench = read_source(df.sparkSession, cfg["benchmark"], streaming=False)
        return bloom_decontaminate(df, bench,
                                   id_col=cfg.get("id_field", "doc_id"),
                                   text_col=cfg.get("text_field", "text"),
                                   n=int(cfg.get("ngram", 8)),
                                   m_bits=int(cfg.get("m_bits", 1 << 22)),
                                   k=int(cfg.get("hashes", 3)),
                                   mode=cfg.get("mode", "drop"),
                                   hash_family=cfg.get("hash_family",
                                                       "xxhash64"),
                                   broadcast=cfg.get("broadcast", "auto"))
    if tt == "retrieval_eval":
        # qrels side declared like lookup's dim: a source config
        from etl_router_spark.functions.indexing import retrieval_eval

        qrels = read_source(df.sparkSession, cfg["qrels"], streaming=False)
        return retrieval_eval(df, qrels,
                              k=int(cfg.get("k", 10)),
                              query_id_col=cfg.get("query_id_field",
                                                   "query_id"),
                              doc_id_col=cfg.get("doc_id_field", "doc_id"),
                              rank_col=cfg.get("rank_field", "rank"),
                              rel_col=cfg.get("rel_field", "rel"))
    if tt == "hard_negatives":
        # qrels side declared like retrieval_eval's: a source config
        from etl_router_spark.functions.indexing import mine_hard_negatives

        qrels = read_source(df.sparkSession, cfg["qrels"], streaming=False)
        return mine_hard_negatives(
            df, qrels,
            n_negatives=int(cfg.get("n_negatives", 4)),
            query_id_col=cfg.get("query_id_field", "query_id"),
            doc_id_col=cfg.get("doc_id_field", "doc_id"),
            rank_col=cfg.get("rank_field", "rank"),
            rel_col=cfg.get("rel_field", "rel"))
    if tt == "epoch_upsample":
        from etl_router_spark.functions.corpus import epoch_upsample

        return epoch_upsample(df, weights=dict(cfg["weights"]),
                              token_budget=float(cfg["token_budget"]),
                              domain_col=cfg.get("domain_field", "source"),
                              key_col=cfg.get("key_field", "doc_id"),
                              size_col=cfg.get("size_field"),
                              max_epochs=float(cfg.get("max_epochs", 4.0)),
                              salt=str(cfg.get("salt", "")),
                              epoch_col=cfg.get("epoch_field", "epoch"))
    if tt == "snapshot_diff":
        # prior snapshot declared like lookup's dim: a source config
        from etl_router_spark.functions.corpus import snapshot_diff

        baseline = read_source(df.sparkSession, cfg["baseline"],
                               streaming=False)
        return snapshot_diff(baseline, df,
                             id_col=cfg.get("id_field", "doc_id"),
                             compare_cols=cfg.get("compare_fields"),
                             status_col=cfg.get("status_field", "status"))
    if tt == "hash_sample":
        from etl_router_spark.functions.corpus import hash_sample

        return hash_sample(df, rate=float(cfg.get("rate", 1.0)),
                           key_col=cfg.get("key_field", "doc_id"),
                           salt=cfg.get("salt", ""),
                           strata_col=cfg.get("strata_field"),
                           strata_rates=cfg.get("strata_rates"))
    if tt == "c4_filter":
        from etl_router_spark.functions.text import c4_rules

        kw = {k: cfg[k] for k in (
            "min_words_per_line", "terminal_punct", "min_sentences",
            "banned_page_substrings", "banned_line_words",
        ) if k in cfg}
        return c4_rules(df, text_col=cfg.get("text_field", "text"),
                        mode=cfg.get("mode", "tag"), **kw)
    if tt == "gopher_filter":
        from etl_router_spark.functions.text import gopher_rules

        kw = {k: cfg[k] for k in (
            "min_words", "max_words", "min_mean_word_len", "max_mean_word_len",
            "max_symbol_ratio", "max_bullet_line_frac", "max_ellipsis_line_frac",
            "min_alpha_word_ratio", "min_stopword_hits",
        ) if k in cfg}
        return gopher_rules(df, text_col=cfg.get("text_field", "text"),
                            mode=cfg.get("mode", "tag"), **kw)
    if tt == "duplicate_spans":
        from etl_router_spark.functions.dedup import duplicate_ngram_spans

        n_cfg = cfg.get("n", 5)
        # a YAML list of widths = the several-n-in-one-scan shape
        n_arg = ([int(k) for k in n_cfg]
                 if isinstance(n_cfg, (list, tuple)) else int(n_cfg))
        return duplicate_ngram_spans(df, n=n_arg,
                                     id_col=cfg.get("id_field", "doc_id"),
                                     text_col=cfg.get("text_field", "text"),
                                     min_count=int(cfg.get("min_count", 2)))
    if tt == "mix_sample":
        from etl_router_spark.functions.corpus import mix_sample

        return mix_sample(df, weights=cfg.get("weights"),
                          domain_col=cfg.get("domain_field", "source"),
                          key_col=cfg.get("key_field", "doc_id"),
                          salt=cfg.get("salt", ""),
                          size_col=cfg.get("size_field"),
                          rate_col=cfg.get("rate_field"),
                          temperature=(float(cfg["temperature"])
                                       if cfg.get("temperature") is not None
                                       else None))
    if tt == "dsir_sample":
        # target corpus declared like decontaminate's benchmark: a
        # source config (DSIR selects raw docs resembling the target)
        from etl_router_spark.functions.selection import dsir_sample

        target = read_source(df.sparkSession, cfg["target"], streaming=False)
        if "hash_family" not in cfg:
            # BREAKING-CHANGE visibility (r14 ADVICE): the manifest
            # default flipped h60 -> xxhash64 for bloom_*-consistency,
            # and — unlike the MinHash index path — dsir_sample has no
            # persisted artifact to fail fast against, so a pinned-salt
            # manifest silently selects a DIFFERENT document set after
            # the upgrade. Warn once per process; pin hash_family to
            # silence (h60 reproduces pre-change selections exactly).
            global _DSIR_FAMILY_WARNED
            if not _DSIR_FAMILY_WARNED:
                _DSIR_FAMILY_WARNED = True
                import warnings

                warnings.warn(
                    "dsir_sample: hash_family not set — the manifest "
                    "default is now 'xxhash64' (native hash, the "
                    "production family shared with bloom_* stages). "
                    "Manifests written before this default selected "
                    "documents with 'h60'; the same salt now yields a "
                    "DIFFERENT sample. Pin hash_family: h60 to "
                    "reproduce old selections, or hash_family: "
                    "xxhash64 to silence this warning.")
        return dsir_sample(df, target, int(cfg.get("k", 1000)),
                           id_col=cfg.get("id_field", "doc_id"),
                           text_col=cfg.get("text_field", "text"),
                           buckets=int(cfg.get("buckets", 4096)),
                           smooth=float(cfg.get("smooth", 0.5)),
                           salt=cfg.get("salt", "dsir"),
                           # manifests default to the native-hash
                           # production family, like bloom_* stages;
                           # the Python API defaults to oracle-exact h60
                           hash_family=cfg.get("hash_family",
                                               "xxhash64"))
    if tt == "weighted_sample":
        from etl_router_spark.functions.selection import weighted_sample

        return weighted_sample(df, int(cfg.get("k", 1000)),
                               weight_col=cfg["weight_field"],
                               id_col=cfg.get("id_field", "doc_id"),
                               group_col=cfg.get("group_field"),
                               salt=cfg.get("salt", "ws"))
    if tt == "pack_sequences":
        from etl_router_spark.functions.corpus import pack_sequences

        return pack_sequences(df, max_tokens=int(cfg.get("max_tokens", 2048)),
                              id_col=cfg.get("id_field", "doc_id"),
                              token_count_col=cfg.get("token_count_field", "n_tokens"))
    if tt == "bpe_tokenize":
        from etl_router_spark.functions.text import bpe_tokenize

        merges = cfg.get("merges")
        if isinstance(merges, str):
            # a bpe_train result persisted as JSON: [["a","b"], ...]
            import json as _json

            with open(merges) as fh:
                merges = _json.load(fh)
        if not merges:
            raise ValueError("bpe_tokenize requires merges "
                             "(inline pair list or bpe_train JSON path)")
        return bpe_tokenize(df, [tuple(m) for m in merges],
                            text_col=cfg.get("text_field", "text"),
                            out_col=cfg.get("out_field", "bpe_tokens"))
    if tt == "kafka_envelope":
        # Kafka wire schema -> envelope -> typed columns, the manifest
        # face of model/envelope.py (offset -> sequence_number,
        # topic:partition:offset -> idempotency_key, headers ->
        # metadata, payload parsed once by from_json)
        from etl_router_spark.model.envelope import from_kafka, promote

        env = from_kafka(df, record_type=cfg.get("record_type"),
                         source_id=cfg.get("source_id"))
        schema = cfg.get("payload_schema")
        if not schema:
            raise ValueError("kafka_envelope requires payload_schema (DDL)")
        return promote(env, schema,
                       keep_envelope=bool(cfg.get("keep_envelope", True)))
    if tt == "pack_boundaries":
        from etl_router_spark.functions.corpus import pack_with_boundaries

        return pack_with_boundaries(df, max_tokens=int(cfg.get("max_tokens", 2048)),
                                    id_col=cfg.get("id_field", "doc_id"),
                                    token_count_col=cfg.get("token_count_field", "n_tokens"))
    if tt == "repetition_stats":
        from etl_router_spark.functions.text import repetition_stats

        return repetition_stats(df, cfg.get("text_field", "text"))
    if tt == "pii_redact":
        from etl_router_spark.functions.text import pii_redact

        return pii_redact(df, cfg.get("text_field", "text"),
                          out_col=cfg.get("out_field", "clean_text"))
    if tt == "chunk":
        from etl_router_spark.functions.corpus import chunk_documents

        return chunk_documents(df, window=int(cfg.get("window", 2048)),
                               stride=int(cfg.get("stride", 2048)),
                               id_col=cfg.get("id_field", "doc_id"),
                               text_col=cfg.get("text_field", "text"))
    if tt == "line_dedup":
        from etl_router_spark.functions.corpus import line_dedup

        tpl = cfg.get("tokens_per_line")
        return line_dedup(df, id_col=cfg.get("id_field", "doc_id"),
                          text_col=cfg.get("text_field", "text"),
                          delimiter=cfg.get("delimiter", "\n"),
                          tokens_per_line=int(tpl) if tpl is not None else None,
                          join_sep=cfg.get("join_sep", "\n"),
                          out_col=cfg.get("out_field", "text_deduped"))
    if tt == "strip_repeated_lines":
        from etl_router_spark.functions.text import strip_repeated_lines

        return strip_repeated_lines(
            df, text_col=cfg.get("text_field", "text"),
            out_col=cfg.get("out_field", "clean_text"))
    if tt == "text_normalize":
        from etl_router_spark.functions.text import normalize_text

        return normalize_text(df, text_col=cfg.get("text_field", "text"),
                              out_col=cfg.get("out_field", "text_norm"),
                              lowercase=bool(cfg.get("lowercase", True)),
                              strip_non_alnum=bool(cfg.get("strip_non_alnum", False)),
                              collapse_whitespace=bool(cfg.get("collapse_whitespace", True)))
    if tt == "embedding_normalize":
        from etl_router_spark.functions.embedding import l2_normalize

        return l2_normalize(df, vec_col=cfg.get("vec_field", "embedding"),
                            out_col=cfg.get("out_field", "embedding_norm"),
                            norm_col=cfg.get("norm_field", "l2_norm"))
    if tt == "embedding_quantize":
        from etl_router_spark.functions.embedding import quantize_int8

        return quantize_int8(df, vec_col=cfg.get("vec_field", "embedding"),
                             out_col=cfg.get("out_field", "q_embedding"),
                             scale_col=cfg.get("scale_field", "q_scale"))
    if tt == "embedding_mean_pool":
        from etl_router_spark.functions.embedding import mean_pool

        return mean_pool(df, group_col=cfg.get("group_field", "doc_id"),
                         vec_col=cfg.get("vec_field", "embedding"))
    if tt == "embedding_pca_project":
        from etl_router_spark.functions.embedding import pca_project

        # components: inline k x d matrix, or a path to a JSON file
        # produced by pca_train (the train step is a driver-side job,
        # not a row transform — run it once, persist the model)
        comps = cfg.get("components")
        if isinstance(comps, str):
            import json as _json

            with open(comps) as fh:
                model = _json.load(fh)
            comps = model["components"]
            mean = cfg.get("mean", model.get("mean"))
        else:
            mean = cfg.get("mean")
        if not comps:
            raise ValueError("embedding_pca_project requires components "
                             "(inline matrix or pca_train JSON path)")
        return pca_project(df, comps, mean=mean,
                           vec_col=cfg.get("vec_field", "embedding"),
                           out_col=cfg.get("out_field", "pca"))
    if tt == "tfidf":
        from etl_router_spark.functions.indexing import tfidf_topk

        return tfidf_topk(df, id_col=cfg.get("id_field", "doc_id"),
                          text_col=cfg.get("text_field", "text"),
                          k=int(cfg.get("k", 5)))
    if tt == "heavy_hitters":
        from etl_router_spark.functions.indexing import heavy_hitters

        return heavy_hitters(df, id_col=cfg.get("id_field", "doc_id"),
                             text_col=cfg.get("text_field", "text"),
                             k=int(cfg.get("k", 50)))
    if tt == "inverted_index":
        from etl_router_spark.functions.indexing import inverted_index

        return inverted_index(df, id_col=cfg.get("id_field", "doc_id"),
                              text_col=cfg.get("text_field", "text"),
                              min_df=int(cfg.get("min_df", 1)),
                              max_df=cfg.get("max_df"),
                              max_postings=cfg.get("max_postings"))
    if tt == "group_topk":
        from etl_router_spark.functions.corpus import group_topk

        return group_topk(df, group_col=cfg["group_field"],
                          order_col=cfg["order_field"],
                          k=int(cfg.get("k", 10)),
                          ascending=bool(cfg.get("ascending", False)),
                          tie_col=cfg.get("tie_field", "doc_id"))
    if tt == "global_shuffle":
        from etl_router_spark.functions.corpus import global_shuffle

        return global_shuffle(df, seed=int(cfg.get("seed", 0)),
                              id_col=cfg.get("id_field", "doc_id"))
    if tt == "dedup_cluster":
        # pairs -> connected components -> (id, cluster_id) per row;
        # pair generation method chosen by config
        from etl_router_spark.functions.dedup import dedup_clusters

        id_col = cfg.get("id_field", "doc_id")
        pairs = _near_dup_pairs(df, cfg, tt)
        algorithm = cfg.get("cc_algorithm", "label")
        if cfg.get("emit", "labels") == "canonical":
            from etl_router_spark.functions.dedup import dedup_canonical

            return dedup_canonical(df, pairs, id_col=id_col, algorithm=algorithm)
        return dedup_clusters(df, pairs, id_col=id_col, algorithm=algorithm)
    if tt == "leakage_splits":
        # near-dup pairs -> connected components -> ONE split per
        # cluster: the leakage guard split_assign alone lacks
        from etl_router_spark.functions.corpus import leakage_safe_splits

        return leakage_safe_splits(
            df, _near_dup_pairs(df, cfg, tt),
            fractions=dict(cfg["fractions"]),
            id_col=cfg.get("id_field", "doc_id"),
            salt=str(cfg.get("salt", "")),
            out_col=cfg.get("out_field", "split"),
            group_col=cfg.get("group_field", "split_group"),
            algorithm=cfg.get("cc_algorithm", "label"))
    if tt == "cdc_apply":
        from etl_router_spark.functions.cdc import cdc_apply

        return cdc_apply(df, key_cols=list(cfg["key_fields"]),
                         order_cols=list(cfg["order_fields"]),
                         op_col=cfg.get("op_field"),
                         delete_values=tuple(cfg.get("delete_values", ("delete", "d"))))
    if tt == "split_assign":
        from etl_router_spark.functions.corpus import assign_splits

        return assign_splits(df, key_col=cfg.get("key_field", "doc_id"),
                             fractions=dict(cfg["fractions"]),
                             salt=str(cfg.get("salt", "")),
                             out_col=cfg.get("out_field", "split"))
    if tt == "ngram_counts":
        from etl_router_spark.functions.text import ngram_counts

        return ngram_counts(df, text_col=cfg.get("text_field", "text"),
                            n=int(cfg.get("n", 2)), k=int(cfg.get("k", 100)))
    if tt == "char_entropy":
        from etl_router_spark.functions.text import char_entropy

        return char_entropy(df, text_col=cfg.get("text_field", "text"),
                            id_col=cfg.get("id_field", "doc_id"),
                            out_col=cfg.get("output_field", "char_entropy"))
    if tt == "unigram_logprob":
        from etl_router_spark.functions.text import unigram_logprob

        return unigram_logprob(df, text_col=cfg.get("text_field", "text"),
                               id_col=cfg.get("id_field", "doc_id"))
    if tt == "bigram_logprob":
        from etl_router_spark.functions.text import bigram_logprob

        return bigram_logprob(df, text_col=cfg.get("text_field", "text"),
                              id_col=cfg.get("id_field", "doc_id"),
                              lam=float(cfg.get("lam", 0.7)),
                              add_k=float(cfg.get("add_k", 0.5)))
    if tt == "url_normalize":
        from etl_router_spark.functions.text import normalize_url

        return df.withColumn(
            cfg.get("out_field", "url_norm"),
            normalize_url(F.col(cfg.get("url_field", "url"))),
        )
    if tt == "domain_cap":
        from etl_router_spark.functions.corpus import domain_cap

        counts = cfg.get("domain_counts")
        return domain_cap(
            df, url_col=cfg.get("url_field", "url"),
            cap=int(cfg.get("cap", 100)),
            id_col=cfg.get("id_field", "doc_id"),
            method=cfg.get("method", "exact"),
            host_col=cfg.get("host_field"),
            domain_counts=(read_source(df.sparkSession, counts,
                                       streaming=False)
                           if counts else None),
            seed=int(cfg.get("seed", 0)),
        )
    if tt == "filter_attribution":
        from etl_router_spark.functions.corpus import filter_attribution

        # rules: {name: SQL boolean expression (True = keep)}
        return filter_attribution(
            df, {n: F.expr(sql) for n, sql in cfg["rules"].items()})
    if tt == "yield_curve":
        from etl_router_spark.functions.corpus import filter_yield_curve

        return filter_yield_curve(
            df, cfg["score_field"],
            [float(t) for t in cfg["thresholds"]],
            size_col=cfg.get("size_field"),
            group_col=cfg.get("group_field"))
    if tt == "quality_filter":
        from etl_router_spark.functions.corpus import adaptive_quality_filter

        return adaptive_quality_filter(
            df, score_col=cfg["score_field"], group_col=cfg["group_field"],
            quantile=float(cfg.get("quantile", 0.25)),
            threshold_round=cfg.get("threshold_round"),
        )
    if tt == "quality_buckets":
        from etl_router_spark.functions.corpus import quality_buckets

        return quality_buckets(
            df, score_col=cfg["score_field"], group_col=cfg["group_field"],
            quantiles=tuple(cfg.get("quantiles", (1 / 3, 2 / 3))),
            labels=tuple(cfg.get("labels", ("tail", "middle", "head"))),
            threshold_round=cfg.get("threshold_round"),
        )
    if tt == "chunk_sentences":
        from etl_router_spark.functions.corpus import chunk_by_sentences

        return chunk_by_sentences(df, max_chars=int(cfg.get("max_chars", 200)),
                                  id_col=cfg.get("id_field", "doc_id"),
                                  text_col=cfg.get("text_field", "text"))
    if tt == "bm25":
        # query side declared like lookup's dim: a source config
        from etl_router_spark.functions.indexing import bm25_topk

        queries = read_source(df.sparkSession, cfg["queries"], streaming=False)
        return bm25_topk(df, queries,
                         id_col=cfg.get("id_field", "doc_id"),
                         text_col=cfg.get("text_field", "text"),
                         k1=float(cfg.get("k1", 1.2)),
                         b=float(cfg.get("b", 0.75)),
                         k=int(cfg.get("k", 10)))
    if tt == "edit_distance_pairs":
        from etl_router_spark.functions.dedup import edit_distance_pairs

        return edit_distance_pairs(df, max_distance=int(cfg.get("max_distance", 2)),
                                   id_col=cfg.get("id_field", "doc_id"),
                                   text_col=cfg.get("text_field", "text"))
    if tt in ("pagerank", "degree_stats", "triangle_count"):
        from etl_router_spark.functions import graph

        src = cfg.get("src_field", "src")
        dst = cfg.get("dst_field", "dst")
        simple = bool(cfg.get("assume_simple", False))
        if tt == "pagerank":
            return graph.pagerank(
                df, src, dst,
                iterations=int(cfg.get("iterations", 10)),
                damping=float(cfg.get("damping", 0.85)),
                broadcast_nodes=int(cfg.get("broadcast_nodes", 2_000_000)),
                assume_simple=simple,
            )
        if tt == "degree_stats":
            return graph.degree_stats(df, src, dst, assume_simple=simple)
        # lazy in manifest pipelines: compile/explain must not execute
        # the triangle job at plan-construction time
        return graph.triangle_count(df, src, dst, assume_simple=simple,
                                    eager=False)
    return None


# per-trigger intake knob per source type, for ratelimit delay mode
_PACING_KEYS = {
    "kafka": "max_offsets_per_trigger",
    "file": "max_files_per_trigger",
    "s3": "max_files_per_trigger",
    "gcs": "max_files_per_trigger",
    # queue sources running via the file-staging pattern tail files
    "kinesis": "max_files_per_trigger", "pulsar": "max_files_per_trigger",
    "rabbitmq": "max_files_per_trigger", "sqs": "max_files_per_trigger",
    "redis": "max_files_per_trigger", "nats": "max_files_per_trigger",
    "http": "max_files_per_trigger", "websocket": "max_files_per_trigger",
    "grpc": "max_files_per_trigger",
}


def delay_pacing_overrides(pipeline: Pipeline) -> dict[str, dict[str, Any]]:
    """ratelimit ``on_exceed=delay`` (types.rs:592-601) -> source pacing.

    The reference's delay mode slows delivery instead of dropping rows;
    Spark's equivalent backpressure knob is the per-trigger intake cap
    on the SOURCE (maxOffsetsPerTrigger for Kafka, maxFilesPerTrigger
    for file-shaped sources). For each streaming ratelimit stage with
    on_exceed=delay, every upstream root source gets its per-trigger
    cap set to max_rate — exact when the trigger interval equals the
    declared window. Returns {source_stage_id: cfg overrides}; the
    manifest itself is not mutated.
    """
    overrides: dict[str, dict[str, Any]] = {}
    for sid, stage in pipeline.stages.items():
        if (
            stage.stage_type != StageType.TRANSFORM
            or stage.transform_type != "ratelimit"
            or stage.config.get("on_exceed") != "delay"
        ):
            continue
        rate = int(stage.config["max_rate"])
        # walk to root sources feeding this stage
        seen: set[str] = set()
        frontier = [sid]
        while frontier:
            cur = frontier.pop()
            for e in pipeline.incoming(cur):
                up = e.from_stage
                if up in seen:
                    continue
                seen.add(up)
                up_stage = pipeline.stages[up]
                if up_stage.stage_type == StageType.SOURCE:
                    key = _PACING_KEYS.get(
                        (up_stage.config.get("source_type") or "file").lower()
                    )
                    if key:
                        cfg = overrides.setdefault(up, {})
                        cfg[key] = min(rate, cfg.get(key, rate))
                else:
                    frontier.append(up)
    return overrides


def _dlq_frame(side: DataFrame, stage: Stage, pipeline_name: str) -> DataFrame:
    """A route-mode stage's failing rows as its DLQ frame: code
    TRANSFORM and the per-row ``__error`` message for a service stage,
    VALIDATION for a validate stage."""
    from etl_router_spark.sinks.dlq import to_dlq

    service = stage.transform_type == "service"
    out = to_dlq(
        side,
        error_code="TRANSFORM" if service else "VALIDATION",
        error_message=F.coalesce(F.col("__error"), F.lit("")) if service else "",
        failed_stage=stage.id,
        failed_stage_type=stage.transform_type,
        pipeline=pipeline_name,
    )
    return out.drop("__error") if service else out


def compile_stages(
    spark: SparkSession,
    pipeline: Pipeline,
    order: list[str],
    outputs: dict[str, DataFrame],
    streaming: bool = False,
    source_overrides: dict[str, DataFrame] | None = None,
) -> tuple[dict[str, DataFrame], dict[str, DataFrame]]:
    """Compile the given stages (topological ``order``) into ``outputs``.

    Pre-seeded entries in ``outputs`` act as sub-DAG roots — the
    streaming runner seeds a fan-out stage with the per-epoch batch
    DataFrame and replays only its descendants. Returns
    ``(sink_frames, dlq_frames)``; every DLQ frame is already enriched
    (``_dlq_frame``), ready for ``write_outputs``.
    """
    sink_frames, sides = _compile_stage_sides(
        spark, pipeline, order, outputs, streaming, source_overrides)
    return sink_frames, {sid: _dlq_frame(side, pipeline.stages[sid], pipeline.name)
                         for sid, side in sides.items()}


def _compile_stage_sides(spark: SparkSession, pipeline: Pipeline,
                         order: list[str], outputs: dict[str, DataFrame],
                         streaming: bool,
                         source_overrides: dict[str, DataFrame] | None):
    """``compile_stages`` with the failing sides raw: a shared prefix
    enriches them per member (``OptimizedGroup.member_dlq``)."""
    sides: dict[str, DataFrame] = {}
    sink_frames: dict[str, DataFrame] = {}
    # split stage id -> {target stage id: routed frame}
    split_routes: dict[str, dict[str, DataFrame]] = {}
    overrides = source_overrides or {}
    pacing = delay_pacing_overrides(pipeline) if streaming else {}

    for sid in order:
        if sid in outputs:  # pre-seeded root
            continue
        stage = pipeline.stages[sid]
        in_edges = pipeline.incoming(sid)

        # gather inputs, applying per-edge routing conditions (broadcast
        # semantics: independent filter per edge) and split-stage routes
        inputs: list[DataFrame] = []
        for e in in_edges:
            routed = split_routes.get(e.from_stage, {}).get(sid)
            up = routed if routed is not None else outputs[e.from_stage]
            if e.condition is not None:
                up = up.filter(compile_condition(e.condition))
            inputs.append(up)

        if stage.stage_type == StageType.SOURCE:
            src_cfg = {**stage.config, **pacing[sid]} if sid in pacing else stage.config
            df = overrides.get(sid) or read_source(spark, src_cfg, streaming)
            df = _with_watermark(df, stage.config.get("watermark"))
        elif stage.stage_type == StageType.FAN_IN:
            per_input = stage.config.get("inputs") or [{}] * len(inputs)
            lateness = stage.config.get("allowed_lateness")
            inputs = [
                _with_watermark(d, i.get("watermark"), default_lateness=lateness)
                for d, i in zip(inputs, per_input)
            ]
            maps = [
                [FieldMapping.from_dict(m) for m in (i.get("mappings") or [])] or None
                for i in per_input
            ]
            df = apply_fan_in(inputs, maps)
        elif stage.stage_type == StageType.FAN_OUT:
            # pass-through node; per-sink mappings applied on outgoing edges
            df = inputs[0] if len(inputs) == 1 else apply_fan_in(inputs, None)
        elif stage.stage_type == StageType.LOOKUP:
            cfg = stage.config
            dim = overrides.get(f"{sid}.dim") or read_source(spark, cfg["dim"], streaming=False)
            df = apply_lookup(
                inputs[0], dim, cfg["key_mappings"],
                merge_strategy=cfg.get("merge_strategy", "merge"),
                on_miss=cfg.get("on_miss", "pass_through"),
                prefix=cfg.get("prefix"),
                lookup_fields=cfg.get("lookup_fields"),
                broadcast_dim=bool(cfg.get("broadcast", True)),
            )
        elif stage.stage_type == StageType.TRANSFORM:
            if stage.transform_type == "split":
                # T9: named outputs by condition, optional first-match
                # exclusivity and default_output (types.rs:527-538);
                # downstream edges consume the route whose output name
                # (or explicit `to`) equals their stage id
                cfg = stage.config
                base = inputs[0] if len(inputs) == 1 else apply_fan_in(inputs, None)
                routes = T.apply_split(
                    base, cfg["outputs"], cfg.get("default_output"),
                    first_match=bool(cfg.get("first_match", False)),
                )
                targets: dict[str, DataFrame] = {}
                for o in cfg["outputs"]:
                    targets[o.get("to") or o["name"]] = routes[o["name"]]
                d = cfg.get("default_output")
                if d:
                    targets.setdefault(d, routes[d])
                split_routes[sid] = targets
                df = base  # pass-through for unrouted edges
            elif stage.transform_type == "join":
                cfg = stage.config
                right_id = cfg["right"]
                df = T.apply_join(
                    inputs[0], outputs[right_id], cfg["conditions"], cfg.get("join_type", "inner"),
                    cfg.get("left_prefix"), cfg.get("right_prefix"),
                    cfg.get("include"), cfg.get("exclude"),
                    broadcast_right=bool(cfg.get("broadcast", False)),
                    strategy=cfg.get("strategy"),
                )
            else:
                base = inputs[0] if len(inputs) == 1 else apply_fan_in(inputs, None)
                df = apply_transform_stage(base, stage, spark,
                                           limits=pipeline.limits)
                if isinstance(df, tuple):
                    df, sides[sid] = df
        elif stage.stage_type == StageType.SINK:
            base = inputs[0] if len(inputs) == 1 else apply_fan_in(inputs, None)
            ms = _mappings(stage.config)
            df = T.apply_map(base, ms, drop_unmapped=True) if ms else base
            sink_frames[sid] = df
        else:
            raise ValueError(f"unhandled stage type: {stage.stage_type}")

        outputs[sid] = df

    return sink_frames, sides


class _SharedPrefix:
    """Lifecycle handle for persisted branch-point frames: a batch
    fan-out's upstream (``compile_pipeline``) or a group's shared
    prefix (``compile_group``). Every member pipeline holds it, and
    the LAST member to finish (via ``CompiledPipeline.run`` or an
    explicit ``release_shared``) unpersists — without this, the CLI
    ``--all`` loop and any long-lived session that compiles pipelines
    repeatedly accrete persisted frames in executor storage for the
    session's life."""

    def __init__(self, frames: list[DataFrame], members: int):
        self._frames = frames
        self._remaining = members

    def release(self) -> None:
        self._remaining -= 1
        if self._remaining <= 0:
            for df in self._frames:
                df.unpersist()
            self._frames = []


# streaming queries share a DLQ directory; two append jobs running at
# once on one directory clobber each other's _temporary staging
_DLQ_WRITE_LOCK = threading.Lock()


def write_outputs(pipeline: Pipeline, sink_frames: dict[str, DataFrame],
                  dlq_frames: dict[str, DataFrame],
                  dlq_sink: dict[str, Any] | None = None) -> None:
    """Write every sink frame and every DLQ frame (to ``dlq_sink or
    pipeline.dlq``; dropped when neither is declared). The one write
    path of batch ``run()`` and of the streaming ``foreachBatch``
    writers.

    The writes run as concurrent chains: one per file, s3 or gcs
    directory (same or nested paths share one), one for all other
    sinks, one for all DLQ frames (holding ``_DLQ_WRITE_LOCK``, and
    joined by any sink on the DLQ's directory). A chain keeps the
    given order; its first failure ends it. Every chain finishes, then
    the error of the first failing output in the given order is raised,
    so a failed call may have written the other targets."""
    _write_concurrently([(pipeline, sink_frames, dlq_frames, dlq_sink)])


def _write_concurrently(
    members: list[tuple[Pipeline, dict[str, DataFrame],
                        dict[str, DataFrame], dict[str, Any] | None]],
) -> None:
    """``write_outputs`` over several pipelines' outputs at once (a
    fused streaming group writes every member in one step)."""
    outputs = []
    for pipeline, sink_frames, dlq_frames, dlq_sink in members:
        outputs += [(df, pipeline.stages[sid].config, False)
                    for sid, df in sink_frames.items()]
        dlq_cfg = dlq_sink or pipeline.dlq
        if dlq_cfg:
            outputs += [(df, dlq_cfg, True) for df in dlq_frames.values()]

    # outputs i and j share a chain: both DLQ frames, both non-file
    # sinks, or the same or nested directories
    def one_chain(i: int, j: int) -> bool:
        (_, a, dlq_a), (_, b, dlq_b) = outputs[i], outputs[j]
        if dlq_a and dlq_b:
            return True
        if file_sink_path(a) is None and file_sink_path(b) is None:
            return not (dlq_a or dlq_b)
        return same_file_target(a, b)

    chains: list[list[int]] = []
    for i in range(len(outputs)):
        hit = [c for c in chains if any(one_chain(i, j) for j in c)]
        chains = [c for c in chains if c not in hit] + [sorted(sum(hit, [i]))]

    def run_chain(idxs: list[int]) -> tuple[int, Exception] | None:
        dlq = any(outputs[i][2] for i in idxs)
        with _DLQ_WRITE_LOCK if dlq else contextlib.nullcontext():
            for i in idxs:
                try:
                    write_sink(outputs[i][0], outputs[i][1])
                except Exception as e:
                    return i, e
        return None

    if len(chains) <= 1:
        failed = [run_chain(idxs) for idxs in chains]
    else:
        # each chain gets its own copy of the caller's local properties
        # (job group, scheduler pool, a streaming query's ids): a shared
        # copy would let the threads overwrite each other's SQL execution id
        spark = outputs[0][0].sparkSession
        with ThreadPoolExecutor(len(chains)) as pool:
            futures = [pool.submit(inheritable_thread_target(spark)(run_chain),
                                   idxs) for idxs in chains]
        failed = [f.result() for f in futures]
    failed = [f for f in failed if f is not None]
    if failed:
        raise min(failed, key=lambda f: f[0])[1]


class CompiledPipeline:
    """Result of compiling a Pipeline: one DataFrame per sink stage."""

    def __init__(self, pipeline: Pipeline, sink_frames: dict[str, DataFrame],
                 dlq_frames: dict[str, DataFrame],
                 stage_frames: dict[str, DataFrame] | None = None,
                 spark: SparkSession | None = None,
                 streaming: bool = False,
                 shared_prefix: _SharedPrefix | None = None):
        self.pipeline = pipeline
        self.sink_frames = sink_frames
        self.dlq_frames = dlq_frames
        self.stage_frames = stage_frames or {}
        self.spark = spark
        self.streaming = streaming
        # the persisted branch points' lifecycle handle (_SharedPrefix);
        # the last member to run (or release) unpersists
        self.shared_prefix = shared_prefix

    def run(self) -> None:
        """Write every sink (batch mode), plus the DLQ frames when the
        pipeline declares a dlq sink, then release persisted frames."""
        try:
            write_outputs(self.pipeline, self.sink_frames, self.dlq_frames)
        finally:
            self.release_shared()

    def release_shared(self) -> None:
        """Drop this pipeline's claim on its persisted branch points
        (a fan-out's upstream, a group's shared prefix); the last
        release unpersists. Idempotent, and a no-op when nothing was
        persisted. Callers that read ``sink_frames`` without ever
        ``run()``-ing (tests, oracle gates) should release every group
        member when done — the frames stay valid, they just recompute
        instead of reading the persisted frame."""
        if self.shared_prefix is not None:
            handle, self.shared_prefix = self.shared_prefix, None
            handle.release()


def compile_pipeline(
    spark: SparkSession,
    pipeline: Pipeline,
    streaming: bool = False,
    source_overrides: dict[str, DataFrame] | None = None,
) -> CompiledPipeline:
    """Compile a validated Pipeline DAG into per-sink DataFrames.

    ``source_overrides`` lets tests/callers inject DataFrames for named
    source stages (the memory-source pattern).
    """
    validate_pipeline(pipeline)
    order = pipeline.topological_order()
    outputs: dict[str, DataFrame] = {}
    sink_frames, dlq_frames = compile_stages(
        spark, pipeline, order, outputs, streaming, source_overrides
    )
    # a batch fan-out's branches share one persisted scan until run()
    # ends; a frame the caller already cached stays the caller's
    persisted = [] if streaming else [
        outputs[sid].persist() for sid in order
        if pipeline.stages[sid].stage_type == StageType.FAN_OUT
        and len(pipeline.outgoing(sid)) > 1 and not outputs[sid].isStreaming
        and outputs[sid].storageLevel == StorageLevel.NONE
    ]
    return CompiledPipeline(pipeline, sink_frames, dlq_frames,
                            stage_frames=outputs, spark=spark, streaming=streaming,
                            shared_prefix=(_SharedPrefix(persisted, 1)
                                           if persisted else None))
