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
into StreamingQueries. ``compile_stages`` is exposed for the streaming
runner's per-epoch replay of a sub-DAG (``streaming.runner.epoch_replay``).
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
from etl_router_spark.compile.table import TRANSFORMS
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
    """Compile one transform stage through its ``TRANSFORMS`` spec.

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
    if tt in ("split", "join") or tt not in TRANSFORMS:
        raise ValueError(f"stage {stage.id!r}: transform {tt!r} not dispatchable in a linear DAG")
    return TRANSFORMS[tt].apply(df, cfg)


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


def compile_source(spark: SparkSession, pipeline: Pipeline, sid: str, streaming: bool = False,
                   source_overrides: dict[str, DataFrame] | None = None) -> DataFrame:
    """Source stage ``sid`` as a frame, with its declared watermark; a
    streaming read takes a delay-mode ratelimit's per-trigger cap."""
    cfg = pipeline.stages[sid].config
    pacing = delay_pacing_overrides(pipeline).get(sid) if streaming else None
    df = ((source_overrides or {}).get(sid)
          or read_source(spark, {**cfg, **pacing} if pacing else cfg, streaming))
    return _with_watermark(df, cfg.get("watermark"))


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
            df = compile_source(spark, pipeline, sid, streaming, overrides)
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
                routes = T.apply_split(base, **TRANSFORMS["split"].kwargs(base, cfg))
                targets: dict[str, DataFrame] = {}
                for o in cfg["outputs"]:
                    targets[o.get("to") or o["name"]] = routes[o["name"]]
                d = cfg.get("default_output")
                if d:
                    targets.setdefault(d, routes[d])
                split_routes[sid] = targets
                df = base  # pass-through for unrouted edges
            elif stage.transform_type == "join":
                df = T.apply_join(inputs[0], outputs[stage.config["right"]],
                                  **TRANSFORMS["join"].kwargs(inputs[0], stage.config))
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
