"""Streaming execution: compiled pipeline -> StreamingQuery set.

Maps the reference's streaming control plane onto Structured Streaming:

- offsets/watermarks/checkpoints (``proto/checkpoint.proto``,
  ``raft/src/router_state.rs:40-46``) -> ``checkpointLocation`` (offset
  log + state store + commit log, already replicated/fault-tolerant);
- aggregate emit modes (``types.rs:634-641``) -> output modes: append
  (= on_window_close), update (= on_update); periodic -> update + a
  processing-time trigger;
- fan-out shared scan (``optimizer.rs:57-237``,
  ``engine.rs:324-352``) -> ONE ``foreachBatch`` per fan-out stage that
  replays the sub-DAG below it on the per-epoch batch and writes every
  sink, so its sinks read the source once per epoch. ``epoch_replay`` is
  that body, and the late-policy fan-in's and the fused group's
  (``run_streaming_group``). The transform table declares the types a
  replay may not hold (``compile.table.stateful_stage``);
- DLQ side-outputs (``dlq/src/record.rs:96-180``) -> separate streams
  of the DLQ frames the compiler already enriched with ``_dlq_*``
  columns. A DLQ frame above a fan-out is its own query: it re-reads
  each batch of the source and re-runs the stages above it (a
  ``service`` plugin runs twice per row), so the source is read twice
  per epoch there;
- backpressure credits (``buffer/src/backpressure.rs``) -> source-side
  pacing (maxFilesPerTrigger / maxOffsetsPerTrigger), configured on the
  source, not here — Spark's pull model needs no credit protocol.

Delivery: one rule. Native file sinks (append-mode file, s3 and gcs
sinks, config ``mode`` append or unset, started by
``sinks.registry.start_sink``) are exactly-once through Spark's log.
Every other query is per-epoch and starts through
``streaming.exactly_once.start_per_epoch``: the fan-in, fan-out and
fused-group writers, per-epoch DLQ queries, and ``start_sink``'s
upsert/overwrite, update-mode and non-file sinks. A per-epoch query is
at-least-once: when a write fails the query fails and the epoch is
replayed. With ``exactly_once=True`` it is exactly-once per epoch: the
epoch commits a marker under ``markers_<root stage>`` after its writes,
and a replayed epoch that finds its marker is skipped. A shared writer's
epoch is one ``epoch_replay``: its stages compile as a batch plan, so
none may be ``stateful`` in the transform table, and all its sinks and
DLQ frames are written by ``write_outputs``' rule: concurrently across
targets, in order per target; when one write fails the others still
finish and the epoch is not marked.
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from etl_router_spark.compile.fan import apply_fan_in
from etl_router_spark.compile.optimizer import OptimizedGroup
from etl_router_spark.compile.pipeline import (
    CompiledPipeline,
    _write_concurrently,
    compile_stages,
    write_outputs,
)
from etl_router_spark.compile.table import stateful_stage
from etl_router_spark.model.manifest import FieldMapping, Pipeline, StageType
from etl_router_spark.model.parser import duration_to_interval, parse_duration
from etl_router_spark.sinks.dlq import to_dlq
from etl_router_spark.sinks.registry import start_sink
from etl_router_spark.streaming.exactly_once import start_per_epoch
from etl_router_spark.streaming.watermark import SourceWatermarkTracker

DEFAULT_TRIGGER: dict[str, Any] = {"availableNow": True}

# emit modes that require re-emitting updated rows (types.rs:634-641
# aggregate; types.rs:690-697 sessionize)
_UPDATE_EMITS = {"on_update", "periodic", "on_event", "both"}


def infer_output_mode(pipeline: Pipeline, sink_id: str) -> str:
    """Walk the sink's ancestors; stateful stages decide the mode.

    ``on_window_close``/``on_close`` -> append (rows final once the
    watermark closes the window); ``on_update``-family -> update;
    keep-last dedupe and ``cdc_apply`` are running per-key aggregates ->
    update; stateless pipelines -> append.
    """
    mode = "append"
    seen: set[str] = set()
    frontier = [sink_id]
    while frontier:
        sid = frontier.pop()
        if sid in seen:
            continue
        seen.add(sid)
        stage = pipeline.stages[sid]
        if stage.stage_type == StageType.TRANSFORM:
            tt = stage.transform_type
            if tt in ("aggregate", "sessionize"):
                emit = stage.config.get("emit") or "on_window_close"
                if emit in _UPDATE_EMITS:
                    mode = "update"
            elif tt == "cdc_apply" or (
                    tt == "dedupe" and stage.config.get("keep") == "last"):
                mode = "update"
        frontier.extend(e.from_stage for e in pipeline.incoming(sid))
    return mode


class StreamingExecution:
    """Handle on the started queries of one pipeline."""

    def __init__(self, queries: dict[str, StreamingQuery]):
        self.queries = queries

    def await_termination(self, timeout: float | None = None) -> None:
        for q in self.queries.values():
            q.awaitTermination(timeout)

    def process_all_available(self) -> None:
        for q in self.queries.values():
            q.processAllAvailable()

    def stop(self) -> None:
        for q in self.queries.values():
            if q.isActive:
                q.stop()

    @property
    def any_active(self) -> bool:
        return any(q.isActive for q in self.queries.values())


def epoch_replay(spark: SparkSession, dlq_sink: dict[str, Any] | None, root: str,
                 pipeline: Pipeline | None = None, order: list[str] | None = None,
                 group: OptimizedGroup | None = None, step: Callable | None = None):
    """The one per-epoch replay, the ``foreachBatch`` body of the fan-in,
    fan-out and fused-group writers: seed stage ``root`` with the
    epoch's batch (first rewritten by ``step``, which may add DLQ frames:
    a late-policy fan-in's tracker), compile ``order`` of ``pipeline`` as
    a batch plan, or ``group``'s members with the shared prefix persisted
    for the epoch, and write every sink and DLQ frame in one concurrent
    step."""
    persist = group is not None and group.prefix_len > 0

    def write(batch: DataFrame) -> None:
        batch, extra = step(batch) if step else (batch, {})
        if group is None:
            sinks, dlqs = compile_stages(spark, pipeline, order, {root: batch})
            shared, members = None, [(pipeline, sinks, {**dlqs, **extra}, None)]
        else:
            shared, members = group.compile_members(spark, {root: batch}, persist)
        try:
            _write_concurrently([(p, s, d, dlq_sink) for p, s, d, _ in members])
        finally:
            if persist:
                shared.unpersist()

    return write


def _descendant_order(pipeline: Pipeline, root: str) -> list[str]:
    reach: set[str] = set()
    frontier = [e.to_stage for e in pipeline.outgoing(root)]
    while frontier:
        sid = frontier.pop()
        if sid in reach:
            continue
        reach.add(sid)
        frontier.extend(e.to_stage for e in pipeline.outgoing(sid))
    return [s for s in pipeline.topological_order() if s in reach]


def _derive_trigger(pipeline: Pipeline) -> dict[str, Any] | None:
    """``emit: periodic`` (types.rs:634-641 AggregateEmit::Periodic) is
    a timer-driven emit of current aggregate state: map it to a
    processing-time trigger — each tick re-emits updated groups in
    update mode. The period is the stage's ``emit_interval`` (engine
    knob; the reference enum carries no interval)."""
    for stage in pipeline.stages.values():
        if (
            stage.stage_type == StageType.TRANSFORM
            and stage.transform_type in ("aggregate", "sessionize")
            and stage.config.get("emit") == "periodic"
        ):
            return {
                "processingTime": duration_to_interval(
                    stage.config.get("emit_interval", "10s")
                )
            }
    return None


def _late_step(compiled: CompiledPipeline, fid: str, policy: str):
    """A late-policy fan-in's input (its inputs unioned, each row tagged
    with its ``__source_id``) and its writer's tracker step: each epoch
    updates a SourceWatermarkTracker from per-source max event times (+
    idle promotion), then routes rows older than combined -
    allowed_lateness to the DLQ, drops them, or tags them ``late``."""
    pipeline = compiled.pipeline
    cfg = pipeline.stages[fid].config
    source_ids = [e.from_stage for e in pipeline.incoming(fid)]
    per_input = cfg.get("inputs") or [{}] * len(source_ids)
    marks = [i.get("watermark") or {} for i in per_input]
    maps = [[FieldMapping.from_dict(m) for m in (i.get("mappings") or [])] or None
            for i in per_input]
    tagged = apply_fan_in([compiled.stage_frames[s] for s in source_ids], maps,
                          tags=source_ids)
    ts_field = next((w["event_time_field"] for w in marks if w.get("event_time_field")),
                    "event_time")
    tracker = SourceWatermarkTracker(
        source_ids, allowed_lateness=parse_duration(cfg.get("allowed_lateness") or "0s"))
    for sid, w in zip(source_ids, marks):
        if w.get("idle_timeout"):
            tracker.set_idle_timeout(sid, parse_duration(w["idle_timeout"]))

    def step(batch: DataFrame) -> tuple[DataFrame, dict[str, DataFrame]]:
        tracker.observe_batch(batch, "__source_id", ts_field)
        on_time, late = tracker.split_late(batch, ts_field)
        if policy == "tag":
            combined = tracker.combined_watermark()
            on_time = batch.withColumn(
                "late",
                F.lit(False) if combined == float("-inf")
                else F.col(ts_field).cast("double")
                < F.lit(combined - tracker.allowed_lateness),
            )
        dlqs = {fid: to_dlq(late.drop("__source_id"), failed_stage=fid,
                            pipeline=pipeline.name)} if policy == "route" else {}
        return on_time.drop("__source_id"), dlqs

    return tagged, step


def run_streaming(
    compiled: CompiledPipeline,
    checkpoint_root: str,
    trigger: dict[str, Any] | None = None,
    dlq_sink: dict[str, Any] | None = None,
    exactly_once: bool = False,
) -> StreamingExecution:
    """Start every sink of a streaming-compiled pipeline.

    Sinks below a fan-out stage share ONE query and one upstream scan
    per epoch (``epoch_replay`` replays the sub-DAG on the persisted
    batch), unless that sub-DAG holds a ``stateful`` stage
    (``compile.table.stateful_stage``): then each of its sinks starts as
    its own query, as it would without the fan-out, which keeps the
    stage's state across epochs. Each query checkpoints independently
    under ``checkpoint_root``.

    ``exactly_once=True``: every per-epoch query (fan-in, fan-out, DLQ
    and non-native sink queries) commits a marker under
    ``{checkpoint_root}/markers_<root stage>`` after its epoch's writes;
    a replayed epoch that already carries a marker is skipped —
    CommitMarker semantics (``proto/sink.proto:67-70``). Native file
    sinks are exactly-once through Spark's log either way.

    A DLQ gets Spark's native file sink only when ``dlq_sink`` is None
    and one query of this pipeline is its sole writer: the sink's
    ``_spark_metadata`` log admits one query and hides files it did not
    write, and a ``dlq_sink`` override may be shared with other
    pipelines. Otherwise every DLQ frame is written per epoch through
    ``write_outputs``, under its DLQ lock.
    A caller that starts several pipelines whose manifests declare one
    DLQ directory passes it as ``dlq_sink`` (``run_streaming_group``
    does).
    """
    if not compiled.streaming:
        raise ValueError("pipeline was compiled with streaming=False")
    pipeline = compiled.pipeline
    spark = compiled.spark
    trig = trigger or _derive_trigger(pipeline) or dict(DEFAULT_TRIGGER)

    # idle-source handling (watermark.rs:130-147): the reference advances
    # an idle source's watermark to processing time so it can't stall the
    # combined minimum. Two mechanisms here: multipleWatermarkPolicy=max
    # lets Spark-native stateful operators follow the most advanced
    # input, and streaming.watermark provides the reference-exact
    # tracker (SourceWatermarkTracker for foreachBatch epochs;
    # track_source_watermarks = the applyInPandasWithState timer
    # variant whose ProcessingTimeTimeout promotes idle sources).
    for stage in pipeline.stages.values():
        if stage.stage_type == StageType.FAN_IN and any(
            (i.get("watermark") or {}).get("idle_timeout")
            for i in stage.config.get("inputs") or []
        ):
            spark.conf.set("spark.sql.streaming.multipleWatermarkPolicy", "max")
            break
    queries: dict[str, StreamingQuery] = {}
    handled: set[str] = set()

    def markers(root: str) -> str | None:
        """The marker directory of the per-epoch query rooted at ``root``."""
        return f"{checkpoint_root}/markers_{root}" if exactly_once else None

    # fan-in stages with a declared late_policy get the reference's
    # per-source watermark semantics (watermark.rs:84-147), applied by
    # the tracker step of their writer (``_late_step``)
    late_fanins = {
        fid: stage.config.get("late_policy")
        for fid, stage in pipeline.stages.items()
        if stage.stage_type == StageType.FAN_IN
        and stage.config.get("late_policy") in ("route", "drop", "tag")
    }
    orders = {fid: _descendant_order(pipeline, fid) for fid in late_fanins}
    for fid, order in orders.items():
        if (bad := stateful_stage(pipeline, order)) is not None:
            raise ValueError(
                f"late-policy fan_in {fid!r} replays the stages below it per "
                f"epoch, but {bad!r} ({pipeline.stages[bad].transform_type}) "
                "keeps state across epochs")
    for fid, order in orders.items():
        tagged, step = _late_step(compiled, fid, late_fanins[fid])
        queries[f"fanin:{fid}"] = start_per_epoch(
            tagged, epoch_replay(spark, dlq_sink, fid, pipeline, order, step=step),
            f"{checkpoint_root}/fanin_{fid}", trig,
            f"{pipeline.name}.fanin.{fid}", markers(fid))
        handled.update(order)

    # a fan-out with >= 2 sinks below it and no stateful stage there
    # gets one shared writer; nested fan-outs are covered by the outer one
    for fid in pipeline.topological_order():
        if fid in handled or pipeline.stages[fid].stage_type != StageType.FAN_OUT:
            continue
        order = _descendant_order(pipeline, fid)
        if (sum(pipeline.stages[s].stage_type == StageType.SINK
                for s in order) < 2
                or stateful_stage(pipeline, order) is not None):
            continue
        queries[f"fanout:{fid}"] = start_per_epoch(
            compiled.stage_frames[fid], epoch_replay(spark, dlq_sink, fid, pipeline, order),
            f"{checkpoint_root}/fanout_{fid}", trig,
            f"{pipeline.name}.fanout.{fid}", markers(fid))
        handled.update(order)

    for sid, df in compiled.sink_frames.items():
        if sid in handled:
            continue
        queries[sid] = start_sink(
            df, pipeline.stages[sid].config, infer_output_mode(pipeline, sid),
            f"{checkpoint_root}/{sid}", trig,
            name=f"{pipeline.name}_{sid}".replace("-", "_"),
            marker_dir=markers(sid),
        )

    # the writers above write the DLQ frames of the stages they replay;
    # the rest stream on their own (see the docstring for which sink)
    dlq_cfg = dlq_sink or pipeline.dlq
    if dlq_cfg:
        own = {sid: df for sid, df in compiled.dlq_frames.items()
               if sid not in handled and df.isStreaming}
        # a route fan-in writer sends late rows to the DLQ too
        sole = (dlq_sink is None and len(own) == 1
                and "route" not in late_fanins.values()
                and not handled & compiled.dlq_frames.keys())
        for sid, df in own.items():
            ckpt = f"{checkpoint_root}/dlq_{sid}"
            name = f"{pipeline.name}_dlq_{sid}".replace("-", "_")
            queries[f"dlq:{sid}"] = (
                start_sink(df, dlq_cfg, "append", ckpt, trig, name=name,
                           marker_dir=markers(sid))
                if sole else
                start_per_epoch(
                    df, lambda b, sid=sid: write_outputs(
                        pipeline, {}, {sid: b}, dlq_sink),
                    ckpt, trig, name, markers(sid), persist=False)
            )

    return StreamingExecution(queries)
