"""Cross-pipeline shared-prefix execution for STREAMING pipelines.

The reference's shared-prefix optimizer groups pipelines by source
regardless of mode (``dsl/src/optimizer.rs:57-107`` groups before the
runtime picks an engine); ``compile_group``'s batch mechanism — a
``persist`` of the shared frame — has no streaming analog, so streaming
groups here get the intra-pipeline fan-out treatment
(``engine.rs:324-352``) lifted ACROSS pipelines: ONE streaming query
reads the group's source, and each epoch's ``foreachBatch`` computes
the shared stateless prefix once on the batch, persists it for the
epoch, then replays every member pipeline's tail and writes its sinks.
The source is scanned once per epoch for N pipelines — the same
N-scans-to-one win the batch path measures (AB_MEASURES_r11.jsonl
``shared_scan``), applied to the streaming half.

Semantics and caveats, deliberately matching the fan-out writer in
``streaming.runner``:

- The prefix whitelist is stateless-only (``optimizer.rs:223-237``),
  so per-epoch replay is semantics-preserving: no state crosses epochs
  through a shared stage. Tails replay as per-epoch batch plans, so a
  member whose tail contains a STATEFUL stage (aggregate/sessionize/
  dedupe/ratelimit/cdc_apply) is ENFORCED out of fusion by
  ``run_streaming_group`` (r12 verdict/advice): it starts individually
  through ``run_streaming`` — genuine cross-epoch streaming state —
  with a warning naming the stage, and fusion proceeds for the
  remaining stateless-tail members.
- A group query is per-epoch, like every ``foreachBatch`` query of the
  engine: at-least-once (a retried epoch rewrites every member's
  sinks), or exactly-once per epoch with ``exactly_once=True``, whose
  markers live under ``group_<n>_markers``.
- A route-mode validate inside the shared prefix propagates its DLQ
  side to EVERY member, keyed by the member's own stage id — the same
  contract ``compile_group`` enforces in batch (r11 fix, commit
  3517453).
- Members that share a DLQ directory (a named DLQ sink) write it per
  epoch under the DLQ lock: an individually started member gets that
  DLQ as its ``dlq_sink`` override, so no native DLQ query claims it.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession

from etl_router_spark.compile.optimizer import OptimizedGroup, optimize
from etl_router_spark.compile.pipeline import (
    _compile_stage_sides,
    _write_concurrently,
    compile_pipeline,
    compile_stages,
)
from etl_router_spark.model.manifest import Pipeline
from etl_router_spark.sinks.registry import same_file_target
from etl_router_spark.streaming.exactly_once import start_per_epoch
from etl_router_spark.streaming.runner import (
    DEFAULT_TRIGGER,
    StreamingExecution,
    _stateful_stage,
    run_streaming,
)


def _make_group_writer(
    spark: SparkSession,
    g: OptimizedGroup,
    dlq_sink: dict[str, Any] | None,
):
    """The per-epoch replay: shared prefix once, then every tail; all
    members' sinks and DLQ frames are written in one concurrent step."""
    rep = g.pipelines[0]
    rep_chain = g.chains[rep.id]
    src_id = rep_chain[0]
    prefix_ids = rep_chain[1: 1 + g.prefix_len]

    def write(batch_df: DataFrame) -> None:
        shared_outputs: dict[str, DataFrame] = {src_id: batch_df}
        _, shared_sides = _compile_stage_sides(
            spark, rep, prefix_ids, shared_outputs, False, None)
        shared_df = shared_outputs[prefix_ids[-1] if prefix_ids else src_id]
        if prefix_ids:
            shared_df.persist()
        try:
            members = []
            for p in g.pipelines:
                chain = g.chains[p.id]
                sink_frames, dlq_frames = compile_stages(
                    spark, p, chain[1 + g.prefix_len:],
                    {chain[g.prefix_len]: shared_df}, streaming=False)
                members.append((p, sink_frames,
                                {**g.member_dlq(p, shared_sides), **dlq_frames},
                                dlq_sink))
            _write_concurrently(members)
        finally:
            if prefix_ids:
                shared_df.unpersist()

    return write


def run_streaming_group(
    spark: SparkSession,
    pipelines: list[Pipeline],
    checkpoint_root: str,
    trigger: dict[str, Any] | None = None,
    source_overrides: dict[str, DataFrame] | None = None,
    dlq_sink: dict[str, Any] | None = None,
    exactly_once: bool = False,
) -> StreamingExecution:
    """Start every pipeline streaming, with shared-prefix groups fused
    into ONE query per group (one source scan + one prefix compute per
    epoch for all members). Ungroupable pipelines (singleton groups,
    non-linear DAGs) start individually through ``run_streaming`` —
    identical behavior to running them one by one, except that a DLQ
    directory another member shares is written per epoch.

    Members whose TAIL contains a stateful stage
    (``runner._stateful_stage``) are started individually, with a
    warning, so they keep cross-epoch state; the rest still fuse when
    >= 2 remain. ``emit: periodic`` stages (the one case
    ``_derive_trigger`` maps to a processingTime trigger) are stateful,
    so every fused member uses the group trigger.

    Returns one ``StreamingExecution`` over all started queries; group
    queries are keyed ``group:<n>:<source_label>``, individual queries
    ``<pipeline_id>:<sink_or_role>``.
    """
    import warnings

    dag = optimize(pipelines)
    trig = trigger or dict(DEFAULT_TRIGGER)
    queries = {}

    def run_individually(p: Pipeline) -> None:
        compiled = compile_pipeline(
            spark, p, streaming=True, source_overrides=source_overrides)
        # a DLQ another pipeline here writes too is passed as an
        # override, so run_streaming starts no native query on it
        shared = p.dlq and any(q is not p and q.dlq
                               and same_file_target(p.dlq, q.dlq)
                               for q in pipelines)
        ex = run_streaming(
            compiled, f"{checkpoint_root}/{p.id}", trigger=trigger,
            dlq_sink=dlq_sink or (p.dlq if shared else None),
            exactly_once=exactly_once)
        queries.update({f"{p.id}:{k}": q for k, q in ex.queries.items()})

    for gi, g in enumerate(dag.groups):
        fuse = g.pipelines
        if len(g.pipelines) >= 2:
            fuse = []
            for p in g.pipelines:
                sid = _stateful_stage(p, g.chains[p.id][1 + g.prefix_len:])
                if sid is None:
                    fuse.append(p)
                    continue
                warnings.warn(
                    f"run_streaming_group: pipeline {p.id!r} excluded "
                    f"from shared-prefix fusion — tail stage {sid!r} "
                    f"({p.stages[sid].transform_type}) is stateful and "
                    "per-epoch replay would reset its state each epoch; "
                    "running it individually with full streaming "
                    "semantics")
                run_individually(p)
        if len(fuse) < 2:
            for p in fuse:
                run_individually(p)
            continue
        if fuse is not g.pipelines:
            g = OptimizedGroup(
                source_key=g.source_key, source_label=g.source_label,
                pipelines=fuse,
                chains={p.id: g.chains[p.id] for p in fuse},
                prefix_len=g.prefix_len)
        rep = g.pipelines[0]
        src_id = g.chains[rep.id][0]
        src_outputs: dict[str, DataFrame] = {}
        compile_stages(spark, rep, [src_id], src_outputs, streaming=True,
                       source_overrides=source_overrides)
        queries[f"group:{gi}:{g.source_label}"] = start_per_epoch(
            src_outputs[src_id], _make_group_writer(spark, g, dlq_sink),
            f"{checkpoint_root}/group_{gi}", trig, f"group.{g.source_label}",
            f"{checkpoint_root}/group_{gi}_markers" if exactly_once else None)
    return StreamingExecution(queries)
