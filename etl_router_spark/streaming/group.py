"""Cross-pipeline shared-prefix execution for STREAMING pipelines.

The reference's shared-prefix optimizer groups pipelines by source
regardless of mode (``dsl/src/optimizer.rs:57-107``), so streaming
groups get the fan-out treatment (``engine.rs:324-352``) lifted ACROSS
pipelines: ONE streaming query reads the group's source, and its
``foreachBatch`` body is ``runner.epoch_replay``, the fan-out writer's.
Each epoch builds the group's plan through
``OptimizedGroup.compile_members``, the method batch ``compile_group``
builds with: the shared stateless prefix once on the batch, persisted
for the epoch (batch keeps it until the group's last run), then every
member's tail; all members' sinks and DLQ frames are written in one
concurrent step. The source is scanned once per epoch for N pipelines.

- The prefix whitelist is stateless-only (``optimizer.rs:223-237``).
  Tails replay as batch plans, so a member whose tail holds a stage the
  transform table declares ``stateful`` (``compile.table.stateful_stage``)
  starts individually through ``run_streaming``, with a warning naming
  the stage, and keeps its cross-epoch state; the rest still fuse.
- A group query is per-epoch: at-least-once, or exactly-once per epoch
  with ``exactly_once=True``, whose markers live under
  ``group_<n>_markers``.
- A route-mode validate inside the shared prefix sends its DLQ side to
  EVERY member, keyed by the member's own stage id
  (``OptimizedGroup.member_dlq``), as in batch.
- Members that share a DLQ directory (a named DLQ sink) write it per
  epoch under the DLQ lock: an individually started member gets that
  DLQ as its ``dlq_sink`` override, so no native DLQ query claims it.
"""

from __future__ import annotations

from dataclasses import replace
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from etl_router_spark.compile.optimizer import optimize
from etl_router_spark.compile.pipeline import compile_pipeline, compile_source
from etl_router_spark.compile.table import stateful_stage
from etl_router_spark.model.manifest import Pipeline
from etl_router_spark.sinks.registry import same_file_target
from etl_router_spark.streaming.exactly_once import start_per_epoch
from etl_router_spark.streaming.runner import (
    DEFAULT_TRIGGER,
    StreamingExecution,
    epoch_replay,
    run_streaming,
)


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

    Members whose TAIL holds a ``stateful`` stage
    (``compile.table.stateful_stage``) are started individually, with a
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
                sid = stateful_stage(p, g.chains[p.id][1 + g.prefix_len:])
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
            g = replace(g, pipelines=fuse, chains={p.id: g.chains[p.id] for p in fuse})
        rep = g.pipelines[0]
        src_id = g.chains[rep.id][0]
        queries[f"group:{gi}:{g.source_label}"] = start_per_epoch(
            compile_source(spark, rep, src_id, True, source_overrides),
            epoch_replay(spark, dlq_sink, src_id, group=g),
            f"{checkpoint_root}/group_{gi}", trig, f"group.{g.source_label}",
            f"{checkpoint_root}/group_{gi}_markers" if exactly_once else None)
    return StreamingExecution(queries)
