"""Cross-pipeline shared-prefix optimizer (``dsl/src/optimizer.rs:57-237``).

The one rewrite the reference performs that Catalyst cannot do for us:
N pipelines reading the same source share one scan plus their longest
common *stateless* transform prefix (whitelist ``optimizer.rs:223-237``:
filter, map, project, rename, cast, mask, validate). Catalyst optimizes
within one query; sharing across independently-submitted pipelines is a
compiler-level concern, so we mirror the reference: group by source,
find the longest shared prefix by config equality, build the merged DAG
— and, beyond the reference, actually *execute* it shared:
``compile_group`` materializes the prefix once (``persist``) and every
pipeline tail reuses it (one scan + one prefix compute for N sinks).
``OptimizedGroup.compile_members`` builds that plan for ``compile_group``
and, per epoch, for the streaming group writer.

At 100 TB this is the difference between N full-table scans and one:
the persisted prefix lives in executor storage memory/disk and each
tail is a narrow continuation.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from etl_router_spark.compile.pipeline import (
    CompiledPipeline,
    _compile_stage_sides,
    _dlq_frame,
    _SharedPrefix,
    compile_pipeline,
    compile_stages,
)
from etl_router_spark.compile.table import stateful_stage
from etl_router_spark.model.conditions import Condition
from etl_router_spark.model.manifest import Pipeline, StageType

# optimizer.rs:223-237 — transforms safe to share (no state, no
# cardinality coupling between pipelines)
STATELESS_TRANSFORMS = frozenset(
    {"filter", "map", "project", "rename", "cast", "mask", "validate"}
)


def _canonical(cfg: dict[str, Any]) -> str:
    """Order-insensitive config fingerprint (Condition-aware)."""

    def norm(v: Any) -> Any:
        if isinstance(v, Condition):
            return v.to_dict()
        if isinstance(v, dict):
            return {k: norm(x) for k, x in sorted(v.items())}
        if isinstance(v, (list, tuple)):
            return [norm(x) for x in v]
        return v

    return json.dumps(norm(cfg), sort_keys=True, default=str)


def _linear_chain(pipeline: Pipeline) -> list[str] | None:
    """Stage ids source->sink if the pipeline is a straight line."""
    sources = pipeline.sources()
    if len(sources) != 1:
        return None
    chain = [sources[0].id]
    while True:
        out = pipeline.outgoing(chain[-1])
        if not out:
            break
        if len(out) != 1 or out[0].condition is not None:
            return None
        chain.append(out[0].to_stage)
    return chain


@dataclass
class OptimizedGroup:
    """Pipelines sharing one source: scan + longest stateless prefix."""

    source_key: str
    source_label: str
    pipelines: list[Pipeline] = field(default_factory=list)
    # per-pipeline stage-id chains; prefix_len counts shared transform
    # stages AFTER the source stage
    chains: dict[str, list[str]] = field(default_factory=dict)
    prefix_len: int = 0

    def prefix_stage_ids(self, pipeline_id: str) -> list[str]:
        return self.chains[pipeline_id][1 : 1 + self.prefix_len]

    def member_dlq(self, p: Pipeline,
                   shared_sides: dict[str, DataFrame]) -> dict[str, DataFrame]:
        """The shared prefix's raw failing sides (compiled once, with
        the first member's stage ids) as member ``p``'s DLQ frames. A
        route-mode stage inside the SHARED prefix owns a DLQ side that
        belongs to every member (configs are identical by construction)
        — dropping it silently lost DLQ rows for the whole group (r11
        fix). Each side is keyed by, and enriched with, p's stage at the
        same prefix position and p's pipeline name."""
        rep_prefix = self.prefix_stage_ids(self.pipelines[0].id)
        p_prefix = self.prefix_stage_ids(p.id)
        out = {}
        for rid, side in shared_sides.items():
            sid = p_prefix[rep_prefix.index(rid)]
            out[sid] = _dlq_frame(side, p.stages[sid], p.name)
        return out

    def compile_members(self, spark: SparkSession, outputs: dict[str, DataFrame],
                        persist: bool, source_overrides: dict[str, DataFrame] | None = None):
        """The group as a batch plan: the source and shared prefix once,
        with the first member's stage ids, into ``outputs`` (a source
        seeded there is kept), persisted when ``persist``; then each
        member's tail from that frame. Returns the shared frame and per
        member ``(pipeline, sink frames, DLQ frames, tail stage frames)``,
        the DLQ frames led by the prefix's (``member_dlq``)."""
        shared_ids = self.chains[self.pipelines[0].id][: 1 + self.prefix_len]
        _, shared_sides = _compile_stage_sides(
            spark, self.pipelines[0], shared_ids, outputs, False, source_overrides)
        shared = outputs[shared_ids[-1]]
        if persist:
            shared.persist()
        members = []
        try:
            for p in self.pipelines:
                chain = self.chains[p.id]
                stage_frames = {chain[self.prefix_len]: shared}
                sink_frames, dlq_frames = compile_stages(
                    spark, p, chain[1 + self.prefix_len:], stage_frames,
                    source_overrides=source_overrides)
                members.append((p, sink_frames, {**self.member_dlq(p, shared_sides),
                                                 **dlq_frames}, stage_frames))
        except BaseException:
            if persist:
                shared.unpersist()
            raise
        return shared, members


@dataclass
class OptimizedDag:
    groups: list[OptimizedGroup] = field(default_factory=list)

    def shared_stage_count(self) -> int:
        return sum(g.prefix_len for g in self.groups if len(g.pipelines) > 1)


def optimize(pipelines: list[Pipeline]) -> OptimizedDag:
    """Group linear pipelines by source config; find the longest common
    stateless transform prefix per group (optimizer.rs:57-237).

    Non-linear pipelines (fan-in/out, conditional edges) form their own
    singleton groups — their sharing already happens inside one plan.
    """
    groups: dict[str, OptimizedGroup] = {}
    singletons: list[OptimizedGroup] = []

    for p in pipelines:
        chain = _linear_chain(p)
        src = p.sources()[0] if len(p.sources()) == 1 else None
        if chain is None or src is None:
            label = src.id if src else "multi-source"
            g = OptimizedGroup(source_key=f"!{p.id}", source_label=label, pipelines=[p])
            if chain is not None:
                g.chains[p.id] = chain
            singletons.append(g)
            continue
        key = _canonical(src.config)
        g = groups.setdefault(key, OptimizedGroup(source_key=key, source_label=src.id))
        g.pipelines.append(p)
        g.chains[p.id] = chain

    for g in groups.values():
        if len(g.pipelines) < 2:
            continue
        # longest common prefix of transform configs, stateless-only
        depth = 0
        while True:
            fps: set[str] = set()
            ok = True
            for p in g.pipelines:
                chain = g.chains[p.id]
                idx = 1 + depth
                if idx >= len(chain):
                    ok = False
                    break
                stage = p.stages[chain[idx]]
                if (
                    stage.stage_type != StageType.TRANSFORM
                    or stage.transform_type not in STATELESS_TRANSFORMS
                ):
                    ok = False
                    break
                fps.add(_canonical(stage.config))
            if not ok or len(fps) != 1:
                break
            depth += 1
        g.prefix_len = depth

    return OptimizedDag(groups=list(groups.values()) + singletons)


def compile_group(
    spark: SparkSession,
    pipelines: list[Pipeline],
    streaming: bool = False,
    source_overrides: dict[str, DataFrame] | None = None,
) -> dict[str, CompiledPipeline]:
    """Compile pipelines with shared-prefix reuse: one scan + one prefix
    compute per group, persisted, then per-pipeline tails. The persist
    is released by the group's last ``CompiledPipeline.run`` (or an
    explicit ``release_shared`` on every member for callers that only
    read the frames).

    Batch only for the persist: with ``streaming=True`` every pipeline
    compiles on its own (``run_streaming_group`` fuses a streaming group
    into one ``foreachBatch`` query instead).
    """
    dag = optimize(pipelines)
    out: dict[str, CompiledPipeline] = {}
    for g in dag.groups:
        if len(g.pipelines) < 2 or streaming:
            for p in g.pipelines:
                out[p.id] = compile_pipeline(spark, p, streaming, source_overrides)
            continue
        shared, members = g.compile_members(spark, {}, True, source_overrides)
        handle = _SharedPrefix([shared], len(g.pipelines))
        for p, sink_frames, dlq_frames, outputs in members:
            out[p.id] = CompiledPipeline(
                p, sink_frames, dlq_frames, stage_frames=outputs,
                spark=spark, shared_prefix=handle)
    return out


# ---------------------------------------------------------------------------
# graph rendering (cli/src/commands/graph.rs)
# ---------------------------------------------------------------------------
def render_dot(pipelines: list[Pipeline]) -> str:
    """Graphviz dot of the merged DAG; shared prefix stages double-boxed."""
    dag = optimize(pipelines)
    lines = ["digraph pipelines {", "  rankdir=LR;", "  node [shape=box];"]
    for gi, g in enumerate(dag.groups):
        shared = len(g.pipelines) > 1
        if not shared and g.chains.get(g.pipelines[0].id) is None:
            # non-linear pipeline (fan-out/fan-in/conditional edges):
            # render the DECLARED DAG from its edges instead of
            # collapsing to a bare source node (pre-r12 the 5-stage
            # dedup-at-scale fan-out rendered as one cylinder)
            p = g.pipelines[0]
            for sid, st in p.stages.items():
                node = f"{p.id}_{sid}".replace("-", "_")
                if st.stage_type == StageType.SOURCE:
                    shape = "cylinder"
                elif st.stage_type == StageType.SINK:
                    shape = "cds"
                else:
                    shape = "box"
                tt = st.transform_type
                label = f"{p.id}:{sid}" + (f"\\n({tt})" if tt else "")
                lines.append(f'  {node} [label="{label}" shape={shape}];')
            for e in p.edges:
                a = f"{p.id}_{e.from_stage}".replace("-", "_")
                b = f"{p.id}_{e.to_stage}".replace("-", "_")
                attr = ' [style=dashed]' if e.condition is not None else ""
                lines.append(f"  {a} -> {b}{attr};")
            continue
        src_node = f"g{gi}_src"
        lines.append(f'  {src_node} [label="{g.source_label}" shape=cylinder];')
        prev = src_node
        if shared:
            rep = g.pipelines[0]
            for d, sid in enumerate(g.prefix_stage_ids(rep.id)):
                node = f"g{gi}_shared{d}"
                tt = rep.stages[sid].transform_type
                lines.append(f'  {node} [label="{sid}\\n({tt})" peripheries=2];')
                lines.append(f"  {prev} -> {node};")
                prev = node
        for p in g.pipelines:
            chain = g.chains.get(p.id)
            if chain is None:
                continue
            tail = chain[1 + (g.prefix_len if shared else 0) :]
            pprev = prev
            for sid in tail:
                node = f"{p.id}_{sid}".replace("-", "_")
                st = p.stages[sid]
                shape = "cds" if st.stage_type == StageType.SINK else "box"
                lines.append(f'  {node} [label="{p.id}:{sid}" shape={shape}];')
                lines.append(f"  {pprev} -> {node};")
                pprev = node
    lines.append("}")
    return "\n".join(lines)


def render_ascii(pipelines: list[Pipeline]) -> str:
    """Compact text rendering (one line per pipeline, shared prefix
    marked). Members a ``run --all --streaming`` would EXCLUDE from
    shared-prefix fusion are annotated with the tail stage that forces
    the exclusion: the first whose type the transform table declares
    ``stateful`` (``table.stateful_stage``, the rule
    ``run_streaming_group`` applies). The reference surfaces group
    membership on the graph view (cli/src/commands/graph.rs:30-35)."""
    dag = optimize(pipelines)
    out: list[str] = []
    for g in dag.groups:
        shared = len(g.pipelines) > 1
        for p in g.pipelines:
            chain = g.chains.get(p.id)
            if chain is None:
                # non-linear: render the declared edges (r12 — the
                # 5-stage fan-out used to print as an opaque count)
                edges = ", ".join(
                    f"{e.from_stage}->{e.to_stage}"
                    + ("?" if e.condition is not None else "")
                    for e in p.edges)
                out.append(f"{p.id}: {edges}")
                continue
            parts = []
            for i, sid in enumerate(chain):
                mark = "*" if shared and 1 <= i <= g.prefix_len else ""
                parts.append(f"{sid}{mark}")
            line = f"{p.id}: " + " -> ".join(parts)
            if shared and g.prefix_len:
                sid = stateful_stage(p, chain[1 + g.prefix_len:])
                if sid is not None:
                    line += (
                        f"  [streaming: runs individually — tail "
                        f"stage {sid!r} "
                        f"({p.stages[sid].transform_type}) is stateful, "
                        "per-epoch fused replay would reset its state]")
            out.append(line)
        if shared and g.prefix_len:
            out.append(f"  (* shared across {len(g.pipelines)} pipelines)")
    return "\n".join(out)
