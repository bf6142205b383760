"""CLI: apply / get / describe / delete / validate / graph / run / backup.

Mirrors ``conveyor-etl-cli`` (``cli/src/commands/*.rs``) over a local
file registry instead of a gRPC control plane: ``apply`` stores the
manifest, ``run`` compiles it to Spark and executes (batch or
streaming), ``graph`` renders the shared-prefix-optimized DAG,
``backup`` snapshots checkpoint state (``backup.rs`` +
``proto/backup.proto`` semantics — Spark's checkpointLocation IS the
offset/watermark/state store, so backup = copy the directory tree).

Usage: ``python -m etl_router_spark.cli <command> [args]``.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import time
from pathlib import Path

import yaml

from etl_router_spark.model.parser import (
    SUPPORTED_API_VERSIONS,
    parse_manifest_dict,
)
from etl_router_spark.model.registry import (
    NAMED_API_VERSIONS,
    Registry,
    parse_resource,
    resolve,
)
from etl_router_spark.model.validation import ValidationError, validate_pipeline

DEFAULT_REGISTRY = os.environ.get("ETL_ROUTER_SPARK_REGISTRY", ".etl_registry")

# a Pipeline in the named dialect has a string `source:`; the stage-list
# dialect has `stages:` — both share apiVersion conveyor.etl/v1, so
# disambiguate on spec shape
def _is_named_doc(doc: dict) -> bool:
    api = doc.get("apiVersion")
    spec = doc.get("spec") or {}
    if api in NAMED_API_VERSIONS - SUPPORTED_API_VERSIONS:
        return True
    if doc.get("kind") in ("Source", "Transform", "Sink"):
        return True
    return doc.get("kind") == "Pipeline" and "stages" not in spec and "source" in spec


def _registry(args) -> Path:
    p = Path(args.registry)
    p.mkdir(parents=True, exist_ok=True)
    return p


def _load_registry(reg: Path):
    """Both dialects: stage-list pipelines directly; named resources are
    collected into a Registry and their pipelines resolved."""
    pipelines = []
    named = Registry()
    named_pipelines = []
    for f in sorted(reg.glob("*.yaml")):
        for doc in yaml.safe_load_all(f.read_text()):
            if not doc:
                continue
            if _is_named_doc(doc):
                res = parse_resource(doc)
                named.apply(res)
                if res.kind == "Pipeline":
                    named_pipelines.append(res)
            else:
                pipelines.append(parse_manifest_dict(doc))
    pipelines.extend(resolve(named, r) for r in named_pipelines)
    return pipelines


def _parse_any(text: str):
    """Parse a YAML stream of either dialect into runtime Pipelines,
    plus a per-document (kind, name) list for registry storage."""
    docs = [d for d in yaml.safe_load_all(text) if d]
    named = Registry()
    named_pipeline_res = []
    pipelines = []
    stored = []
    for d in docs:
        if _is_named_doc(d):
            r = parse_resource(d)
            named.apply(r)
            stored.append((r.kind.lower(), r.name))
            if r.kind == "Pipeline":
                named_pipeline_res.append(r)
        else:
            p = parse_manifest_dict(d)
            pipelines.append(p)
            stored.append(("pipeline", p.id))
    pipelines += [resolve(named, r) for r in named_pipeline_res]
    return pipelines, docs, stored


def cmd_apply(args) -> int:
    text = Path(args.file).read_text()
    pipelines, docs, stored = _parse_any(text)
    for p in pipelines:
        validate_pipeline(p)
    reg = _registry(args)
    for (kind, name), doc in zip(stored, docs):
        (reg / f"{kind}_{name}.yaml").write_text(yaml.safe_dump(doc, sort_keys=False))
        print(f"{kind}/{name} applied")
    return 0


def cmd_get(args) -> int:
    for p in _load_registry(_registry(args)):
        status = "enabled" if p.enabled else "disabled"
        print(f"{p.id}\t{len(p.stages)} stages\t{len(p.edges)} edges\t{status}")
    return 0


def cmd_describe(args) -> int:
    for p in _load_registry(_registry(args)):
        if p.id != args.name:
            continue
        print(f"Pipeline: {p.id}  ({'enabled' if p.enabled else 'disabled'})")
        if p.description:
            print(f"  {p.description}")
        print("Stages:")
        for s in p.stages.values():
            extra = s.transform_type or s.source_type or s.config.get("sink_type") or ""
            print(f"  {s.id:<24} {s.stage_type.value:<10} {extra}")
        print("Edges:")
        for e in p.edges:
            cond = f"  [when {e.condition.to_dict()}]" if e.condition else ""
            print(f"  {e.from_stage} -> {e.to_stage}{cond}")
        if p.dlq:
            print(f"DLQ: {p.dlq}")
        return 0
    print(f"pipeline {args.name!r} not found", file=sys.stderr)
    return 1


def cmd_delete(args) -> int:
    reg = _registry(args)
    kind, _, name = args.name.rpartition("/")
    candidates = [reg / f"{kind or 'pipeline'}_{name}.yaml", reg / f"{name}.yaml"]
    if not kind:
        candidates += sorted(reg.glob(f"*_{name}.yaml"))
    for f in candidates:
        if f.exists():
            f.unlink()
            print(f"{f.stem.replace('_', '/', 1)} deleted")
            return 0
    print(f"resource {args.name!r} not found", file=sys.stderr)
    return 1


def cmd_validate(args) -> int:
    import yaml

    try:
        pipelines, _, _ = _parse_any(Path(args.file).read_text())
    except (ValueError, KeyError, yaml.YAMLError) as e:
        # parse-time problems (bad kind, duplicate ids, a forgotten
        # depends_on, malformed YAML) are exactly what `validate` is
        # for — report them as INVALID, not a traceback
        print(f"{args.file}: INVALID — {e}")
        return 1
    rc = 0
    for p in pipelines:
        try:
            validate_pipeline(p)
            print(f"{p.id}: OK")
        except ValidationError as e:
            print(f"{p.id}: INVALID — {e}")
            rc = 1
    return rc


def cmd_graph(args) -> int:
    from etl_router_spark.compile.optimizer import render_ascii, render_dot

    if args.file:
        pipelines, _, _ = _parse_any(Path(args.file).read_text())
    else:
        pipelines = _load_registry(_registry(args))
    print(render_dot(pipelines) if args.format == "dot" else render_ascii(pipelines))
    return 0


def cmd_run(args) -> int:
    from etl_router_spark.compile.pipeline import compile_pipeline
    from etl_router_spark.session import get_spark

    if args.file:
        pipelines, _, _ = _parse_any(Path(args.file).read_text())
    else:
        pipelines = _load_registry(_registry(args))
    if args.all:
        # run EVERY pipeline through the shared-prefix optimizer: one
        # scan + one stateless-prefix compute per source group
        # (`graph` shows the merged DAG this executes). Batch shares
        # via a persisted prefix (compile_group); streaming fuses each
        # group into ONE foreachBatch query whose epochs compute the
        # prefix once and fan every member's tail (run_streaming_group
        # — optimizer.rs:57-107 groups by source regardless of mode).
        if not pipelines:
            print("no pipelines found", file=sys.stderr)
            return 1
        spark = get_spark("etl_router_spark.group")
        if args.streaming:
            from etl_router_spark.streaming.group import run_streaming_group

            # default checkpoint keyed by the pipeline-id set: two
            # different manifests run with defaults must NOT reuse
            # each other's offsets/exactly-once epoch markers (the
            # markers match by epoch_id alone — a shared fixed path
            # would silently skip data across manifests)
            import hashlib

            digest = hashlib.sha256(
                "\n".join(sorted(p.id for p in pipelines)).encode()
            ).hexdigest()[:12]
            execu = run_streaming_group(
                spark, pipelines,
                args.checkpoint or f"/tmp/etl_ckpt/group_{digest}",
                exactly_once=args.exactly_once)
            print(f"started {len(execu.queries)} streaming queries")
            if args.once:
                execu.await_termination()
            else:
                spark.streams.awaitAnyTermination()
            return 0
        from etl_router_spark.compile.optimizer import compile_group

        for pid, compiled in compile_group(spark, pipelines).items():
            compiled.run()
            print(f"pipeline/{pid} finished")
        return 0
    if args.name:
        pipeline = next((p for p in pipelines if p.id == args.name), None)
        if pipeline is None:
            print(f"pipeline {args.name!r} not found", file=sys.stderr)
            return 1
    elif len(pipelines) == 1:
        pipeline = pipelines[0]
    else:
        print("multiple pipelines; pick one with --name (or --all to run "
              "every pipeline with shared scans)", file=sys.stderr)
        return 1
    spark = get_spark(f"etl_router_spark.{pipeline.id}")
    compiled = compile_pipeline(spark, pipeline, streaming=args.streaming)
    if args.streaming:
        from etl_router_spark.streaming import run_streaming

        execu = run_streaming(
            compiled, args.checkpoint or f"/tmp/etl_ckpt/{pipeline.id}",
            exactly_once=args.exactly_once)
        if args.once:
            execu.await_termination()
        else:  # run until interrupted
            spark.streams.awaitAnyTermination()
    else:
        compiled.run()
    print(f"pipeline/{pipeline.id} finished")
    return 0


def cmd_explain(args) -> int:
    """Compiled Spark plan per sink — the engine-native counterpart of
    ``graph`` (logical DAG): shows what Catalyst actually planned
    (pushed filters, broadcasts, exchanges) for a manifest."""
    from etl_router_spark.compile.pipeline import compile_pipeline
    from etl_router_spark.session import get_spark

    pipelines, _, _ = _parse_any(Path(args.file).read_text())
    # shared-prefix note computed over the WHOLE manifest (before any
    # --name filter): `run --all` executes the merged DAG, so explain
    # says which stages this pipeline would share and with how many
    # others (the reference's `graph` UX, cli/src/commands/graph.rs:
    # 30-35, surfaced on the plan view)
    from etl_router_spark.compile.optimizer import optimize

    shared_note: dict[str, str] = {}
    for g in optimize(pipelines).groups:
        if len(g.pipelines) < 2 or not g.prefix_len:
            continue
        for p in g.pipelines:
            stages = ", ".join(g.prefix_stage_ids(p.id))
            shared_note[p.id] = (
                f"-- prefix [{stages}] shared with "
                f"{len(g.pipelines) - 1} other pipeline(s) under "
                f"`run --all` (source {g.source_label})")
    if args.name:
        pipelines = [p for p in pipelines if p.id == args.name]
        if not pipelines:
            print(f"pipeline {args.name!r} not found", file=sys.stderr)
            return 1
    spark = get_spark("etl_router_spark.explain")
    for pipeline in pipelines:
        compiled = compile_pipeline(spark, pipeline, streaming=args.streaming)
        for sink_id, df in compiled.sink_frames.items():
            print(f"== pipeline/{pipeline.id} sink/{sink_id}")
            if pipeline.id in shared_note:
                print(shared_note[pipeline.id])
            df.explain(mode=args.mode)
    return 0


def cmd_backup(args) -> int:
    """Snapshot a checkpoint dir (types.rs:897-975 BackupSpec surface:
    compression + count-based retention; S3/GCS destinations are the
    same archives copied to a bucket)."""
    src = Path(args.checkpoint)
    if not src.exists():
        print(f"checkpoint dir {src} not found", file=sys.stderr)
        return 1
    stamp = int(time.time())
    if args.compress == "gzip":
        base = args.output or f"{src}.backup.{stamp}"
        dest = Path(shutil.make_archive(str(base), "gztar", root_dir=src))
    else:
        dest = Path(args.output or f"{src}.backup.{stamp}")
        shutil.copytree(src, dest, dirs_exist_ok=True)
    print(f"checkpoint snapshot: {dest}")
    if args.retention_count:
        import glob as _glob

        pat = f"{src}.backup.*"
        snaps = sorted(
            _glob.glob(pat),
            key=lambda p: Path(p).stat().st_mtime,
        )
        for stale in snaps[: max(0, len(snaps) - args.retention_count)]:
            p = Path(stale)
            if p.is_dir():
                shutil.rmtree(p)
            else:
                p.unlink()
            print(f"retention: removed {stale}")
    return 0


def cmd_compact(args) -> int:
    from etl_router_spark.io import compact_files
    from etl_router_spark.session import get_spark

    spark = get_spark("etl-router-compact")
    n = compact_files(
        spark, args.path, fmt=args.format,
        target_file_mb=args.target_mb,
        sort_by=args.sort_by.split(",") if args.sort_by else None,
        zorder_by=args.zorder_by.split(",") if args.zorder_by else None,
    )
    print(f"compacted {args.path} -> {n} file(s)")
    return 0


def cmd_profile(args) -> int:
    from etl_router_spark.functions.profile import profile_histogram, profile_table
    from etl_router_spark.session import get_spark

    spark = get_spark("etl-router-profile")
    df = spark.read.format(args.format).load(args.path)
    if args.column:
        out = profile_histogram(df, args.column, bins=args.bins)
        rows = out.orderBy("bin").collect()
        total = max(1, sum(r["n"] for r in rows))  # one pass, no per-bin count job
        for r in rows:
            bar = "#" * max(1, int(40 * r["n"] / total))
            print(f"[{r['lo']:>14.4f} .. {r['hi']:>14.4f})  {r['n']:>9d}  {bar}")
    else:
        profile_table(df, exact_distinct=args.exact).show(100, truncate=False)
    return 0


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(prog="etl-router-spark")
    ap.add_argument("--registry", default=DEFAULT_REGISTRY,
                    help="local manifest registry dir")
    sub = ap.add_subparsers(dest="command", required=True)

    p = sub.add_parser("apply", help="validate + store manifest(s)")
    p.add_argument("-f", "--file", required=True)
    p.set_defaults(fn=cmd_apply)

    p = sub.add_parser("get", help="list registered pipelines")
    p.set_defaults(fn=cmd_get)

    p = sub.add_parser("describe", help="show stages/edges of a pipeline")
    p.add_argument("name")
    p.set_defaults(fn=cmd_describe)

    p = sub.add_parser("delete", help="remove a pipeline")
    p.add_argument("name")
    p.set_defaults(fn=cmd_delete)

    p = sub.add_parser("validate", help="parse + validate manifest(s)")
    p.add_argument("-f", "--file", required=True)
    p.set_defaults(fn=cmd_validate)

    p = sub.add_parser("graph", help="render the optimized DAG")
    p.add_argument("-f", "--file")
    p.add_argument("--format", choices=("ascii", "dot"), default="ascii")
    p.set_defaults(fn=cmd_graph)

    p = sub.add_parser("run", help="compile + execute a manifest")
    p.add_argument("-f", "--file")
    p.add_argument("--name", help="pipeline id (when file/registry has several)")
    p.add_argument("--all", action="store_true",
                   help="run every pipeline via the shared-prefix "
                        "optimizer (one scan per source group; with "
                        "--streaming, one fused query per group)")
    p.add_argument("--streaming", action="store_true")
    p.add_argument("--once", action="store_true",
                   help="streaming: availableNow then exit")
    p.add_argument("--exactly-once", action="store_true",
                   dest="exactly_once",
                   help="streaming: every per-epoch query commits a "
                        "marker after its epoch's writes, and a replayed "
                        "epoch with a marker is skipped (CommitMarker "
                        "semantics); native file sinks are exactly-once "
                        "through Spark's log either way")
    p.add_argument("--checkpoint")
    p.set_defaults(fn=cmd_run)

    p = sub.add_parser("explain", help="print the compiled Spark plan per sink")
    p.add_argument("-f", "--file", required=True)
    p.add_argument("--name", help="pipeline id (when the file has several)")
    p.add_argument("--streaming", action="store_true")
    p.add_argument("--mode", default="formatted",
                   choices=["simple", "extended", "formatted", "cost", "codegen"])
    p.set_defaults(fn=cmd_explain)

    p = sub.add_parser("compact", help="rewrite a fragmented dataset into target-sized files")
    p.add_argument("path")
    p.add_argument("--format", default="parquet")
    p.add_argument("--target-mb", type=int, default=512)
    p.add_argument("--sort-by", help="comma-separated columns for sorted layout")
    p.add_argument("--zorder-by",
                   help="comma-separated columns for Z-order (Morton) "
                        "clustered layout — multi-column min/max pruning")
    p.set_defaults(fn=cmd_compact)

    p = sub.add_parser("profile", help="column profile or histogram of a dataset")
    p.add_argument("path")
    p.add_argument("--format", default="parquet")
    p.add_argument("--column", help="numeric column: print an equi-width histogram")
    p.add_argument("--bins", type=int, default=20)
    p.add_argument("--exact", action="store_true",
                   help="exact distinct counts (default: HLL approx)")
    p.set_defaults(fn=cmd_profile)

    p = sub.add_parser("backup", help="snapshot a checkpoint dir")
    p.add_argument("checkpoint")
    p.add_argument("-o", "--output")
    p.add_argument("--compress", choices=["none", "gzip"], default="none")
    p.add_argument("--retention-count", type=int,
                   help="keep only the newest N snapshots of this checkpoint")
    p.set_defaults(fn=cmd_backup)
    return ap


def main(argv: list[str] | None = None) -> int:
    import os

    args = build_parser().parse_args(argv)
    try:
        return args.fn(args)
    except ValidationError as e:
        # user-input problems (unparsable manifest, unknown stage
        # fields, conflicting build-once params) print as one line
        print(f"error: {e}", file=sys.stderr)
        return 1
    except ValueError as e:
        # other ValueErrors are usually user-facing too (unknown
        # transform_type, bad duration strings), but engine bugs can
        # surface as ValueError as well — keep the one-liner for
        # users, point at the debug escape hatch, and re-raise with
        # the full traceback when it is set
        if os.environ.get("ETL_ROUTER_DEBUG"):
            raise
        print(f"error: {e}", file=sys.stderr)
        print("(set ETL_ROUTER_DEBUG=1 for the full traceback)",
              file=sys.stderr)
        return 1


if __name__ == "__main__":
    raise SystemExit(main())
