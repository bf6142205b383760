"""Pipeline validation rules.

Ports the semantic checks of ``conveyor-etl-dsl/src/validation.rs:9-433``
and the graph checks of ``conveyor-etl-routing/src/dag.rs:234-375``:

- non-empty name, at least one stage;
- unique stage ids (parser enforces), parallelism >= 1;
- known source types (``sources.registry.SOURCE_REGISTRY``) and known
  transform types (``compile.table.TRANSFORMS``);
- transform config keys: each key must be one the type's spec declares
  (the keys its operator is passed, the keys a build step or the
  streaming runner reads, ``transform_type``/``type``), and every key
  whose operator parameter has no default must be present. The error
  names the stage, the key and the allowed keys;
- transform selector values: a key that picks an operator or a build
  branch (``method``, ``emit``, ``mode``, ...) must hold one of the
  values its spec or the operator's ``Literal[...]`` declares, no key may
  sit on a branch that ignores it (``method`` next to ``pq_topk``'s
  ``nprobe``), and the required keys of the ``PARTS`` specs the config
  picks must be present (``dim`` for ``dedup_embedding`` ``method: lsh``);
- ``spec.limits`` keys and values;
- pipeline starts at source/fan_in, ends at sink/fan_out;
- fan_in needs >= 2 inputs, fan_out >= 2 outputs (validation.rs:280-286);
- field-mapping exclusivity: a mapping sets exactly one of
  source/expression/literal (validation.rs mapping rules);
- no cycles; every stage on a source→sink path (reachability).
"""

from __future__ import annotations

from etl_router_spark.compile.table import PARTS, TRANSFORMS, Spec
from etl_router_spark.model.manifest import Pipeline, Stage, StageType
from etl_router_spark.sources.registry import SOURCE_REGISTRY

KNOWN_SOURCES = frozenset(SOURCE_REGISTRY)


class ValidationError(ValueError):
    pass


# spec.limits — pipeline-level declarative capacity limits (the
# reference's settings.rs pattern: every capacity knob is config).
# Validated at parse/compile time so a typo'd limit fails fast instead
# of silently not guarding anything.
KNOWN_LIMITS = {"max_candidates", "max_df", "salt_cap", "max_postings"}


def validate_pipeline(p: Pipeline) -> None:
    errors: list[str] = []
    if not p.name:
        errors.append("pipeline name must not be empty")
    if not p.stages:
        errors.append("pipeline must have at least one stage")

    for k, v in (p.limits or {}).items():
        if k not in KNOWN_LIMITS:
            errors.append(
                f"unknown limit {k!r} (known: {sorted(KNOWN_LIMITS)})")
        elif not isinstance(v, int) or isinstance(v, bool) or v < 1:
            errors.append(f"limit {k!r} must be a positive integer, got {v!r}")

    for s in p.stages.values():
        errors.extend(_validate_stage(s))

    for e in p.edges:
        if e.from_stage not in p.stages:
            errors.append(f"edge references unknown stage {e.from_stage!r}")
        if e.to_stage not in p.stages:
            errors.append(f"edge references unknown stage {e.to_stage!r}")

    if p.stages and not errors:
        first_types = {s.stage_type for s in p.stages.values() if not p.incoming(s.id)}
        if not first_types & {StageType.SOURCE, StageType.FAN_IN}:
            errors.append("pipeline must start with a source or fan_in stage")
        last_types = {s.stage_type for s in p.stages.values() if not p.outgoing(s.id)}
        if not last_types & {StageType.SINK, StageType.FAN_OUT}:
            errors.append("pipeline must end with a sink or fan_out stage")

        for s in p.stages.values():
            if s.stage_type == StageType.FAN_IN and len(p.incoming(s.id)) < 2:
                errors.append(f"fan_in stage {s.id!r} needs >= 2 inputs")
            if s.stage_type == StageType.FAN_OUT and len(p.outgoing(s.id)) < 2:
                errors.append(f"fan_out stage {s.id!r} needs >= 2 outputs")

        cycle = p.detect_cycle()
        if cycle:
            errors.append(f"pipeline has a cycle: {' -> '.join(cycle)}")
        else:
            dangling = p.unreachable_stages()
            if dangling:
                errors.append(f"stages not on a source->sink path: {sorted(dangling)}")

    if errors:
        raise ValidationError("; ".join(errors))


def _validate_stage(s: Stage) -> list[str]:
    errors: list[str] = []
    if s.parallelism < 1:
        errors.append(f"stage {s.id!r}: parallelism must be >= 1")
    if s.stage_type == StageType.TRANSFORM:
        tt = s.transform_type
        spec = TRANSFORMS.get(tt)
        if spec is None:
            errors.append(f"stage {s.id!r}: unknown transform_type {tt!r}")
        else:
            errors.extend(_check_keys(s, spec))
    if s.stage_type == StageType.SOURCE:
        st = s.source_type
        if st not in KNOWN_SOURCES:
            errors.append(f"stage {s.id!r}: unknown source_type {st!r}")
    for m in s.config.get("mappings", []) or []:
        set_fields = [k for k in ("source", "source_field", "expression", "literal") if m.get(k) is not None]
        if len(set_fields) > 1:
            errors.append(
                f"stage {s.id!r}: mapping for {m.get('target')!r} sets {set_fields}; "
                "exactly one of source/expression/literal allowed"
            )
    return errors


def _check_keys(s: Stage, spec: Spec) -> list[str]:
    """Stage config keys against the type's spec: every key must be one
    the compiler or the streaming runner reads, every selector value one
    the spec allows, and every required one present, so a typo fails
    here instead of silently keeping a default or picking another
    operator."""
    allowed = spec.allowed()
    errors = [f"stage {s.id!r}: unknown key {k!r} for transform "
              f"{s.transform_type!r} (allowed: {sorted(allowed)})"
              for k in s.config if k not in allowed]
    bad = [f"stage {s.id!r}: transform {s.transform_type!r} key {k!r} has value "
           f"{s.config[k]!r} (allowed: {list(values)})"
           for k, values in spec.selectors().items()
           if s.config.get(k) is not None and s.config[k] not in values]
    errors += bad
    errors += [f"stage {s.id!r}: transform {s.transform_type!r} key {k!r} is not read "
               f"on the branch that key {other!r} selects"
               for k, others in spec.unread.items() if k in s.config
               for other in others if other in s.config]
    # the PARTS a valid selector picks add their own required keys
    parts = () if bad else spec.parts(s.config)
    for owner in (spec, *(PARTS[name] for name in parts)):
        errors += [f"stage {s.id!r}: transform {s.transform_type!r} requires key {k!r}"
                   + ("" if owner is spec else f" (read by {owner.op})")
                   for k in owner.required()
                   if not any(a in s.config for a in owner.spellings(k))]
    return errors
