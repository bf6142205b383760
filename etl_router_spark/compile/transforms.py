"""Transform library: every reference transform as a DataFrame operation.

Covers the full ``transform_type`` surface of the reference DSL
(``conveyor-etl-dsl/src/types.rs:389-697``): the stateless set
{filter, map, project, rename, cast, mask, validate, flatmap, split}
and the stateful set {dedupe, ratelimit, aggregate, join, sessionize}.

Design rules (scale-first):

- everything is built-in Column expressions -> whole-stage codegen; no
  row-at-a-time Python anywhere in this module;
- stateless transforms never shuffle;
- stateful transforms shuffle exactly once on their keys and are
  AQE-friendly (no driver-side collects, no fixed partition counts);
- all functions work on both batch and streaming DataFrames unless
  noted (streaming specifics live in ``etl_router_spark.streaming``).
"""

from __future__ import annotations

from functools import reduce
from typing import Any, Literal

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etl_router_spark.compile.conditions import compile_condition
from etl_router_spark.model.conditions import Condition
from etl_router_spark.model.manifest import FIELD_TYPES, FieldMapping


# ---------------------------------------------------------------------------
# T1 filter (types.rs:412-417)
# ---------------------------------------------------------------------------
def apply_filter(df: DataFrame, condition: Condition, negate: bool = False) -> DataFrame:
    """Keep rows matching the condition; ``negate`` flips (two-valued)."""
    col = compile_condition(condition)
    return df.filter(~col if negate else col)


# ---------------------------------------------------------------------------
# T2 map (types.rs:419-435); field mapping semantics engine.rs:289-322
# ---------------------------------------------------------------------------
def _mapping_column(m: FieldMapping) -> Column:
    """Value precedence: literal > source/expression > default."""
    if m.literal is not None:
        col = F.lit(m.literal)
    elif m.expression is not None:
        col = F.expr(m.expression)
    elif m.source is not None:
        col = F.col(m.source)
        if m.default is not None:
            col = F.coalesce(col, F.lit(m.default))
    elif m.default is not None:
        col = F.lit(m.default)
    else:
        raise ValueError(f"mapping for {m.target!r} sets none of literal/expression/source/default")
    if m.cast:
        col = col.cast(FIELD_TYPES.get(m.cast, m.cast))
    return col.alias(m.target)


def apply_map(df: DataFrame, mappings: list[FieldMapping], drop_unmapped: bool = False) -> DataFrame:
    """Field mappings: target <- literal | expression | source | default.

    ``drop_unmapped=True`` keeps only mapped targets (the reference's
    authoritative-mapping behavior, engine.rs:294-321); otherwise mapped
    targets are added/replaced next to existing columns.
    """
    if drop_unmapped:
        return df.select(*[_mapping_column(m) for m in mappings])
    out = df
    for m in mappings:
        out = out.withColumn(m.target, _mapping_column(m))
    return out


# ---------------------------------------------------------------------------
# T3 project (types.rs:437-442)
# ---------------------------------------------------------------------------
def apply_project(df: DataFrame, fields: list[str], exclude: bool = False) -> DataFrame:
    if exclude:
        return df.drop(*fields)
    return df.select(*fields)


# ---------------------------------------------------------------------------
# T4 rename (types.rs:444-447)
# ---------------------------------------------------------------------------
def apply_rename(df: DataFrame, renames: dict[str, str]) -> DataFrame:
    return df.withColumnsRenamed(renames)


# ---------------------------------------------------------------------------
# T5 cast (types.rs:449-467)
# ---------------------------------------------------------------------------
def apply_cast(df: DataFrame, casts: dict[str, str], safe: bool = False) -> DataFrame:
    """Per-field cast to a FieldType; json -> from_json handled by caller
    when a schema is declared, else json stays a string column.

    ``safe=True`` uses try_cast (malformed -> null) instead of erroring
    under ANSI mode — pair with validate/route for the DLQ pattern.
    """
    caster = (lambda c, t: c.try_cast(t)) if safe else (lambda c, t: c.cast(t))
    cols = {f: caster(F.col(f), FIELD_TYPES.get(t, t)) for f, t in casts.items()}
    return df.withColumns(cols)


# ---------------------------------------------------------------------------
# T6 mask (types.rs:469-494)
# ---------------------------------------------------------------------------
def _mask_column(col: Column, strategy: str, *, replacement: str | None = None,
                 preserve_length: bool = False, show_first: int = 2,
                 show_last: int = 0, salt: str = "etl") -> Column:
    if strategy == "redact":
        if preserve_length:
            return F.when(col.isNull(), None).otherwise(F.repeat(F.lit("*"), F.length(col)))
        return F.when(col.isNull(), None).otherwise(F.lit(replacement or "***"))
    if strategy == "hash":
        return F.when(col.isNull(), None).otherwise(F.sha2(col.cast("string"), 256))
    if strategy == "partial":
        n = F.length(col)
        head = F.substring(col, 1, show_first)
        tail = F.substring(col, -show_last, show_last) if show_last > 0 else F.lit("")
        stars = F.repeat(F.lit("*"), F.greatest(n - show_first - show_last, F.lit(0)))
        return F.when(col.isNull(), None).otherwise(F.concat(head, stars, tail))
    if strategy == "nullify":
        return F.lit(None).cast("string")
    if strategy == "tokenize":
        # deterministic keyed token: same value+salt -> same token
        return F.when(col.isNull(), None).otherwise(
            F.concat(F.lit("tok_"), F.sha2(F.concat(F.lit(salt), col.cast("string")), 256))
        )
    raise ValueError(f"unknown mask strategy: {strategy!r}")


def apply_mask(df: DataFrame, rules: list[dict[str, Any]]) -> DataFrame:
    """rules: [{field, strategy, replacement?, preserve_length?, show_first?, show_last?, salt?}]"""
    out = df
    for r in rules:
        fieldname = r["field"]
        out = out.withColumn(
            fieldname,
            _mask_column(
                F.col(fieldname),
                r.get("strategy", "redact"),
                replacement=r.get("replacement"),
                preserve_length=bool(r.get("preserve_length", False)),
                show_first=int(r.get("show_first", 2)),
                show_last=int(r.get("show_last", 0)),
                salt=r.get("salt", "etl"),
            ),
        )
    return out


# ---------------------------------------------------------------------------
# T7 validate (types.rs:496-516)
# ---------------------------------------------------------------------------
def validity_column(rules: list[dict[str, Any]]) -> Column:
    """AND of rule predicates. Rules: {field, required?, type?, min?, max?,
    pattern?, one_of?} — the JSON-schema subset the reference checks."""
    preds: list[Column] = []
    for r in rules:
        col = F.col(r["field"])
        if r.get("required"):
            preds.append(col.isNotNull())
        if r.get("type"):
            target = FIELD_TYPES.get(r["type"], r["type"])
            preds.append(F.when(col.isNull(), F.lit(True)).otherwise(col.try_cast(target).isNotNull()))
        if r.get("min") is not None:
            preds.append(F.coalesce(col >= F.lit(r["min"]), F.lit(False)))
        if r.get("max") is not None:
            preds.append(F.coalesce(col <= F.lit(r["max"]), F.lit(False)))
        if r.get("pattern"):
            preds.append(F.coalesce(col.rlike(r["pattern"]), F.lit(False)))
        if r.get("one_of"):
            preds.append(F.coalesce(col.isin(list(r["one_of"])), F.lit(False)))
    if not preds:
        return F.lit(True)
    return reduce(lambda a, b: a & b, preds)


def rules_from_json_schema(schema: dict[str, Any]) -> list[dict[str, Any]]:
    """JSON-schema subset -> validate rules (the ``schema`` field of
    ``ValidateTransformConfig``, types.rs:496-506): ``required`` list
    plus per-property type / minimum / maximum / pattern / enum."""
    type_map = {
        "integer": "bigint", "number": "double", "string": "string",
        "boolean": "boolean",
    }
    required = set(schema.get("required") or [])
    props = schema.get("properties") or {}
    rules: list[dict[str, Any]] = []
    for name, prop in props.items():
        r: dict[str, Any] = {"field": name}
        if name in required:
            r["required"] = True
        if prop.get("type") in type_map:
            r["type"] = type_map[prop["type"]]
        if prop.get("minimum") is not None:
            r["min"] = prop["minimum"]
        if prop.get("maximum") is not None:
            r["max"] = prop["maximum"]
        if prop.get("pattern"):
            r["pattern"] = prop["pattern"]
        if prop.get("enum"):
            r["one_of"] = prop["enum"]
        if len(r) > 1:
            rules.append(r)
    for name in sorted(required - set(props)):
        rules.append({"field": name, "required": True})
    return rules


def resolve_registry_subject(
    registry_url: str, subject: str, version: str | int = "latest"
) -> dict[str, Any]:
    """Resolve a schema-registry subject from a LOCAL registry.

    ``schema_registry_url`` + ``subject`` (types.rs:496-506) resolve
    against a directory (plain path or ``file://`` URL) laid out as
    either ``{subject}.json`` or ``{subject}/{version}.json`` with
    ``latest`` = highest numeric version — the Confluent subject/
    version model without a live service. http(s) URLs raise with the
    deploy-time requirement instead of silently degrading.
    """
    import json
    import os

    if registry_url.startswith(("http://", "https://")):
        raise ConnectorError(
            "live schema-registry resolution requires network access at "
            "deploy time; point schema_registry_url at a file:// export "
            f"of the registry (got {registry_url!r})"
        )
    root = registry_url.removeprefix("file://")
    flat = os.path.join(root, f"{subject}.json")
    if os.path.isfile(flat):
        with open(flat) as fh:
            return json.load(fh)
    subj_dir = os.path.join(root, subject)
    if os.path.isdir(subj_dir):
        if version == "latest":
            versions = sorted(
                (int(f[:-5]) for f in os.listdir(subj_dir)
                 if f.endswith(".json") and f[:-5].isdigit()),
                reverse=True,
            )
            if not versions:
                raise FileNotFoundError(f"no versions for subject {subject!r} in {root!r}")
            version = versions[0]
        with open(os.path.join(subj_dir, f"{version}.json")) as fh:
            return json.load(fh)
    raise FileNotFoundError(f"subject {subject!r} not found in registry {root!r}")


class ConnectorError(RuntimeError):
    """A validate/connector feature needs an external service."""


def apply_validate(
    df: DataFrame,
    rules: list[dict[str, Any]] | None = None,
    on_invalid: str = "drop",
    tag_field: str = "valid",
    schema: dict[str, Any] | None = None,
    schema_registry_url: str | None = None,
    subject: str | None = None,
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """on_invalid ∈ {drop, error, tag, route} (types.rs:507-516).

    Validation sources compose (all become AND-ed rules): inline
    ``rules``, an inline JSON ``schema``, and a schema-registry
    ``subject`` resolved from ``schema_registry_url``
    (types.rs:496-506; local file-registry resolver).

    ``route`` returns (valid_df, invalid_df) — the invalid side is the
    DLQ side-output; ``error`` raises on first batch containing invalid
    rows (batch: counted eagerly).
    """
    all_rules = list(rules or [])
    if schema:
        all_rules.extend(rules_from_json_schema(schema))
    if subject:
        if not schema_registry_url:
            raise ValueError("validate: subject given without schema_registry_url")
        all_rules.extend(
            rules_from_json_schema(resolve_registry_subject(schema_registry_url, subject))
        )
    valid = validity_column(all_rules)
    if on_invalid == "drop":
        return df.filter(valid)
    if on_invalid == "tag":
        return df.withColumn(tag_field, valid)
    if on_invalid == "route":
        return df.filter(valid), df.filter(~valid)
    if on_invalid == "error":
        bad = df.filter(~valid).limit(1).count()
        if bad:
            raise ValueError("validate: invalid records present and on_invalid=error")
        return df
    raise ValueError(f"unknown on_invalid mode: {on_invalid!r}")


# ---------------------------------------------------------------------------
# T8 flatmap (types.rs:518-525)
# ---------------------------------------------------------------------------
def apply_flatmap(
    df: DataFrame,
    field: str,
    target_field: str | None = None,
    keep_parent: bool = False,
    outer: bool = False,
) -> DataFrame:
    """Explode an array column into one row per element."""
    target = target_field or field
    explode = F.explode_outer if outer else F.explode
    out = df.withColumn(target, explode(F.col(field)))
    if not keep_parent and target != field:
        out = out.drop(field)
    return out


# ---------------------------------------------------------------------------
# T9 split (types.rs:527-538) + conditional-edge routing (engine.rs:79-95)
# ---------------------------------------------------------------------------
def apply_split(
    df: DataFrame,
    outputs: list[dict[str, Any]],
    default_output: str | None = None,
    first_match: bool = False,
) -> dict[str, DataFrame]:
    """Route rows to named outputs by condition.

    Reference edge routing is *broadcast*: a record goes to every
    matching output (tests.rs:651-738), so outputs are independent
    filters and rows may appear in several. ``first_match=True`` gives
    the exclusive variant (types.rs split semantics): each row lands in
    the first matching output only. ``default_output`` receives rows
    matching no condition.
    """
    conds = [(o["name"], compile_condition(o["condition"] if isinstance(o["condition"], Condition)
                                           else Condition.from_dict(o["condition"]))) for o in outputs]
    result: dict[str, DataFrame] = {}
    if first_match:
        prior: Column | None = None
        for name, c in conds:
            eff = c if prior is None else (c & ~prior)
            result[name] = df.filter(eff)
            prior = c if prior is None else (prior | c)
        if default_output is not None:
            result[default_output] = df.filter(~prior if prior is not None else F.lit(True))
    else:
        for name, c in conds:
            result[name] = df.filter(c)
        if default_output is not None:
            none_match = ~reduce(lambda a, b: a | b, (c for _, c in conds)) if conds else F.lit(True)
            result[default_output] = df.filter(none_match)
    return result


# ---------------------------------------------------------------------------
# T10 dedupe (types.rs:542-556)
# ---------------------------------------------------------------------------
def apply_dedupe(
    df: DataFrame,
    key_fields: list[str],
    keep: str = "first",
    order_field: str = "event_time",
    tiebreak_fields: list[str] | None = None,
    within_watermark: bool = False,
    window: str | None = None,
) -> DataFrame:
    """Keep one row per key. ``keep='first'|'last'`` by ``order_field``.

    ``window`` scopes the dedupe to tumbling time windows (the
    reference dedupe's window field, types.rs:542-556): duplicates are
    only dropped within the same window — the streaming-state-bounded
    semantics expressed in batch. The window column joins the partition
    keys; everything else is unchanged.

    Batch implementation: row_number over a key-partitioned window —
    one shuffle on the keys, no global sort. Tie-break columns make the
    result deterministic (the reference's arrival order does not exist
    in a parallel engine; SURVEY §7.4).

    Streaming (dedupe config ``types.rs:542-556``): keep-first maps to
    ``dropDuplicates`` (unbounded key state) or, with
    ``within_watermark=True``, ``dropDuplicatesWithinWatermark`` —
    state is evicted once the watermark passes, the scale-safe mode,
    matching the reference's windowed dedupe. Keep-last becomes a
    running ``max_by`` per key over the full row (emit mode: update).
    """
    if window is not None:
        from etl_router_spark.model.parser import duration_to_interval

        df = df.withColumn(
            "__dw", F.window(F.col(order_field), duration_to_interval(window))
        )
        key_fields = [*key_fields, "__dw"]
    if df.isStreaming:
        if keep == "first":
            if within_watermark:
                out = df.dropDuplicatesWithinWatermark(key_fields)
            else:
                out = df.dropDuplicates(key_fields)
            return out.drop("__dw") if window is not None else out
        if keep == "last":
            order_cols = [order_field, *(tiebreak_fields or [])]
            payload = [c for c in df.columns if c not in key_fields]
            latest = df.groupBy(*key_fields).agg(
                F.max_by(F.struct(*payload), F.struct(*order_cols)).alias("__row")
            )
            out = latest.select(*key_fields, "__row.*").select(*df.columns)
            return out.drop("__dw") if window is not None else out
        raise ValueError(f"dedupe keep must be first|last, got {keep!r}")
    order = [F.col(order_field)] + [F.col(t) for t in (tiebreak_fields or [])]
    if keep == "last":
        order = [c.desc() for c in order]
    elif keep != "first":
        raise ValueError(f"dedupe keep must be first|last, got {keep!r}")
    w = Window.partitionBy(*key_fields).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__dw")
    )


# ---------------------------------------------------------------------------
# T11 ratelimit (types.rs:585-601)
# ---------------------------------------------------------------------------
def apply_ratelimit(
    df: DataFrame,
    key_fields: list[str],
    max_rate: int,
    window_duration: str = "1 hour",
    ts_field: str = "event_time",
    on_exceed: Literal["drop", "tag", "error", "delay"] = "drop",
    tiebreak_fields: list[str] | None = None,
    tag_field: str = "rate_limited",
) -> DataFrame:
    """Allow at most ``max_rate`` rows per key per tumbling window.

    on_exceed: drop -> excess rows removed; tag -> boolean column;
    error -> raise if any excess (batch); delay has no batch analog
    (maps to source-side maxOffsetsPerTrigger in streaming; SURVEY §7.4).

    Streaming: custom stateful operator over ``applyInPandasWithState``
    (per-(key, window) admitted-count state) — see
    ``etl_router_spark.functions.stateful.streaming_ratelimit``.
    """
    if df.isStreaming:
        from etl_router_spark.functions.stateful import streaming_ratelimit

        return streaming_ratelimit(df, key_fields, max_rate, window_duration,
                                   ts_field, on_exceed, tiebreak_fields)
    from etl_router_spark.model.parser import duration_to_interval

    order = [F.col(ts_field)] + [F.col(t) for t in (tiebreak_fields or [])]
    w = Window.partitionBy(
        *key_fields, F.window(F.col(ts_field), duration_to_interval(window_duration))
    ).orderBy(*order)
    ranked = df.withColumn("__rn", F.row_number().over(w))
    if on_exceed == "drop":
        return ranked.filter(F.col("__rn") <= max_rate).drop("__rn")
    if on_exceed == "tag":
        return ranked.withColumn(tag_field, F.col("__rn") > max_rate).drop("__rn")
    if on_exceed == "error":
        bad = ranked.filter(F.col("__rn") > max_rate).limit(1).count()
        if bad:
            raise ValueError("ratelimit exceeded and on_exceed=error")
        return ranked.drop("__rn")
    raise ValueError(f"unsupported on_exceed mode in batch: {on_exceed!r}")


# ---------------------------------------------------------------------------
# T12 aggregate (types.rs:603-641)
# ---------------------------------------------------------------------------
_AGG_BUILDERS = {
    "count": lambda f, order: F.count(F.col(f) if f and f != "*" else F.lit(1)),
    "sum": lambda f, order: F.sum(f),
    "avg": lambda f, order: F.avg(f),
    "min": lambda f, order: F.min(f),
    "max": lambda f, order: F.max(f),
    # reference first/last are arrival-order; we define deterministic
    # event-order via min_by/max_by on the order field (SURVEY §7.4)
    "first": lambda f, order: F.min_by(f, order),
    "last": lambda f, order: F.max_by(f, order),
    "countdistinct": lambda f, order: F.countDistinct(f),
    "approxcountdistinct": lambda f, order: F.approx_count_distinct(f),
    "collect": lambda f, order: F.array_sort(F.collect_list(f)),
    "stddev": lambda f, order: F.stddev(f),
    "variance": lambda f, order: F.variance(f),
    "median": lambda f, order: F.median(f),
}


def build_aggregations(
    aggregations: list[dict[str, Any]], order_field: str = "event_time"
) -> list[Column]:
    """[{function, field, output_field?}] -> agg Columns.

    Default output name ``{field}_{function}`` (types.rs:612-618).
    ``percentile``/``approxpercentile`` additionally read ``p``
    (default 0.5): exact interpolated (= SQL percentile_cont) vs
    bounded-memory sketch for the 100 TB path.
    """
    cols = []
    for a in aggregations:
        fn = a["function"].lower().replace("_", "")
        field_name = a.get("field", "*")
        out_name = a.get("output_field") or f"{field_name}_{fn}".replace("*", "all")
        if fn == "percentile":
            cols.append(F.percentile(field_name, F.lit(float(a.get("p", 0.5)))).alias(out_name))
            continue
        if fn == "approxpercentile":
            cols.append(
                F.percentile_approx(
                    field_name, F.lit(float(a.get("p", 0.5))),
                    F.lit(int(a.get("accuracy", 10_000))),
                ).alias(out_name)
            )
            continue
        if fn == "approxcountdistinct":
            # optional rsd tightens the HLL++ sketch (more registers,
            # still fixed-size state) — the 100 TB distinct path
            cols.append(
                F.approx_count_distinct(field_name, float(a["rsd"])).alias(out_name)
                if "rsd" in a
                else F.approx_count_distinct(field_name).alias(out_name)
            )
            continue
        builder = _AGG_BUILDERS.get(fn)
        if builder is None:
            raise ValueError(f"unknown aggregate function: {a['function']!r}")
        cols.append(builder(field_name, order_field).alias(out_name))
    return cols


def window_expr(window_config: dict[str, Any], ts_field: str) -> Column | None:
    """WindowConfig (types.rs:558-582) -> F.window / F.session_window."""
    if not window_config:
        return None
    wtype = window_config.get("type", "tumbling")
    size = window_config.get("size") or window_config.get("duration")
    from etl_router_spark.model.parser import duration_to_interval

    if wtype == "tumbling":
        return F.window(F.col(ts_field), duration_to_interval(size))
    if wtype == "sliding":
        slide = window_config.get("slide")
        return F.window(F.col(ts_field), duration_to_interval(size), duration_to_interval(slide))
    if wtype == "session":
        gap = window_config.get("gap") or size
        return F.session_window(F.col(ts_field), duration_to_interval(gap))
    raise ValueError(f"unknown window type: {wtype!r}")


def apply_aggregate(
    df: DataFrame,
    group_by: list[str],
    aggregations: list[dict[str, Any]],
    window_config: dict[str, Any] | None = None,
    ts_field: str = "event_time",
    flatten_window: bool = True,
) -> DataFrame:
    """groupBy keys (+ optional time window) + aggregation list.

    One shuffle on (keys, window); Spark performs map-side partial
    aggregation automatically. ``flatten_window`` projects the window
    struct to ``window_start``/``window_end`` columns for stable schemas.
    """
    keys: list[Column] = [F.col(k) for k in group_by]
    win = window_expr(window_config or {}, ts_field)
    if win is not None:
        keys = [win.alias("__window")] + keys
    out = df.groupBy(*keys).agg(*build_aggregations(aggregations, ts_field))
    if win is not None and flatten_window:
        out = out.select(
            F.col("__window.start").alias("window_start"),
            F.col("__window.end").alias("window_end"),
            *[c for c in out.columns if c != "__window"],
        )
    return out


# ---------------------------------------------------------------------------
# T13 join (types.rs:643-678)
# ---------------------------------------------------------------------------
def apply_join(
    left: DataFrame,
    right: DataFrame,
    conditions: list[dict[str, str]],
    how: str = "inner",
    left_prefix: str | None = None,
    right_prefix: str | None = None,
    include: list[str] | None = None,
    exclude: list[str] | None = None,
    broadcast_right: bool = False,
    time_bound: tuple[str, str, str] | None = None,
    strategy: str | None = None,
) -> DataFrame:
    """Equi-join with output shaping (prefix/include/exclude).

    ``conditions``: [{left_key, right_key}] ANDed (JoinCondition,
    types.rs:662-666). ``how``: inner|left|right|full|left_semi|left_anti
    (reference declares the first four; semi/anti are our superset,
    SURVEY §2.9). ``time_bound=(l_ts, r_ts, interval)`` adds the
    streaming-style time-range predicate. ``broadcast_right`` hints the
    broadcast-hash path for dimension joins.

    ``strategy`` pins the physical join when the optimizer's size
    estimate is wrong at scale: ``broadcast`` | ``shuffle_hash`` |
    ``merge`` apply the matching right-side join hint. Leave None for
    Catalyst/AQE's choice.
    """
    lp = (left_prefix + "_") if left_prefix else ""
    rp = (right_prefix + "_") if right_prefix else ""
    lcols = {c: lp + c for c in left.columns} if lp else {}
    rcols = {c: rp + c for c in right.columns} if rp else {}
    l_df = left.withColumnsRenamed(lcols) if lcols else left
    r_df = right.withColumnsRenamed(rcols) if rcols else right

    preds = [
        l_df[lp + c["left_key"]] == r_df[rp + c["right_key"]]
        for c in conditions
    ]
    if time_bound:
        l_ts, r_ts, interval = time_bound
        preds.append(
            l_df[lp + l_ts].between(
                F.col(rp + r_ts) - F.expr(f"INTERVAL {interval}"),
                F.col(rp + r_ts) + F.expr(f"INTERVAL {interval}"),
            )
        )
    pred = reduce(lambda a, b: a & b, preds)
    if strategy is not None:
        if strategy not in ("broadcast", "shuffle_hash", "merge"):
            raise ValueError(
                "join strategy must be broadcast|shuffle_hash|merge, "
                f"got {strategy!r}")
        r_side = r_df.hint(strategy)
    else:
        r_side = F.broadcast(r_df) if broadcast_right else r_df
    out = l_df.join(r_side, pred, how)
    if include:
        out = out.select(*include)
    elif exclude:
        out = out.drop(*exclude)
    return out


def salted_join(
    left: DataFrame,
    right: DataFrame,
    conditions: list[dict[str, str]],
    how: str = "inner",
    salt_buckets: int = 16,
) -> DataFrame:
    """Equi-join with manual skew salting.

    For hot join keys that overwhelm single reducers when the right
    side can't broadcast: the left (skewed) side gets a deterministic
    salt in [0, salt_buckets), the right side is replicated once per
    salt value, and the join runs on (key, salt) — one hot key now
    spreads over ``salt_buckets`` reducers. Output rows are identical
    to the unsalted join; only the exchange distribution changes.

    The salt is a hash of the left row's join keys *plus* a uniform
    spreader over the monotonic row id, so identical keys still spread.
    AQE's skew-join handles sort-merge skew automatically when stats
    see it (spark.sql.adaptive.skewJoin); this is the explicit knob for
    when it can't — e.g. a skewed key known at authoring time.

    Supported for ``inner`` and ``left`` joins (the replicated side
    must be the lookup side; other join types would double-count).
    """
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports inner/left joins")
    lk = [c["left_key"] for c in conditions]
    rk = [c["right_key"] for c in conditions]
    salt = F.pmod(
        F.xxhash64(*[F.col(k) for k in lk], F.monotonically_increasing_id()),
        F.lit(salt_buckets),
    ).cast("int")
    l_salted = left.withColumn("__salt", salt)
    r_salted = right.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)]))
    )
    pred = reduce(
        lambda a, b: a & b,
        [l_salted[a] == r_salted[b] for a, b in zip(lk, rk)]
        + [l_salted["__salt"] == r_salted["__salt"]],
    )
    out = l_salted.join(r_salted, pred, how)
    return out.drop(l_salted["__salt"]).drop(r_salted["__salt"])


# ---------------------------------------------------------------------------
# T14 sessionize (types.rs:680-697)
# ---------------------------------------------------------------------------
def apply_sessionize(
    df: DataFrame,
    key_fields: list[str],
    gap: str,
    aggregations: list[dict[str, Any]] | None = None,
    ts_field: str = "event_time",
    max_duration: str | None = None,
    emit: str = "on_close",
) -> DataFrame:
    """Group rows into sessions split by inactivity ``gap``.

    Native ``session_window`` handles the gap semantics (merging windows
    state-side in streaming). ``max_duration`` splits long sessions —
    no native Spark support, implemented by sub-splitting on the session
    relative time (batch) — sessions longer than max_duration become
    multiple sessions.

    Streaming with ``emit=on_event|both`` or ``max_duration`` uses the
    custom stateful operator (``functions.stateful.streaming_sessionize``,
    per-event emission the native operator can't express).
    """
    from etl_router_spark.model.parser import duration_to_interval, parse_duration

    if df.isStreaming and (emit in ("on_event", "both") or max_duration is not None):
        from etl_router_spark.functions.stateful import streaming_sessionize

        return streaming_sessionize(df, key_fields, gap, ts_field, max_duration, emit)

    aggs = build_aggregations(
        aggregations or [{"function": "count", "field": "*", "output_field": "n_events"}],
        ts_field,
    )
    if max_duration is None:
        win = F.session_window(F.col(ts_field), duration_to_interval(gap))
        out = df.groupBy(win.alias("__w"), *key_fields).agg(
            F.min(ts_field).alias("session_start"),
            F.max(ts_field).alias("session_last_event"),
            *aggs,
        )
        return out.drop("__w")
    # max_duration path: lag/cumsum sessionization (one shuffle on keys),
    # then long sessions split into max_duration-sized chunks relative to
    # the session start. Deterministic and SQL-expressible.
    # microsecond arithmetic: session_window compares event times at
    # full timestamp precision, so the split path must too — a
    # second-floored unix_timestamp would merge/split differently at
    # sub-second gaps than the gap-only path
    gap_us = int(parse_duration(gap) * 1_000_000)
    max_us = int(parse_duration(max_duration) * 1_000_000)
    w = Window.partitionBy(*key_fields).orderBy(ts_field)
    prev_ts = F.lag(ts_field).over(w)
    new_sess = prev_ts.isNull() | (
        (F.unix_micros(F.col(ts_field)) - F.unix_micros(prev_ts)) > gap_us
    )
    with_sess = df.withColumn(
        "__sess_id",
        F.sum(new_sess.cast("int")).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    sess_start = F.min(ts_field).over(Window.partitionBy(*key_fields, "__sess_id"))
    chunk = F.floor(
        (F.unix_micros(F.col(ts_field)) - F.unix_micros(sess_start)) / F.lit(max_us)
    ).cast("bigint")
    return (
        with_sess.withColumn("__chunk", chunk)
        .groupBy(*key_fields, F.col("__sess_id"), F.col("__chunk"))
        .agg(
            F.min(ts_field).alias("session_start"),
            F.max(ts_field).alias("session_last_event"),
            *aggs,
        )
        .drop("__sess_id", "__chunk")
    )
