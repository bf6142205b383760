"""In-process TransformService — the reference's user-code extension point.

The reference exposes arbitrary user transforms through an external gRPC
``TransformService`` (``proto/transform.proto:7-11``): the engine ships a
record batch to user code (``ProcessBatch``, transform.proto:13-22) and
gets back one ``TransformResult`` per input record — a status plus 0..N
output records (``transform.proto:24-29``), with statuses
``SUCCESS/FILTERED/ERROR/SPLIT`` (``transform.proto:31-37``) deciding
routing: SUCCESS/SPLIT records continue downstream, FILTERED vanishes,
ERROR goes to the DLQ with the message.

Spark mapping: the batch contract IS ``mapInPandas`` — user code receives
Arrow-backed pandas batches and yields output batches, so the transfer
is columnar (never per-record serialization like the reference's proto
loop). Statuses ride as a reserved ``__status`` column (plus ``__error``)
on the returned batch; the engine routes on them and strips them before
the data continues. 0..N semantics fall out naturally: emit no row for a
FILTERED input, one row for SUCCESS, many for SPLIT.

This is deliberately the engine's ONLY sanctioned Python hot-path: every
built-in operator stays in JVM codegen; user extensions pay exactly one
Arrow round-trip, the same boundary the reference pays in gRPC (but
in-process — there is no service mesh in a Spark executor; a true remote
service would be called from inside the batch function with its own
batching).

At 100 TB: the stage is embarrassingly parallel (no shuffle, no state);
cost is the Arrow copy + user code, both proportional to partition size,
plus a fixed cost per task at the Python worker boundary: PySpark's
worker sets up each task (files, broadcasts, unpickling the function)
before the first batch. On CPython 3.11 that setup re-reads every zip
on the worker's path (16 reads) unless the worker comes
from the engine's daemon (``etl_router_spark.pyworker``, configured by
``get_spark``), which re-reads a zip only when it changed. The streaming
plugin pays this cost every epoch, once per task.
The error side re-filters the mapInPandas result, and each write is its
own action, so a pipeline writing both sides runs the user code once per
side (nothing persists the raw frame).
"""

from __future__ import annotations

import importlib
from typing import Any, Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# transform.proto:31-37 (UNSPECIFIED is a wire artifact, not emittable)
TRANSFORM_STATUSES = ("SUCCESS", "FILTERED", "ERROR", "SPLIT")
_RESERVED = ("__status", "__error")

# transform_id -> batch callable, the in-process stand-in for the
# reference's service registry (GetCapabilities advertises ids there;
# here registration is the advertisement)
TRANSFORM_REGISTRY: dict[str, Callable] = {}


def register_transform(transform_id: str):
    """Register a batch transform under ``transform_id`` (decorator).

    The callable contract (ProcessBatch, transform.proto:13-29):
    ``fn(batch: pandas.DataFrame, config: dict[str, str]) -> pandas.DataFrame``
    returning the declared output columns plus optionally ``__status``
    (defaults to SUCCESS) and ``__error`` (required non-null only for
    ERROR rows, which should carry the original record's fields so the
    DLQ holds the full failed payload).
    """

    def deco(fn: Callable) -> Callable:
        TRANSFORM_REGISTRY[transform_id] = fn
        return fn

    return deco


def resolve_transform(ref: Callable | str) -> Callable:
    """A callable, a registered transform_id, or a ``module:function``
    entry point (the deploy shape: user code ships as a package on the
    executors' PYTHONPATH, the manifest names it)."""
    if callable(ref):
        return ref
    if ref in TRANSFORM_REGISTRY:
        return TRANSFORM_REGISTRY[ref]
    if ":" in ref:
        mod, _, attr = ref.partition(":")
        fn = getattr(importlib.import_module(mod), attr, None)
        if callable(fn):
            return fn
        raise ValueError(f"entry point {ref!r} did not resolve to a callable")
    raise ValueError(
        f"unknown transform {ref!r}: not registered and not a module:function entry point"
    )


def apply_transform_service(
    df: DataFrame,
    transform: Callable | str,
    output_schema: str,
    config: dict[str, str] | None = None,
    on_error: str = "route",
    ship_by_value: bool = True,
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """Run a user batch transform with reference routing semantics.

    ``output_schema`` is the DDL of the transform's output records (the
    engine cannot infer user-code schemas; the reference has the same
    requirement via the proto Record shape). ``on_error``:

    - ``route`` (default; DlqPolicy semantics): returns
      ``(main_df, errors_df)`` — the ERROR rows with their per-record
      message in ``__error``; the pipeline compiler enriches them into
      the stage's DLQ frame (code TRANSFORM, that message).
    - ``drop``: ERROR rows vanish with the FILTERED ones.
    - ``error``: raise if any record errored (batch only — eager check).

    ``ship_by_value`` (default on) pickles the transform's defining
    module by value so executors need NOT have the user package on
    their PYTHONPATH — the Spark analog of the reference shipping
    batches to wherever the service runs. Turn it off for heavyweight
    modules deployed to executors via --py-files/PYTHONPATH.
    """
    fn = resolve_transform(transform)
    cfg = dict(config or {})
    lowered = [c.strip().split()[0].strip("`").lower() for c in output_schema.split(",")]
    if any(r in lowered for r in _RESERVED):
        raise ValueError(f"output_schema must not declare reserved columns {_RESERVED}")
    full_schema = f"{output_schema}, __status string, __error string"

    def runner(batches: Iterator[Any]) -> Iterator[Any]:
        for pdf in batches:
            out = fn(pdf, cfg)
            if "__status" not in out.columns:
                out = out.assign(__status="SUCCESS")
            # short names or full proto enum names both accepted
            out["__status"] = (
                out["__status"].astype(str).str.upper().str.replace("TRANSFORM_STATUS_", "", regex=False)
            )
            bad = set(out["__status"].unique()) - set(TRANSFORM_STATUSES)
            if bad:
                raise ValueError(f"transform emitted unknown statuses {sorted(bad)}")
            if "__error" not in out.columns:
                out = out.assign(__error=None)
            yield out

    # mapInPandas pickles `runner` NOW (UDF wrap is eager), so scoping
    # the by-value registration around this call is sufficient
    import sys as _sys

    from pyspark import cloudpickle as _cp

    mod = _sys.modules.get(getattr(fn, "__module__", "") or "")
    by_value = ship_by_value and mod is not None and fn.__module__ != "__main__"
    if by_value:
        _cp.register_pickle_by_value(mod)
    try:
        raw = df.mapInPandas(runner, schema=full_schema)
    finally:
        if by_value:
            _cp.unregister_pickle_by_value(mod)
    main = raw.filter(F.col("__status").isin("SUCCESS", "SPLIT")).drop(*_RESERVED)
    if on_error == "drop":
        return main
    if on_error == "error":
        n = raw.filter(F.col("__status") == "ERROR").limit(1).count()
        if n:
            raise ValueError("transform_service: records errored and on_error=error")
        return main
    if on_error != "route":
        raise ValueError(f"unknown on_error mode: {on_error!r}")
    return main, raw.filter(F.col("__status") == "ERROR").drop("__status")


# ---------------------------------------------------------------------------
# Built-in demo transform: exercises every status on the events table.
# Used by the `service_process_batch` correctness gate and the example
# manifest; doubles as the reference implementation of the contract.
# ---------------------------------------------------------------------------
@register_transform("demo_enrich_split")
def demo_enrich_split(pdf, config):
    """FILTERED: event_type='error'. ERROR: value > max_value (default
    300). SPLIT: 'purchase' -> purchase_net (97%) + purchase_fee (3%).
    SUCCESS: everything else, event_type uppercased. Pure vectorized
    pandas — the shape user transforms should take."""
    import pandas as pd

    cap = float(config.get("max_value", "300"))
    pdf = pdf[pdf["event_type"] != "error"]  # FILTERED: emit nothing
    bad = pdf[pdf["value"] > cap]
    err = bad.assign(
        __status="ERROR",
        __error="value " + bad["value"].astype(str) + " exceeds cap " + str(cap),
    )
    ok = pdf[pdf["value"] <= cap]
    purch = ok[ok["event_type"] == "purchase"]
    net = purch.assign(event_type="purchase_net", value=purch["value"] * 0.97, __status="SPLIT")
    fee = purch.assign(event_type="purchase_fee", value=purch["value"] * 0.03, __status="SPLIT")
    rest = ok[ok["event_type"] != "purchase"]
    rest = rest.assign(event_type=rest["event_type"].str.upper(), __status="SUCCESS")
    out = pd.concat([rest, net, fee, err], ignore_index=True)
    out["__error"] = out["__error"] if "__error" in out.columns else None
    return out
