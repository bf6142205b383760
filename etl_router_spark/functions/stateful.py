"""Custom stateful streaming operators (``applyInPandasWithState``).

The reference's stateful transforms that Spark's built-in operators
can't express (rate limiting with admitted-count state,
``types.rs:585-601``) become Arrow-batched grouped-state functions:
state lives in the executor's state store keyed by group, rows flow
through pandas — the Spark analog of the reference's external
``TransformService.ProcessStream`` shape (``proto/transform.proto``).

Why ``applyInPandasWithState`` and not Spark 4's
``transformWithStateInPandas``: the newer API's Python worker requires
``google.protobuf`` (without it the TWS worker crashes with ImportError
at query start), so the typed ValueState/ListState/TTL surface is gated
on protobuf the same way the real media decoders are on theirs. With
protobuf installed, the migration is mechanical — each grouped-state
function becomes a StatefulProcessor with a typed ListState, which would
also retire the JSON-exact column restriction documented on
:func:`streaming_group_topk`.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupStateTimeout


def streaming_ratelimit(
    df: DataFrame,
    key_fields: list[str],
    max_rate: int,
    window_duration: str = "1 hour",
    ts_field: str = "event_time",
    on_exceed: str = "drop",
    tiebreak_fields: list[str] | None = None,
    tag_field: str = "rate_limited",
) -> DataFrame:
    """Admit at most ``max_rate`` rows per (key, tumbling window).

    State = rows admitted so far per group; groups are
    ``(key_fields..., window(ts))`` so state is naturally scoped to a
    window and bounded by (#keys x #active windows). Within a batch,
    rows are admitted in (ts, tiebreak) order for determinism.

    on_exceed: ``drop`` removes excess rows, ``tag`` marks them.
    ``delay`` is source-side pacing (maxOffsetsPerTrigger /
    maxFilesPerTrigger), not a row-level operation (SURVEY §7.4).
    """
    if on_exceed not in ("drop", "tag"):
        raise ValueError(f"streaming ratelimit supports drop|tag, got {on_exceed!r}")
    from etl_router_spark.model.parser import duration_to_interval

    sort_cols = [ts_field, *(tiebreak_fields or [])]
    out_fields = list(df.schema.fields)
    if on_exceed == "tag":
        out_fields = out_fields + [T.StructField(tag_field, T.BooleanType())]
    out_schema = T.StructType(out_fields)
    state_schema = T.StructType([T.StructField("admitted", T.LongType())])

    out_cols = [f.name for f in out_fields]

    def limit_group(key, pdfs, state):
        (admitted,) = state.get if state.exists else (0,)
        for pdf in pdfs:
            pdf = pdf.sort_values(sort_cols, kind="mergesort")
            n = len(pdf)
            if on_exceed == "drop":
                take = max(0, max_rate - admitted)
                out = pdf.iloc[:take]
            else:
                flags = pd.Series(range(admitted, admitted + n), index=pdf.index) >= max_rate
                out = pdf.assign(**{tag_field: flags})
            admitted += n
            if len(out):
                yield out[out_cols]
        state.update((admitted,))

    # the window must be a materialized column — grouping expressions
    # are not resolvable inside FlatMapGroupsInPandasWithState
    windowed = df.withColumn(
        "__window", F.window(F.col(ts_field), duration_to_interval(window_duration))
    )
    grouped = windowed.groupBy(*key_fields, "__window")
    return grouped.applyInPandasWithState(
        limit_group, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def streaming_sessionize(
    df: DataFrame,
    key_fields: list[str],
    gap: str,
    ts_field: str = "event_time",
    max_duration: str | None = None,
    emit: str = "on_close",
) -> DataFrame:
    """Sessionize with the emit modes native ``session_window`` can't
    express (``types.rs:690-697``): ``on_event`` emits the running
    session after every event, ``both`` additionally emits the closed
    row; ``max_duration`` splits over-long sessions into chunks the way
    the batch operator does (chunk k = events in
    [start + k*max, start + (k+1)*max)).

    State per key = (session_start, chunk_start, last_ts, n_events) —
    four scalars, evicted on session close; an event-time timeout closes
    idle sessions once the watermark passes last_ts + gap.

    Output: key fields + session_start, session_last_event,
    n_events, closed.
    """
    if emit not in ("on_close", "on_event", "both"):
        raise ValueError(f"emit must be on_close|on_event|both, got {emit!r}")
    from etl_router_spark.model.parser import parse_duration

    gap_s = parse_duration(gap)
    max_s = parse_duration(max_duration) if max_duration else None

    key_struct = [df.schema[k] for k in key_fields]
    out_schema = T.StructType(
        key_struct
        + [
            T.StructField("session_start", T.TimestampType()),
            T.StructField("session_last_event", T.TimestampType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("closed", T.BooleanType()),
        ]
    )
    # timestamps as epoch-micros longs: pandas<->Arrow round trips of
    # tz-naive timestamps are lossier than integers
    state_schema = T.StructType([
        T.StructField("session_start", T.LongType()),
        T.StructField("chunk_start", T.LongType()),
        T.StructField("last_ts", T.LongType()),
        T.StructField("n", T.LongType()),
    ])

    def _row(key, chunk_start, last, n, closed):
        return (*key, pd.Timestamp(chunk_start, unit="us"),
                pd.Timestamp(last, unit="us"), n, closed)

    def sessionize_group(key, pdfs, state):
        if state.exists:
            session_start, chunk_start, last, n = state.get
        else:
            session_start = chunk_start = last = None
            n = 0
        rows = []

        if state.hasTimedOut:
            if n:
                rows.append(_row(key, chunk_start, last, n, True))
            state.remove()
            yield pd.DataFrame(rows, columns=[f.name for f in out_schema.fields])
            return

        for pdf in pdfs:
            ts = pdf[ts_field].sort_values()
            for t in ts:
                te = int(t.value // 1000)  # ns -> us
                if session_start is None:
                    session_start = chunk_start = last = te
                    n = 1
                elif (te - last) / 1e6 > gap_s:
                    rows.append(_row(key, chunk_start, last, n, True))
                    session_start = chunk_start = last = te
                    n = 1
                elif max_s is not None and (
                    (te - session_start) // int(max_s * 1e6)
                    != (chunk_start - session_start) // int(max_s * 1e6)
                ):
                    # event falls into the next max_duration chunk
                    # (batch parity: chunk k = floor((ts - start)/max))
                    rows.append(_row(key, chunk_start, last, n, True))
                    chunk_start = last = te
                    n = 1
                else:
                    last = te
                    n += 1
                if emit in ("on_event", "both"):
                    rows.append(_row(key, chunk_start, last, n, False))
        state.update((session_start, chunk_start, last, n))
        state.setTimeoutTimestamp(last // 1000 + int(gap_s * 1000))  # epoch millis
        if rows:
            yield pd.DataFrame(rows, columns=[f.name for f in out_schema.fields])

    return df.groupBy(*key_fields).applyInPandasWithState(
        sessionize_group, out_schema, state_schema, "append",
        GroupStateTimeout.EventTimeTimeout,
    )


def streaming_cdc_apply(
    df: DataFrame,
    key_fields: list[str],
    order_fields: list[str],
) -> DataFrame:
    """Continuously-materialized CDC state: latest-surviving-row per
    key over an unbounded changelog stream (the streaming twin of
    ``functions.cdc.cdc_apply``).

    State per key = the current winning row (one row, full width) —
    bounded by #live keys, independent of changelog length. Each
    micro-batch emits a key's row ONLY when its winner advances
    (update-style emission into an append sink); delete ops emit too,
    so downstream compaction (batch ``cdc_apply`` over the emission
    log, or an upsert sink) can drop tombstoned keys. Out-of-order
    changes across batches are resolved by the lexicographic
    ``order_fields`` comparison against state, exactly like the batch
    ``max_by(struct(order))``.
    """
    out_schema = df.schema
    state_schema = df.schema
    out_cols = [f.name for f in df.schema.fields]
    order_idx = [out_cols.index(c) for c in order_fields]

    def apply_group(key, pdfs, state):
        import pandas as pd

        best = tuple(state.get) if state.exists else None
        best_order = tuple(best[i] for i in order_idx) if best else None
        advanced = False
        for pdf in pdfs:
            if not len(pdf):
                continue
            pdf = pdf.sort_values(order_fields, kind="mergesort")
            cand = tuple(pdf.iloc[-1][c] for c in out_cols)
            cand_order = tuple(cand[i] for i in order_idx)
            if best_order is None or cand_order > best_order:
                best, best_order, advanced = cand, cand_order, True
        if advanced:
            state.update(best)
            yield pd.DataFrame([dict(zip(out_cols, best))])

    return df.groupBy(*key_fields).applyInPandasWithState(
        apply_group, out_schema, state_schema, "append",
        GroupStateTimeout.NoTimeout,
    )


def streaming_group_topk(
    df: DataFrame,
    key_fields: list[str],
    order_field: str,
    k: int = 10,
    tiebreak_field: str | None = None,
) -> DataFrame:
    """Continuously-maintained top-k rows per key over an unbounded
    stream (streaming twin of ``functions.corpus.group_topk``).

    State per key = the current k best rows (full width) — bounded by
    k x #live keys regardless of stream length. Each micro-batch merges
    the batch's rows into the kept set and re-emits the key's FULL
    top-k only when membership or order changed; downstream compacts by
    keeping each key's latest epoch (emission carries ``__epoch``).
    Ordering is (order_field DESC, tiebreak ASC) — deterministic under
    replay. State serializes through JSON, which is only exact for
    numeric/string/bool columns — anything else (timestamp, date,
    decimal, binary, nested) would come back as a string on the next
    micro-batch, breaking comparisons and the Arrow conversion
    mid-stream, so such columns are REJECTED at call time: carry
    timestamps as epoch longs (``epoch_us(ts)``), decimals as doubles
    or scaled longs, binary as hex/base64 strings.
    """
    _JSON_EXACT = (
        T.ByteType, T.ShortType, T.IntegerType, T.LongType,
        T.FloatType, T.DoubleType, T.StringType, T.BooleanType,
    )
    bad = [
        f"{f.name} ({f.dataType.simpleString()})"
        for f in df.schema.fields
        if not isinstance(f.dataType, _JSON_EXACT)
    ]
    if bad:
        raise TypeError(
            "streaming_group_topk state round-trips through JSON, which is "
            f"not exact for column(s): {', '.join(bad)}. Cast timestamps to "
            "epoch longs (epoch_us), decimals to double/scaled long, and "
            "binary to hex/base64 before this operator."
        )
    out_fields = list(df.schema.fields) + [T.StructField("__epoch", T.LongType())]
    out_schema = T.StructType(out_fields)
    # state: the kept rows, serialized as one row per struct in a list
    state_schema = T.StructType([
        T.StructField("rows_json", T.StringType()),
        T.StructField("epoch", T.LongType()),
    ])
    cols = [f.name for f in df.schema.fields]
    tb = tiebreak_field

    def sort_key(row: dict):
        return (-row[order_field], row[tb]) if tb is not None else (-row[order_field],)

    def topk_group(key, pdfs, state):
        import json

        import pandas as pd

        if state.exists:
            kept = json.loads(state.get[0])
            epoch = state.get[1]
        else:
            kept, epoch = [], 0
        before = [tuple(r[c] for c in cols) for r in kept]
        for pdf in pdfs:
            for rec in pdf[cols].to_dict("records"):
                kept.append(rec)
        kept.sort(key=sort_key)
        kept = kept[:k]
        after = [tuple(r[c] for c in cols) for r in kept]
        if after != before:
            epoch += 1
            # no default= fallback: the call-time schema check guarantees
            # JSON-exact values, so an unexpected type fails loudly here
            # instead of silently round-tripping as a string
            state.update((json.dumps(kept), epoch))
            out = pd.DataFrame(kept)[cols]
            out["__epoch"] = epoch
            yield out

    return df.groupBy(*key_fields).applyInPandasWithState(
        topk_group, out_schema, state_schema, "append",
        GroupStateTimeout.NoTimeout,
    )
