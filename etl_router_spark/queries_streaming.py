"""Correctness-gate queries for STREAMING mode (SURVEY §2.8).

Each entry compiles the operator over Structured Streaming (file-stream
source, availableNow trigger), writes a checkpointed sink, reads the
result back and returns it as a batch DataFrame — so the driver's
DuckDB oracle can value-check real streaming executions, not just the
batch twins.

Determinism notes: the fixture parquet is a single file, so availableNow
processes exactly one epoch — update-mode aggregates emit each window
once, making results reproducible. Dedup selects only columns
functionally determined by the key (DISTINCT semantics) so
first-arrival nondeterminism cannot leak into values.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_router_spark.compile import transforms as T
from etl_router_spark.io import load_table
from etl_router_spark.queries import EVENTS_US, query


def _stream_events(spark: SparkSession, sf_dir: str, workdir: str) -> DataFrame:
    """File-stream over the fixture events (ns timestamps normalized)."""
    src = f"{workdir}/in"
    load_table(spark, sf_dir, "events").write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    return spark.readStream.schema(schema).parquet(src)


def _run_to_parquet(df: DataFrame, workdir: str) -> str:
    out = f"{workdir}/out"
    q = (
        df.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", f"{workdir}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return out


def _run_foreach_batch(df: DataFrame, workdir: str, mode: str) -> str:
    out = f"{workdir}/out"

    def write_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("append").parquet(out)

    q = (
        df.writeStream.foreachBatch(write_epoch)
        .outputMode(mode)
        .option("checkpointLocation", f"{workdir}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return out


@query(
    "stream_filter_project",
    f"""
    SELECT event_id, user_id, round(value, 6) AS value
    FROM {EVENTS_US} WHERE event_type = 'purchase'
    """,
)
def stream_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateless streaming slice: filter + project through the native
    exactly-once file sink."""
    wd = tempfile.mkdtemp(prefix="etl_stream_q1_")
    src = _stream_events(spark, sf_dir, wd)
    out = src.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.round("value", 6).alias("value")
    )
    path = _run_to_parquet(out, wd)
    result = spark.read.parquet(path)
    shutil.rmtree(f"{wd}/in", ignore_errors=True)
    return result


@query(
    "stream_dedupe_distinct",
    f"SELECT DISTINCT user_id, event_type FROM {EVENTS_US}",
)
def stream_dedupe_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedupe (dropDuplicatesWithinWatermark) on key columns —
    output is functionally determined by the key, so the oracle is
    SELECT DISTINCT."""
    wd = tempfile.mkdtemp(prefix="etl_stream_q2_")
    src = _stream_events(spark, sf_dir, wd).withWatermark("ts", "1 hour")
    deduped = T.apply_dedupe(
        src.select("user_id", "event_type", "ts"),
        ["user_id", "event_type"], keep="first", within_watermark=True,
    ).select("user_id", "event_type")
    path = _run_to_parquet(deduped, wd)
    result = spark.read.parquet(path)
    shutil.rmtree(f"{wd}/in", ignore_errors=True)
    return result


@query(
    "stream_sessionize",
    f"""
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS new_sess
      FROM {EVENTS_US}
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sess AS (
      SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM flagged)
    SELECT user_id, min(ts) AS session_start, max(ts) AS session_last_event,
           count(*) AS n_events, round(sum(value), 2) AS total_value
    FROM sess GROUP BY user_id, sess_id
    """,
)
def stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING sessionize (native session_window state merging, gap
    30m): one availableNow epoch means each final session is emitted
    exactly once — value-identical to the batch lag/cumsum oracle.

    Session-window streaming rejects update mode (only append/complete);
    append would withhold each user's final session (its end = last
    event + gap always sits past the global watermark), so the gate
    runs complete mode, where the single epoch emits final state."""
    wd = tempfile.mkdtemp(prefix="etl_stream_q4_")
    src = _stream_events(spark, sf_dir, wd).withWatermark("ts", "0 seconds")
    sess = T.apply_sessionize(
        src, ["user_id"], gap="30m",
        aggregations=[
            {"function": "count", "field": "*", "output_field": "n_events"},
            {"function": "sum", "field": "value", "output_field": "total_value"},
        ],
        ts_field="ts",
    ).select("user_id", "session_start", "session_last_event",
             "n_events", F.round("total_value", 2).alias("total_value"))
    path = _run_foreach_batch(sess, wd, "complete")
    result = spark.read.parquet(path)
    shutil.rmtree(f"{wd}/in", ignore_errors=True)
    return result


@query(
    "stream_join",
    f"""
    SELECT l.event_id AS purchase_id, r.event_id AS click_id,
           l.user_id
    FROM {EVENTS_US} l JOIN {EVENTS_US} r
      ON l.user_id = r.user_id
     AND l.event_type = 'purchase' AND r.event_type = 'click'
     AND r.ts >= l.ts - INTERVAL 2 HOUR AND r.ts <= l.ts
    """,
)
def stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING stream-stream inner join (T13 windowed join,
    types.rs:643-678): purchases matched to the same user's clicks in
    the preceding 2h. Both sides watermarked; the time-range condition
    bounds the join state so old rows age out of the state store."""
    wd = tempfile.mkdtemp(prefix="etl_stream_q5_")
    src = _stream_events(spark, sf_dir, wd)
    purchases = (
        src.filter(F.col("event_type") == "purchase")
        .select(F.col("event_id").alias("purchase_id"),
                F.col("user_id").alias("l_user_id"),
                F.col("ts").alias("l_ts"))
        .withWatermark("l_ts", "1 hour")
    )
    clicks = (
        _stream_events(spark, sf_dir, wd + "/c2")
        .filter(F.col("event_type") == "click")
        .select(F.col("event_id").alias("click_id"),
                F.col("user_id").alias("r_user_id"),
                F.col("ts").alias("r_ts"))
        .withWatermark("r_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        F.expr("""
            l_user_id = r_user_id
            AND r_ts >= l_ts - INTERVAL 2 HOURS
            AND r_ts <= l_ts
        """),
    ).select("purchase_id", "click_id", F.col("l_user_id").alias("user_id"))
    path = _run_to_parquet(joined, wd)
    result = spark.read.parquet(path)
    shutil.rmtree(f"{wd}/in", ignore_errors=True)
    shutil.rmtree(f"{wd}/c2", ignore_errors=True)
    return result


@query(
    "stream_windowed_agg",
    f"""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           count(*)             AS n,
           round(sum(value), 2) AS total
    FROM {EVENTS_US}
    GROUP BY 1, 2
    """,
)
def stream_windowed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window streaming aggregate, emit on_update (update mode
    via foreachBatch); single-epoch availableNow => one final row per
    window, value-identical to the batch oracle."""
    wd = tempfile.mkdtemp(prefix="etl_stream_q3_")
    src = _stream_events(spark, sf_dir, wd).withWatermark("ts", "0 seconds")
    agg = T.apply_aggregate(
        src,
        group_by=["event_type"],
        aggregations=[
            {"function": "count", "field": "*", "output_field": "n"},
            {"function": "sum", "field": "value", "output_field": "total"},
        ],
        window_config={"type": "tumbling", "size": "1h"},
        ts_field="ts",
    ).select(
        "window_start", "event_type", "n", F.round("total", 2).alias("total")
    )
    path = _run_foreach_batch(agg, wd, "update")
    result = spark.read.parquet(path)
    shutil.rmtree(f"{wd}/in", ignore_errors=True)
    return result


@query(
    "stream_fanin_union",
    f"""
    SELECT 'purchases' AS __source_id, event_id, user_id, round(value, 6) AS value
    FROM {EVENTS_US} WHERE event_type = 'purchase'
    UNION ALL
    SELECT 'signups' AS __source_id, event_id, user_id, CAST(NULL AS DOUBLE) AS value
    FROM {EVENTS_US} WHERE event_type = 'signup'
    """,
)
def stream_fanin_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fan-in in STREAMING mode (types.rs:805-820): two independent
    file streams normalized by per-input field mappings and unioned
    with source tags — the runner's multi-source merge, with
    allowMissingColumns null-filling the narrower input (signups carry
    no value). Source tags are what the fan-in watermark tracker keys
    on (watermark.rs:84-98)."""
    from etl_router_spark.compile.fan import apply_fan_in
    from etl_router_spark.model.manifest import FieldMapping as FM

    wd = tempfile.mkdtemp(prefix="etl_stream_fi_")
    ev = load_table(spark, sf_dir, "events")
    srcs = []
    for tag, flt, cols in (
        ("purchases", "purchase", ["event_id", "user_id", "value"]),
        ("signups", "signup", ["event_id", "user_id"]),
    ):
        path = f"{wd}/in_{tag}"
        ev.filter(F.col("event_type") == flt).select(*cols) \
          .write.mode("overwrite").parquet(path)
        schema = spark.read.parquet(path).schema
        srcs.append(spark.readStream.schema(schema).parquet(path))
    merged = apply_fan_in(
        srcs,
        mappings_per_input=[
            [FM(target="event_id", source="event_id"),
             FM(target="user_id", source="user_id"),
             FM(target="value", expression="round(value, 6)")],
            None,
        ],
        tags=["purchases", "signups"],
    )
    path = _run_to_parquet(merged, wd)
    result = spark.read.parquet(path).select("__source_id", "event_id", "user_id", "value")
    shutil.rmtree(f"{wd}/in_purchases", ignore_errors=True)
    shutil.rmtree(f"{wd}/in_signups", ignore_errors=True)
    return result


@query(
    "stream_ratelimit",
    f"""
    WITH ranked AS (
      SELECT event_id, user_id, ts, round(value, 6) AS value,
             row_number() OVER (
               PARTITION BY user_id, date_trunc('hour', ts)
               ORDER BY ts, event_id) AS rn
      FROM {EVENTS_US} WHERE user_id < 100)
    SELECT event_id, user_id, ts, value FROM ranked WHERE rn <= 3
    """,
)
def stream_ratelimit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T11 ratelimit in STREAMING mode (types.rs:584-601):
    applyInPandasWithState admits at most max_rate rows per (key,
    tumbling window), state = one admitted-counter per live group.
    Single-epoch availableNow makes the admitted set deterministic —
    the first 3 rows per (user, hour) in (ts, event_id) order — so the
    batch window oracle value-checks the streaming state machine."""
    from etl_router_spark.functions.stateful import streaming_ratelimit

    wd = tempfile.mkdtemp(prefix="etl_stream_rl_")
    src = f"{wd}/in"
    (load_table(spark, sf_dir, "events")
     .filter(F.col("user_id") < 100)
     .select("event_id", "user_id", "ts", F.round("value", 6).alias("value"))
     .write.mode("overwrite").parquet(src))
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    limited = streaming_ratelimit(
        stream, ["user_id"], max_rate=3, window_duration="1h",
        ts_field="ts", on_exceed="drop", tiebreak_fields=["event_id"],
    )
    path = _run_foreach_batch(limited, wd, "append")
    result = spark.read.parquet(path).select("event_id", "user_id", "ts", "value")
    shutil.rmtree(src, ignore_errors=True)
    return result


@query(
    "stream_aggregate_periodic",
    f"""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           count(*)             AS n,
           round(sum(value), 2) AS total
    FROM {EVENTS_US}
    GROUP BY 1, 2
    """,
)
def stream_aggregate_periodic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate emit=periodic (types.rs:634-641 AggregateEmit::
    Periodic): a processing-time trigger ticks on a timer and each tick
    re-emits the current state of updated groups (update mode). The
    gate feeds the fixture in 4 files (maxFilesPerTrigger=1 => several
    ticks), epoch-tags every emitted row, waits for
    processAllAvailable, stops the timer, and compacts keep-last-epoch
    per group — the final periodic state must equal the batch
    aggregate regardless of how many ticks fired or how the input
    interleaved."""
    from pyspark.sql import Window

    wd = tempfile.mkdtemp(prefix="etl_stream_per_")
    src = f"{wd}/in"
    load_table(spark, sf_dir, "events").repartition(4).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    # no watermark: periodic emit keeps every window's state live so a
    # tick can always re-emit current totals (the input files are
    # time-interleaved, so any finite lateness bound would drop rows
    # after the first tick). Production pairs emit=periodic with a
    # lateness-bounded watermark to cap state; the gate pins semantics.
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    agg = T.apply_aggregate(
        stream,
        group_by=["event_type"],
        aggregations=[
            {"function": "count", "field": "*", "output_field": "n"},
            {"function": "sum", "field": "value", "output_field": "total"},
        ],
        window_config={"type": "tumbling", "size": "1h"},
        ts_field="ts",
    ).select(
        "window_start", "event_type", "n", F.round("total", 2).alias("total")
    )

    out = f"{wd}/out"

    def write_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.withColumn("__epoch", F.lit(epoch_id)).write.mode("append").parquet(out)

    q = (
        agg.writeStream.foreachBatch(write_epoch)
        .outputMode("update")
        .option("checkpointLocation", f"{wd}/ckpt")
        .trigger(processingTime="250 milliseconds")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination()

    emitted = spark.read.parquet(out)
    w = Window.partitionBy("window_start", "event_type")
    latest = (emitted.withColumn("__max_epoch", F.max("__epoch").over(w))
              .filter(F.col("__epoch") == F.col("__max_epoch")))
    result = latest.select("window_start", "event_type", "n", "total")
    shutil.rmtree(src, ignore_errors=True)
    return result


@query(
    "stream_fanout_mapped",
    f"""
    SELECT 'metrics' AS sink, user_id, event_type, value FROM {EVENTS_US}
    UNION ALL
    SELECT 'audit' AS sink, user_id, 'evt:' || event_type AS event_type,
           CAST(NULL AS DOUBLE) AS value
    FROM {EVENTS_US}
    """,
)
def stream_fanout_mapped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming fan-out (engine.rs:324-352 under Structured Streaming):
    ONE foreachBatch writes both per-sink mapped views from a persisted
    shared batch — the scan/compute runs once per epoch, not once per
    sink (the reference's shared-source optimization). The gate reads
    both sinks back and value-checks each mapping."""
    from etl_router_spark.compile.transforms import apply_map
    from etl_router_spark.model.manifest import FieldMapping as M

    wd = tempfile.mkdtemp(prefix="etl_stream_fanout_")
    src = _stream_events(spark, sf_dir, wd)
    out_m, out_a = f"{wd}/metrics", f"{wd}/audit"
    metrics_map = [
        M(target="user_id", source="user_id"),
        M(target="event_type", source="event_type"),
        M(target="value", source="value"),
    ]
    audit_map = [
        M(target="user_id", source="user_id"),
        M(target="event_type", expression="'evt:' || event_type"),
        M(target="value", expression="CAST(NULL AS DOUBLE)"),
    ]

    def write_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        shared = batch_df.persist()
        apply_map(shared, metrics_map, drop_unmapped=True).write.mode("append").parquet(out_m)
        apply_map(shared, audit_map, drop_unmapped=True).write.mode("append").parquet(out_a)
        shared.unpersist()

    q = (
        src.writeStream.foreachBatch(write_epoch)
        .option("checkpointLocation", f"{wd}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    metrics = spark.read.parquet(out_m).select(
        F.lit("metrics").alias("sink"), "user_id", "event_type", "value")
    audit = spark.read.parquet(out_a).select(
        F.lit("audit").alias("sink"), "user_id", "event_type", "value")
    shutil.rmtree(f"{wd}/in", ignore_errors=True)
    return metrics.unionByName(audit)


@query(
    "stream_lookup_enrich",
    f"""
    SELECT e.event_id, e.user_id, c.c_name AS customer_name,
           c.c_mktsegment AS segment
    FROM {EVENTS_US} e
    JOIN customer c ON c.c_custkey = e.user_id
    WHERE e.event_type = 'purchase'
    """,
)
def stream_lookup_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: streaming events left-broadcast-joined
    against the customer dimension (the lookup stage's streaming form —
    the static side is planned as a broadcast per micro-batch, no state
    store involved). Inner miss-mode drops unmatched keys, mirroring
    on_miss=drop."""
    from etl_router_spark.compile.lookup import apply_lookup

    wd = tempfile.mkdtemp(prefix="etl_stream_q7_")
    src = _stream_events(spark, sf_dir, wd)
    dim = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_name", "c_mktsegment")
    )
    enriched = apply_lookup(
        src.filter(F.col("event_type") == "purchase"),
        dim,
        key_mappings={"user_id": "c_custkey"},
        merge_strategy="merge",
        on_miss="drop",
        prefix=None,
    )
    out = enriched.select(
        "event_id", "user_id",
        F.col("c_name").alias("customer_name"),
        F.col("c_mktsegment").alias("segment"),
    )
    path = _run_to_parquet(out, wd)
    result = spark.read.parquet(path)
    shutil.rmtree(f"{wd}/in", ignore_errors=True)
    return result


@query(
    "stream_cdc_apply",
    f"""
    WITH ranked AS (
      SELECT user_id, event_id, ts, event_type, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM {EVENTS_US}
      WHERE user_id < 200)
    SELECT user_id, event_id, ts, event_type, value
    FROM ranked WHERE rn = 1 AND lower(event_type) <> 'error'
    """,
)
def stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC materialization: latest-surviving-row per key via
    applyInPandasWithState (state = one row per live key, independent
    of changelog length), fed in multiple micro-batches
    (maxFilesPerTrigger) so winners genuinely advance across batches.
    The emission log compacts downstream with the batch cdc_apply —
    result must equal applying the whole changelog in batch."""
    from etl_router_spark.functions.cdc import cdc_apply
    from etl_router_spark.functions.stateful import streaming_cdc_apply

    wd = tempfile.mkdtemp(prefix="etl_stream_q8_")
    src = f"{wd}/in"
    (load_table(spark, sf_dir, "events")
     .filter(F.col("user_id") < 200)
     .select("user_id", "event_id", "ts", "event_type", "value")
     .repartition(4)  # several input files -> several micro-batches
     .write.mode("overwrite").parquet(src))
    schema = spark.read.parquet(src).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 2).parquet(src))
    updates = streaming_cdc_apply(stream, ["user_id"], ["ts", "event_id"])
    path = _run_foreach_batch(updates, wd, "append")
    emitted = spark.read.parquet(path)
    state = cdc_apply(emitted, ["user_id"], ["ts", "event_id"],
                      op_col="event_type", delete_values=("error",))
    result = state.select("user_id", "event_id", "ts", "event_type", "value")
    shutil.rmtree(src, ignore_errors=True)
    return result


@query(
    "stream_group_topk",
    f"""
    WITH ranked AS (
      SELECT user_id, event_id, round(value, 6) AS value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY round(value, 6) DESC, event_id) AS rn
      FROM {EVENTS_US}
      WHERE user_id < 50)
    SELECT user_id, event_id, value FROM ranked WHERE rn <= 3
    """,
)
def stream_group_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained per-key top-k over a multi-micro-batch
    stream: state = k rows per key; each batch re-emits a key's full
    top-k only on membership/order change (epoch-tagged), compacted
    downstream by keeping the latest epoch per key. Final set must
    equal the batch window top-k."""
    from pyspark.sql import Window

    from etl_router_spark.functions.stateful import streaming_group_topk

    wd = tempfile.mkdtemp(prefix="etl_stream_q9_")
    src = f"{wd}/in"
    (load_table(spark, sf_dir, "events")
     .filter(F.col("user_id") < 50)
     .select("user_id", "event_id", F.round("value", 6).alias("value"))
     .repartition(4)
     .write.mode("overwrite").parquet(src))
    schema = spark.read.parquet(src).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 2).parquet(src))
    updates = streaming_group_topk(stream, ["user_id"], "value", k=3,
                                   tiebreak_field="event_id")
    path = _run_foreach_batch(updates, wd, "append")
    emitted = spark.read.parquet(path)
    w = Window.partitionBy("user_id")
    latest = (emitted.withColumn("__max_epoch", F.max("__epoch").over(w))
              .filter(F.col("__epoch") == F.col("__max_epoch")))
    result = latest.select("user_id", "event_id", "value")
    shutil.rmtree(src, ignore_errors=True)
    return result


@query(
    "stream_allowed_lateness_merge",
    f"""
    WITH mx AS (SELECT max(ts) AS m FROM {EVENTS_US})
    SELECT date_trunc('hour', ts)    AS window_start,
           CAST(count(*) AS BIGINT)  AS n,
           round(sum(value), 2)      AS total
    FROM {EVENTS_US}, mx
    WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= m - INTERVAL 2 HOUR
    GROUP BY 1
    """,
)
def stream_allowed_lateness_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Allowed-lateness MERGE guarantee (SURVEY §2.8; the reference's
    watermark/lateness contract): events arriving out-of-order but
    within the watermark delay MUST be aggregated into their still-open
    window before append mode finalizes it. (The converse — dropping
    beyond-delay rows — is explicitly NOT guaranteed by Spark: they may
    re-aggregate into fresh state; verified empirically, so no gate
    pins it.)

    Deterministic 4-batch construction (maxFilesPerTrigger=1, file
    order forced via mtime):
      A: ts < Jan 29, MINUS the hold-back H = [Jan 28 22:30, 23:00)
      B: H — late vs A's frontier but within the 2 h delay
         (wm = max(A) - 2h ≈ Jan 28 ~21:5x < 22:30), so the merge into
         the open [22:00, 23:00) window is the documented guarantee
      C: ts >= Jan 29 minus the last 2 h of the timeline
      D: the last 2 h (never empty — contains the max event), whose
         batch advances the watermark so C-era windows (incl. H's,
         counting H!) evict and emit
    Append emits each window exactly once at eviction; availableNow
    finishes with a no-data flush batch carrying the final watermark
    max(ALL) - 2h (verified empirically — eviction is NOT one batch
    behind at stream end), so the output is exactly the hourly windows
    with end <= max_ts - 2h over all events, which is what the oracle
    computes. A dropped or double-counted H changes n/total for its
    window and fails the hash."""
    import os

    wd = tempfile.mkdtemp(prefix="etl_stream_lateness_")
    src = f"{wd}/in"
    os.makedirs(src, exist_ok=True)
    ev = load_table(spark, sf_dir, "events").select("ts", "value")
    max_ts = ev.agg(F.max("ts")).first()[0]  # metadata-sized driver read
    tail_cut = max_ts - __import__("datetime").timedelta(hours=2)
    h_lo, h_hi, cut = "2024-01-28 22:30:00", "2024-01-28 23:00:00", "2024-01-29 00:00:00"
    parts = [
        ev.filter((F.col("ts") < cut) & ~((F.col("ts") >= h_lo) & (F.col("ts") < h_hi))),
        ev.filter((F.col("ts") >= h_lo) & (F.col("ts") < h_hi)),
        ev.filter((F.col("ts") >= cut) & (F.col("ts") < F.lit(tail_cut))),
        ev.filter(F.col("ts") >= F.lit(tail_cut)),
    ]
    for i, part in enumerate(parts):
        tmp = f"{wd}/stage{i}"
        part.coalesce(1).write.mode("overwrite").parquet(tmp)
        pf = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        dst = f"{src}/{i}.parquet"
        shutil.move(f"{tmp}/{pf}", dst)
        t = os.path.getmtime(dst)
        os.utime(dst, (t - 1000 + i * 100, t - 1000 + i * 100))
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("ts", "2 hours")
    )
    agg = (
        stream.groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").cast("bigint").alias("n"), F.sum("value").alias("total"))
        .select(F.col("window.start").alias("window_start"), "n",
                F.round("total", 2).alias("total"))
    )
    path = _run_foreach_batch(agg, wd, "append")
    result = spark.read.parquet(path)
    shutil.rmtree(src, ignore_errors=True)
    return result


@query(
    "stream_service_process_batch",
    """
    SELECT event_id, user_id, upper(event_type) AS event_type, value
    FROM events WHERE event_type NOT IN ('error', 'purchase') AND value <= 300
    UNION ALL
    SELECT event_id, user_id, 'purchase_net' AS event_type, value * 0.97 AS value
    FROM events WHERE event_type = 'purchase' AND value <= 300
    UNION ALL
    SELECT event_id, user_id, 'purchase_fee' AS event_type, value * 0.03 AS value
    FROM events WHERE event_type = 'purchase' AND value <= 300
    """,
)
def stream_service_process_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TransformService extension point over Structured Streaming:
    the same Arrow-batched user transform (every status exercised) runs
    per micro-batch through the exactly-once file sink — stateless
    mapInPandas composes with streaming unchanged, so user plugins work
    in both modes from one registration. Oracle = the batch twin's."""
    from etl_router_spark.functions.transform_service import apply_transform_service

    wd = tempfile.mkdtemp(prefix="etl_stream_svc_")
    src = _stream_events(spark, sf_dir, wd)
    out = apply_transform_service(
        src.select("event_id", "user_id", "event_type", "value"),
        "demo_enrich_split",
        "event_id bigint, user_id bigint, event_type string, value double",
        config={"max_value": "300"},
        on_error="drop",
    )
    path = _run_to_parquet(out, wd)
    result = spark.read.parquet(path)
    shutil.rmtree(f"{wd}/in", ignore_errors=True)
    return result


@query("stream_dedup_minhash", None)  # oracle attached below
def stream_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming corpus near-dup dedup: documents arrive as an
    id-ordered file stream (maxFilesPerTrigger=1 => one micro-batch
    per ingest file, order forced via mtime) and each micro-batch is
    deduped INCREMENTALLY inside foreachBatch against a growing
    parquet signature store — the streaming twin of
    ``dedup_incremental_batches``: only the new batch is ever
    re-shingled; prior epochs contribute stored MinHash signatures.
    A new document is dropped when it LSH-matches (est Jaccard >= 0.5)
    any smaller-id document, in an earlier epoch or its own; dropped
    documents still append signatures so they keep blocking later
    near-dups.

    The oracle is the GLOBAL one-shot formulation, so the gate pins
    the invariant that a continuously-running dedup stream converges
    to exactly the batch result. At 100 TB the signature store is the
    only reread state (32 bytes x num_hashes per doc, bucket-joined —
    never the corpus text), which is what makes the pattern viable as
    a perpetual ingest pipeline."""
    import os

    from etl_router_spark.functions.dedup import (
        minhash_lsh_join,
        minhash_lsh_pairs,
        minhash_signatures,
    )

    wd = tempfile.mkdtemp(prefix="etl_stream_mhdedup_")
    src = f"{wd}/in"
    os.makedirs(src, exist_ok=True)
    docs = load_table(spark, sf_dir, "documents")
    for i, (lo, hi) in enumerate([(0, 200), (200, 400), (400, 600), (600, 800)]):
        tmp = f"{wd}/stage{i}"
        (docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
         .coalesce(1).write.mode("overwrite").parquet(tmp))
        pf = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        dst = f"{src}/{i}.parquet"
        shutil.move(f"{tmp}/{pf}", dst)
        t = os.path.getmtime(dst)
        os.utime(dst, (t - 1000 + i * 100, t - 1000 + i * 100))

    sig_dir, out_dir = f"{wd}/sigs", f"{wd}/out"

    def dedup_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        bspark = batch_df.sparkSession
        batch = batch_df.persist()
        sig_b = minhash_signatures(batch, num_hashes=8).persist()
        within = (
            minhash_lsh_pairs(batch, num_hashes=8, bands=4, threshold=0.5)
            .select(F.col("id_b").alias("doc_id"))
        )
        if os.path.isdir(sig_dir) and any(
            f.endswith(".parquet") for f in os.listdir(sig_dir)
        ):
            prior = bspark.read.parquet(sig_dir)
            cross = (
                minhash_lsh_join(batch, batch, num_hashes=8, bands=4,
                                 threshold=0.5, left_signatures=sig_b,
                                 right_signatures=prior)
                .select(F.col("id_left").alias("doc_id"))
            )
            dropped = within.unionByName(cross)
        else:
            dropped = within
        (batch.join(dropped.distinct(), "doc_id", "left_anti")
         .select("doc_id", "lang", "source", "n_chars")
         .write.mode("append").parquet(out_dir))
        sig_b.write.mode("append").parquet(sig_dir)
        sig_b.unpersist()
        batch.unpersist()

    schema = spark.read.parquet(src).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (stream.writeStream.foreachBatch(dedup_epoch)
         .option("checkpointLocation", f"{wd}/ckpt")
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    result = spark.read.parquet(out_dir)
    shutil.rmtree(src, ignore_errors=True)
    return result


from etl_router_spark.queries import ORACLES as _ORACLES  # noqa: E402
from etl_router_spark.queries_llm import _incremental_dedup_oracle  # noqa: E402

_ORACLES["stream_dedup_minhash"] = _incremental_dedup_oracle()


@query(
    "stream_sessionize_on_event",
    f"""
    WITH ev AS (
      SELECT user_id, ts FROM {EVENTS_US} WHERE event_type = 'click'),
    flagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 900000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    sess AS (
      SELECT user_id, ts,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged),
    numbered AS (
      SELECT user_id, ts, sid,
             min(ts) OVER (PARTITION BY user_id, sid) AS session_start,
             row_number() OVER (PARTITION BY user_id, sid ORDER BY ts) AS n
      FROM sess),
    mx AS (SELECT user_id, max(sid) AS mxsid FROM sess GROUP BY user_id),
    running AS (
      SELECT user_id, session_start, ts AS session_last_event,
             CAST(n AS BIGINT) AS n_events, FALSE AS closed
      FROM numbered),
    closed_rows AS (
      SELECT s.user_id, min(s.ts) AS session_start,
             max(s.ts) AS session_last_event,
             CAST(count(*) AS BIGINT) AS n_events, TRUE AS closed
      FROM sess s JOIN mx ON s.user_id = mx.user_id
      WHERE s.sid < mx.mxsid
      GROUP BY s.user_id, s.sid)
    SELECT * FROM running UNION ALL SELECT * FROM closed_rows
    """,
)
def stream_sessionize_on_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionize ``emit: on_event`` (types.rs:690-697 — the mode
    native session_window can't express): the stateful sessionizer
    emits the RUNNING session row after every event (closed=false,
    n_events = events so far) plus a closed row whenever a gap break
    retires a session in-stream. The oracle replays both emission
    streams with window functions; a user's final open session emits
    only running rows (the 3650-day watermark delay keeps the
    availableNow flush batch from timing it out, so open-session
    state is pinned as state, not output).

    Input is coalesced to ONE file => one micro-batch: per-key event
    order inside a batch is sorted by the operator, and cross-batch
    order is exactly what the signature-store/state machinery already
    handles (covered by test_streaming.py multi-batch cases)."""
    from etl_router_spark.functions.stateful import streaming_sessionize

    wd = tempfile.mkdtemp(prefix="etl_stream_onevent_")
    src = f"{wd}/in"
    (load_table(spark, sf_dir, "events")
     .filter(F.col("event_type") == "click")
     .select("user_id", "ts")
     .coalesce(1).write.mode("overwrite").parquet(src))
    schema = spark.read.parquet(src).schema
    stream = (spark.readStream.schema(schema).parquet(src)
              .withWatermark("ts", "3650 days"))
    out = streaming_sessionize(
        stream, ["user_id"], gap="15m", ts_field="ts", emit="both",
    )
    path = _run_to_parquet(out, wd)
    result = spark.read.parquet(path)
    shutil.rmtree(src, ignore_errors=True)
    return result.select("user_id", "session_start", "session_last_event",
                         "n_events", "closed")


@query(
    "stream_sink_grpc_exactly_once",
    f"""
    SELECT event_id, user_id, round(value, 6) AS value
    FROM {EVENTS_US} WHERE event_type = 'purchase'
    """,
)
def stream_sink_grpc_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming delivery to the typed gRPC sink with exactly-once
    epochs (proto/sink.proto:26-30 EXACTLY_ONCE + CommitMarker):
    foreachBatch runs the engine's per_epoch body: skip a committed
    epoch, ship the micro-batch over the real wire via write_sink(grpc),
    then mark it with the crash-atomic marker protocol. The stream is
    RUN TWICE from the same checkpoint — availableNow replays nothing new the
    second time, and a manually re-invoked epoch function with the
    marker present must NOT resend — so the receiver's staging holds
    each record exactly once, value-checked against the batch oracle."""
    import os
    import threading

    from etl_router_spark.sinks.grpc_client import GrpcLinesReceiver
    from etl_router_spark.sinks.registry import write_sink
    from etl_router_spark.sources.registry import read_source
    from etl_router_spark.streaming.exactly_once import per_epoch

    wd = tempfile.mkdtemp(prefix="etl_stream_grpc_eo_")
    stage, markers = f"{wd}/stage", f"{wd}/markers"
    os.makedirs(stage, exist_ok=True)
    lock = threading.Lock()
    counter = {"n": 0}

    def on_payload(data: bytes) -> None:
        with lock:
            seq = counter["n"]
            counter["n"] += 1
        tmp = os.path.join(stage, f".b_{seq:05d}.tmp")
        with open(tmp, "wb") as fh:
            fh.write(data)
        os.rename(tmp, os.path.join(stage, f"b_{seq:05d}.json"))

    rx = GrpcLinesReceiver(on_payload, b"/conveyor.etl.Ingest/Push")
    seen_epochs: list[int] = []

    ship = per_epoch(lambda batch_df: write_sink(batch_df, {
        "sink_type": "grpc", "endpoint": f"127.0.0.1:{rx.port}",
        "batch_size": 256,
        "retry": {"max_retries": 2, "initial_backoff_ms": 10},
    }), markers, persist=False)

    def ship_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        ship(batch_df, epoch_id)
        seen_epochs.append(epoch_id)

    src = _stream_events(spark, sf_dir, wd)
    out = (src.filter(F.col("event_type") == "purchase")
           .select("event_id", "user_id", F.round("value", 6).alias("value")))

    def run_once() -> None:
        q = (out.writeStream.foreachBatch(ship_epoch)
             .option("checkpointLocation", f"{wd}/ckpt")
             .trigger(availableNow=True)
             .start())
        q.awaitTermination()

    try:
        run_once()
        first_calls = rx.calls
        assert first_calls > 0 and seen_epochs
        run_once()  # restart from checkpoint: no new data, no resend
        # replay the committed epoch by hand: the marker must gate it
        ship_epoch(out.limit(0), seen_epochs[0])
        assert rx.calls == first_calls, "exactly-once violated: resend"
    finally:
        rx.close()
    result = read_source(spark, {
        "source_type": "file", "format": "json", "path": stage,
        "schema": "event_id BIGINT, user_id BIGINT, value DOUBLE",
    }, streaming=False)
    shutil.rmtree(f"{wd}/in", ignore_errors=True)
    return result


@query(
    "stream_late_data_dlq",
    f"""
    WITH ev AS (
      SELECT event_id, ts, user_id FROM {EVENTS_US}),
    h_old AS (
      SELECT * FROM ev WHERE user_id % 13 = 0 AND ts < TIMESTAMP '2024-01-25 00:00:00'),
    a AS (
      SELECT * FROM ev
      WHERE ts < TIMESTAMP '2024-01-29 00:00:00'
        AND NOT (user_id % 13 = 0 AND ts < TIMESTAMP '2024-01-25 00:00:00')),
    b AS (
      SELECT * FROM ev WHERE ts >= TIMESTAMP '2024-01-29 00:00:00'
      UNION ALL SELECT * FROM h_old),
    wm AS (SELECT max(ts) AS m FROM a)
    SELECT event_id, ts, 'delivered' AS disposition FROM a
    UNION ALL
    SELECT b.event_id, b.ts,
           CASE WHEN b.ts < wm.m - INTERVAL 2 HOUR THEN 'dlq'
                ELSE 'delivered' END AS disposition
    FROM b, wm
    """,
)
def stream_late_data_dlq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data SIDE OUTPUT (the observability the reference's
    watermark contract implies and Spark's silent state-op drop
    lacks): per epoch, rows older than the tracked combined watermark
    minus allowed lateness route to the DLQ with `_dlq_*` context
    instead of disappearing; the watermark advances AFTER the split
    (lateness is judged against the frontier as of batch arrival,
    watermark.rs:121-128). Two forced batches: B carries both
    beyond-delay stragglers (-> dlq) and fresh rows (-> delivered);
    the oracle replays the same two-epoch watermark evolution."""
    import os

    from etl_router_spark.sinks.dlq import to_dlq
    from etl_router_spark.streaming.watermark import SourceWatermarkTracker

    wd = tempfile.mkdtemp(prefix="etl_stream_latedlq_")
    src = f"{wd}/in"
    os.makedirs(src, exist_ok=True)
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    h_old = (F.col("user_id") % 13 == 0) & (F.col("ts") < "2024-01-25 00:00:00")
    parts = [
        ev.filter((F.col("ts") < "2024-01-29 00:00:00") & ~h_old),
        ev.filter((F.col("ts") >= "2024-01-29 00:00:00") | h_old),
    ]
    for i, part in enumerate(parts):
        tmp = f"{wd}/stage{i}"
        part.coalesce(1).write.mode("overwrite").parquet(tmp)
        pf = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        dst = f"{src}/{i}.parquet"
        shutil.move(f"{tmp}/{pf}", dst)
        t = os.path.getmtime(dst)
        os.utime(dst, (t - 1000 + i * 100, t - 1000 + i * 100))

    out_dir, dlq_dir = f"{wd}/out", f"{wd}/dlq"
    tracker = SourceWatermarkTracker(["events"], allowed_lateness=2 * 3600)

    def route_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        tagged = batch_df.withColumn("__src", F.lit("events"))
        on_time, late = tracker.split_late(tagged, "ts")
        (on_time.drop("__src")
         .write.mode("append").parquet(out_dir))
        late_count = late.count()
        if late_count:
            to_dlq(late.drop("__src"), error_code="TIMEOUT",
                   error_message="event beyond allowed lateness",
                   failed_stage="watermark", pipeline="late-dlq-gate",
                   ).write.mode("append").parquet(dlq_dir)
        tracker.observe_batch(tagged, "__src", "ts")

    schema = spark.read.parquet(src).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (stream.writeStream.foreachBatch(route_epoch)
         .option("checkpointLocation", f"{wd}/ckpt")
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    delivered = spark.read.parquet(out_dir).select(
        "event_id", "ts", F.lit("delivered").alias("disposition"))
    if os.path.isdir(dlq_dir) and any(
        f.endswith(".parquet") for f in os.listdir(dlq_dir)
    ):
        dlq = spark.read.parquet(dlq_dir).select(
            "event_id", "ts", F.lit("dlq").alias("disposition"))
        delivered = delivered.unionByName(dlq)
    shutil.rmtree(src, ignore_errors=True)
    return delivered


@query(
    "stream_idle_source_promotion",
    f"""
    WITH ev AS (SELECT user_id, event_id, ts FROM {EVENTS_US}),
         mid AS (SELECT CAST(floor(max(event_id) / 2) AS BIGINT) AS m FROM ev),
         hot1 AS (SELECT max(ts) AS w FROM ev, mid
                  WHERE user_id % 2 = 0 AND event_id < mid.m),
         hot2 AS (SELECT max(ts) AS w FROM ev, mid
                  WHERE user_id % 2 = 0 AND event_id >= mid.m),
         cold1 AS (SELECT max(ts) AS w FROM ev, mid
                   WHERE user_id % 2 = 1 AND event_id < mid.m)
    SELECT 'hot'  AS source_id, epoch_us(w) AS watermark_us,
           false  AS idle FROM hot1
    UNION ALL
    SELECT 'hot', epoch_us(hot2.w), false FROM hot2, hot1
    WHERE hot2.w > hot1.w
    UNION ALL
    SELECT 'cold', epoch_us(w), false FROM cold1
    UNION ALL
    SELECT 'cold', 4102444800000000, true
    UNION ALL
    SELECT 'hot', 4102444800000000, true
    """,
)
def stream_idle_source_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idle-source watermark promotion (SURVEY §2.6, watermark.rs:
    130-147) as a REAL streaming execution: the distributed
    ``applyInPandasWithState`` tracker (``streaming/watermark.py:
    track_source_watermarks``) runs over two micro-batches
    (``maxFilesPerTrigger=1``) — batch 1 carries both sources, batch 2
    only the 'hot' source, so the 'cold' source's
    ProcessingTimeTimeout fires first and 'hot' follows once the
    stream goes fully quiet; each promotes its watermark to processing
    time exactly once. Determinism: the promotion clock is injected
    (pinned to 2100-01-01T00:00:00Z), so the oracle reproduces every
    emitted watermark-change row — per-source data watermarks as
    max(ts) per batch (the batch-2 'hot' row conditional on the max
    actually advancing) plus both pinned idle promotions. The harness
    polls the exactly-once file sink until both promotions commit
    (ProcessingTimeTimeout keeps ``shouldRunAnotherBatch`` true, so an
    availableNow drain would never self-terminate — a documented
    Spark sharp edge, hence the processing-time trigger + bounded
    observation stop)."""
    import os

    from etl_router_spark.streaming.watermark import track_source_watermarks

    wd = tempfile.mkdtemp(prefix="etl_stream_idle_")
    src = f"{wd}/in"
    os.makedirs(src)
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    # explicit floor: DuckDB CAST(double AS BIGINT) rounds, Spark truncates
    mid = ev.agg(F.floor(F.max("event_id") / 2).cast("long")).collect()[0][0]
    batch1 = ev.filter(F.col("event_id") < mid)
    batch2 = ev.filter((F.col("event_id") >= mid) & (F.col("user_id") % 2 == 0))
    for i, b in enumerate([batch1, batch2]):
        tmp = f"{wd}/b{i}"
        b.coalesce(1).write.parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        dst = f"{src}/file_{i:02d}.parquet"
        os.rename(f"{tmp}/{part}", dst)
        # file-stream batching orders by modification time: pin it
        os.utime(dst, (1_600_000_000 + 600 * i, 1_600_000_000 + 600 * i))
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .select(
            F.when(F.col("user_id") % 2 == 0, F.lit("hot"))
            .otherwise(F.lit("cold")).alias("source_id"),
            F.col("ts").alias("event_time"),
        )
    )
    tracked = track_source_watermarks(
        stream, source_field="source_id", ts_field="event_time",
        idle_timeout="10ms",
        promotion_clock=lambda: 4102444800.0,  # 2100-01-01T00:00:00Z
    )
    import time as _time

    out = f"{wd}/out"
    q = (
        tracked.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", f"{wd}/ckpt")
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        # both promotions are pinned and fire at most once (the tracker
        # re-arms only on advance); wait until the exactly-once sink
        # has committed them, then stop
        deadline = _time.time() + 180
        while _time.time() < deadline:
            try:
                if spark.read.parquet(out).filter("idle").count() >= 2:
                    break
            except Exception:
                pass  # sink not committed yet
            _time.sleep(1.0)
        else:
            raise TimeoutError("idle promotions did not commit in 180s")
    finally:
        q.stop()
        q.awaitTermination()
    result = (
        spark.read.parquet(out)
        .select("source_id", F.unix_micros("watermark").alias("watermark_us"),
                "idle")
    )
    shutil.rmtree(src, ignore_errors=True)
    return result


@query(
    "stream_cdc_upsert_epochs",
    f"""
    WITH log AS (SELECT user_id, event_id, ts, event_type,
                        round(value, 6) AS value,
                        CASE WHEN event_type = 'error' THEN 'delete'
                             ELSE 'upsert' END AS op
                 FROM {EVENTS_US}),
         ranked AS (SELECT *, row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
                    FROM log)
    SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type, value
    FROM ranked WHERE rn = 1 AND op <> 'delete'
    """,
)
def stream_cdc_upsert_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-wise streaming CDC upsert (S13/S14's downstream half, types.rs:346-364
    + functions/cdc.py): a changelog derived from the fixture events
    ('error' rows are delete tombstones, ordered by commit time then
    log sequence) replays through TWO foreachBatch epochs into the
    upsert file sink — epoch 1 bootstraps the snapshot via
    ``cdc_apply``, epoch 2 merges strictly-later changes via
    ``cdc_snapshot_merge`` (latest-by-(ts, event_id) wins, deletes
    tombstone, re-inserts resurrect). The epoch boundary is the exact
    median commit time, so per-key replay order is preserved across
    epochs — the condition under which epoch-wise apply equals
    full-log replay, which is exactly what the oracle computes with a
    window over the whole log. Gate passes iff the epoched streaming
    state machine lands on the same final table."""
    import os

    from etl_router_spark.sinks.registry import write_sink

    wd = tempfile.mkdtemp(prefix="etl_stream_cdc_")
    src = f"{wd}/in"
    os.makedirs(src)
    log = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_id", "ts", "event_type",
                F.round("value", 6).alias("value"))
        .withColumn("op", F.when(F.col("event_type") == "error",
                                 F.lit("delete")).otherwise(F.lit("upsert")))
    )
    # exact median commit time: ties land in epoch 1, so epoch 2 is
    # strictly later and tombstone dropping stays order-safe
    t_mid = log.selectExpr(
        "percentile(CAST(ts AS DOUBLE), 0.5) AS p").collect()[0][0]
    epochs = [
        log.filter(F.col("ts").cast("double") <= t_mid),
        log.filter(F.col("ts").cast("double") > t_mid),
    ]
    for i, e in enumerate(epochs):
        tmp = f"{wd}/b{i}"
        e.coalesce(1).write.parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        dst = f"{src}/file_{i:02d}.parquet"
        os.rename(f"{tmp}/{part}", dst)
        os.utime(dst, (1_600_000_000 + 600 * i,) * 2)
    target = f"{wd}/state"

    def apply_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        write_sink(batch_df, {
            "sink_type": "file", "format": "parquet", "path": target,
            "mode": "upsert", "merge_keys": ["user_id"],
            "order_by": ["ts", "event_id"], "op_col": "op",
        })

    schema = spark.read.parquet(src).schema
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(apply_epoch)
        .option("checkpointLocation", f"{wd}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    result = spark.read.parquet(target).select(
        "user_id", "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "event_type", "value",
    )
    shutil.rmtree(src, ignore_errors=True)
    return result


@query(
    "stream_sink_jdbc_exactly_once",
    f"""
    SELECT event_id, user_id, round(value, 6) AS value
    FROM {EVENTS_US} WHERE event_id % 11 = 5
    """,
)
def stream_sink_jdbc_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once streaming into an RDBMS (§2.8 + S13's sink half,
    on embedded Derby): two micro-batches flow through the
    delete-then-insert epoch protocol
    (``streaming/exactly_once.py:jdbc_idempotent_writer``), then the
    gate ADVERSARIALLY replays both failure windows — a full epoch
    redelivery after the marker committed (must skip), and a
    crash-between-data-and-marker (marker removed, epoch re-run: the
    delete clears the half-write before re-append) — and reads the
    table back through the partitioned JDBC source. The oracle is the
    plain fixture slice: any duplicate or loss under replay breaks the
    value hash."""
    import os
    import tempfile

    from etl_router_spark.sources.registry import read_source
    from etl_router_spark.streaming.exactly_once import jdbc_idempotent_writer

    wd = tempfile.mkdtemp(prefix="etl_jdbc_eo_")
    url = f"jdbc:derby:{wd}/db;create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    src = f"{wd}/in"
    os.makedirs(src)
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("event_id") % 11 == 5)
          .select("event_id", "user_id", F.round("value", 6).alias("value")))
    mid = ev.agg(F.floor(F.max("event_id") / 2).cast("long")).collect()[0][0]
    batches = [ev.filter(F.col("event_id") < mid),
               ev.filter(F.col("event_id") >= mid)]
    for i, b in enumerate(batches):
        tmp = f"{wd}/b{i}"
        b.coalesce(1).write.parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        dst = f"{src}/file_{i:02d}.parquet"
        os.rename(f"{tmp}/{part}", dst)
        os.utime(dst, (1_600_000_000 + 600 * i,) * 2)
    writer = jdbc_idempotent_writer(url, "events_eo", driver)
    schema = spark.read.parquet(src).schema
    q = (spark.readStream.schema(schema)
         .option("maxFilesPerTrigger", 1).parquet(src)
         .writeStream.foreachBatch(writer)
         .option("checkpointLocation", f"{wd}/ckpt")
         .trigger(availableNow=True).start())
    q.awaitTermination()

    # adversarial replays against the committed table:
    # 1) full redelivery of epoch 0 (marker present) -> must no-op
    writer(batches[0], 0)
    # 2) crash window: marker for epoch 1 lost after data landed ->
    #    the re-run must delete the half-write before re-appending
    jvm = spark._jvm  # noqa: SLF001
    conn = jvm.java.sql.DriverManager.getConnection(url)
    st = conn.createStatement()
    st.executeUpdate("DELETE FROM etl_epochs WHERE epoch_id = 1")
    st.close()
    conn.close()
    writer(batches[1], 1)

    return read_source(spark, {
        "source_type": "jdbc", "url": url, "table": "events_eo",
        "driver": driver,
    }, streaming=False).select("event_id", "user_id", "value")


from etl_router_spark.queries_llm import _minhash_incremental_oracle  # noqa: E402

_ORACLES["stream_dedup_index_probe"] = _minhash_incremental_oracle()


@query("stream_dedup_index_probe", None)  # oracle attached above (generated)
def stream_dedup_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING arm of the nightly fuzzy-dedup loop: the persisted
    MinHash-LSH index (docs < 300, built once batch-side) filters an
    ARRIVING stream of new docs — each micro-batch probes the index in
    ``foreachBatch`` via ``dedup_against_minhash_index`` (batch band
    keys broadcast onto the index scan, no index shuffle) and appends
    only the survivors, exactly the deployment shape for continuous
    crawl ingestion. One availableNow epoch over a single staged file
    keeps the emission deterministic; the oracle is the batch twin's
    (``dedup_minhash_incremental``)."""
    import os

    from etl_router_spark.functions.dedup import (
        dedup_against_minhash_index,
        minhash_index,
    )

    wd = tempfile.mkdtemp(prefix="etl_stream_mhidx_")
    docs = load_table(spark, sf_dir, "documents")
    idx_path = os.path.join(wd, "index")
    (minhash_index(docs.filter(F.col("doc_id") < 300), num_hashes=8, bands=4)
     .withColumn("bk_prefix", F.substring("band_key", 1, 2))
     .write.partitionBy("bk_prefix").parquet(idx_path))
    idx = spark.read.parquet(idx_path)

    src = os.path.join(wd, "in")
    (docs.filter((F.col("doc_id") >= 300) & (F.col("doc_id") < 500))
     .select("doc_id", "text", "lang", "source")
     .write.mode("overwrite").parquet(src))
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)

    out = os.path.join(wd, "out")

    def probe(batch_df: DataFrame, epoch_id: int) -> None:
        kept = dedup_against_minhash_index(
            batch_df, idx, num_hashes=8, bands=4, threshold=0.5)
        kept.select("doc_id", "lang", "source").write.mode("append").parquet(out)

    q = (
        stream.writeStream.foreachBatch(probe)
        .option("checkpointLocation", os.path.join(wd, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    result = spark.read.parquet(out)
    shutil.rmtree(src, ignore_errors=True)
    return result


@query("stream_profile_fold", None)  # oracle attached below (generated)
def stream_profile_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING arm of the incremental-statistics loop: documents
    arrive in FOUR micro-batches (maxFilesPerTrigger=1 over four
    staged files); each batch appends its own per-source
    ``histogram_sketch`` rows to a profile LOG (append-only — the
    crash-safe shape: no read-modify-write of the persisted table
    inside the stream), and the readout compacts the log with
    ``fold_sketch_profiles`` + interpolates the per-source median.
    Merge associativity makes the result identical to one whole-corpus
    profile, so the oracle is the batch gate's whole-table SQL — the
    value hash pins per-batch profiling, the append-fold protocol, AND
    the estimator across a real multi-epoch streaming execution."""
    import os

    from etl_router_spark.functions.profile import (
        estimate_histogram_quantile,
        fold_sketch_profiles,
        histogram_sketch,
    )
    from etl_router_spark.queries_llm import _HIST_BINS

    wd = tempfile.mkdtemp(prefix="etl_stream_prof_")
    docs = load_table(spark, sf_dir, "documents")
    src = os.path.join(wd, "in")
    for i in range(4):
        (docs.filter(F.expr(f"(doc_id DIV 20) % 4 = {i}"))
         .select("doc_id", "source", "n_chars")
         .coalesce(1)
         .write.mode("append").parquet(src))
    schema = spark.read.parquet(src).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))

    log_dir = os.path.join(wd, "profile_log")

    def profile_batch(batch_df: DataFrame, epoch_id: int) -> None:
        (histogram_sketch(batch_df, "source", "n_chars", _HIST_BINS)
         .write.mode("append").parquet(log_dir))

    q = (
        stream.writeStream.foreachBatch(profile_batch)
        .option("checkpointLocation", os.path.join(wd, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    log = spark.read.parquet(log_dir)
    folded = fold_sketch_profiles(log, "source")
    result = estimate_histogram_quantile(folded, _HIST_BINS, 0.5).select(
        "source", "n_rows", "q_est")
    shutil.rmtree(src, ignore_errors=True)
    return result


from etl_router_spark.queries_llm import _hist_quantile_oracle, _HIST_BINS as _HB  # noqa: E402

_ORACLES["stream_profile_fold"] = _hist_quantile_oracle(_HB, 0.5)


@query("stream_filter_attribution", None)  # oracle attached below
def stream_filter_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING arm of the filter-attribution report — the continuous
    crawl-QA monitor: each of four real micro-batches appends its own
    per-rule kill counts to a log (one aggregate over the BATCH; the
    corpus is never re-scanned), and the readout folds the log by
    summing counts and recomputing fail_rate from the folded sums.
    Every attribution column is a row-level property summed over
    disjoint batches, so the folded report is IDENTICAL to the batch
    gate's whole-corpus report — the oracle is the same whole-table
    SQL, value-hash-pinning per-batch accounting + fold + rate math
    across a multi-epoch streaming execution."""
    import os

    from etl_router_spark.functions.corpus import filter_attribution
    from etl_router_spark.functions.text import tokens_sql

    wd = tempfile.mkdtemp(prefix="etl_stream_attr_")
    docs = load_table(spark, sf_dir, "documents")
    src = os.path.join(wd, "in")
    for i in range(4):
        (docs.filter(F.col("doc_id") % 4 == i)
         .select("doc_id", "lang", "text", "n_chars")
         .coalesce(1)
         .write.mode("append").parquet(src))
    schema = spark.read.parquet(src).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))

    log_dir = os.path.join(wd, "attr_log")

    def attribute_batch(batch_df: DataFrame, epoch_id: int) -> None:
        n_words = F.size(F.expr(tokens_sql("text")))
        (filter_attribution(batch_df, {
            "min_words": n_words >= 20,
            "max_words": n_words <= 90,
            "lang_known": F.col("lang").isin("en", "de", "es", "fr"),
            "min_chars": F.col("n_chars") >= 100,
        }).select("rule", "n_fail", "n_only_fail", "n_rows")
          .write.mode("append").parquet(log_dir))

    q = (
        stream.writeStream.foreachBatch(attribute_batch)
        .option("checkpointLocation", os.path.join(wd, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    folded = (
        spark.read.parquet(log_dir)
        .groupBy("rule")
        .agg(F.sum("n_fail").alias("n_fail"),
             F.sum("n_only_fail").alias("n_only_fail"),
             F.sum("n_rows").alias("n_rows"))
    )
    result = folded.select(
        "rule", "n_fail", "n_only_fail", "n_rows",
        F.round(F.col("n_fail") / F.col("n_rows"), 6).alias("fail_rate"))
    shutil.rmtree(src, ignore_errors=True)
    return result


from etl_router_spark.queries_llm import _attribution_oracle  # noqa: E402

_ORACLES["stream_filter_attribution"] = _attribution_oracle()


@query("stream_bloom_probe", None)  # oracle attached below (shared)
def stream_bloom_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING arm of Bloom decontamination — the continuous-ingest
    shape: the benchmark filter is built ONCE (``bloom_bitmap`` over
    the eval split), then each of three real micro-batches probes
    arriving documents with ``prebuilt_words`` (a pure map over the
    batch — no bitmap rebuild, no gram collection, no join; the array
    ships per executor via the broadcast transport) and appends only
    the clean survivors. The probe is per-document, so batch
    boundaries cannot change the result: the oracle is the batch
    gate's whole-corpus SQL, value-hash-pinning build-once/
    probe-forever across a multi-epoch streaming execution."""
    import os

    from etl_router_spark.functions.corpus import (
        bloom_bitmap,
        bloom_decontaminate,
    )
    from etl_router_spark.queries_llm import _BLOOM_M

    wd = tempfile.mkdtemp(prefix="etl_stream_bloom_")
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    words = bloom_bitmap(bench, n=8, m_bits=_BLOOM_M, k=3)

    src = os.path.join(wd, "in")
    for i in range(3):
        (docs.filter((F.col("doc_id") % 10 != 0)
                     & (F.col("doc_id") % 3 == i))
         .select("doc_id", "text", "lang", "source")
         .coalesce(1)
         .write.mode("append").parquet(src))
    schema = spark.read.parquet(src).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))

    out = os.path.join(wd, "out")

    def probe(batch_df: DataFrame, epoch_id: int) -> None:
        (bloom_decontaminate(batch_df, None, n=8, m_bits=_BLOOM_M, k=3,
                             prebuilt_words=words, broadcast=True)
         .select("doc_id", "lang", "source")
         .write.mode("append").parquet(out))

    q = (
        stream.writeStream.foreachBatch(probe)
        .option("checkpointLocation", os.path.join(wd, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    result = spark.read.parquet(out)
    shutil.rmtree(src, ignore_errors=True)
    return result


@query(
    "stream_shared_prefix_group",
    f"SELECT event_id, user_id FROM {EVENTS_US} WHERE value >= 100",
)
def stream_shared_prefix_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """run_streaming_group, value-oracled: two pipelines sharing
    (source, filter) fuse into ONE streaming query — each epoch
    computes the shared prefix once and fans both tails (the r11
    verdict ask: the shared-prefix optimizer applied to STREAMING,
    dsl/src/optimizer.rs:57-107 groups by source regardless of mode).
    The gate returns the SECOND pipeline's sink read back, the same
    tail the batch twin (pipeline_shared_prefix_group) hashes — a
    wrong seed, a prefix/tail boundary error, or a lost member sink is
    a hash mismatch."""
    import os

    from etl_router_spark.model.parser import parse_manifest_dict
    from etl_router_spark.streaming.group import run_streaming_group

    wd = tempfile.mkdtemp(prefix="etl_stream_grp_")
    src = os.path.join(wd, "in")
    load_table(spark, sf_dir, "events").write.mode("overwrite").parquet(src)

    def pipe(name: str, fields: list, out: str):
        return parse_manifest_dict(
            {"apiVersion": "etl.dev/v1", "kind": "Pipeline",
             "metadata": {"name": name},
             "spec": {"stages": [
                 {"id": "src", "type": "source",
                  "config": {"source_type": "file", "format": "parquet",
                             "path": src}},
                 {"id": "big", "type": "transform",
                  "config": {"transform_type": "filter",
                             "condition": {"type": "expression",
                                           "expression": "value >= 100"}}},
                 {"id": "t", "type": "transform",
                  "config": {"transform_type": "project",
                             "fields": fields}},
                 {"id": "out", "type": "sink",
                  "config": {"sink_type": "file", "format": "parquet",
                             "path": out}}]}})

    a = pipe("sgrp-a", ["event_id", "value"], os.path.join(wd, "out_a"))
    b = pipe("sgrp-b", ["event_id", "user_id"], os.path.join(wd, "out_b"))
    execu = run_streaming_group(spark, [a, b], os.path.join(wd, "ckpt"))
    assert len(execu.queries) == 1, "group must fuse into one query"
    execu.await_termination()
    result = spark.read.parquet(os.path.join(wd, "out_b"))
    shutil.rmtree(src, ignore_errors=True)
    return result


from etl_router_spark.queries import ORACLES as _Q_ORACLES  # noqa: E402

# per-document probe => batch boundaries are invisible: share the
# batch gate's oracle verbatim
_ORACLES["stream_bloom_probe"] = _Q_ORACLES["corpus_bloom_decontaminate"]


@query(
    "stream_group_stateful_tail",
    f"""
    SELECT DISTINCT user_id, event_type
    FROM {EVENTS_US} WHERE value >= 100
    """,
)
def stream_group_stateful_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r12 guard's CONTRACT, oracle-gated (the gate-the-wiring
    pattern that caught depends_on and the DLQ drop): a 2-member
    source group where one member's tail is STATEFUL (dedupe
    keep-first — dropDuplicates key state) run through
    ``run_streaming_group`` over THREE epochs (staged files,
    max_files_per_trigger=1). The returned frame is the stateful
    member's sink, which must hash-match DISTINCT semantics over the
    WHOLE stream regardless of fusion: pre-guard fusion replayed the
    tail per epoch, resetting dedupe state and emitting one survivor
    per key PER EPOCH (duplicates straddle the staged files by
    construction, so that bug is a row-count blowup, not a tie-break
    coincidence). Emit-mode anchor: types.rs:634-641,690-697 — the
    reference's aggregate/sessionize emit modes are cross-epoch
    semantics, which per-epoch replay silently changes."""
    import os
    import warnings

    from etl_router_spark.model.parser import parse_manifest_dict
    from etl_router_spark.streaming.group import run_streaming_group

    wd = tempfile.mkdtemp(prefix="etl_stream_sgt_")
    src = os.path.join(wd, "in")
    ev = load_table(spark, sf_dir, "events")
    # 3 staged files -> 3 epochs; user/event_type pairs recur across
    # files, so cross-epoch dedupe state is genuinely exercised
    for i in range(3):
        ev.filter(F.col("event_id") % 3 == i).coalesce(1) \
            .write.mode("append").parquet(src)

    def stages(tail):
        return [
            {"id": "src", "type": "source",
             "config": {"source_type": "file", "format": "parquet",
                        "path": src, "max_files_per_trigger": 1}},
            {"id": "big", "type": "transform",
             "config": {"transform_type": "filter",
                        "condition": {"type": "expression",
                                      "expression": "value >= 100"}}},
            *tail,
            {"id": "out", "type": "sink",
             "config": {"sink_type": "file", "format": "parquet",
                        "path": tail_out if tail is stateful_tail
                        else plain_out}}]

    plain_out = os.path.join(wd, "out_plain")
    tail_out = os.path.join(wd, "out_stateful")
    stateless_tail = [
        {"id": "t", "type": "transform",
         "config": {"transform_type": "project",
                    "fields": ["event_id", "user_id"]}}]
    stateful_tail = [
        {"id": "keys", "type": "transform",
         "config": {"transform_type": "project",
                    "fields": ["user_id", "event_type"]}},
        {"id": "one_per_key", "type": "transform",
         "config": {"transform_type": "dedupe",
                    "key_fields": ["user_id", "event_type"],
                    "keep": "first"}}]

    def pipe(name, tail):
        return parse_manifest_dict(
            {"apiVersion": "etl.dev/v1", "kind": "Pipeline",
             "metadata": {"name": name},
             "spec": {"stages": stages(tail)}})

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        execu = run_streaming_group(
            spark, [pipe("sgt-a", stateless_tail),
                    pipe("sgt-b", stateful_tail)],
            os.path.join(wd, "ckpt"))
    assert any("excluded from shared-prefix fusion" in str(w.message)
               for w in caught), "stateful tail must skip fusion"
    assert not any(k.startswith("group:") for k in execu.queries), \
        "1 fuseable member left => no fused query"
    execu.await_termination()
    result = spark.read.parquet(tail_out)
    shutil.rmtree(src, ignore_errors=True)
    return result
