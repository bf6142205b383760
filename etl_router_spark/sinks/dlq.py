"""Dead-letter-queue side-output.

Reproduces the reference's DLQ record model
(``conveyor-etl-dlq/src/record.rs:96-180``): a failed record is the
original row plus error context in reserved ``_dlq_*`` columns and a
``dlq.``-prefixed record_type. Error codes mirror ``record.rs:8-19``.

In Spark the DLQ is a side-output DataFrame: a validate/route condition
splits the stream, the failing side is enriched here and written to the
DLQ sink. Retry = re-drive the DLQ table through the pipeline with
``_dlq_retry_count`` incremented (policy semantics
``dlq/src/policy.rs:12-47``: max_retries default 3, exponential backoff
100ms*2^n capped 30s — backoff applies to the re-drive scheduler, not
inside the plan).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# record.rs:8-19 error codes
ERROR_CODES = (
    "UNKNOWN", "DESERIALIZATION", "VALIDATION", "TRANSFORM", "TIMEOUT",
    "RESOURCE_EXHAUSTED", "PERMISSION_DENIED", "UNAVAILABLE", "INTERNAL",
    "SCHEMA_MISMATCH",
)

DLQ_COLUMNS = (
    "_dlq_error_code",
    "_dlq_error_message",
    "_dlq_failed_stage",
    "_dlq_failed_stage_type",
    "_dlq_retry_count",
    "_dlq_first_failure",
    "_dlq_last_failure",
    "_dlq_pipeline",
    "_dlq_source",
    "_dlq_timestamp",
)


def to_dlq(
    df: DataFrame,
    *,
    error_code: str = "VALIDATION",
    error_message: str | Column = "",
    failed_stage: str = "",
    failed_stage_type: str = "transform",
    pipeline: str = "",
    source: str = "",
    record_type_col: str | None = "record_type",
) -> DataFrame:
    """Enrich a failing side-output with the reference's DLQ metadata.

    ``error_message`` is one literal for every row, or a Column for a
    per-row message (a service stage's ``__error``)."""
    if error_code not in ERROR_CODES:
        raise ValueError(f"unknown DLQ error code: {error_code!r}")
    now = F.current_timestamp()
    retry = (
        F.coalesce(F.col("_dlq_retry_count") + 1, F.lit(0))
        if "_dlq_retry_count" in df.columns
        else F.lit(0)
    )
    first_failure = (
        F.coalesce(F.col("_dlq_first_failure"), now)
        if "_dlq_first_failure" in df.columns
        else now
    )
    out = df
    if record_type_col and record_type_col in df.columns:
        # dlq.-prefixed record_type (record.rs:101-108)
        out = out.withColumn(
            record_type_col,
            F.when(
                F.col(record_type_col).startswith("dlq."), F.col(record_type_col)
            ).otherwise(F.concat(F.lit("dlq."), F.col(record_type_col))),
        )
    return (
        out.withColumn("_dlq_error_code", F.lit(error_code))
        .withColumn("_dlq_error_message", F.lit(error_message))
        .withColumn("_dlq_failed_stage", F.lit(failed_stage))
        .withColumn("_dlq_failed_stage_type", F.lit(failed_stage_type))
        .withColumn("_dlq_retry_count", retry)
        .withColumn("_dlq_first_failure", first_failure)
        .withColumn("_dlq_last_failure", now)
        .withColumn("_dlq_pipeline", F.lit(pipeline))
        .withColumn("_dlq_source", F.lit(source))
        .withColumn("_dlq_timestamp", now)
    )


def backoff_ms(retry_count: int, initial_ms: int = 100, multiplier: float = 2.0, max_ms: int = 30_000) -> int:
    """Exponential backoff for DLQ re-drive (policy.rs:33-47)."""
    return int(min(initial_ms * (multiplier ** retry_count), max_ms))


# policy.rs:12-21 / 62-72 defaults
DEFAULT_MAX_RETRIES = 3
DEFAULT_MAX_AGE_DAYS = 7


def redrive_eligible(
    dlq_df: DataFrame,
    max_retries: int = DEFAULT_MAX_RETRIES,
    max_age_days: int = DEFAULT_MAX_AGE_DAYS,
    as_of=None,
) -> DataFrame:
    """Rows still retryable: under the retry cap and not expired
    (age-based expiry, ``dlq/src/manager.rs:38-52``). ``as_of``
    (Column/literal timestamp) pins "now" for deterministic replays
    and tests; default is the wall clock."""
    now = F.lit(as_of).cast("timestamp") if as_of is not None else F.current_timestamp()
    return dlq_df.filter(
        (F.col("_dlq_retry_count") < max_retries)
        & (F.col("_dlq_first_failure")
           >= now - F.expr(f"INTERVAL {int(max_age_days)} DAYS"))
    )


def strip_dlq(df: DataFrame, keep_retry_state: bool = True) -> DataFrame:
    """Restore a DLQ row to its original shape for re-driving.

    ``keep_retry_state=True`` keeps ``_dlq_retry_count`` and
    ``_dlq_first_failure`` so a repeat failure increments the count and
    preserves first-failure time (``record.rs:96-180`` enrichment reads
    them); the pipeline's transforms ignore the two extra columns.
    """
    keep = {"_dlq_retry_count", "_dlq_first_failure"} if keep_retry_state else set()
    out = df.drop(*[c for c in df.columns if c.startswith("_dlq_") and c not in keep])
    if "record_type" in out.columns:
        out = out.withColumn(
            "record_type",
            F.when(
                F.col("record_type").startswith("dlq."),
                F.expr("substring(record_type, 5)"),
            ).otherwise(F.col("record_type")),
        )
    return out


def redrive(
    spark,
    pipeline,
    dlq_df: DataFrame,
    source_stage: str | None = None,
    max_retries: int = DEFAULT_MAX_RETRIES,
    max_age_days: int = DEFAULT_MAX_AGE_DAYS,
) -> "object":
    """Re-drive eligible DLQ rows through the pipeline (retry loop of
    ``dlq/src/manager.rs:87-105``): strip the ``_dlq_*`` envelope, feed
    the rows back in as the source, recompile. Rows that fail again are
    re-enriched with ``_dlq_retry_count + 1``. Returns the
    CompiledPipeline — caller runs it (and schedules the next attempt
    with ``backoff_ms``)."""
    from etl_router_spark.compile.pipeline import compile_pipeline

    eligible = strip_dlq(redrive_eligible(dlq_df, max_retries, max_age_days))
    src = source_stage or pipeline.sources()[0].id
    return compile_pipeline(spark, pipeline, source_overrides={src: eligible})
