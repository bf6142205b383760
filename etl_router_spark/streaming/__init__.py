"""Streaming mode: the same compiled DAG over Structured Streaming.

``compile_pipeline(spark, pipeline, streaming=True)`` reads sources via
``readStream`` and applies declared watermarks; ``run_streaming`` turns
the compiled sinks into checkpointed StreamingQueries (SURVEY §2.8
mapping table).
"""

from etl_router_spark.streaming.group import run_streaming_group
from etl_router_spark.streaming.runner import (
    StreamingExecution,
    infer_output_mode,
    run_streaming,
)
from etl_router_spark.functions.stateful import streaming_ratelimit
from etl_router_spark.streaming.watermark import (
    SourceWatermarkTracker,
    track_source_watermarks,
)

__all__ = [
    "SourceWatermarkTracker",
    "StreamingExecution",
    "infer_output_mode",
    "run_streaming",
    "run_streaming_group",
    "streaming_ratelimit",
    "track_source_watermarks",
]
