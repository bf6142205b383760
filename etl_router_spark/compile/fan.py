"""Fan-in (union) and fan-out (multi-sink) stages.

Fan-in (``dsl/src/types.rs:807-819``, ``convert.rs:108-151``): >=2 inputs
are normalized by per-source field mappings then unioned. Fan-out
(``types.rs:822-831``, ``engine.rs:324-352``) needs no operator: the
compiler passes the stream through a ``fan_out`` stage, each sink applies
its own field mapping, and a batch fan-out's upstream is persisted once
and released after the run (``compile.pipeline``).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame

from etl_router_spark.compile.transforms import apply_map
from etl_router_spark.model.manifest import FieldMapping


def apply_fan_in(
    inputs: list[DataFrame],
    mappings_per_input: list[list[FieldMapping] | None] | None = None,
    allow_missing_columns: bool = True,
    tags: list[str] | None = None,
    tag_field: str = "__source_id",
) -> DataFrame:
    """Normalize each input via its field mappings, then unionByName.

    Mapped inputs are authoritative selects (unmapped fields dropped,
    engine.rs:294-321); unmapped inputs pass through and
    ``allowMissingColumns`` null-fills the difference. ``tags`` adds a
    per-input source-id column (used by the runner's fan-in watermark
    tracker to attribute rows to sources, watermark.rs:84-98).
    """
    if len(inputs) < 2:
        raise ValueError("fan_in requires >= 2 inputs")
    from pyspark.sql import functions as F

    mapped: list[DataFrame] = []
    for i, df in enumerate(inputs):
        ms = (mappings_per_input or [None] * len(inputs))[i]
        out = apply_map(df, ms, drop_unmapped=True) if ms else df
        if tags is not None:
            out = out.withColumn(tag_field, F.lit(tags[i]))
        mapped.append(out)
    return reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=allow_missing_columns), mapped
    )
