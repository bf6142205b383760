"""Multi-dimensional data layout: Z-order (Morton) clustering keys.

Range-sorting a table by ONE column makes that column's per-file
min/max stats selective, but any other predicate still scans every
file. Z-ordering interleaves the bits of several columns' normalized
ranks into one sort key, so files cluster in a space-filling curve and
min/max pruning works for EVERY participating column at once — the
layout optimization behind Delta's ``OPTIMIZE ZORDER BY`` and
Iceberg's ``sort_order(zorder(...))``, implemented here as a pure
column expression feeding ``compact_files``.

Semantics (deterministic, engine-portable — the oracle gate recomputes
it in DuckDB):

1. normalize each column to a ``bits``-wide integer bucket by global
   min/max: ``floor((x - min) / (max - min) * (2^bits - 1))``
   (constant columns bucket to 0); nulls bucket to 0 (they sort
   first, matching NULLS FIRST file pruning).
2. interleave: output bit ``i*k + j`` is bit ``i`` of column ``j``
   (column order = significance order at equal bit position).

The min/max scalars ride as a broadcast 1-row cross join — no driver
collect, one extra aggregate job over the columns being z-ordered
(at 100 TB: a cheap columnar min/max scan, usually answered from
parquet footer stats by the aggregate pushdown rule).

Bit math stays in whole-stage codegen (`shiftleft`/`&`/`|` on longs);
k * bits <= 63 keeps the key in one BIGINT.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_router_spark.functions.sqltext import sql_ident


def _bucket(col: Column, cmin: Column, cmax: Column, bits: int) -> Column:
    """Normalized integer bucket in [0, 2^bits) by global min/max."""
    top = (1 << bits) - 1
    span = cmax.cast("double") - cmin.cast("double")
    scaled = F.floor(
        (col.cast("double") - cmin.cast("double")) / span * F.lit(float(top))
    )
    return (
        F.when(col.isNull() | (span <= 0), F.lit(0))
        .otherwise(F.least(F.greatest(scaled, F.lit(0)), F.lit(top)))
        .cast("bigint")
    )


def _interleave(buckets: list[Column], bits: int) -> Column:
    """Morton-interleave k bucket columns: out bit i*k+j = bit i of
    column j. Generated as a flat OR of shift/mask terms (pure
    codegen; 2 cols x 16 bits = 32 terms)."""
    k = len(buckets)
    z = F.lit(0).cast("bigint")
    for j, b in enumerate(buckets):
        for i in range(bits):
            z = z.bitwiseOR(
                F.shiftleft(b.bitwiseAND(F.lit(1 << i)), i * (k - 1) + j)
            )
    return z


def zorder_key(
    df: DataFrame, cols: list[str], bits: int = 16, key_col: str = "__zkey"
) -> DataFrame:
    """Attach the Z-order key column for ``cols`` (numeric/temporal).

    One min/max aggregate over the participating columns broadcasts
    back onto the rows; the interleave itself is stateless codegen.
    """
    if not cols:
        raise ValueError("zorder_key needs at least one column")
    if len(cols) * bits > 63:
        raise ValueError(f"{len(cols)} cols x {bits} bits exceeds a BIGINT")
    aggs = []
    for c in cols:
        aggs.append(F.min(F.col(c).cast("double")).alias(f"__min_{c}"))
        aggs.append(F.max(F.col(c).cast("double")).alias(f"__max_{c}"))
    stats = df.agg(*aggs)
    buckets = [
        _bucket(
            F.col(c), F.col(sql_ident(f"__min_{c}", alias=True)),
            F.col(sql_ident(f"__max_{c}", alias=True)), bits
        )
        for c in cols
    ]
    out = df.crossJoin(F.broadcast(stats)).withColumn(
        key_col, _interleave(buckets, bits)
    )
    return out.drop(*[f"__min_{c}" for c in cols], *[f"__max_{c}" for c in cols])


def zorder_oracle_sql(
    table_expr: str, cols: list[str], bits: int = 16
) -> str:
    """The DuckDB twin of ``zorder_key`` as a SELECT fragment yielding
    every column of ``table_expr`` plus ``zkey`` — generated from the
    same (cols, bits) spec so both engines interleave identically."""
    top = (1 << bits) - 1
    k = len(cols)
    mins = ", ".join(
        f"min(CAST({c} AS DOUBLE)) AS mn_{c}, max(CAST({c} AS DOUBLE)) AS mx_{c}"
        for c in cols
    )
    bucket_exprs = []
    for c in cols:
        span = f"(s.mx_{c} - s.mn_{c})"
        scaled = f"floor((CAST(t.{c} AS DOUBLE) - s.mn_{c}) / {span} * {float(top)!r})"
        bucket_exprs.append(
            f"CASE WHEN t.{c} IS NULL OR {span} <= 0 THEN 0 "
            f"ELSE CAST(least(greatest({scaled}, 0), {top}) AS BIGINT) END AS b_{c}"
        )
    terms = []
    for j, c in enumerate(cols):
        for i in range(bits):
            terms.append(f"((b.b_{c} & {1 << i}) << {i * (k - 1) + j})")
    zexpr = " | ".join(terms)
    return f"""
    stats AS (SELECT {mins} FROM {table_expr}),
    bucketed AS (SELECT t.*, {", ".join(bucket_exprs)}
                 FROM {table_expr} t CROSS JOIN stats s),
    zkeyed AS (SELECT b.*, ({zexpr}) AS zkey FROM bucketed b)
    """
