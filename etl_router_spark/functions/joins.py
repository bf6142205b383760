"""Temporal joins Spark lacks as built-ins: as-of join and bounded
range join.

Neither exists in the reference engine (its join transform is pure
equi-key stream enrichment, ``conveyor-etl-dsl/src/types.rs`` join
config); both are table-stakes for event/feature pipelines at scale,
so they ship as first-class operators with exact oracles.

Scale design:

- ``asof_join``: the union-marker formulation — one shuffle of both
  sides by key, one window sort per key, no range explosion. This is
  the canonical distributed as-of (what Flink's temporal join and
  pandas ``merge_asof`` do, re-expressed relationally): tag rows with
  a side marker, sort (key, ts, marker) and carry the last right-side
  payload forward with ``last(ignorenulls)``. Cost is one sort-shuffle
  regardless of time-range width; a hot key concentrates its rows on
  one task (same caveat as any keyed window — salt upstream if a
  single key exceeds a task).
- ``range_join``: equi-join on coarse time buckets + exact filter.
  A naive theta-join (``r.ts BETWEEN l.ts+lo AND l.ts+hi``) is a
  broadcast-nested-loop at best; bucketing turns it into a hash join
  whose fan-out is bounded by ``(hi-lo)/bucket + 1`` buckets per left
  row. Each right row has exactly one bucket, so no post-join dedup.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etl_router_spark.functions.sqltext import sql_ident


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    left_ts: str = "ts",
    right_ts: str | None = None,
    tolerance_sec: float | None = None,
    suffix: str = "_r",
    direction: str = "backward",
) -> DataFrame:
    """For each left row, attach one right row of the same key chosen
    by ``direction`` (all bounds inclusive):

    - ``backward`` (default): latest right with ``r.ts <= l.ts`` —
      DuckDB ``ASOF JOIN ON l.ts >= r.ts`` semantics.
    - ``forward``: earliest right with ``r.ts >= l.ts``.
    - ``nearest``: whichever of the two is closer in time; exact ties
      resolve backward.

    Left join: unmatched left rows keep nulls. ``tolerance_sec`` drops
    matches farther than the horizon (applied per direction before the
    nearest tie-break).

    Right payload columns arrive suffixed; the matched right timestamp
    is ``<right_ts><suffix>``. One keyed shuffle regardless of
    direction — the union-marker window never explodes candidate pairs.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"direction must be backward|forward|nearest, got {direction!r}")
    keys = [on] if isinstance(on, str) else list(on)
    right_ts = right_ts or left_ts

    r_payload = [c for c in right.columns if c not in keys]
    l_payload = [c for c in left.columns if c not in keys]

    # one struct carries the whole right row: last(ignorenulls) then
    # picks an ATOMIC most-recent match — per-column carry would mix
    # rows when right columns contain legitimate nulls
    r_side = right.select(
        *[F.col(k) for k in keys],
        F.col(right_ts).alias("__t"),
        F.lit(0).alias("__is_left"),
        F.struct(*[F.col(c) for c in r_payload]).alias("__r"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(f"__l_{c}") for c in l_payload],
    )
    l_side = left.select(
        *[F.col(k) for k in keys],
        F.col(left_ts).alias("__t"),
        F.lit(1).alias("__is_left"),
        F.lit(None).cast(r_side.schema["__r"].dataType).alias("__r"),
        *[F.col(c).alias(f"__l_{c}") for c in l_payload],
    )
    if direction in ("forward", "nearest") and right_ts not in r_payload:
        raise ValueError(
            f"direction={direction!r} needs the right timestamp column "
            f"{right_ts!r} outside the join keys"
        )
    # backward: right (0) sorts before left (1) at equal ts, frame ends
    # at the current row => the equal-ts right row is inside => inclusive
    w_b = (
        Window.partitionBy(*keys)
        .orderBy(F.col("__t"), F.col("__is_left"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # forward mirror: right sorts AFTER left at equal ts, frame starts
    # at the current row => equal-ts right row still visible
    w_f = (
        Window.partitionBy(*keys)
        .orderBy(F.col("__t"), F.col("__is_left").desc())
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    u = l_side.unionByName(r_side)
    if direction == "backward":
        carried = u.withColumn("__match", F.last("__r", ignorenulls=True).over(w_b))
    elif direction == "forward":
        carried = u.withColumn("__match", F.first("__r", ignorenulls=True).over(w_f))
    else:
        carried = u.withColumn(
            "__mb", F.last("__r", ignorenulls=True).over(w_b)
        ).withColumn("__mf", F.first("__r", ignorenulls=True).over(w_f))
    carried = carried.filter(F.col("__is_left") == 1)

    lt = F.col("__t").cast("double")

    def _within(match: Column, backward: bool) -> Column:
        """Null out a directional match beyond the tolerance horizon."""
        if tolerance_sec is None or right_ts not in r_payload:
            return match
        mt = match[right_ts].cast("double")
        ok = (
            mt >= lt - F.lit(float(tolerance_sec))
            if backward
            else mt <= lt + F.lit(float(tolerance_sec))
        )
        return F.when(ok, match)

    if direction == "nearest":
        mb = _within(F.col("__mb"), backward=True)
        mf = _within(F.col("__mf"), backward=False)
        tb = mb[right_ts].cast("double")
        tf = mf[right_ts].cast("double")
        carried = carried.withColumn(
            "__match",
            F.when(mb.isNull(), mf)
            .when(mf.isNull(), mb)
            .when(lt - tb <= tf - lt, mb)
            .otherwise(mf),
        ).drop("__mb", "__mf")
    else:
        carried = carried.withColumn(
            "__match", _within(F.col("__match"), backward=direction == "backward")
        )
    return carried.select(
        *[F.col(k) for k in keys],
        *[F.col(sql_ident(f"__l_{c}", alias=True)).alias(c) for c in l_payload],
        *[F.col(f"__match.{sql_ident(c, alias=True)}").alias(f"{c}{suffix}")
          for c in r_payload],
    )


def range_join(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_ts: str,
    lower_sec: float,
    upper_sec: float,
    on: str | list[str] | None = None,
    bucket_sec: float | None = None,
    suffix: str = "_r",
) -> DataFrame:
    """All (left, right) pairs with ``right.ts`` in
    ``[left.ts + lower_sec, left.ts + upper_sec]`` (inclusive), plus
    optional equi-keys ``on``.

    Implemented as an equi-join on coarse time buckets: each left row
    lists every bucket its window overlaps (``sequence`` + ``explode``,
    at most ``(upper-lower)/bucket + 2``), each right row lands in
    exactly one, the join runs on (keys, bucket) through the normal
    hash-join machinery — shuffled, AQE-skew-splittable — and the exact
    interval predicate filters the candidates.
    """
    if upper_sec < lower_sec:
        raise ValueError("upper_sec must be >= lower_sec")
    keys = [] if on is None else ([on] if isinstance(on, str) else list(on))
    bucket = float(bucket_sec or max(upper_sec - lower_sec, 1.0))

    lt = F.col(left_ts).cast("double")
    rt = F.col(right_ts).cast("double")

    l_payload = [c for c in left.columns if c not in keys]
    r_payload = [c for c in right.columns if c not in keys]
    lo_b = F.floor((lt + F.lit(float(lower_sec))) / bucket).cast("bigint")
    hi_b = F.floor((lt + F.lit(float(upper_sec))) / bucket).cast("bigint")
    # explicit aliases: both sides often derive from the SAME source
    # (self-joins on an event table), which otherwise trips Spark's
    # ambiguous-self-join detection
    l_b = left.withColumn("__bucket", F.explode(F.sequence(lo_b, hi_b))).alias("__rj_l")
    r_b = right.withColumn("__bucket", F.floor(rt / bucket).cast("bigint")).alias("__rj_r")

    def lc(c: str) -> Column:
        return F.col(f"__rj_l.{sql_ident(c, alias=True)}")

    def rc(c: str) -> Column:
        return F.col(f"__rj_r.{sql_ident(c, alias=True)}")

    cond = [lc("__bucket") == rc("__bucket")]
    cond += [lc(k) == rc(k) for k in keys]
    exact = (rc(right_ts).cast("double") >= lc(left_ts).cast("double") + lower_sec) & (
        rc(right_ts).cast("double") <= lc(left_ts).cast("double") + upper_sec
    )
    joined = l_b.join(r_b, _and_all(cond), "inner")
    return joined.filter(exact).select(
        *[lc(k).alias(k) for k in keys],
        *[lc(c).alias(c) for c in l_payload],
        *[rc(c).alias(f"{c}{suffix}") for c in r_payload],
    )


def _and_all(conds: list[Column]) -> Column:
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return out
