"""Table profiling: per-column data-quality statistics in one pass.

The validation counterpart of the transform surface (reference's
``validate`` checks records one at a time against a schema,
``conveyor-etl-dsl/src/types.rs:496-516``; profiling is the batch-side
complement that tells you WHAT to validate). One row out per profiled
column: null count, distinct count, min/max, and mean/stddev for
numerics.

Scale design: ALL columns profile in a SINGLE aggregation pass — one
job, no shuffle beyond the one-row global aggregate (map-side partials
do the work). Distinct counts use HyperLogLog sketches
(``approx_count_distinct``) by default: exact distinct per column would
cost one shuffle per column at full width; the sketch keeps the whole
profile map-side. ``exact_distinct=True`` opts into the exact path for
oracle parity / small tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_router_spark.functions.sqltext import sql_ident, sql_str

_NUMERIC = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)


def profile_table(
    df: DataFrame,
    columns: list[str] | None = None,
    exact_distinct: bool = False,
) -> DataFrame:
    """One profile row per column: (column, n_rows, n_nulls,
    n_distinct, min_value, max_value, mean, stddev).

    min/max are rendered as strings so heterogeneous column types fit
    one output schema; mean/stddev are NULL for non-numeric columns.
    """
    cols = columns or df.columns
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        dt = df.schema[c].dataType
        is_num = isinstance(dt, _NUMERIC)
        # coalesce: sum() over zero rows is NULL, but "no rows" means
        # zero nulls, not unknown
        aggs.append(
            F.coalesce(F.sum(F.col(c).isNull().cast("bigint")), F.lit(0)).alias(f"__nulls_{c}")
        )
        if exact_distinct:
            aggs.append(F.countDistinct(F.col(c)).alias(f"__dist_{c}"))
        else:
            aggs.append(F.approx_count_distinct(F.col(c)).alias(f"__dist_{c}"))
        aggs.append(F.min(F.col(c)).cast("string").alias(f"__min_{c}"))
        aggs.append(F.max(F.col(c)).cast("string").alias(f"__max_{c}"))
        if is_num:
            aggs.append(F.round(F.avg(F.col(c)), 6).alias(f"__mean_{c}"))
            aggs.append(F.round(F.stddev_samp(F.col(c)), 6).alias(f"__std_{c}"))
        else:
            aggs.append(F.lit(None).cast("double").alias(f"__mean_{c}"))
            aggs.append(F.lit(None).cast("double").alias(f"__std_{c}"))
    wide = df.agg(*aggs)
    # one wide row -> one row per column, via a literal-built stack
    structs = F.array(*[
        F.struct(
            F.lit(c).alias("column"),
            F.col("__n").alias("n_rows"),
            *[F.col(sql_ident(f"__{stat}_{c}", alias=True)).alias(name) for stat, name in (
                ("nulls", "n_nulls"), ("dist", "n_distinct"), ("min", "min_value"),
                ("max", "max_value"), ("mean", "mean"), ("std", "stddev"))],
        )
        for c in cols
    ])
    return wide.select(F.explode(structs).alias("p")).select("p.*")


def profile_histogram(
    df: DataFrame,
    column: str,
    bins: int = 20,
) -> DataFrame:
    """Equi-width histogram of a numeric column: (bin, lo, hi, n).

    The min/max bounds come from one aggregate riding back as a
    broadcast 1-row cross join (footer-answerable under the parquet
    aggregate pushdown); binning is a pure map-side expression and the
    count one groupBy of at most ``bins`` keys — two cheap jobs at any
    scale. The top bin is closed (x == max folds in) so every non-null
    value lands in exactly one bin.
    """
    stats = df.agg(
        F.min(F.col(column).cast("double")).alias("__mn"),
        F.max(F.col(column).cast("double")).alias("__mx"),
    )
    width = (F.col("__mx") - F.col("__mn")) / bins
    bin_col = F.when(
        F.col("__mx") <= F.col("__mn"), F.lit(0)
    ).otherwise(
        F.least(
            F.floor((F.col(column).cast("double") - F.col("__mn")) / width),
            F.lit(bins - 1),
        )
    ).cast("bigint")
    return (
        df.filter(F.col(column).isNotNull())
        .crossJoin(F.broadcast(stats))
        .withColumn("bin", bin_col)
        .groupBy("bin")
        .agg(F.count("*").alias("n"))
        .crossJoin(F.broadcast(stats))
        .select(
            "bin",
            F.round(F.col("__mn") + F.col("bin") * (F.col("__mx") - F.col("__mn")) / bins, 6).alias("lo"),
            F.round(F.col("__mn") + (F.col("bin") + 1) * (F.col("__mx") - F.col("__mn")) / bins, 6).alias("hi"),
            "n",
        )
    )


def sketch_profile(
    df: DataFrame,
    group_col: str,
    distinct_cols: list[str],
    lg_k: int = 12,
    size_col: str | None = None,
) -> DataFrame:
    """Per-group MERGEABLE statistics: row count, optional unit sum,
    and one Apache DataSketches HLL sketch (binary) per tracked column
    — the persistable artifact that makes corpus statistics
    incremental, the way the MinHash index makes fuzzy dedup
    incremental.

    The nightly problem: "distinct n-grams / urls / shingles per
    domain" is a full-corpus scan+shuffle to recompute, every night,
    forever. Sketches change the shape: profile each ingest BATCH once
    (this function), persist the per-group sketch rows (KB per group),
    and fold new batches in with :func:`merge_sketch_profiles` — cost
    proportional to #groups, never to the corpus. Spark's
    hll_sketch_agg/hll_union_agg are DataSketches-compatible, so the
    sketch column round-trips through parquet and merges across jobs.

    Accuracy: standard HLL relative error ~1.04/sqrt(2^lg_k) (~1.6% at
    the lg_k=12 default); estimates are deterministic for identical
    input. No SQL oracle can reproduce the sketch binaries, so the
    gate is rows-only and accuracy/associativity are pytest-pinned
    against exact distinct counts (``tests/test_sketch_profile.py``).
    """
    aggs = [F.count("*").alias("n_rows")]
    if size_col:
        aggs.append(F.sum(F.col(size_col).cast("double"))
                     .alias(f"sum_{size_col}"))
    for c in distinct_cols:
        aggs.append(F.hll_sketch_agg(F.col(c), F.lit(int(lg_k)))
                     .alias(f"{c}_sketch"))
    return df.groupBy(group_col).agg(*aggs)


def merge_sketch_profiles(
    existing: DataFrame,
    batch: DataFrame,
    group_col: str,
) -> DataFrame:
    """Fold a new batch's sketch-profile rows into the persisted table:
    counts/sums add, sketches HLL-union — groups present on one side
    only pass through. Output schema == input schema, so the merge
    composes nightly. Cost: one groupBy over 2x #groups rows —
    corpus-independent by construction."""
    if set(existing.columns) != set(batch.columns):
        raise ValueError(
            "merge_sketch_profiles: schemas differ: "
            f"{sorted(existing.columns)} vs {sorted(batch.columns)}")
    return fold_sketch_profiles(existing.unionByName(batch), group_col)


def fold_sketch_profiles(log: DataFrame, group_col: str) -> DataFrame:
    """Compact a profile LOG — any number of per-batch sketch-profile
    rows appended over time (the crash-safe streaming shape: each
    micro-batch appends its own rows, nothing rewrites) — into one row
    per group: counts/sums add, ``*_sketch`` columns HLL-union. Merge
    associativity makes the append-then-fold result identical to
    eager pairwise merging; :func:`merge_sketch_profiles` is the
    two-frame special case. Cost: one groupBy over #batches x #groups
    rows — corpus-independent."""
    aggs = []
    for c in log.columns:
        if c == group_col:
            continue
        if c.endswith("_sketch"):
            # allowDifferentLgConfigK: batches may tighten lg_k later
            aggs.append(F.hll_union_agg(F.col(c), F.lit(True)).alias(c))
        else:
            aggs.append(F.sum(c).alias(c))
    # sum(bigint) stays bigint and sum(double) stays double in Spark,
    # so the output schema matches the input and merges compose
    return log.groupBy(group_col).agg(*aggs)


def estimate_sketch_profile(profile: DataFrame) -> DataFrame:
    """Render a sketch-profile table for consumption: every
    ``*_sketch`` binary becomes ``*_distinct`` (bigint HLL estimate);
    other columns pass through. Pure map-side projection."""
    cols = []
    for c in profile.columns:
        if c.endswith("_sketch"):
            cols.append(F.hll_sketch_estimate(F.col(c))
                         .alias(c[: -len("_sketch")] + "_distinct"))
        else:
            cols.append(F.col(c))
    return profile.select(*cols)


def histogram_sketch(
    df: DataFrame,
    group_col: str,
    value_col: str,
    bins: list[float],
) -> DataFrame:
    """Per-group MERGEABLE fixed-boundary histogram — the quantile
    complement of :func:`sketch_profile`'s HLL table: profile each
    ingest batch once, persist the per-group rows, fold new batches in
    with :func:`merge_sketch_profiles` (bin counts are plain bigint
    columns, so the SAME merge function serves both sketch kinds), and
    read quantile estimates off the folded table with
    :func:`estimate_histogram_quantile` — distribution-drift
    monitoring whose nightly cost is proportional to #groups, never
    the corpus.

    ``bins`` are strictly-increasing interior boundaries; value v
    lands in bin ``#boundaries <= v`` (bin_0 = underflow below
    bins[0], bin_B = overflow at/above bins[-1]). Unlike
    :func:`profile_histogram`, the boundaries are FIXED by contract
    rather than derived from data — the property that makes two
    batches' histograms addable. Binning is a chain of literal
    comparisons (whole-stage codegen, no Python, no higher-order
    funcs); the whole profile is ONE aggregation pass.

    Output: ``group_col, n_rows (non-null), n_nulls, sum_value,
    bin_0..bin_B`` — exactly SQL-reproducible, so the gate value-checks
    batch-profile + merge + estimate end to end.
    """
    if sorted(bins) != list(bins) or len(set(bins)) != len(bins):
        raise ValueError("bins must be strictly increasing")
    if not bins:
        raise ValueError("need at least one bin boundary")
    v = F.col(value_col).cast("double")
    idx = None
    for b in bins:
        t = F.when(v >= float(b), 1).otherwise(0)
        idx = t if idx is None else idx + t
    aggs = [
        F.sum(v.isNotNull().cast("bigint")).alias("n_rows"),
        F.sum(v.isNull().cast("bigint")).alias("n_nulls"),
        # kept UNROUNDED: rounding per batch would make fold-then-read
        # differ from a whole-corpus profile for fractional values
        # (mergeability is bit-exact only if the persisted state is);
        # round in readout functions, never in the sketch
        F.coalesce(F.sum(v), F.lit(0.0)).alias("sum_value"),
    ]
    for i in range(len(bins) + 1):
        aggs.append(
            F.sum(F.when(v.isNotNull() & (idx == i), 1).otherwise(0))
            .cast("bigint").alias(f"bin_{i}"))
    return df.groupBy(group_col).agg(*aggs)


def estimate_histogram_quantile(
    profile: DataFrame,
    bins: list[float],
    q: float,
    out_col: str = "q_est",
) -> DataFrame:
    """Per-group quantile estimate off a (possibly merged)
    :func:`histogram_sketch` table: find the bin where the cumulative
    count crosses ``q * n_rows`` and interpolate linearly inside it.
    The unbounded edge bins clamp to their finite boundary (the
    honest answer a fixed-boundary histogram can give). Error is
    bounded by bin width by construction — size ``bins`` to the
    resolution the drift monitor needs. Pure map-side projection over
    #groups rows; rounded to 6 decimals so engines compare exactly.
    """
    if not 0.0 < q < 1.0:
        raise ValueError("q must be in (0, 1)")
    B = len(bins)
    target = F.lit(float(q)) * F.col("n_rows").cast("double")
    cum = F.col("bin_0").cast("double")
    est = F.when(cum >= target, F.lit(float(bins[0])))
    for i in range(1, B):
        lo, width = float(bins[i - 1]), float(bins[i] - bins[i - 1])
        c = F.col(f"bin_{i}").cast("double")
        est = est.when(
            (cum + c) >= target,
            F.lit(lo) + F.lit(width) * (target - cum)
            / F.when(c > 0, c).otherwise(F.lit(1.0)),
        )
        cum = cum + c
    est = est.otherwise(F.lit(float(bins[-1])))
    return profile.withColumn(
        out_col,
        F.when(F.col("n_rows") > 0, F.round(est, 6)).otherwise(F.lit(None)))


def sample_sketch(
    df: DataFrame,
    group_col: str,
    k: int = 10,
    id_col: str = "doc_id",
    payload_cols: list[str] | None = None,
    salt: str = "s1",
) -> DataFrame:
    """Per-group MERGEABLE uniform sample — the bottom-k (KMV) sketch:
    keep the ``k`` rows whose ``h60(salt|id)`` rank key is smallest
    within each group. min-by-hash is associative, so folding any
    number of per-batch samples (:func:`fold_sample_sketches`) yields
    EXACTLY the sample a whole-corpus pass would pick — the third leg
    of the incremental-statistics trio (HLL = distinct counts,
    histograms = distributions, bottom-k = actual representative rows
    you can read), at #groups x k rows of state forever.

    Uniformity: the hash is content-independent, so membership is a
    uniform draw over ids regardless of arrival order or batch
    boundaries; ``salt`` rotates the draw. Plan: one projection + one
    per-group top-k window (the same shape as ``corpus.group_topk``) —
    applied per BATCH, never to the corpus.

    Output: ``group_col, rank_key, id_col`` + ``payload_cols``, one
    row per sampled row (log-friendly: appending batches then folding
    is the crash-safe streaming shape shared with the other sketches).
    """
    from pyspark.sql import Window

    from etl_router_spark.functions.text import h60_sql

    if k <= 0:
        raise ValueError("sample_sketch: k must be positive")
    cols = [group_col, id_col] + list(payload_cols or [])
    keyed = df.select(*cols).withColumn("rank_key", F.expr(h60_sql(
        f"concat_ws('|', {sql_str(salt)}, CAST({sql_ident(id_col)} AS STRING))")))
    w = Window.partitionBy(group_col).orderBy(
        F.asc("rank_key"), F.asc(id_col))
    return (
        keyed.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def fold_sample_sketches(
    log: DataFrame,
    group_col: str,
    k: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Compact a sample-sketch log (per-batch bottom-k rows appended
    over time) back to the per-group bottom-k: the same window over
    #batches x #groups x k rows — corpus-independent. Re-applying with
    the same ``k`` is idempotent; ids arriving in multiple batches
    dedup by id before ranking so a re-ingested document cannot occupy
    two sample slots. The dedup winner is DETERMINISTIC when any
    payload column is ORDERABLE: ties order by the orderable payload
    tuple (not ``dropDuplicates``, whose survivor depends on
    partitioning), so a re-ingested document with changed payload
    folds to the same row on every run. Non-orderable payload types
    (``map<...>``) cannot appear in a window ``orderBy`` — they are
    skipped, and when NO payload column is orderable the fold falls
    back to ``dropDuplicates`` (correct k-sample, arbitrary survivor
    among payload variants of the same id)."""
    from pyspark.sql import Window
    from pyspark.sql.types import ArrayType, MapType, StructType

    def orderable(dt) -> bool:
        if isinstance(dt, MapType):
            return False
        if isinstance(dt, ArrayType):
            return orderable(dt.elementType)
        if isinstance(dt, StructType):
            return all(orderable(f.dataType) for f in dt.fields)
        return True

    payload = [c for c in log.columns if c not in (group_col, id_col)]
    dtypes = {f.name: f.dataType for f in log.schema.fields}
    ord_payload = [c for c in payload if orderable(dtypes[c])]
    if ord_payload:
        dw = Window.partitionBy(group_col, id_col).orderBy(
            *[F.asc(c) for c in ord_payload])
        deduped = (
            log.withColumn("__dn", F.row_number().over(dw))
            .filter(F.col("__dn") == 1)
            .drop("__dn")
        )
    else:
        deduped = log.dropDuplicates([group_col, id_col])
    w = Window.partitionBy(group_col).orderBy(
        F.asc("rank_key"), F.asc(id_col))
    return (
        deduped.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def histogram_drift(
    profile_a: DataFrame,
    profile_b: DataFrame,
    group_col: str,
    smooth: float = 0.5,
) -> DataFrame:
    """Per-group distribution drift between two
    :func:`histogram_sketch` tables — the reason the histograms are
    kept at all: compare yesterday's (or the reference snapshot's)
    per-domain length/quality distribution against today's without
    touching either corpus.

    Metrics per group (computed over add-``smooth``-smoothed bin
    probabilities, so empty bins are defined):

    - ``psi``: Population Stability Index,
      sum_i (p_a_i - p_b_i) * ln(p_a_i / p_b_i) — the standard
      production drift score (rule of thumb: < 0.1 stable, > 0.25
      investigate);
    - ``l1``: total variation x2, sum_i |p_a_i - p_b_i| — bounded
      [0, 2], robust companion when a bin is near-empty.

    Groups present in only one table are dropped (inner join): drift
    is undefined without both sides — union the profile first if
    appearance/disappearance itself is the signal. Pure #groups-row
    math (one broadcast-sized join, map-side arithmetic); rounded to
    6 decimals so engines compare exactly.
    """
    bins = sorted(
        int(c[len("bin_"):]) for c in profile_a.columns
        if c.startswith("bin_") and c[len("bin_"):].isdigit())
    if not bins or bins != list(range(len(bins))):
        raise ValueError("profile_a lacks a contiguous bin_0..bin_B set")
    missing = [f"bin_{i}" for i in bins if f"bin_{i}" not in profile_b.columns]
    if missing:
        raise ValueError(f"profile_b lacks bin columns: {missing}")
    s = float(smooth)
    B1 = len(bins)
    a = profile_a.select(
        group_col, F.col("n_rows").alias("__na"),
        *[F.col(f"bin_{i}").alias(f"__a{i}") for i in bins])
    b = profile_b.select(
        group_col, F.col("n_rows").alias("__nb"),
        *[F.col(f"bin_{i}").alias(f"__b{i}") for i in bins])
    j = a.join(b, group_col)
    den_a = F.col("__na").cast("double") + F.lit(s * B1)
    den_b = F.col("__nb").cast("double") + F.lit(s * B1)
    psi = None
    l1 = None
    for i in bins:
        pa = (F.col(f"__a{i}").cast("double") + F.lit(s)) / den_a
        pb = (F.col(f"__b{i}").cast("double") + F.lit(s)) / den_b
        term = (pa - pb) * (F.log(pa) - F.log(pb))
        diff = F.abs(pa - pb)
        psi = term if psi is None else psi + term
        l1 = diff if l1 is None else l1 + diff
    return j.select(
        group_col,
        F.col("__na").cast("long").alias("n_rows_a"),
        F.col("__nb").cast("long").alias("n_rows_b"),
        F.round(psi, 6).alias("psi"),
        F.round(l1, 6).alias("l1"),
    )
