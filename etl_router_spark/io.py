"""Canonical table loading for the synthetic test fixtures.

``/root/testdata/sf*/`` parquet files mostly use µs/ms timestamps, but
``events.ts`` is TIMESTAMP(NANOS) which Spark's vectorized parquet reader
rejects. With ``spark.sql.legacy.parquet.nanosAsLong=true`` the column
arrives as BIGINT nanoseconds; ``load_table`` converts it back to a
proper TimestampType in-plan (``timestamp_micros(ns div 1000)``) —
distributed, no driver materialization, floor semantics identical to
DuckDB's ns->µs cast so oracle comparisons stay exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# columns known to be event-time nanos in the fixtures
_NANO_TS_COLUMNS = {"events": ["ts"]}


_PYFILES_SHIPPED: set[str] = set()


def ensure_worker_imports(spark: SparkSession) -> None:
    """Make ``etl_router_spark`` importable on executor Python workers
    regardless of how the session was launched.

    Operators that cross the Python boundary (Python DataSource,
    module-level classes referenced from pandas UDFs) pickle BY
    REFERENCE, so workers must import this package. A session built by
    someone else (the driver harness, a notebook) may have neither
    PYTHONPATH nor a helpful cwd; ``addPyFile`` is the one mechanism
    that still works on an already-running context — ship the package
    as a zip once per application (same job ``--py-files`` does on a
    real cluster at submit time).
    """
    import os
    import tempfile
    import zipfile

    app = spark.sparkContext.applicationId
    if app in _PYFILES_SHIPPED:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    # Content-addressed zip name: an existence-cached fixed name went
    # stale the moment the package gained a module (workers then raised
    # ModuleNotFoundError for anything newer than the first session on
    # the machine). Hash the source listing (path, mtime, size) so any
    # edit produces a fresh archive; older zips on sys.path are
    # shadowed because addPyFile prepends.
    import hashlib

    h = hashlib.sha256()
    for dirpath, _, files in sorted(os.walk(pkg_dir)):
        for f in sorted(files):
            if f.endswith(".py"):
                st = os.stat(os.path.join(dirpath, f))
                h.update(f"{dirpath}/{f}:{st.st_mtime_ns}:{st.st_size};".encode())
    zpath = os.path.join(
        tempfile.gettempdir(),
        f"etl_router_spark_pyfiles_{h.hexdigest()[:16]}.zip",
    )
    if not os.path.exists(zpath):
        tmp = zpath + ".tmp"
        with zipfile.ZipFile(tmp, "w") as z:
            for dirpath, _, files in os.walk(pkg_dir):
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(dirpath, f)
                        z.write(full, os.path.relpath(full, root))
        os.replace(tmp, zpath)
    try:
        spark.sparkContext.addPyFile(zpath)
    except Exception:
        pass  # already added under another name: workers can import
    _PYFILES_SHIPPED.add(app)


def ensure_nanos_readable(spark: SparkSession) -> None:
    """Make TIMESTAMP(NANOS) parquet readable on ANY session.

    Runtime-settable, so call sites (not session factories) own this:
    code paths that read arbitrary parquet must work on a session they
    did not construct. UTC rendering keeps timestamp output identical
    across sessions (and matches the tz-naive test oracles).
    """
    for conf, val in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.session.timeZone", "UTC"),
    ):
        try:
            spark.conf.set(conf, val)
        except Exception:
            pass  # locked conf: let the read surface the error


def nano_ts_columns(path: str) -> list[str]:
    """Names of timestamp[ns] columns per the parquet footer (pyarrow),
    so readers can restore TimestampType after nanosAsLong turns them
    into raw BIGINT nanoseconds. Best-effort: unreadable/remote paths
    return []."""
    try:
        import pyarrow.dataset as ds

        schema = ds.dataset(path, format="parquet").schema
        return [
            f.name
            for f in schema
            if str(f.type) in ("timestamp[ns]", "timestamp[ns, tz=UTC]")
        ]
    except Exception:
        return []


def restore_nano_timestamps(df: DataFrame, cols: list[str]) -> DataFrame:
    """Normalize a declared event-time column to TimestampType, in-plan.

    Two fixture generations exist: TIMESTAMP(NANOS) (arrives as BIGINT
    under ``nanosAsLong``; floored to µs exactly like a DuckDB ns->µs
    cast) and TIMESTAMP_NTZ µs. Both become TimestampType: streaming
    ``withWatermark`` rejects NTZ event time, and under the UTC session
    timezone the NTZ->LTZ cast is value-identical (same wall clock,
    same collect() rendering), so oracle comparisons are unaffected.
    """
    for col in cols:
        if col not in df.columns:
            continue
        dt = df.schema[col].dataType
        if isinstance(dt, T.LongType):
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
        elif isinstance(dt, T.TimestampNTZType):
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


# (application id, sf_dir, table) -> DataFrame. DataFrames are
# immutable plan handles, so sharing one per table is safe; the win is
# skipping the per-read parquet footer/schema job that every query
# otherwise pays at plan-construction time. Keyed by applicationId so
# a restarted session never sees plans bound to a dead context.
_TABLE_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def spread_small_scan(df: DataFrame, spark: SparkSession | None = None) -> DataFrame:
    """Repartition an under-partitioned input UP to session parallelism.

    A single-row-group parquet file scans as ONE partition, so every
    map-side stage downstream runs on one core no matter how wide the
    session is. Operators whose per-row work dominates (shingling,
    signature hashing, Python feature extraction) call this on their
    input: for small skewed-narrow sources the one tiny shuffle buys
    full map-side parallelism. At real scale the scan has orders of
    magnitude more splits than cores and the guard makes this a no-op —
    the shuffle never enters the 100 TB path. NOT applied to plain
    relational scans (joins/aggs): their map side is cheap, and the
    extra exchange costs more than single-core scanning saves.
    """
    spark = spark or df.sparkSession
    target = spark.sparkContext.defaultParallelism
    try:
        # memoize the probe: ``df.rdd`` converts the analyzed plan to an
        # RDD driver-side (~100 ms of py4j per call). Bench/driver reps
        # rebuild byte-identical plans, so key on the semantic hash —
        # one probe per distinct plan per application.
        # The cache is advisory only: a semanticHash collision or a
        # file-set change under a cached plan can at worst mis-size the
        # repartition decision (perf, never correctness). LRU-bounded so
        # a long-lived driver submitting many distinct plans can't grow
        # it without limit.
        key = (spark.sparkContext.applicationId, df.semanticHash())
        n = _SPREAD_PROBE_CACHE.get(key)
        if n is None:
            n = df.rdd.getNumPartitions()
            _SPREAD_PROBE_CACHE[key] = n
            while len(_SPREAD_PROBE_CACHE) > _SPREAD_PROBE_CACHE_MAX:
                _SPREAD_PROBE_CACHE.pop(next(iter(_SPREAD_PROBE_CACHE)))
        else:
            _SPREAD_PROBE_CACHE.move_to_end(key)
    except Exception:
        return df
    if 0 < n < target:
        return df.repartition(target)
    return df


from collections import OrderedDict as _OrderedDict  # noqa: E402

_SPREAD_PROBE_CACHE: _OrderedDict = _OrderedDict()
_SPREAD_PROBE_CACHE_MAX = 256


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir, name)
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        return cached
    # Must hold on ANY injected session, not just ones built by our own
    # session factory (the driver injects its own session).
    ensure_nanos_readable(spark)
    ensure_worker_imports(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    df = restore_nano_timestamps(df, _NANO_TS_COLUMNS.get(name, []))
    _TABLE_CACHE[key] = df
    return df


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_by: list[str] | None = None,
    buckets: int = 8,
    sort_by: list[str] | None = None,
    partition_by: list[str] | None = None,
    path: str | None = None,
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Write a catalog table, optionally hash-bucketed on join keys.

    Bucketing is the repeat-join answer at 100 TB: two tables bucketed
    on the same keys with the same bucket count join with **zero
    exchange** — the shuffle is paid once at write time and amortized
    over every subsequent join/aggregation on those keys. ``sort_by``
    (defaults to the bucket keys) additionally pre-sorts each bucket
    so sort-merge joins skip their per-task sort.

    ``path`` makes the table external (data at ``path``, metadata in
    the catalog); without it the data lands in the warehouse dir.
    """
    writer = df.write.format(fmt).mode(mode)
    if path:
        writer = writer.option("path", path)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if bucket_by:
        writer = writer.bucketBy(buckets, *bucket_by)
        writer = writer.sortBy(*(sort_by or bucket_by))
    writer.saveAsTable(table)


def compact_files(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    target_file_mb: int = 512,
    sort_by: list[str] | None = None,
    partition_by: list[str] | None = None,
    zorder_by: list[str] | None = None,
) -> int:
    """Rewrite a fragmented dataset into ~target-sized files; returns
    the new file count.

    The small-files problem is the classic 100 TB operational wound: a
    streaming sink or over-parallel writer leaves thousands of tiny
    files, and every later scan pays a footer read + task schedule per
    file. Compaction = one read, one repartition to
    ceil(bytes/target), one atomic swap. ``sort_by`` range-partitions
    and sorts while rewriting, so min/max stats become selective and
    later range scans prune files.

    The swap is rename-based (write to a sibling temp dir, move the
    old dir away, move the new one in, delete the old): readers see
    either the old or the new complete dataset on any filesystem with
    atomic directory rename (HDFS, local). On object stores, swap at
    the table-format layer instead (Delta/Iceberg rewrite).
    """
    import math

    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(hconf)
    total_bytes = fs.getContentSummary(jpath).getLength()
    n = max(1, math.ceil(total_bytes / (target_file_mb * 1024 * 1024)))

    # hive-partitioned layout (k=v subdirectories): compacting without
    # partition_by would silently COLLAPSE the partitioning — later
    # partition-pruned scans would full-scan. Refuse unless the caller
    # re-declares the layout.
    part_dirs = sorted({
        st.getPath().getName().split("=", 1)[0]
        for st in fs.listStatus(jpath)
        if st.isDirectory() and "=" in st.getPath().getName()
    })
    if part_dirs and not partition_by:
        raise ValueError(
            f"compact_files: {path} is hive-partitioned by {part_dirs}; "
            "pass partition_by to preserve the layout (files compact "
            "within each partition)"
        )

    if zorder_by and sort_by:
        raise ValueError("compact_files: zorder_by and sort_by are exclusive")
    df = spark.read.format(fmt).load(path)
    if zorder_by:
        # multi-column clustering: range-partition + sort on the Morton
        # key so per-file min/max stats prune on EVERY zorder_by column
        from etl_router_spark.functions.layout import zorder_key

        df = zorder_key(df, zorder_by, key_col="__zkey")
        if partition_by:
            df = df.repartition(n, *[F.col(c) for c in partition_by])
        else:
            df = df.repartitionByRange(n, F.col("__zkey"))
        df = df.sortWithinPartitions("__zkey").drop("__zkey")
    elif partition_by:
        # spread within partitions; the writer re-splits by key so each
        # output partition dir gets ~n/|parts| files
        df = df.repartition(n, *[F.col(c) for c in partition_by])
        if sort_by:
            df = df.sortWithinPartitions(*sort_by)
    elif sort_by:
        df = df.repartitionByRange(n, *[F.col(c) for c in sort_by]) \
               .sortWithinPartitions(*sort_by)
    else:
        df = df.repartition(n)
    tmp = path.rstrip("/") + ".__compact_tmp"
    old = path.rstrip("/") + ".__compact_old"
    writer = df.write.format(fmt).mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(tmp)
    jtmp = jvm.org.apache.hadoop.fs.Path(tmp)
    jold = jvm.org.apache.hadoop.fs.Path(old)
    if not fs.rename(jpath, jold):
        raise IOError(f"compact_files: could not move {path} aside")
    if not fs.rename(jtmp, jpath):
        # roll back: restore the original directory
        fs.rename(jold, jpath)
        raise IOError(f"compact_files: could not move compacted data into {path}")
    fs.delete(jold, True)
    return n
