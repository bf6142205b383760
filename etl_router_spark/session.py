"""SparkSession factory tuned for this engine.

Local test runs use ``local[N]``; the same config block is what we would
ship to a 1000-executor cluster (AQE on, adaptive coalescing, skew-join
handling, Arrow for the Pandas-UDF slow path). Shuffle partitions default
low for local mode; on a real cluster AQE coalescing makes the initial
number mostly irrelevant as long as it is high enough.

Python workers start from the engine's own daemon,
``etl_router_spark.pyworker`` (``spark.python.daemon.module``). PySpark's
worker calls ``importlib.invalidate_caches()`` before every task, and on
CPython 3.11 that re-reads the central directory of every zip on the
worker's path: 16 reads (``pyspark.zip``, the spark-core jar, py4j).
The daemon makes a zip re-read only when the file changed. On a
4-partition ``mapInPandas`` over 3000 rows (4 vCPUs,
``scripts/python_task_overhead.py``, three runs each) that took the
per-task median of Spark's "time to initialize Python workers" from
450-770 ms to 150-350 ms and the job from 0.54-0.96 s to 0.20-0.29 s.
It is a fixed cost of every Python task: the ``service`` plugin, each
pandas UDF / ``mapInPandas`` operator, the Python data sources. Workers
find the daemon, and this package, through
``spark.executorEnv.PYTHONPATH``, which ``SparkContext`` passes to every
Python function's environment, so it holds on a JVM launched by someone
else, from any cwd. A session reused through ``getOrCreate`` keeps the
daemon it started with.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# runtime-settable SQL confs: set by the builder on a new session and
# re-applied on a reused one, from this one dict so the two cannot drift
_RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # default-false for compat only: with it off, AQE may not touch
    # the output partitioning of a cached subtree, so every persist()
    # in the engine (DSIR's pinned bucket counts, the minhash index,
    # the connected-components and pagerank loop frames, shared-scan
    # fan-out) keeps shuffle.partitions-many reduce tasks no matter
    # how few bytes it holds. Letting AQE size cached output from
    # measured bytes is the same adaptivity the uncached paths
    # already get (interleaved A/B on select_dsir_topk: ~x0.6)
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # testdata events.parquet carries TIMESTAMP(NANOS); read as long
    # and convert in-plan (see etl_router_spark.io.load_table)
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # ungrouped MIN/MAX/COUNT answered from parquet footer stats
    # instead of scanning row data (exact — footer stats are)
    "spark.sql.parquet.aggregatePushdown": "true",
}


def get_spark(
    app_name: str = "etl_router_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    AQE is enabled so that at scale Spark re-plans joins (broadcast
    promotion, skew splitting) and coalesces post-shuffle partitions at
    runtime; these matter far more at 100 TB than any static setting.
    """
    # Python workers (pandas UDFs / mapInPandas) and their daemon import
    # this package by module name. The JVM merges this into each
    # worker's PYTHONPATH whatever environment it was launched with; on
    # a real cluster this is the job of --py-files / the image
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(max(int(cpus) if cpus.isdigit() else 32, 8)))
    )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.spill.compress", "true")
        .config("spark.executorEnv.PYTHONPATH", pkg_root)
        .config("spark.python.daemon.module", "etl_router_spark.pyworker")
    )
    confs = {**_RUNTIME_CONFS, **(extra_conf or {})}
    for k, v in confs.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # getOrCreate() silently reuses a live session WITHOUT the builder
    # confs above; re-apply the runtime-settable SQLConfs so a reused
    # session still gets engine semantics (r15 ADVICE). Static confs
    # (master, memory, UI) can't change on a live session — skipped.
    for k, v in confs.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-runtime conf on a reused session: builder value rules
    spark.sparkContext.setLogLevel("WARN")
    return spark
