"""Fixed per-task cost of the Python worker boundary.

    python scripts/python_task_overhead.py [--rows 3000] [--partitions 4] [--reps 5]

Runs a ``mapInPandas`` over ``--partitions`` partitions, ``--reps``
times, on a session from ``etl_router_spark.get_spark`` (its worker
daemon is part of what is measured), and prints one JSON object:

- ``wall_s``: the wall time of each rep's ``collect()``;
- ``init_ms_med`` / ``run_ms_med`` / ``boot_ms_med``: per rep, the
  per-task medians of Spark's Python SQL metrics "time to initialize
  Python workers", "time to run Python workers" and "time to start
  Python workers", read from the SQL status store for the execution
  that ran (a DataFrame's own ``executedPlan`` would read 0 after a
  ``collect``);
- ``zip_reads_per_task``: per task of the last rep, the zip directory
  reads one ``importlib.invalidate_caches()`` makes inside the task,
  the call PySpark's worker makes before every task. That call runs
  inside the task, so without the daemon ``run_ms_med`` includes one
  more pass over every zip.

The first rep includes starting the worker daemon and its workers.
"""

from __future__ import annotations

import argparse
import json
import re
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

METRICS = {
    "init_ms_med": "time to initialize Python workers",
    "run_ms_med": "time to run Python workers",
    "boot_ms_med": "time to start Python workers",
}


def _probe(batches):
    import importlib
    import zipimport

    import pandas as pd

    read = zipimport._read_directory  # noqa: SLF001
    reads = 0

    def counting(path):
        nonlocal reads
        reads += 1
        return read(path)

    zipimport._read_directory = counting  # noqa: SLF001
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = read  # noqa: SLF001
    rows = sum(len(b) for b in batches)
    yield pd.DataFrame({"rows": [rows], "zip_reads": [reads]})


def _ms(text: str) -> float:
    value, unit = text.split()
    return float(value) * {"ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}[unit]


def _task_medians(store, execution_id: int) -> dict[str, float]:
    """Per-task medians of the timing metrics of one SQL execution. The
    status store renders a timing metric as ``total (min, med, max
    (stage: task))``; a metric with one task renders its total only."""
    plan_metrics = store.execution(execution_id).get().metrics()
    ids = {}
    for i in range(plan_metrics.size()):
        m = plan_metrics.apply(i)
        ids[m.accumulatorId()] = m.name()
    values = {}
    it = store.executionMetrics(execution_id).iterator()
    while it.hasNext():
        kv = it.next()
        values[ids.get(kv._1())] = kv._2()
    out = {}
    for key, name in METRICS.items():
        text = values.get(name)
        if text is None:
            continue
        last = text.strip().split("\n")[-1]
        m = re.search(r"\(([^,]+), ([^,]+), ", last)
        out[key] = _ms(m.group(2) if m else last)
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--rows", type=int, default=3000)
    ap.add_argument("--partitions", type=int, default=4)
    ap.add_argument("--reps", type=int, default=5)
    args = ap.parse_args()

    from etl_router_spark import get_spark

    spark = get_spark("python_task_overhead")
    store = spark._jsparkSession.sharedState().statusStore()  # noqa: SLF001
    result = {"wall_s": [], "init_ms_med": [], "run_ms_med": [],
              "boot_ms_med": [], "zip_reads_per_task": []}
    for _ in range(args.reps):
        seen = store.executionsCount()
        df = (spark.range(args.rows).repartition(args.partitions)
              .mapInPandas(_probe, "rows long, zip_reads long"))
        t0 = time.perf_counter()
        rows = df.collect()
        result["wall_s"].append(round(time.perf_counter() - t0, 3))
        execs = store.executionsList(seen, store.executionsCount() - seen)
        medians = {}
        for i in range(execs.size()):
            medians.update(_task_medians(store, execs.apply(i).executionId()))
        for key in METRICS:
            result[key].append(medians.get(key))
        result["zip_reads_per_task"] = sorted(r.zip_reads for r in rows)
    result["wall_s_median"] = statistics.median(result["wall_s"])
    spark.stop()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
