"""Min-of-N in-session timing for named registry queries.

Round-12 optimization instrumentation: single-query wall clock is
noisy on this box (invisible co-tenant steal measured up to 1.5x),
so each query runs N times in one warm session and the MIN is the
comparable number (the bench's own best-of-3 rationale).

Each run also reports its Spark jobs and the executor run and CPU
time of their completed stages (from the status store, which is kept
with the UI off): a run time far above its CPU time is tasks waiting,
not working. The CPU figure is ``jvm_cpu_s``: Spark's
``executorCpuTime`` counts the JVM task threads only, not the Python
workers of a pandas UDF or ``mapInPandas`` kernel. A query that
switches between an expression kernel and a BLAS (Arrow) kernel
therefore reads as a CPU saving that may not exist; compare wall
times across such a switch.

Usage: python tools/ab_query.py [-n 3] q1 q2 ...
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from workhop2_etl_spark import suite  # noqa: E402
from workhop2_etl_spark.session import get_spark, load_table  # noqa: E402

suite.load_all()

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    args = sys.argv[1:]
    n = 3
    if args and args[0] == "-n":
        n = int(args[1])
        args = args[2:]
    spark = get_spark("ab_query")
    load_table(spark, SF_DIR, "region").count()
    load_table(spark, SF_DIR, "documents").count()
    for name in args:
        fn = suite.QUERIES[name]
        times, counters = [], []
        for i in range(n):
            group = f"ab/{name}/{i}"
            spark.sparkContext.setJobGroup(group, name)
            t0 = time.time()
            rows = fn(spark, SF_DIR).collect()
            times.append(round(time.time() - t0, 3))
            spark.sparkContext._jsc.clearJobGroup()
            counters.append(_job_counters(spark, group))
            assert rows is not None
        best = counters[times.index(min(times))]
        print(
            f"AB {name} min={min(times)} all={times}"
            f" jobs={best[0]} exec_run_s={best[1]:.2f}"
            f" jvm_cpu_s={best[2]:.2f}",
            flush=True,
        )


def _job_counters(spark, group: str) -> tuple[int, float, float]:
    """(jobs, executor run s, executor JVM CPU s) of the job group's
    completed stages."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    run = cpu = 0.0
    for jid in jobs:
        info = sc.statusTracker().getJobInfo(jid)
        for sid in info.stageIds if info else ():
            try:
                sd = store.lastStageAttempt(int(sid))
            except Exception:  # noqa: BLE001 - a stage that never ran
                continue
            if str(sd.status()) == "COMPLETE":
                run += int(sd.executorRunTime()) / 1e3
                cpu += int(sd.executorCpuTime()) / 1e9
    return len(jobs), run, cpu


if __name__ == "__main__":
    main()
