#!/usr/bin/env python
"""Stage-level profile of one registered/shadow query (dev tool).

Runs the query with the Spark event log enabled and prints per-stage
wall time, task CPU (`cpu=`, the event log's `Executor CPU Time`), task
run time (`run=`, `Executor Run Time`: task wall time, waits included),
shuffle bytes, and the dominant RDD scopes — the empirical half of
guide §1.1 on a box with the UI disabled.

Python-worker CPU is not in the event log at all: a Python-lane stage
(PythonRDD, mapInPandas, pandas UDFs) shows its worker time only in
`run=`, with `cpu=` counting just the JVM side.

Usage: python scripts/profile_query.py <query> [passes]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, ".")

from bench import _cores, clear_storage, force  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> int:
    name = sys.argv[1]
    passes = int(sys.argv[2]) if len(sys.argv) > 2 else 2

    evdir = tempfile.mkdtemp(prefix="dmr_evlog_")

    from pyspark.sql import SparkSession

    from distributed_mapreduce_spark.session import _BUILD_CONF, tune_session

    b = (
        SparkSession.builder.master(f"local[{_cores()}]")
        .appName(f"profile-{name}")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", evdir)
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
    )
    for k, v in _BUILD_CONF.items():
        b = b.config(k, v)
    spark = tune_session(b.getOrCreate())
    spark.sparkContext.setLogLevel("WARN")

    from pyspark.sql import functions as F

    from distributed_mapreduce_spark.registry import all_queries, shadow_queries

    qs = {**all_queries(), **shadow_queries()}
    fn = qs[name]

    n = spark.sparkContext.defaultParallelism
    warm = spark.range(n * 1000).repartition(n)
    force(warm.groupBy((F.col("id") % 7).alias("k")).count())

    # warm executions, then the profiled one
    for _ in range(passes):
        t0 = time.perf_counter()
        force(fn(spark, SF_DIR))
        print(f"pass: {time.perf_counter() - t0:.3f}s", file=sys.stderr)
        clear_storage(spark)

    spark.sparkContext.setJobDescription(f"profiled: {name}")
    marker = time.time() * 1000
    t0 = time.perf_counter()
    force(fn(spark, SF_DIR))
    total = time.perf_counter() - t0
    clear_storage(spark)
    spark.stop()

    # parse the event log (two passes: TaskEnd precedes StageCompleted)
    stages = {}
    events = []
    for root, _dirs, files in os.walk(evdir):
        for fname in files:
            if "appstatus" in fname:
                continue
            with open(os.path.join(root, fname)) as f:
                for line in f:
                    try:
                        events.append(json.loads(line))
                    except ValueError:
                        continue
    for ev in events:
        if ev.get("Event") == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            sub = si.get("Submission Time")
            if sub is None or sub < marker:
                continue
            key = (si["Stage ID"], si.get("Stage Attempt ID", si.get("Attempt ID", 0)))
            stages[key] = {
                "name": si["Stage Name"].split("\n")[0][:90],
                "tasks": si["Number of Tasks"],
                "wall_ms": si["Completion Time"] - sub,
                "sub": sub,
            }
    for ev in events:
        if ev.get("Event") == "SparkListenerTaskEnd":
            si = ev["Stage ID"], ev["Stage Attempt ID"]
            if si not in stages:
                continue
            m = ev.get("Task Metrics") or {}
            st = stages[si]
            st["run_ms"] = st.get("run_ms", 0) + m.get("Executor Run Time", 0)
            st["cpu_ns"] = st.get("cpu_ns", 0) + m.get("Executor CPU Time", 0)
            st["gc_ms"] = st.get("gc_ms", 0) + m.get("JVM GC Time", 0)
            sr = (m.get("Shuffle Read Metrics") or {})
            sw = (m.get("Shuffle Write Metrics") or {})
            st["sh_read_mb"] = st.get("sh_read_mb", 0) + (
                sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0)
            ) / 1e6
            st["fetch_ms"] = st.get("fetch_ms", 0) + sr.get("Fetch Wait Time", 0)
            st["sh_write_mb"] = st.get("sh_write_mb", 0) + sw.get(
                "Shuffle Bytes Written", 0
            ) / 1e6
            inp = (m.get("Input Metrics") or {})
            st["input_mb"] = st.get("input_mb", 0) + inp.get("Bytes Read", 0) / 1e6
    # TaskEnd events precede StageCompleted; re-scan for task metrics
    # of stages discovered late is unnecessary because we buffered all.
    print(f"\ntotal: {total:.3f}s  stages: {len(stages)}")
    t_min = min((s["sub"] for s in stages.values()), default=0)
    for key in sorted(stages, key=lambda k: stages[k]["sub"]):
        s = stages[key]
        print(
            f"  +{(s['sub']-t_min)/1000:6.2f}s wall={s['wall_ms']/1000:6.2f}s "
            f"tasks={s['tasks']:3d} cpu={s.get('cpu_ns',0)/1e9:7.2f}s "
            f"run={s.get('run_ms',0)/1000:7.2f}s "
            f"gc={s.get('gc_ms',0)/1000:5.2f}s in={s.get('input_mb',0):6.1f}MB "
            f"sr={s.get('sh_read_mb',0):6.1f}MB sw={s.get('sh_write_mb',0):6.1f}MB "
            f"fw={s.get('fetch_ms',0)/1000:5.2f}s  {s['name']}"
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
