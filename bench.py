#!/usr/bin/env python
"""Benchmark harness (driver contract): run every registered query at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and print the result JSON:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"<name>": sec, ...}, "sf": 0.1,
     "passes": N, "spread": {"<name>": max/min, ...},
     "load_avg": [1m, 5m, 15m], "pass_loads": [1m, ...],
     "methodology": "..."}

Two stdout lines are printed (full record first, then a compact
summary line) so that a tail-truncating capture still records the
headline number. The compact line carries the per-query minima
("queries") — per-query driver visibility is part of the contract —
and omits the "spread"/"samples" detail, which lives in the artifacts.
The full record is written BOTH to ./bench_last.json (stable name) and
to an immutable per-run name ./bench_<tier>_c<cpus>.json so same-round
runs at different core counts cannot clobber each other;
"full_artifact" points at the per-run file. "pass_loads" holds each
pass's 1-minute load average, read when the pass starts.

Tiers: the default run times the 50 REGISTERED queries (the driver
contract). `python bench.py --tier shadow` (or SPARK_GRAFT_BENCH_TIER=
shadow) times the shadow tier instead — full record to
bench_shadow_last.json.

Timing methodology:
- one warm SparkSession for the whole run (JVM startup excluded — the
  reference's baseline is per-job wall clock on a warm machine, and at
  100 TB session startup is amortized to nothing), warmed before the
  first timed pass (see main());
- each query is forced end-to-end with the noop sink
  (df.write.format("noop")): full plan execution, rows never cross to
  the driver, no disk write skew;
- storage is swept after every query (clear_storage), so each sample
  is a cold per-query cost;
- per-query time = plan construction + execution, measured around the
  action; reported as the MIN over SPARK_GRAFT_BENCH_RUNS interleaved
  passes (default 3) — the noise-floor estimator for a host with
  unpredictable external load (it converges on the plan's true cost
  and cannot under-report it). Three passes, not two: measured JIT
  warm-up trajectories (see "samples" in bench_last.json) show the
  streaming family and the dedup joins still dropping 10-30% from
  pass 0 to pass 2, so min-of-2 systematically recorded a half-warm
  cost for OUR plans — warm-up noise, not plan work.

Same-window A/B comparisons between commits are perfbench's job
(BENCHMARK.json, perfbench/run.py), not this harness's.
"""

from __future__ import annotations

import json
import os
import sys
import time


def force(df) -> None:
    """Execute the full plan without collecting to the driver."""
    df.write.format("noop").mode("overwrite").save()


def clear_storage(spark) -> None:
    """Drop every cached table and persisted RDD block.

    Operators that persist() intermediates (jaccard/minhash/simhash/
    contam/kmeans) and iterative operators that localCheckpoint (CC,
    PageRank, BPE — RDD-level storage catalog.clearCache never frees;
    observed r6: ev_q13 4.4→11.2→25.2 s across passes from orphan
    blocks) would otherwise tax every LATER query with their storage
    (observed r7: dedup_q15's persisted shingle expansion took ev_q13
    from ~1.1 s to ~3.2 s on every pass). The bench sweeps after every
    query, so each timed sample runs against a clean storage state.
    """
    spark.catalog.clearCache()
    for jrdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        jrdd.unpersist(False)


def _cores() -> int:
    try:
        return int(os.environ["SPARK_GRAFT_CPUS"])
    except (KeyError, ValueError):
        return os.cpu_count() or 1


def contract_records(
    samples: dict[str, list[float]],
    tier: str,
    sf: float,
    pass_loads: list[float],
    cpus: int,
    load_avg: tuple[float, float, float],
) -> tuple[dict, dict, tuple[str, str]]:
    """Build the driver-contract output of one run: the full record,
    the compact last line, and the two artifact file names (stable,
    per-run). ``samples`` maps each query to its per-pass seconds in
    pass order; ``pass_loads`` holds one 1-minute load average per
    pass; ``load_avg`` is the (1m, 5m, 15m) load at the end of the run.
    """
    timings = {n: round(min(v), 3) for n, v in sorted(samples.items())}
    spreads = {
        n: round(max(v) / max(min(v), 1e-9), 2) for n, v in sorted(samples.items())
    }
    total = round(sum(timings.values()), 3)
    passes = max(len(v) for v in samples.values())
    load_avg = [round(x, 2) for x in load_avg]
    if tier == "registered":
        metric, stable = "total_query_set_runtime", "bench_last.json"
    else:
        metric, stable = "shadow_query_set_runtime", "bench_shadow_last.json"
    # Immutable per-run artifact (VERDICT r16 #1): the driver benches the
    # same round at several core counts; each run overwriting
    # bench_last.json destroyed the 32-core per-query evidence in r16.
    per_run = f"bench_{tier}_c{cpus}.json"
    full = {
        "metric": metric,
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "passes": passes,
        # per-query max/min across passes (≫1 ⇒ external-load noise on
        # that query's samples)
        "spread": spreads,
        "load_avg": load_avg,
        "pass_loads": pass_loads,
        # raw per-pass samples (pass order): warm-up trajectories and
        # which pass the min came from, without re-running
        "samples": {n: [round(s, 3) for s in v] for n, v in sorted(samples.items())},
        "methodology": "min over cold interleaved passes (clearCache + "
        "orphan-RDD unpersist after every query)",
    }
    compact = {
        "metric": metric,
        "value": total,
        "unit": "sec",
        # per-query minima IN the compact line (VERDICT r16 #1): the
        # driver's comparator reads this line. ~1.8 KB for 50 queries —
        # well inside the driver's observed ~3 KB tail-capture window.
        "queries": timings,
        "total_s": total,
        "sf": sf,
        "passes": passes,
        "cpus": cpus,
        "load_avg": load_avg,
        "pass_loads": pass_loads,
        "full_artifact": per_run,
    }
    return full, compact, (stable, per_run)


def _warm_streaming(spark) -> None:
    """Run each stateful streaming operator class once over a tiny
    (24-row, 2-chunk) synthetic replay so one-time machinery costs are
    paid before any timed pass."""
    import datetime
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from distributed_mapreduce_spark.operators.kv import ops_projection
    from distributed_mapreduce_spark.streaming.joins import interval_join
    from distributed_mapreduce_spark.streaming.replay import (
        ephemeral_dir,
        event_stream,
        run_available_now,
        stream_conf,
    )
    from distributed_mapreduce_spark.streaming.stateful import kv_state_stream
    from distributed_mapreduce_spark.streaming.windows import tumbling_counts

    wdir = ephemeral_dir("bench_warm_")
    base = datetime.datetime(2024, 1, 1)
    n = 24
    tbl = pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array(
                [base + datetime.timedelta(minutes=10 * i) for i in range(n)],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([i % 3 for i in range(n)], pa.int64()),
            "event_type": pa.array(
                ["click" if i % 2 == 0 else "purchase" for i in range(n)]
            ),
            "value": pa.array([float(i) for i in range(n)]),
            "props": pa.array(["{}"] * n),
        }
    )
    now = time.time()
    for c in range(2):
        path = f"{wdir}/chunk_{c:04d}.parquet"
        pq.write_table(tbl.slice(c * n // 2, n // 2), path)
        os.utime(path, (now + c, now + c))

    try:
        with stream_conf(spark):
            ev = lambda: event_stream(spark, wdir)  # noqa: E731
            run_available_now(tumbling_counts(ev(), "1 hour"), "complete")
            run_available_now(
                interval_join(
                    ev().where(F.col("event_type") == "click"),
                    ev().where(F.col("event_type") == "purchase"),
                ),
                "append",
            )
            run_available_now(
                kv_state_stream(ops_projection(ev()).where(F.col("op") != "get")),
                "update",
            )
    finally:
        shutil.rmtree(wdir, ignore_errors=True)


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf"))
    except ValueError:
        sf = -1.0

    # Tier selection (VERDICT r5 #2): the driver's default run times the
    # 50 REGISTERED queries; `--tier shadow` (or SPARK_GRAFT_BENCH_TIER=
    # shadow) times the shadow tier instead, writing its full
    # record to bench_shadow_last.json — perf regressions in the shadow
    # half of the surface are otherwise invisible.
    tier = os.environ.get("SPARK_GRAFT_BENCH_TIER", "registered")
    if "--tier" in sys.argv:
        i = sys.argv.index("--tier") + 1
        # a trailing `--tier` falls through to the friendly usage error
        tier = sys.argv[i] if i < len(sys.argv) else "<missing>"
    if tier not in ("registered", "shadow"):
        print(f"unknown tier {tier!r} (registered|shadow)", file=sys.stderr)
        return 2

    from distributed_mapreduce_spark.registry import all_queries, shadow_queries
    from distributed_mapreduce_spark.session import get_spark

    spark = get_spark(app_name="bench")
    queries = all_queries() if tier == "registered" else shadow_queries()

    # Warm the engine before timing: first-job executor spin-up, shuffle
    # machinery, and the Python-worker pool (fork + pandas import per
    # core) otherwise get charged to whichever query happens to run
    # first. A warm engine is also the honest cluster analog — at real
    # scale executors and workers are long-lived.
    from pyspark.sql import functions as F

    n = spark.sparkContext.defaultParallelism
    warm = spark.range(n * 1000).repartition(n)
    force(warm.groupBy((F.col("id") % 7).alias("k")).count())

    def _identity(batches):
        yield from batches

    force(warm.mapInPandas(_identity, schema="id bigint"))

    # One tiny query through the broadcast-join + hash-expression +
    # distinct-agg machinery: the first query using each of these pays
    # one-time class-loading/codegen-cache costs (~5 s measured) that
    # otherwise land on whichever query sorts first alphabetically.
    dim = spark.range(10).select(F.col("id").alias("k"))
    probe = spark.range(2000).select(
        (F.col("id") % 10).alias("k"), F.md5(F.col("id").cast("string")).alias("h")
    )
    force(
        probe.join(F.broadcast(dim), "k")
        .groupBy("k")
        .agg(F.countDistinct("h").alias("n"))
    )

    # Touch every fixture table once (footer read + file-index cache),
    # so the alphabetically-first query isn't charged the cold scans.
    from distributed_mapreduce_spark.sources import TABLES, table

    for t in TABLES:
        table(spark, sf_dir, t).count()

    # Streaming machinery warmup (same rationale as the codegen/
    # broadcast warmups above): the first streaming query of a session
    # pays one-time costs — streaming-execution class loading, the
    # state-store provider, the Python state-protocol server — worth
    # several seconds that belong to no query's plan. Pre-pay them with
    # a 24-row synthetic replay through each stateful operator class
    # the st family uses (windowed agg, stream-stream join, Python
    # stateful fold). Best-effort: a failure here only de-warms pass 0.
    try:
        _warm_streaming(spark)
    except Exception as exc:  # pragma: no cover - warmup must never kill bench
        print(f"  (streaming warmup skipped: {exc})", file=sys.stderr)

    # Untimed full execution of the st family before pass 1 (VERDICT r5
    # #3): the tiny-replay warmup above pays the class-loading costs,
    # but the r5 artifact still showed the st queries dropping 10-20%
    # from pass 0 to pass 2 — per-plan state-store and codegen warm-up
    # that only the real queries at the real sf exercise. Each timed
    # pass rebuilds streaming state from scratch, so a prior untimed
    # execution cannot change any result. Best-effort, same rationale
    # as _warm_streaming.
    for name in sorted(queries):
        if name.startswith("st_"):
            try:
                force(queries[name](spark, sf_dir))
            except Exception as exc:  # pragma: no cover
                print(f"  (st warmup {name} skipped: {exc})", file=sys.stderr)
    spark.catalog.clearCache()

    # Min over SPARK_GRAFT_BENCH_RUNS passes (module docstring). Runs
    # interleave whole passes (A B C, A B C) so a noise burst cannot
    # inflate every sample of the same query.
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    samples: dict[str, list[float]] = {name: [] for name in queries}
    pass_loads: list[float] = []
    for _ in range(runs):
        pass_loads.append(round(os.getloadavg()[0], 2))
        for name in sorted(queries):
            t0 = time.perf_counter()
            force(queries[name](spark, sf_dir))
            samples[name].append(time.perf_counter() - t0)
            clear_storage(spark)

    full, compact, artifacts = contract_records(
        samples, tier, sf, pass_loads, _cores(), os.getloadavg()
    )
    for name, sec in full["queries"].items():
        print(
            f"  {name}: {sec:.2f}s (x{full['spread'][name]:.1f} spread)",
            file=sys.stderr,
        )
    print(json.dumps(full))
    # The full line above has grown past what the driver's tail-capture
    # retains (BENCH_r04.json kept only its tail ⇒ "parsed": null), so:
    # (a) persist the full record to a committed repo file, and
    # (b) emit a LAST, compact line that survives any tail truncation
    #     and still satisfies the one-JSON-line contract on its own.
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    for fname in artifacts:
        try:
            with open(os.path.join(repo_dir, fname), "w") as f:
                json.dump(full, f, indent=1, sort_keys=True)
                f.write("\n")
        except OSError as exc:  # pragma: no cover - never kill the run
            print(f"  ({fname} not written: {exc})", file=sys.stderr)
    print(json.dumps(compact))
    return 0


if __name__ == "__main__":
    sys.exit(main())
