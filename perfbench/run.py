"""Benchmark of the PySpark engine: queries and ingest-serve workloads.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. A run generates its inputs from the
seed, starts the session SETUPS times (`setup_s` is the median), runs
WARMUP_PASSES untimed passes, the first of which checks every output
against its DuckDB oracle, then times whole passes: as many as fit in
`--seconds`, at least one. The last line of stdout is one JSON object with `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics, or with
`--trace 1` the per-layer ones. Everything a run writes stays under
`.bench_work/` in the checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from collections import defaultdict
from pathlib import Path

from probes import (
    EVENT_LOG_CONF,
    CpuClock,
    Tracer,
    host_steal,
    job_shape,
    log,
    next_job_id,
    stage_totals,
    vm_hwm_mb,
)

ROOT = Path(__file__).resolve().parents[1]
WORK = ROOT / ".bench_work"
WORKLOADS = ("queries", "ingest-serve")
SETUPS = 7
WARMUP_PASSES = 2
DRIVER_MEM = "2g"
# Compiler threads stay alive, so CpuClock can subtract their CPU; a
# fixed heap size keeps peak memory from following heap resizing; no
# perf-data file in the system temp dir.
JVM_OPTS = f"-XX:-UseDynamicNumberOfCompilerThreads -Xms{DRIVER_MEM} -XX:-UsePerfData"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


class Bench:
    """State of one run: session, operation counts, samples, spans."""

    def __init__(self, seed: int, work: str, tracing: bool):
        self.seed, self.work = seed, work
        self.data = os.path.join(work, "data")
        self.tmp = os.path.join(work, "tmp")
        self.tracer = Tracer(tracing)
        self.spark = None
        self.cpu: CpuClock | None = None
        self.attempted = self.failed = 0
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.layer: dict[str, float] = defaultdict(float)
        # temp dirs the warm-up left (the product memoizes staged replay
        # chunks there); None until the warm-up ends
        self.keep_tmp: set[str] | None = None

    @contextlib.contextmanager
    def op(self, name: str):
        """One attempted operation. It fails if it raises or if the body
        reports `ok(False, detail)`."""
        self.attempted += 1
        verdicts: list[tuple[bool, str]] = []
        try:
            yield lambda passed, detail="": verdicts.append((passed, detail))
        except Exception:
            traceback.print_exc(file=sys.stderr)
            verdicts.append((False, "raised"))
        bad = [d for ok, d in verdicts if not ok]
        if bad:
            self.failed += 1
            log(f"FAILED {name}: {bad[0]}")

    @contextlib.contextmanager
    def timed(self, kind: str):
        """Record the block's wall and application-CPU time as one sample
        of `kind`."""
        c0, t0 = self.cpu.read()[0], time.perf_counter()
        yield
        self.samples[f"{kind}_s"].append(time.perf_counter() - t0)
        self.samples[f"{kind}_cpu_s"].append(self.cpu.read()[0] - c0)

    def _job(self) -> int:
        return next_job_id(self.spark) if self.tracer.enabled else 0

    def run_query(self, name: str, fn) -> None:
        """Build, plan and execute one registered query (noop write)."""
        tr = self.tracer
        with self.op(name):
            self.spark.sparkContext.setJobGroup(name, name)
            with tr.span("query", name):
                with self.timed("query"):
                    j0 = self._job()
                    with tr.span("queries.build", name):
                        df = fn(self.spark, self.data)
                    j1 = self._job()
                    with tr.span("catalyst.plan", name):
                        df._jdf.queryExecution().executedPlan()
                    with tr.span("exec.run", name):
                        df.write.format("noop").mode("overwrite").save()
                    j2 = self._job()
                if tr.enabled:
                    with tr.span("trace.read_counts", name):
                        stages, tasks = job_shape(self.spark, j1, j2)
                        self.layer["queries.build_jobs"] += j1 - j0
                        self.layer["exec.jobs"] += j2 - j1
                        self.layer["exec.stages"] += stages
                        self.layer["exec.tasks"] += tasks
                        self.layer["caching.persisted_rdds"] += len(
                            self.spark.sparkContext._jsc.getPersistentRDDs()
                        )
        with tr.span("hygiene"):
            self.release()

    def run_stream(self, layer: str, start) -> None:
        """Start one availableNow streaming sink and wait for it."""
        tr = self.tracer
        with self.op(f"{layer}.batch"):
            self.spark.sparkContext.setJobGroup(layer, layer)
            with tr.span(f"{layer}.batch"), self.timed(f"{layer}.batch"):
                j0 = self._job()
                t0 = time.perf_counter()
                with tr.span(f"{layer}.start"):
                    q = start()
                self.layer[f"{layer}.start_s"] += time.perf_counter() - t0
                with tr.span(f"{layer}.run"):
                    q.awaitTermination()
                j1 = self._job()
            if tr.enabled:
                for p in q.recentProgress:
                    d = p.durationMs
                    self.layer[f"{layer}.add_batch_s"] += d.get("addBatch", 0) / 1e3
                    self.layer[f"{layer}.overhead_s"] += (
                        d.get("triggerExecution", 0) - d.get("addBatch", 0)
                    ) / 1e3
                    self.layer["sources.offsets_s"] += (
                        d.get("latestOffset", 0) + d.get("getBatch", 0)
                    ) / 1e3
                    self.layer[f"{layer}.batches"] += p.numInputRows > 0
                self.layer[f"{layer}.jobs"] += j1 - j0

    def run_get(self, label: str, build, expected: dict) -> None:
        """One served get; its answer must equal `expected` (key → value)."""
        tr = self.tracer
        with self.op(f"get.{label}") as ok:
            self.spark.sparkContext.setJobGroup("get", label)
            with tr.span("get"):
                with self.timed("get"):
                    with tr.span("kv_serving.get_build"):
                        df = build()
                    with tr.span("kv_serving.get_exec"):
                        rows = df.collect()
                if tr.enabled:
                    with tr.span("trace.read_counts"):
                        self.layer["kv_serving.get_files"] += len(df.inputFiles())
                        self.layer["kv_serving.gets"] += 1
            got = {r["key"]: r["value"] for r in rows}
            ok(got == expected, f"got {got} expected {expected}")

    def release(self) -> None:
        """Free what an operation left behind: cached plans, persisted
        and checkpointed RDDs, and the temp dirs it created."""
        spark = self.spark
        spark.catalog.clearCache()
        for jrdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
            jrdd.unpersist(False)
        if self.keep_tmp is not None:
            for name in os.listdir(self.tmp):
                if name not in self.keep_tmp:
                    shutil.rmtree(os.path.join(self.tmp, name), ignore_errors=True)


def _environment(work: str, tracing: bool) -> None:
    """Keep every file the run writes inside `work`, before Spark starts."""
    tmp, jtmp = os.path.join(work, "tmp"), os.path.join(work, "jvm-tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, jtmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        SPARK_GRAFT_WAREHOUSE=os.path.join(work, "warehouse"),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        # the product's replay dirs default to /dev/shm; keep them here
        DMR_FORCE_DISK="1",
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
    )
    tempfile.tempdir = tmp
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={jtmp} {JVM_OPTS}",
        "spark.ui.showConsoleProgress": "false",
    }
    if tracing:
        evdir = os.path.join(work, "eventlog")
        os.makedirs(evdir, exist_ok=True)
        conf.update(EVENT_LOG_CONF)
        conf["spark.eventLog.dir"] = evdir
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
    ) + " pyspark-shell"


def _set_up(b: Bench, wl, workload: str) -> tuple[list[float], list[float]]:
    """Start the session SETUPS times (the first start also launches the
    JVM), staging the inputs after each start. Returns the set-up and
    session-start times."""
    import gen

    from distributed_mapreduce_spark.session import get_spark

    setup, start = [], []
    for _ in range(SETUPS):
        if b.spark is not None:
            b.spark.stop()
        t0 = time.perf_counter()
        with b.tracer.span("session.start"):
            b.spark = get_spark(app_name=f"perfbench-{workload}")
        t1 = time.perf_counter()
        with b.tracer.span("setup.stage"):
            gen.generate(b.data, b.seed)
            wl.prepare(b)
        setup.append(time.perf_counter() - t0)
        start.append(t1 - t0)
    b.cpu = CpuClock(b.spark.sparkContext._gateway.proc.pid)
    return setup, start


def _timed_passes(b: Bench, wl, seconds: float, tracing: bool) -> list[dict]:
    """Whole passes while the next one is expected to end within
    `seconds`, at least one. Traced runs alternate untraced and traced
    passes, at least one of each; the difference is the tracing
    overhead."""
    rng = random.Random(b.seed)
    tr = b.tracer
    passes: list[dict] = []
    deadline = time.perf_counter() + seconds
    while True:
        traced = tracing and len(passes) % 2 == 1
        tr.enabled = traced
        root = len(tr.spans)
        (c0, j0), s0 = b.cpu.read(), host_steal()
        t0, w0 = time.perf_counter(), time.time() * 1000
        with tr.span("pass"):
            wl.run_pass(b, rng)
        wall = time.perf_counter() - t0
        (c1, j1), s1 = b.cpu.read(), host_steal()
        passes.append(
            {
                "traced": traced,
                "wall_s": wall,
                "cpu_s": c1 - c0,
                "jit_cpu_s": j1 - j0,
                "steal": (s1[0] - s0[0]) / max(s1[1] - s0[1], 1),
                "root": root,
                "window": (w0, time.time() * 1000),
            }
        )
        log(
            f"pass {len(passes)}{' traced' if traced else ''}: {wall:.2f}s wall, "
            f"{c1 - c0:.2f} cpu-s, {j1 - j0:.2f} jit cpu-s, "
            f"steal {passes[-1]['steal']:.1%}"
        )
        done = len(passes) >= (2 if tracing else 1)
        expected = _median([p["wall_s"] for p in passes])
        if done and time.perf_counter() + expected > deadline:
            return passes


def _per_layer(b: Bench, wl, passes, setup, start, warmup_s, cores) -> dict:
    """Per-layer metrics of the traced passes: per pass, unless the name
    says per batch or per get."""
    traced = [p for p in passes if p["traced"]]
    plain = [p for p in passes if not p["traced"]]
    n = len(traced)
    traced_wall = sum(p["wall_s"] for p in traced)
    self_t: dict[str, float] = defaultdict(float)
    for p in traced:
        for name, s in b.tracer.self_times(p["root"]).items():
            self_t[name] += s
    ex = stage_totals(os.path.join(b.work, "eventlog"), [p["window"] for p in traced])
    lay = b.layer
    ing_b, kv_b = max(lay["sinks.batches"], 1), max(lay["kv_serving.batches"], 1)
    gets = max(lay["kv_serving.gets"], 1)
    store_b, store_f = getattr(wl, "store", (0, 0))
    cpu_traced = _median([p["cpu_s"] for p in traced])
    return {
        "session.start_s": (_median(start), "s"),
        "setup.stage_s": (_median(setup) - _median(start), "s"),
        "warmup_s": (warmup_s, "s"),
        "pass_s": (_median([p["wall_s"] for p in traced]), "s"),
        "query_p50_s": (_median(b.samples["query_s"]), "s"),
        "query_cpu_p50_s": (_median(b.samples["query_cpu_s"]), "cpu_s"),
        "queries.build_s": (self_t["queries.build"] / n, "s"),
        "queries.build_jobs": (lay["queries.build_jobs"] / n, "count"),
        "catalyst.plan_s": (self_t["catalyst.plan"] / n, "s"),
        "exec.run_s": (self_t["exec.run"] / n, "s"),
        "exec.jobs": (lay["exec.jobs"] / n, "count"),
        "exec.stages": (lay["exec.stages"] / n, "count"),
        "exec.tasks": (lay["exec.tasks"] / n, "count"),
        "exec.task_cpu_s": (ex["exec.task_cpu_s"] / n, "cpu_s"),
        "exec.gc_s": (ex["exec.gc_s"] / n, "s"),
        "exec.shuffle_write_mb": (ex["exec.shuffle_write_mb"] / n, "MB"),
        "exec.shuffle_read_mb": (ex["exec.shuffle_read_mb"] / n, "MB"),
        "exec.spill_mb": (ex["exec.spill_mb"] / n, "MB"),
        "exec.input_mb": (ex["exec.input_mb"] / n, "MB"),
        "exec.busy_frac": (ex["exec.task_run_s"] / (cores * traced_wall), "ratio"),
        "caching.persisted_rdds": (lay["caching.persisted_rdds"] / n, "count"),
        "hygiene.release_s": (self_t["hygiene"] / n, "s"),
        "sinks.batch_p50_s": (_median(b.samples["sinks.batch_s"]), "s"),
        "sinks.add_batch_s": (lay["sinks.add_batch_s"] / ing_b, "s"),
        "sinks.overhead_s": (lay["sinks.overhead_s"] / ing_b, "s"),
        "sinks.start_s": (lay["sinks.start_s"] / ing_b, "s"),
        "sinks.jobs_per_batch": (lay["sinks.jobs"] / ing_b, "count"),
        "sinks.accept_ratio": (getattr(wl, "accept_ratio", 0.0), "ratio"),
        "sinks.store_mb": (store_b / 1e6, "MB"),
        "sinks.store_files": (store_f, "count"),
        "sinks.store_bytes_per_input_byte": (store_b / getattr(wl, "input_bytes", 1), "ratio"),
        "kv_serving.batch_p50_s": (_median(b.samples["kv_serving.batch_s"]), "s"),
        "kv_serving.add_batch_s": (lay["kv_serving.add_batch_s"] / kv_b, "s"),
        "kv_serving.jobs_per_batch": (lay["kv_serving.jobs"] / kv_b, "count"),
        "kv_serving.get_p50_s": (_median(b.samples["get_s"]), "s"),
        "kv_serving.get_build_s": (self_t["kv_serving.get_build"] / gets, "s"),
        "kv_serving.get_exec_s": (self_t["kv_serving.get_exec"] / gets, "s"),
        "kv_serving.get_files": (lay["kv_serving.get_files"] / gets, "count"),
        "kv_serving.versions": (getattr(wl, "versions", 0), "count"),
        "sources.offsets_s": (lay["sources.offsets_s"] / (ing_b + kv_b), "s"),
        "jvm.jit_cpu_s": (_median([p["jit_cpu_s"] for p in traced]), "cpu_s"),
        "host.steal_frac": (_median([p["steal"] for p in passes]), "ratio"),
        "trace.untraced_pass_s": (_median([p["wall_s"] for p in plain]), "s"),
        "trace.overhead_frac": (cpu_traced / _median([p["cpu_s"] for p in plain]) - 1, "ratio"),
        "trace.span_coverage": (sum(self_t.values()) / traced_wall, "ratio"),
    }


def _stop_jvm() -> None:
    """Close the py4j gateway and wait for the JVM, and with it the
    Python workers, to exit, so a run leaves no process behind."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def run(args, work: str) -> dict:
    import workloads

    b = Bench(args.seed, work, bool(args.trace))
    wl = workloads.make(args.workload)
    try:
        setup, start = _set_up(b, wl, args.workload)
        log(f"set-up {['%.3f' % s for s in setup]}")

        t0 = time.perf_counter()
        wl.warmup(b)
        for _ in range(WARMUP_PASSES - 1):
            wl.run_pass(b, random.Random(b.seed))
        warmup_s = time.perf_counter() - t0
        b.keep_tmp = set(os.listdir(b.tmp))
        b.samples.clear()
        b.layer.clear()
        log(f"warm-up {warmup_s:.2f}s, {b.failed}/{b.attempted} failed")

        passes = _timed_passes(b, wl, args.seconds, bool(args.trace))
        wl.finish(b)
        peak = vm_hwm_mb("self") + vm_hwm_mb(b.cpu.jvm_pid)
        if not args.trace:
            metrics = {
                "setup_s": (_median(setup), "s"),
                "pass_cpu_s": (_median([p["cpu_s"] for p in passes]), "cpu_s"),
                "peak_rss_mb": (peak, "MB"),
            }
        else:
            cores = b.spark.sparkContext.defaultParallelism
            b.spark.stop()  # flushes the event log
            b.spark = None
            metrics = _per_layer(b, wl, passes, setup, start, warmup_s, cores)
            os.makedirs(WORK / "traces", exist_ok=True)
            b.tracer.dump(str(WORK / "traces" / f"{args.workload}-{args.seed}.json"))
            # every part of a traced pass must sit under a layer span
            with b.op("trace.span_coverage") as ok:
                cov = metrics["trace.span_coverage"][0]
                ok(0.95 <= cov <= 1.0 + 1e-9, f"span self-times cover {cov:.3f} of pass_s")
        return {
            "correct": b.failed == 0,
            "attempted": b.attempted,
            "failed": b.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        if b.spark is not None:
            b.spark.stop()
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, str(ROOT))
    # The program under test must be importable from the checkout; a run
    # outside one fails here, before any work.
    import distributed_mapreduce_spark  # noqa: F401

    work = str(WORK / f"{args.workload}-{args.seed}-{os.getpid()}")
    _environment(work, bool(args.trace))
    print(json.dumps(run(args, work)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
