"""Measurement probes: spans, CPU and memory readers for the process
tree, Spark job counters and the event-log stage parser.

Spans are recorded only while the tracer is enabled; a disabled tracer's
spans cost one attribute check, so traced and untraced passes run the
same code.
"""

from __future__ import annotations

import contextlib
import json
import os
import sys
import time
from collections import defaultdict

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


class Tracer:
    """In-memory spans `(name, start, end, parent, op)`; written out by
    `dump` when the run ends."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": op,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self, root: int) -> dict[str, float]:
        """Self time per span name over the subtree under span `root`
        (the root itself excluded): duration minus the child spans'."""
        children: dict[int, list[int]] = {}
        for i, s in enumerate(self.spans):
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(i)
        out: dict[str, float] = {}
        todo = list(children.get(root, []))
        while todo:
            i = todo.pop()
            s = self.spans[i]
            kids = children.get(i, [])
            own = (s["end"] - s["start"]) - sum(
                self.spans[k]["end"] - self.spans[k]["start"] for k in kids
            )
            out[s["name"]] = out.get(s["name"], 0.0) + own
            todo.extend(kids)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _stat_fields(path: str) -> tuple[str, list[str]] | None:
    """(comm, fields after comm) of a /proc stat file; None if gone."""
    try:
        with open(path) as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.index("(") + 1 : raw.rindex(")")], raw[raw.rindex(")") + 2 :].split()


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants
    (the JVM and its Python workers), reaped children included."""
    procs: dict[int, tuple[int, int]] = {}
    for d in os.listdir("/proc"):
        st = _stat_fields(f"/proc/{d}/stat") if d.isdigit() else None
        if st is not None:
            # fields[1] is the parent pid; [11:15] utime, stime, cutime, cstime
            procs[int(d)] = (int(st[1][1]), sum(int(x) for x in st[1][11:15]))
    children: dict[int, list[int]] = defaultdict(list)
    for pid, (ppid, _) in procs.items():
        children[ppid].append(pid)
    todo, ticks = [os.getpid()], 0
    while todo:
        pid = todo.pop()
        ticks += procs.get(pid, (0, 0))[1]
        todo.extend(children[pid])
    return ticks / _CLK_TCK


def jit_cpu_s(jvm_pid: int) -> float:
    """CPU seconds of the JVM's JIT compiler threads. Exact only when
    the JVM keeps its compiler threads alive
    (-XX:-UseDynamicNumberOfCompilerThreads)."""
    ticks = 0
    for tid in os.listdir(f"/proc/{jvm_pid}/task"):
        st = _stat_fields(f"/proc/{jvm_pid}/task/{tid}/stat")
        if st is not None and "CompilerThre" in st[0]:
            ticks += int(st[1][11]) + int(st[1][12])
    return ticks / _CLK_TCK


class CpuClock:
    """Application CPU: the process tree's CPU seconds minus the JIT
    compiler's. JIT work still pending after the warm-up varies from run
    to run, and wall time varies with the host's CPU steal; this clock
    is steady under both."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid

    def read(self) -> tuple[float, float]:
        """(application CPU s, JIT CPU s) so far."""
        jit = jit_cpu_s(self.jvm_pid)
        return tree_cpu_s() - jit, jit


def host_steal() -> tuple[int, int]:
    """(steal, total) jiffies of the host CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7], sum(vals)


def vm_hwm_mb(pid) -> float:
    """Peak resident memory of one process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def next_job_id(spark) -> int:
    """Id the scheduler gives the next Spark job. Job ids are dense, so
    the difference across an operation counts every job it launched,
    including those a streaming query runs on its own thread."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def job_shape(spark, first: int, end: int) -> tuple[int, int]:
    """(stages, tasks) of jobs `first..end-1`, read from the status
    tracker right away: it keeps only `spark.ui.retainedJobs` jobs."""
    st = spark.sparkContext.statusTracker()
    stages = tasks = 0
    for jid in range(first, end):
        info = st.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            si = st.getStageInfo(sid)
            if si is not None:
                stages += 1
                tasks += si.numTasks
    return stages, tasks


def stage_totals(event_dir: str, windows) -> dict[str, float]:
    """Sum the task metrics of the stages submitted inside any of the
    `(start, end)` epoch-ms windows, from the Spark event logs under
    `event_dir`. TaskEnd events precede StageCompleted, so the log is
    read whole before matching."""
    events = []
    for root, _dirs, files in os.walk(event_dir):
        for fname in files:
            if "appstatus" in fname:
                continue
            with open(os.path.join(root, fname)) as f:
                for line in f:
                    try:
                        events.append(json.loads(line))
                    except ValueError:
                        continue
    stages = set()
    for ev in events:
        if ev.get("Event") == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            sub = si.get("Submission Time")
            if sub is not None and any(t0 <= sub < t1 for t0, t1 in windows):
                stages.add((si["Stage ID"], si.get("Stage Attempt ID", si.get("Attempt ID", 0))))
    tot = dict.fromkeys(
        ("run_ms", "cpu_ns", "gc_ms", "sh_read", "sh_write", "spill", "input"), 0.0
    )
    for ev in events:
        if ev.get("Event") != "SparkListenerTaskEnd":
            continue
        if (ev["Stage ID"], ev["Stage Attempt ID"]) not in stages:
            continue
        m = ev.get("Task Metrics") or {}
        sr = m.get("Shuffle Read Metrics") or {}
        sw = m.get("Shuffle Write Metrics") or {}
        tot["run_ms"] += m.get("Executor Run Time", 0)
        tot["cpu_ns"] += m.get("Executor CPU Time", 0)
        tot["gc_ms"] += m.get("JVM GC Time", 0)
        tot["sh_read"] += sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0)
        tot["sh_write"] += sw.get("Shuffle Bytes Written", 0)
        tot["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        tot["input"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    return {
        "exec.task_cpu_s": tot["cpu_ns"] / 1e9,
        "exec.task_run_s": tot["run_ms"] / 1e3,
        "exec.gc_s": tot["gc_ms"] / 1e3,
        "exec.shuffle_read_mb": tot["sh_read"] / 1e6,
        "exec.shuffle_write_mb": tot["sh_write"] / 1e6,
        "exec.spill_mb": tot["spill"] / 1e6,
        "exec.input_mb": tot["input"] / 1e6,
    }
