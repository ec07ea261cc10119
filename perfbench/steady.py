"""Steadiness check: run the benchmark on several seeds and report, per
end-to-end metric, the median, the quartiles and their spread as a share
of the median, next to the metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload olap --seeds 1-10 [--sets 2]

With --sets 2 it runs the seeds twice and also reports how far the
second set's median moved from the first's. Run from the checkout root.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_set(workload: str, seeds: list[int], seconds: int) -> dict[str, list[float]]:
    values: dict[str, list[float]] = {}
    for seed in seeds:
        t0 = time.time()
        out = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", workload, "--seed",
             str(seed), "--seconds", str(seconds), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, check=True,
        ).stdout
        res = json.loads(out.strip().splitlines()[-1])
        metrics = {k: v["value"] for k, v in res["metrics"].items()}
        print(
            f"{workload} seed {seed}: {time.time() - t0:.0f}s, correct={res['correct']} "
            f"failed={res['failed']}/{res['attempted']} "
            + " ".join(f"{k}={v:.4g}" for k, v in metrics.items()),
            flush=True,
        )
        for k, v in metrics.items():
            values.setdefault(k, []).append(v)
    return values


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--sets", type=int, default=1)
    args = p.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    sets = [run_set(args.workload, _seeds(args.seeds), spec["run_seconds"]) for _ in range(args.sets)]
    print(f"\n| workload | metric | median | q1 | q3 | spread | bound | verdict |")
    print("|---|---|---|---|---|---|---|---|")
    for name, bound in bounds.items():
        for i, values in enumerate(sets):
            q1, _, q3 = statistics.quantiles(values[name], n=4)
            med = statistics.median(values[name])
            spread = (q3 - q1) / med
            verdict = "ok" if spread <= bound / 3 else ("within bound" if spread <= bound else "TOO NOISY")
            if name == "setup_s":
                verdict = "spread not gated"
            if i:
                drift = med / statistics.median(sets[0][name]) - 1
                verdict += f"; median moved {drift:+.1%}"
            print(f"| {args.workload} | {name} | {med:.4g} | {q1:.4g} | {q3:.4g} | {spread:.3f} | {bound} | {verdict} |")
    return 0


if __name__ == "__main__":
    sys.exit(main())
