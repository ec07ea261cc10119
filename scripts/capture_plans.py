#!/usr/bin/env python
"""Capture .explain('formatted') for every registered (and optionally
shadow) query into plans/<tag>/<query>_<suffix>.txt — the optimization
round's before/after plan evidence (guide §1: measure first).

Usage: python scripts/capture_plans.py <tag> <suffix> [query ...]
  e.g. python scripts/capture_plans.py r16 before
       python scripts/capture_plans.py r16 after dedup_q4_minhash_lsh

Plans are captured through the same tuned session the bench uses, at
the bench scale (SPARK_GRAFT_SF_DIR, default sf0.1). Queries whose
builder cannot produce a static DataFrame plan (streaming replays
execute inside the builder) still return a batch DataFrame over the
memory sink; for those the captured plan shows the sink read, so the
streaming queries' evidence lives in their operator tests instead.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, ".")

from bench import clear_storage  # noqa: E402


def main() -> int:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r16"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    only = set(sys.argv[3:])

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", tag)
    os.makedirs(out_dir, exist_ok=True)

    from distributed_mapreduce_spark.registry import all_queries, shadow_queries
    from distributed_mapreduce_spark.session import get_spark

    spark = get_spark(app_name="capture_plans")
    qs = dict(all_queries())
    if only:
        qs.update({n: f for n, f in shadow_queries().items() if n in only})

    n_ok = 0
    for name in sorted(qs):
        if only and name not in only:
            continue
        try:
            df = qs[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # noqa: BLE001 - record the failure, keep going
            plan = f"<plan capture failed: {exc}>"
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
        clear_storage(spark)
        n_ok += 1
    print(f"captured {n_ok} plans into {out_dir} (*_{suffix}.txt)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
