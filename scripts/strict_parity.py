#!/usr/bin/env python3
"""Driver-emulating, bit-exact end-to-end check of the __spark_entry__
contract.

Creates a plain SparkSession the way the driver would (no engine
tuning) and checks, in order:
- `entry()` returns more than 0 rows;
- the registry's tier sizes equal the counts COVERAGE.md declares
  (`registry.check_declared_counts()`), and a warning is printed if
  the registered tier overflows the driver's GRADING_CAP;
- every oracle-backed query, registered and shadow tier, against its
  DuckDB oracle: same column names, and the same rows compared by
  exact double repr() and a type tag per cell;
- every query without an oracle returns rows (rows-only).

The exact comparison is what the round driver's value hash needs
(round-1 lesson: 4 queries that matched locally at 9 significant
digits failed the driver hash on an Arrow type artifact), so a pass
here means the driver's hash comparison can only disagree on
canonicalization bugs, not on values or types. Exit 0 iff everything
passes.

Usage: python scripts/strict_parity.py [sf_dir] [query ...]
  (default sf_dir: the driver's correctness scale, sf0.01)
"""

from __future__ import annotations

import math
import sys
import time

sys.path.insert(0, ".")


def _canon(v):
    if isinstance(v, bool):
        return ("b", int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return ("f", "nan")
        return ("f", repr(v))  # exact double repr — bit-level
    if v is None:
        return ("n",)
    # type initial distinguishes e.g. int from Decimal: a DuckDB
    # HUGEINT/decimal128 leak shows up as a type-tag mismatch even when
    # the numeric value is equal.
    return (type(v).__name__[0], str(v))


def _canon_sorted(rows, cols) -> list:
    cols = [c.lower() for c in cols]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_canon(t[i]) for i in order) for t in (tuple(r) for r in rows))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from pyspark.sql import SparkSession

    import __spark_entry__ as e
    from distributed_mapreduce_spark.registry import (
        GRADING_CAP,
        check_declared_counts,
        shadow_oracles,
        shadow_queries,
    )
    from distributed_mapreduce_spark.testing import _duckdb_result

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("strict-parity")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    t0 = time.time()
    rows = e.entry(spark).count()
    print(f"entry(): {rows} rows in {time.time() - t0:.1f}s")
    assert rows > 0

    # Hard gate (VERDICT r7 #3): registry tier sizes must match the
    # counts COVERAGE.md declares, so no query can register without
    # its evidence chain landing in the same commit.
    reg_n, sh_n = check_declared_counts()
    print(f"declared counts OK: {reg_n} registered + {sh_n} shadow")

    qs, oracles = e.queries(), e.oracle_sql()
    if len(qs) > GRADING_CAP:
        print(
            f"WARNING: {len(qs)} registered queries > driver grading cap "
            f"{GRADING_CAP}; queries past position {GRADING_CAP} get NO "
            f"correctness row (round-1 observation) — move twins to the "
            f"shadow tier (registry.py)"
        )
    # Shadow-tier queries never see the driver's hash, but they carry
    # the same bit-exactness contract — include them so a new shadow
    # oracle gets the strict check before its first round ends.
    qs = {**qs, **shadow_queries()}
    oracles = {**oracles, **shadow_oracles()}

    bad = []
    for name in sorted(qs):
        if only and name not in only:
            continue
        t0 = time.time()
        sdf = qs[name](spark, sf_dir)
        if name not in oracles:
            n = sdf.count()
            print(f"rows-only {name}: {n} rows ({time.time() - t0:.1f}s)")
        else:
            srows = _canon_sorted(sdf.collect(), sdf.columns)
            drows, dcols = _duckdb_result(oracles[name], sf_dir)
            drows = _canon_sorted(drows, dcols)
            if sorted(c.lower() for c in sdf.columns) != sorted(c.lower() for c in dcols):
                bad.append(name)
                print(f"COLUMNS-DIFF {name}: spark={sdf.columns} duck={dcols}")
            elif srows != drows:
                diffs = [(a, b) for a, b in zip(srows, drows) if a != b][:2]
                bad.append(name)
                print(f"STRICT-DIFF {name}: {len(srows)} vs {len(drows)} rows; {diffs}")
            else:
                print(f"exact {name}: {len(srows)} rows ({time.time() - t0:.1f}s)")
        # Queries that persist() intermediates (jaccard/contam/text_q7)
        # would otherwise accumulate cached blocks for the whole run.
        spark.catalog.clearCache()
    print(f"\nstrict mismatches: {len(bad)} {bad}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
