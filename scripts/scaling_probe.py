#!/usr/bin/env python
"""sf1 scaling probe (VERDICT r16 #8): run the shuffle-heavy dedup/
contamination family at 10x the bench scale on local[32] AND local[8]
and report the c8/c32 wall-time ratios.

Why sf1: at sf0.1 every query is sub-second-to-4s on 32 cores, so the
c8/c32 ratio reads ~1 — fixed per-query overhead (session, planning,
scheduling), not operator parallelism. At sf1 the heavy queries run
10-60 s and the ratio certifies whether the operators actually
parallelize (ratio → cores ratio 4.0 for compute-bound plans; → 1.0
for serialized ones).

The sf1 fixture is synthesized exactly as tests/test_sf1_stress.py
does (token-salted document tiling so near-dup structure replicates
linearly; fresh seeded Gaussian embeddings) — the driver ships sf<=0.1.

Methodology: per core count, one UNTIMED warm pass of every probed
query (JIT/codegen/scan-cache; sf1 JIT depth is the bench.py pass-0
story), then min over PASSES timed passes, construction+execution
under the noop sink, cache cleared between samples. One SparkSession
per core count (master is fixed at session start), c32 first.

Usage: python scripts/scaling_probe.py [passes] > scaling_sf1.json
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time

sys.path.insert(0, ".")

from bench import clear_storage, force  # noqa: E402

SF01 = "/root/testdata/sf0.1"
REPLICAS = 10
CORES = (32, 8)
QUERIES = [
    "dedup_q3_ngram_jaccard",
    "dedup_q4_minhash_lsh",
    "dedup_q5_simhash",
    "dedup_q6_embedding_cosine",
    "dedup_q7_clusters",
    "contam_q1_benchmark_overlap",
]


def synth_sf1(workdir: str) -> None:
    import duckdb
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    duckdb.sql(
        f"""
        COPY (
            SELECT d.doc_id + r.k * 1000000 AS doc_id,
                   regexp_replace(d.text, '([a-z]+)', '\\1' || chr(CAST(97 + r.k AS INTEGER)), 'g') AS text,
                   d.lang, d.source, d.n_chars
            FROM read_parquet('{SF01}/documents.parquet') d, range({REPLICAS}) r(k)
        ) TO '{workdir}/documents.parquet' (FORMAT PARQUET)
        """
    )
    n_src = pq.read_metadata(f"{SF01}/embeddings.parquet").num_rows
    n = n_src * REPLICAS
    rng = np.random.RandomState(42)
    vecs = rng.standard_normal((n, 64)).astype(np.float32)
    tbl = pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(vecs.reshape(-1)), 64
            ).cast(pa.list_(pa.float32())),
            "label": pa.array(rng.randint(0, 10, size=n), pa.int32()),
        }
    )
    pq.write_table(tbl, f"{workdir}/embeddings.parquet")


def main() -> int:
    passes = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    workdir = tempfile.mkdtemp(prefix="dmr_scaling_sf1_")
    synth_sf1(workdir)

    from distributed_mapreduce_spark.registry import all_queries
    from distributed_mapreduce_spark.session import get_spark

    out: dict = {"sf": 1.0, "replicas": REPLICAS, "passes": passes, "cores": {}}
    try:
        for cores in CORES:
            spark = get_spark(
                app_name=f"scaling-c{cores}", master=f"local[{cores}]"
            )
            qs = all_queries()
            times: dict[str, float] = {}
            for name in QUERIES:  # untimed warm pass
                force(qs[name](spark, workdir))
                clear_storage(spark)
            samples: dict[str, list[float]] = {n: [] for n in QUERIES}
            for _ in range(passes):
                for name in QUERIES:
                    t0 = time.perf_counter()
                    force(qs[name](spark, workdir))
                    samples[name].append(time.perf_counter() - t0)
                    clear_storage(spark)
            for name in QUERIES:
                times[name] = round(min(samples[name]), 2)
                print(f"  c{cores} {name}: {times[name]}s", file=sys.stderr)
            out["cores"][str(cores)] = times
            spark.stop()
        c32, c8 = out["cores"]["32"], out["cores"]["8"]
        out["ratio_c8_over_c32"] = {
            n: round(c8[n] / c32[n], 2) for n in QUERIES
        }
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    print(json.dumps(out, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
