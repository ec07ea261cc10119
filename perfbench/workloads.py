"""The two workloads: what one pass runs, and how its outputs are checked.

A workload object has `prepare(b)` (input staging after each session
start, timed into `setup_s`), `warmup(b)` (one untimed pass that also
checks every output), `run_pass(b, rng)` (one pass) and `finish(b)`
(checks after the timed passes).
`b` is the `run.Bench` of the run.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import functions as F

from probes import log
from distributed_mapreduce_spark.registry import all_oracles, all_queries, shadow_oracles
from distributed_mapreduce_spark.testing import _canon_rows, _duckdb_result, check_query

# Fixed query samples of the two families the driver contract grades:
# light registered queries (fixed per-query costs: plan building, st_
# replays inside builders, Catalyst, scheduling) and the shuffle-heavy
# dedup family (shingles, connected components inside
# the builder, checkpointed rounds, the mapInPandas top-k lane). Every
# run pays JVM start-up and cold warm-up passes out of one shared time
# budget, which is what bounds the sample (README.md, "Workloads").
OLAP = (
    "mr_q1_wordcount",
    "st_q1_tumbling",
    "rel_q8_grouping_multi",
)
DEDUP = (
    "dedup_q7_clusters",
    "sim_q1_topk_bruteforce",
)


class Queries:
    """Registered queries in seed-shuffled passes, each forced with the
    noop write."""

    def __init__(self, names):
        queries, oracles = all_queries(), all_oracles()
        self.names = list(names)
        self.fns = {n: queries[n] for n in self.names}
        self.oracles = {n: oracles[n] for n in self.names}

    def prepare(self, b) -> None:
        pass

    def finish(self, b) -> None:
        pass

    def warmup(self, b) -> None:
        for name in self.names:
            t0 = time.perf_counter()
            with b.op(name) as ok:
                res = check_query(b.spark, name, self.fns[name], self.oracles[name], b.data)
                ok(res.ok, res.detail)
            b.release()
            log(f"warm-up {name} {time.perf_counter() - t0:.2f}s")

    def run_pass(self, b, rng) -> None:
        order = list(self.names)
        rng.shuffle(order)
        for name in order:
            b.run_query(name, self.fns[name])


class IngestServe:
    """Rounds over the whole event feed on fresh stores: one CDC merge
    batch into the partitioned table store (configured as in st_q9), one
    kv_serving op batch, then seeded point gets and one `as_of`
    multi-get against the KV store."""

    GETS_PRESENT, GETS_ABSENT, MULTI_GET_KEYS = 2, 1, 8

    def prepare(self, b) -> None:
        from distributed_mapreduce_spark.streaming.replay import stage_event_chunks

        self.feed = os.path.join(b.work, "feed")
        shutil.rmtree(self.feed, ignore_errors=True)
        os.makedirs(self.feed)
        stage_event_chunks(b.data, 1, self.feed)
        self.input_bytes = sum(
            os.path.getsize(os.path.join(self.feed, f)) for f in os.listdir(self.feed)
        )

    def warmup(self, b) -> None:
        import random

        from distributed_mapreduce_spark.operators.kv import _FOLD_SQL

        rows, _ = _duckdb_result(_FOLD_SQL, b.data)
        self.state = dict(rows)
        self.keys = sorted(self.state)
        self.run_pass(b, random.Random(b.seed))

    def run_pass(self, b, rng) -> None:
        from distributed_mapreduce_spark.operators.kv import ops_projection
        from distributed_mapreduce_spark.queries.streaming_queries import (
            STREAM_SHUFFLE_PARTITIONS,
        )
        from distributed_mapreduce_spark.sources import table
        from distributed_mapreduce_spark.streaming.kv_serving import (
            foreach_batch_kv_serving,
            kv_served_get,
            kv_served_multi_get,
        )
        from distributed_mapreduce_spark.streaming.replay import event_stream
        from distributed_mapreduce_spark.streaming.sinks import (
            foreach_batch_cdc_merge_partitioned,
        )

        spark = b.spark
        rnd = os.path.join(b.work, "round")
        shutil.rmtree(rnd, ignore_errors=True)
        kv_store = os.path.join(rnd, "kv")
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(STREAM_SHUFFLE_PARTITIONS))
        try:
            changes = event_stream(spark, self.feed).select(
                (F.col("user_id") + 1).alias("c_custkey"),
                F.col("event_id").alias("ord"),
                (F.col("event_type") == "error").cast("int").alias("is_delete"),
                F.upper("event_type").alias("c_mktsegment"),
                F.col("value").alias("c_acctbal"),
            )
            init = table(spark, b.data, "customer").select(
                "c_custkey", "c_mktsegment", "c_acctbal"
            )
            b.run_stream(
                "sinks",
                lambda: foreach_batch_cdc_merge_partitioned(
                    changes,
                    os.path.join(rnd, "cdc"),
                    os.path.join(rnd, "cdc_ckpt"),
                    "c_custkey",
                    n_buckets=8,
                    init=init,
                ),
            )
            b.run_stream(
                "kv_serving",
                lambda: foreach_batch_kv_serving(
                    ops_projection(event_stream(spark, self.feed)),
                    kv_store,
                    os.path.join(rnd, "kv_ckpt"),
                ),
            )
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        keys = rng.sample(self.keys, self.GETS_PRESENT) + [
            f"absent{rng.randrange(10**6)}" for _ in range(self.GETS_ABSENT)
        ]
        rng.shuffle(keys)
        for key in keys:
            b.run_get(
                key,
                lambda k=key: kv_served_get(spark, kv_store, k),
                {key: self.state.get(key, "")},
            )
        multi = rng.sample(self.keys, self.MULTI_GET_KEYS - 1) + ["absent"]
        b.run_get(
            "multi",
            lambda: kv_served_multi_get(spark, kv_store, multi, as_of=0),
            {k: self.state.get(k, "") for k in multi},
        )
        with b.tracer.span("hygiene"):
            b.release()

    def finish(self, b) -> None:
        """Check the last round's stores against the st_q9 and kv fold
        oracles (neither depends on how the feed is chunked)."""
        from distributed_mapreduce_spark.operators.kv import _FOLD_SQL
        from distributed_mapreduce_spark.streaming.kv_serving import read_kv_state
        from distributed_mapreduce_spark.streaming.sinks import read_current_partitioned

        rnd = os.path.join(b.work, "round")
        self.store = _disk_usage(rnd)
        self.versions = len(
            [v for v in os.listdir(os.path.join(rnd, "kv")) if v.startswith("v=")]
        )
        with b.op("check.st_q9") as ok:
            got = read_current_partitioned(b.spark, os.path.join(rnd, "cdc"))
            passed, detail, n = _compare(b.data, got, shadow_oracles()["st_q9_cdc_upsert"])
            ok(passed, detail)
            self.accept_ratio = n / _duckdb_result(
                "SELECT count(*) FROM events", b.data
            )[0][0][0]
        with b.op("check.kv_state") as ok:
            kv = read_kv_state(b.spark, os.path.join(rnd, "kv"))
            ok(*_compare(b.data, kv, _FOLD_SQL)[:2])


def _disk_usage(top: str) -> tuple[int, int]:
    """(bytes, files) of the stores under `top`, checkpoints excluded."""
    size = files = 0
    for root, _dirs, names in os.walk(top):
        if "_ckpt" in root:
            continue
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files


def _compare(data: str, df, sql: str) -> tuple[bool, str, int]:
    """Order-insensitive comparison of a DataFrame with DuckDB SQL over
    the tables in `data` (the `testing.check_query` rule); also returns
    the DataFrame's row count."""
    rows = [tuple(r) for r in df.collect()]
    duck_rows, duck_cols = _duckdb_result(sql, data)
    cols = [c.lower() for c in df.columns]
    if sorted(cols) != sorted(c.lower() for c in duck_cols):
        return False, f"columns differ: {df.columns} vs {duck_cols}", len(rows)
    a = _canon_rows(rows, cols)
    e = _canon_rows(duck_rows, [c.lower() for c in duck_cols])
    return a == e, f"{len(a)} rows vs {len(e)} expected", len(rows)


def make(name: str):
    if name == "queries":
        return Queries(OLAP + DEDUP)
    if name == "ingest-serve":
        return IngestServe()
    raise ValueError(f"unknown workload {name!r}")
