"""Jobs per batch of the two versioned-store sinks (the CDC table store
and the KV serving store, both on `sinks._versioned_sink`).

Job count, unlike wall time, is deterministic: one availableNow batch
into a fresh store at fixture size runs a fixed number of Spark jobs,
counted from the sink call (which includes the CDC `init` seed write)
to the end of the stream. Each bound is the sink's count today; one
more probe, a repartition of the CDC write or a second pass over the
batch shows up here as one more job."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

# jobs of one availableNow batch into a fresh store (sf0.001 events in
# one chunk, local[4])
CDC_INIT_JOBS = 9
KV_JOBS = 9


def _jobs(spark) -> int:
    return spark._jsparkSession.sparkContext().dagScheduler().nextJobId()


@pytest.fixture
def feed(sf_dir, tmp_path):
    from distributed_mapreduce_spark.streaming.replay import stage_event_chunks

    (tmp_path / "feed").mkdir()
    return stage_event_chunks(sf_dir, 1, str(tmp_path / "feed"))


def _one_batch(spark, start) -> int:
    from distributed_mapreduce_spark.streaming.replay import stream_conf

    with stream_conf(spark):
        j0 = _jobs(spark)
        q = start()
        q.awaitTermination()
        n = _jobs(spark) - j0
    assert len([p for p in q.recentProgress if p.numInputRows > 0]) == 1
    return n


def test_cdc_sink_jobs_per_batch(spark, sf_dir, feed, tmp_path):
    from distributed_mapreduce_spark.sources import table
    from distributed_mapreduce_spark.streaming.replay import event_stream
    from distributed_mapreduce_spark.streaming.sinks import (
        foreach_batch_cdc_merge_partitioned,
    )

    changes = event_stream(spark, feed).select(
        (F.col("user_id") + 1).alias("c_custkey"),
        F.col("event_id").alias("ord"),
        (F.col("event_type") == "error").cast("int").alias("is_delete"),
        F.upper("event_type").alias("c_mktsegment"),
        F.col("value").alias("c_acctbal"),
    )
    init = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    n = _one_batch(
        spark,
        lambda: foreach_batch_cdc_merge_partitioned(
            changes,
            str(tmp_path / "cdc"),
            str(tmp_path / "cdc_ckpt"),
            "c_custkey",
            n_buckets=8,
            init=init,
        ),
    )
    assert n <= CDC_INIT_JOBS, n


def test_kv_sink_jobs_per_batch(spark, feed, tmp_path):
    from distributed_mapreduce_spark.operators.kv import ops_projection
    from distributed_mapreduce_spark.streaming.kv_serving import (
        foreach_batch_kv_serving,
    )
    from distributed_mapreduce_spark.streaming.replay import event_stream

    n = _one_batch(
        spark,
        lambda: foreach_batch_kv_serving(
            ops_projection(event_stream(spark, feed)),
            str(tmp_path / "kv"),
            str(tmp_path / "kv_ckpt"),
        ),
    )
    assert n <= KV_JOBS, n
