"""Streaming ([EXT]): replayed-stream results must equal the batch twin
on the same data (the SURVEY §5.2 sequential-oracle pattern applied to
streams), plus watermark late-drop semantics."""

from __future__ import annotations

import os
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from distributed_mapreduce_spark.operators.kv import fold_kv_log, ops_projection
from distributed_mapreduce_spark.sources import table
from distributed_mapreduce_spark.streaming import (
    event_stream,
    run_available_now,
    stage_chunks,
)
from distributed_mapreduce_spark.streaming.stateful import kv_state_stream, latest_state
from distributed_mapreduce_spark.streaming.windows import (
    session_stats,
    sliding_counts,
    tumbling_counts,
)


def rows_set(df):
    return {tuple(r) for r in df.collect()}


@pytest.fixture(scope="module")
def chunks(sf_dir):
    d = stage_chunks(sf_dir, "events", 3)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def batch_events(spark, sf_dir):
    return table(spark, sf_dir, "events")


def test_tumbling_stream_equals_batch(spark, sf_dir, chunks):
    streamed = run_available_now(
        tumbling_counts(event_stream(spark, chunks)), "complete"
    )
    batch = tumbling_counts(batch_events(spark, sf_dir))
    assert rows_set(streamed) == rows_set(batch)


def test_sliding_stream_equals_batch(spark, sf_dir, chunks):
    streamed = run_available_now(
        sliding_counts(event_stream(spark, chunks)), "complete"
    )
    batch = sliding_counts(batch_events(spark, sf_dir))
    assert rows_set(streamed) == rows_set(batch)


def test_session_append_is_watermark_closed_subset(spark, sf_dir, chunks):
    streamed = run_available_now(
        session_stats(event_stream(spark, chunks), "30 minutes", "1 hour"), "append"
    )
    batch = session_stats(batch_events(spark, sf_dir), "30 minutes")
    got, want = rows_set(streamed), rows_set(batch)
    assert got <= want
    # exactly the sessions the final watermark (max ts − 1h) closed
    max_ts = batch_events(spark, sf_dir).agg(F.max("ts")).collect()[0][0]
    cutoff = max_ts - __import__("datetime").timedelta(hours=1)
    assert got == {r for r in want if r[2] <= cutoff}  # r[2] = session_end


def test_stateful_kv_stream_equals_batch_fold(spark, sf_dir, chunks):
    ops_stream = ops_projection(event_stream(spark, chunks)).where(F.col("op") != "get")
    updates = run_available_now(kv_state_stream(ops_stream), "update")
    streamed = latest_state(updates)
    batch = fold_kv_log(ops_projection(batch_events(spark, sf_dir)))
    assert rows_set(streamed) == rows_set(batch)


def test_watermark_drops_late_rows(spark, tmp_path):
    """Hand-built 3-chunk replay: a row arriving after the watermark
    passed its window is dropped; on-time rows in the same batch survive."""

    def chunk(path, rows, mtime):
        tbl = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array(
                    [int(r[1] * 3_600_000_000) for r in rows], pa.timestamp("us")
                ),
                "user_id": pa.array([1] * len(rows), pa.int64()),
                "event_type": pa.array(["x"] * len(rows)),
                "value": pa.array([1.0] * len(rows)),
                "props": pa.array(["{}"] * len(rows)),
            }
        )
        pq.write_table(tbl, path)
        os.utime(path, (mtime, mtime))

    d = tmp_path / "late"
    d.mkdir()
    base = time.time()
    # hours: c1 fills windows h1,h2 · c2 advances the watermark to h9 ·
    # c3 is separation (the wm committed after batch N filters batch
    # N+2 — micro-batch wm propagation lags one batch) · c4 has a late
    # h1 row (dropped) and an open-window h9.5 row (never emitted).
    chunk(str(d / "c1.parquet"), [(0, 1), (1, 2)], base)
    chunk(str(d / "c2.parquet"), [(2, 10)], base + 1)
    chunk(str(d / "c3.parquet"), [(3, 10.2)], base + 2)
    chunk(str(d / "c4.parquet"), [(4, 1), (5, 9.5)], base + 3)

    out = run_available_now(
        tumbling_counts(event_stream(spark, str(d)), "1 hour", watermark="1 hour"),
        "append",
    )
    got = {(r["window_start"].hour, r["n_events"]) for r in out.collect()}
    # h1 window emitted with ONE event (late duplicate dropped); the
    # h9.5 window is still open at stream end, so never emitted.
    assert (1, 1) in got
    assert all(h != 9 for h, _ in got)


def test_stream_dedup_state_spans_micro_batches(spark, sf_dir, chunks):
    """dropDuplicates state must persist across batches: the replay has
    duplicate (user_id, event_type) keys in different chunks, yet the
    sink holds each key exactly once — equal to batch DISTINCT."""
    from distributed_mapreduce_spark.streaming.stateful import stream_distinct

    cols = ["user_id", "event_type"]
    streamed = run_available_now(
        stream_distinct(event_stream(spark, chunks), cols), "append"
    )
    batch = batch_events(spark, sf_dir).select(*cols).distinct()
    n_raw = batch_events(spark, sf_dir).count()
    assert n_raw > batch.count()  # fixture really has cross-batch dupes
    assert streamed.count() == batch.count()  # emitted once, never re-emitted
    assert rows_set(streamed) == rows_set(batch)


def test_interval_join_stream_equals_batch(spark, sf_dir, chunks):
    """Stream-stream interval join across micro-batches equals the
    batch interval join — including matches whose two sides arrive in
    DIFFERENT micro-batches (asserted non-empty)."""
    from distributed_mapreduce_spark.streaming.joins import interval_join

    ev = event_stream(spark, chunks)
    streamed = run_available_now(
        interval_join(
            ev.where(F.col("event_type") == "click"),
            ev.where(F.col("event_type") == "purchase"),
        ),
        "append",
    )
    bev = batch_events(spark, sf_dir)
    batch = (
        bev.where("event_type = 'click'")
        .select("user_id", F.col("ts").alias("click_ts"))
        .join(
            bev.where("event_type = 'purchase'").select(
                F.col("user_id").alias("p_user"),
                F.col("ts").alias("purchase_ts"),
                "value",
            ),
            F.expr(
                "user_id = p_user AND purchase_ts >= click_ts "
                "AND purchase_ts <= click_ts + INTERVAL 30 minutes"
            ),
        )
        .select("user_id", "click_ts", "purchase_ts", "value")
    )
    assert rows_set(streamed) == rows_set(batch)
    assert len(rows_set(streamed)) > 0


def test_replay_leaves_no_temp_view(spark, sf_dir):
    """A replayed query's memory-sink view is dropped on return: the
    frame keeps the sink's rows alive only as long as the frame itself,
    so repeated runs do not pile views (and their rows) up on the
    driver."""
    from distributed_mapreduce_spark.queries.streaming_queries import st_q1_tumbling

    def temp_views():
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}

    before = temp_views()
    rows = st_q1_tumbling(spark, sf_dir).collect()
    assert rows
    assert not temp_views() - before


@pytest.mark.parametrize(
    "table, n_chunks, exclude",
    [("events", 4, None), ("embeddings", 3, None), ("documents", 3, "src3")],
)
def test_stage_chunks_splits_the_fixture_in_key_order(sf_dir, tmp_path, table, n_chunks, exclude):
    """Spark-free: the staged chunks are `n_chunks` files whose rows
    are the source table (minus the excluded source, projected to the
    staged columns), key-ordered within and across chunks, with
    strictly increasing mtimes so the file source replays them in that
    order."""
    from distributed_mapreduce_spark.streaming.replay import CHUNK_TABLES

    key, columns, _ = CHUNK_TABLES[table]
    out = stage_chunks(sf_dir, table, n_chunks, str(tmp_path), exclude_source=exclude)
    files = sorted(p for p in os.listdir(out) if p.endswith(".parquet"))
    assert len(files) == n_chunks
    mtimes = [os.stat(os.path.join(out, f)).st_mtime for f in files]
    assert all(a < b for a, b in zip(mtimes, mtimes[1:]))

    parts = [pq.read_table(os.path.join(out, f)) for f in files]
    keys = [k for t in parts for k in t.column(key).to_pylist()]
    assert keys == sorted(keys) and len(keys) == len(set(keys))

    src = pq.read_table(f"{sf_dir}/{table}.parquet", columns=columns)
    if exclude is not None:
        assert exclude in src.column("source").to_pylist()
        src = src.filter(pa.compute.field("source") != exclude)
    staged = pa.concat_tables(parts)
    assert staged.column_names == src.column_names
    assert staged.to_pylist() == src.sort_by(key).to_pylist()


@pytest.mark.parametrize("table", ["documents", "embeddings", "events"])
def test_chunk_tables_declare_the_staged_schema(spark, sf_dir, tmp_path, table):
    """Each CHUNK_TABLES entry's stream schema, which chunk_stream reads
    under, has the column names and types of the chunks stage_chunks
    writes for that table — so the one declaration cannot drift from
    staging. The staged events `ts` is a parquet TIMESTAMP(µs) without
    a zone, which Spark infers as timestamp_ntz by default; the stream
    declares it `timestamp` in the UTC-pinned session (the mapping
    catalog.table applies on the batch path), so the footer is read here
    with that inference off."""
    from distributed_mapreduce_spark.streaming.replay import CHUNK_TABLES, chunk_stream

    out = stage_chunks(sf_dir, table, 2, str(tmp_path))
    ntz = "spark.sql.parquet.inferTimestampNTZ.enabled"
    prev = spark.conf.get(ntz)
    spark.conf.set(ntz, "false")
    try:
        staged = spark.read.parquet(out).schema
    finally:
        spark.conf.set(ntz, prev)
    declared = chunk_stream(spark, table, out).schema
    assert sorted(CHUNK_TABLES) == ["documents", "embeddings", "events"]
    assert [(f.name, f.dataType.simpleString()) for f in staged] == [
        (f.name, f.dataType.simpleString()) for f in declared
    ]


def test_stage_chunks_truncates_event_ts_to_micros(tmp_path):
    """A nanosecond `ts` is floored to microseconds at staging (Spark
    has no ns timestamp); the other columns pass through."""
    ns = [1_000_000_001_999, 1_000_000_002_001, 7]
    src = pa.table(
        {
            "event_id": pa.array([3, 1, 2], pa.int64()),
            "ts": pa.array(ns, pa.timestamp("ns")),
            "user_id": pa.array([1, 1, 2], pa.int64()),
            "event_type": pa.array(["a", "b", "c"]),
            "value": pa.array([1.0, 2.0, 3.0]),
            "props": pa.array(["{}"] * 3),
        }
    )
    (tmp_path / "sf").mkdir()
    (tmp_path / "out").mkdir()
    pq.write_table(src, str(tmp_path / "sf" / "events.parquet"))
    out = stage_chunks(str(tmp_path / "sf"), "events", 2, str(tmp_path / "out"))
    staged = pa.concat_tables(
        pq.read_table(os.path.join(out, f)) for f in sorted(os.listdir(out))
    )
    assert staged.schema.field("ts").type == pa.timestamp("us")
    assert staged.column("event_id").to_pylist() == [1, 2, 3]
    by_id = dict(zip([3, 1, 2], ns))
    assert staged.column("ts").cast(pa.int64()).to_pylist() == [
        by_id[i] // 1000 for i in (1, 2, 3)
    ]
