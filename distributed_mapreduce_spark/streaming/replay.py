"""Bounded replay of the fixture tables as Structured Streaming
sources ([EXT] — the reference has no stream surface, SURVEY.md §2.4).

Each fixture table is one parquet file; a stream needs an unbounded-looking
source. `stage_chunks` splits a table into K key-ordered chunk files
and `chunk_stream` reads them back with the file source at one
file per micro-batch (`maxFilesPerTrigger=1` + `Trigger.AvailableNow`),
giving a deterministic K-batch replay that terminates — the standard
fixture-replay pattern for Structured Streaming tests.

In production the same downstream code runs off `readStream` on a Kafka
topic or a landing directory: everything below the source is
source-agnostic, which is the point of the DataFrame streaming API.

Scale notes: the file source tracks seen-file state in the checkpoint
(driver-side, O(files)); window/state operators shuffle on their grouping
key exactly like batch. State stores are per shuffle partition — sized
by `spark.sql.shuffle.partitions` at first run, so a real deployment
sets it before the first checkpoint, not after.
"""

from __future__ import annotations

import atexit
import contextlib
import os
import shutil
import tempfile
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

# State-store count = shuffle partitions, fixed at a stream's first
# checkpoint. Size it to micro-batch volume, not cluster width: these
# replays carry ~50k rows/batch, where 32 state stores are pure
# per-batch commit overhead (measured 3×; 8→4 another ~12% off the
# family). A production deployment sets this per stream from expected
# rows/sec before first start.
STREAM_SHUFFLE_PARTITIONS = 4

EVENT_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, "
    "event_type string, value double, props string"
)


def ephemeral_dir(prefix: str, need_bytes: int = 0) -> str:
    """Tempdir for REPLAY-ONLY state (staged chunks, fixture
    checkpoints): prefers memory-backed /dev/shm — checkpoint commits
    fsync many small files, which dominates fixture replay cost on
    disk (measured ~1.4× total st-family speedup on this host).

    Falls back to disk when /dev/shm is unwritable, lacks `need_bytes`
    (+64 MB headroom for checkpoint metadata) of free space, or
    DMR_FORCE_DISK=1 — tmpfs ENOSPC mid-replay is strictly worse than a
    slower run (ADVICE r3).

    The directory is removed at interpreter exit (registered here, so
    no caller can forget it); callers that hold tmpfs for less than
    the process lifetime still remove it themselves when done.

    Durability note, deliberately loud: a real deployment puts
    checkpoints on durable shared storage (HDFS/S3/ABFS) because the
    checkpoint IS the exactly-once contract across restarts. That is
    exactly why memory-backed is correct HERE and only here: this
    bounded fixture replay is rerunnable from scratch, its checkpoint
    dies with the process by design (run_available_now deletes it), and
    the durable-sink tests pass their own explicit checkpoint paths."""
    base = None
    if os.environ.get("DMR_FORCE_DISK") != "1" and os.access("/dev/shm", os.W_OK):
        st = os.statvfs("/dev/shm")
        if st.f_bavail * st.f_frsize >= need_bytes + 64 * 1024 * 1024:
            base = "/dev/shm"
    path = tempfile.mkdtemp(prefix=prefix, dir=base)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


# table -> (sort key, projected columns; None = all, stream schema).
# Each staged table replays in key order under its declared schema.
CHUNK_TABLES = {
    "events": ("event_id", None, EVENT_SCHEMA),
    "embeddings": (
        "vec_id", ["vec_id", "embedding"], "vec_id bigint, embedding array<float>"
    ),
    "documents": (
        "doc_id",
        None,
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    ),
}


def stage_chunks(
    sf_dir: str,
    table: str,
    n_chunks: int,
    workdir: str | None = None,
    exclude_source: str | None = None,
) -> str:
    """Split a fixture table (a CHUNK_TABLES key) into `n_chunks`
    key-ordered parquet files with strictly increasing mtimes (the
    file source replays in mtime order). Returns the chunk directory,
    removed at process exit when stage_chunks made it (ephemeral_dir);
    a caller-given `workdir` stays the caller's to clean up.

    `exclude_source` drops one documents source before chunking (the
    benchmark corpus is the static index side of decontamination, not
    feed). The events `ts` is cast ns→µs at staging (Spark has no ns
    timestamp; this is the same truncation sources/catalog.py applies
    on the batch path)."""
    key, columns, _ = CHUNK_TABLES[table]
    src = f"{sf_dir}/{table}.parquet"
    # Staged chunks ≈ source size; ask for 2× to cover re-encoding slack.
    workdir = workdir or ephemeral_dir(
        f"dmr_{table}_stream_", need_bytes=2 * os.path.getsize(src)
    )
    tbl = pq.read_table(src, columns=columns)
    if exclude_source is not None:
        tbl = tbl.filter(pa.compute.field("source") != exclude_source)
    tbl = tbl.sort_by(key)
    if table == "events":
        us = pa.compute.floor_temporal(tbl.column("ts"), unit="microsecond")
        tbl = tbl.set_column(
            tbl.schema.get_field_index("ts"), "ts", us.cast(pa.timestamp("us"))
        )
    n = tbl.num_rows
    base = time.time()
    for c in range(n_chunks):
        lo, hi = c * n // n_chunks, (c + 1) * n // n_chunks
        path = os.path.join(workdir, f"chunk_{c:04d}.parquet")
        pq.write_table(tbl.slice(lo, hi - lo), path)
        os.utime(path, (base + c, base + c))
    return workdir


def stage_event_chunks(sf_dir: str, n_chunks: int = 4, workdir: str | None = None) -> str:
    """stage_chunks over the events fixture, under the name and
    defaults perfbench/workloads.py stages its feed with."""
    return stage_chunks(sf_dir, "events", n_chunks, workdir)


def chunk_stream(spark: SparkSession, table: str, chunk_dir: str) -> DataFrame:
    """File-source stream over a CHUNK_TABLES table's staged chunks, one
    chunk per micro-batch, under the table's declared schema."""
    return (
        spark.readStream.schema(CHUNK_TABLES[table][2])
        .option("maxFilesPerTrigger", 1)
        .parquet(chunk_dir)
    )


def event_stream(spark: SparkSession, chunk_dir: str) -> DataFrame:
    """chunk_stream over staged events chunks."""
    return chunk_stream(spark, "events", chunk_dir)


@contextlib.contextmanager
def stream_conf(spark: SparkSession, **extra: str):
    """Run the block at STREAM_SHUFFLE_PARTITIONS shuffle partitions
    (plus any `extra` conf, keyed by name), then restore the session's
    previous values."""
    conf = {"spark.sql.shuffle.partitions": str(STREAM_SHUFFLE_PARTITIONS), **extra}
    prev = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def run_available_now(result: DataFrame, output_mode: str) -> DataFrame:
    """Execute a streaming result to completion (Trigger.AvailableNow)
    into a memory sink; return the sink as a DataFrame.

    AvailableNow processes everything staged, honoring per-batch limits,
    then stops — bounded replay with real micro-batch/state semantics.
    The returned frame holds the analyzed sink plan itself, so the
    sink's temp view is dropped before returning: the rows live exactly
    as long as the frame, not for the rest of the session.
    """
    name = "s" + uuid.uuid4().hex[:12]
    ckpt = ephemeral_dir("dmr_ckpt_")
    try:
        q = (
            result.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    spark = result.sparkSession
    out = spark.table(name)
    spark.catalog.dropTempView(name)
    return out
