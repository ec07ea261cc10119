"""Exactly-once sink semantics: resuming a file-sink stream from its
checkpoint must not duplicate rows; new data appends incrementally."""

from __future__ import annotations

import pytest
import pyarrow as pa
import pyarrow.parquet as pq
import os
import time

from distributed_mapreduce_spark.streaming import event_stream
from distributed_mapreduce_spark.streaming.sinks import parquet_stream_sink


def chunk(path, ids, mtime):
    tbl = pa.table(
        {
            "event_id": pa.array(ids, pa.int64()),
            "ts": pa.array([i * 1_000_000 for i in ids], pa.timestamp("us")),
            "user_id": pa.array([1] * len(ids), pa.int64()),
            "event_type": pa.array(["x"] * len(ids)),
            "value": pa.array([1.0] * len(ids)),
            "props": pa.array(["{}"] * len(ids)),
        }
    )
    pq.write_table(tbl, path)
    os.utime(path, (mtime, mtime))


def read_ids(spark, out):
    return sorted(r["event_id"] for r in spark.read.parquet(out).collect())


def test_file_sink_exactly_once_on_resume(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    base = time.time()
    chunk(str(src / "c1.parquet"), [1, 2, 3], base)

    def run():
        q = parquet_stream_sink(event_stream(spark, str(src)), out, ckpt)
        q.awaitTermination()

    run()
    assert read_ids(spark, out) == [1, 2, 3]

    # resume with NO new data: nothing duplicated
    run()
    assert read_ids(spark, out) == [1, 2, 3]

    # new chunk arrives: only the delta is appended
    chunk(str(src / "c2.parquet"), [4, 5], base + 5)
    run()
    assert read_ids(spark, out) == [1, 2, 3, 4, 5]


def test_streaming_rollup_partials_equal_batch_rollup(spark, tmp_path):
    """Streaming incremental-rollup ingest: per-batch partials folded
    at read time must equal the one-shot batch rollup bit-for-bit
    (decimal measure), resume with no data changes nothing, a new
    chunk folds in incrementally, and redelivering a batch's write is
    byte-idempotent."""
    from pyspark.sql import functions as F

    from distributed_mapreduce_spark.operators.incremental import (
        merge_partials,
        rollup,
    )
    from distributed_mapreduce_spark.streaming.sinks import (
        foreach_batch_rollup_partials,
    )

    src = tmp_path / "src"
    src.mkdir()
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    base = time.time()
    chunk(str(src / "c1.parquet"), [1, 2, 3, 10, 11], base)

    keys = ["user_id", "event_type"]
    measures = {"n": ("count", None), "total": ("sum", "v")}

    def prep(df):
        return df.withColumn("v", F.col("value").cast("decimal(18,4)"))

    def run():
        q = foreach_batch_rollup_partials(
            prep(event_stream(spark, str(src))), store, ckpt, keys, measures
        )
        q.awaitTermination()

    def merged():
        return {
            (r.user_id, r.event_type): (r.n, r.total)
            for r in merge_partials(
                spark.read.parquet(store), keys, measures
            ).collect()
        }

    def full():
        return {
            (r.user_id, r.event_type): (r.n, r.total)
            for r in rollup(
                prep(spark.read.parquet(str(src))), keys, measures
            ).collect()
        }

    run()
    assert merged() == full()

    run()  # resume, no new data
    assert merged() == full()

    chunk(str(src / "c2.parquet"), [4, 5], base + 5)
    run()  # new chunk arrives as its own batch partial
    assert merged() == full()

    # redelivery: rewriting an existing batch partial with the same
    # data replaces, never duplicates
    import pathlib

    batches = sorted(
        p.name for p in pathlib.Path(store).iterdir() if p.name.startswith("batch=")
    )
    assert len(batches) >= 2
    first = spark.read.parquet(f"{store}/{batches[0]}")
    redelivered = spark.createDataFrame(first.collect(), first.schema)
    before = merged()
    redelivered.write.mode("overwrite").parquet(f"{store}/{batches[0]}")
    assert merged() == before


def test_compact_partials_preserves_fold_and_redelivery_window(spark, tmp_path):
    """compact_partials: fold all-but-the-newest-keep batch partials
    into one base dir in a FRESH store. merge-at-read over the
    compacted store equals the original bit-for-bit (decimal measure);
    the kept directories are byte-verbatim copies, so a redelivery of
    a still-in-window batch rewrites its own dir exactly as before
    compaction (the double-count hazard of folding an
    outside-the-window batch cannot arise)."""
    import hashlib
    import pathlib

    from pyspark.sql import functions as F

    from distributed_mapreduce_spark.operators.incremental import (
        compact_partials,
        merge_partials,
    )
    from distributed_mapreduce_spark.streaming.sinks import (
        foreach_batch_rollup_partials,
    )

    src = tmp_path / "src"
    src.mkdir()
    store = str(tmp_path / "store")
    base = time.time()
    # 4 chunks -> 4 batch partials: 2 folded + keep=2 kept
    for i, ids in enumerate([[1, 2, 3], [10, 11], [4, 5], [2, 10]]):
        chunk(str(src / f"c{i}.parquet"), ids, base + 5 * i)

    keys = ["user_id", "event_type"]
    measures = {"n": ("count", None), "total": ("sum", "v")}

    def prep(df):
        return df.withColumn("v", F.col("value").cast("decimal(18,4)"))

    q = foreach_batch_rollup_partials(
        prep(event_stream(spark, str(src))), store, str(tmp_path / "ckpt"), keys, measures
    )
    q.awaitTermination()
    assert len(list(pathlib.Path(store).glob("batch=*"))) == 4

    def merged(path):
        return {
            (r.user_id, r.event_type): (r.n, r.total)
            for r in merge_partials(
                spark.read.parquet(path), keys, measures
            ).collect()
        }

    dst = str(tmp_path / "compacted")
    folded = compact_partials(spark, store, dst, keys, measures, keep=2)
    assert folded == [0, 1]
    dirs = sorted(p.name for p in pathlib.Path(dst).glob("batch=*"))
    assert dirs == ["batch=0", "batch=2", "batch=3"]
    assert merged(dst) == merged(store)

    # kept dirs are byte-verbatim (the redelivery window is intact)
    def md5s(root, name):
        return {
            p.name: hashlib.md5(p.read_bytes()).hexdigest()
            for p in (pathlib.Path(root) / name).glob("*.parquet")
        }

    for name in ("batch=2", "batch=3"):
        assert md5s(dst, name) == md5s(store, name)

    # the folded base carries the STORED schema, not sum's widened
    # decimal — a heterogeneous store hard-fails at read whenever the
    # narrow dir is inferred first (review-reproduced)
    assert (
        spark.read.parquet(f"{dst}/batch=0").schema
        == spark.read.parquet(f"{dst}/batch=2").schema
    )

    # nothing to fold (<= keep batches): pure copy, no batch=<id> merge
    dst2 = str(tmp_path / "compacted2")
    assert compact_partials(spark, dst, dst2, keys, measures, keep=3) == []
    assert merged(dst2) == merged(store)

    # re-runnable after a mid-compaction crash: a partially-copied
    # kept dir is replaced, never mixed
    (pathlib.Path(dst2) / "batch=3").joinpath("junk.parquet").unlink(missing_ok=True)
    assert compact_partials(spark, dst, dst2, keys, measures, keep=3) == []
    assert merged(dst2) == merged(store)

    # a fold whose sum genuinely overflows the stored decimal refuses
    # instead of writing NULLs into the base
    tiny = tmp_path / "tiny"
    for b, vals in enumerate([[("a", "99.99")], [("a", "99.99")], [("a", "1.00")], [("a", "1.00")]]):
        spark.createDataFrame(
            vals, "k string, total string"
        ).selectExpr("k", "CAST(total AS DECIMAL(4,2)) AS total").write.mode(
            "overwrite"
        ).parquet(str(tiny / f"batch={b}"))
    import pytest

    with pytest.raises(ValueError, match="overflow"):
        compact_partials(
            spark, str(tiny), str(tmp_path / "tiny_c"), ["k"],
            {"total": ("sum", "total")}, keep=2,
        )


def test_streaming_cdc_merge_maintains_table(spark, tmp_path):
    """Streaming MERGE INTO (foreach_batch_cdc_merge_partitioned): a
    replayed change stream — upserts, updates, delete tombstones —
    maintains a keyed snapshot across micro-batches; resume with no
    data adds no version; a late chunk folds in incrementally; and the
    final content is batch-boundary INVARIANT (all changes in one
    batch ≡ one chunk per batch — last-writer-wins composes)."""
    import pathlib as _pl

    from distributed_mapreduce_spark.streaming import event_stream
    from distributed_mapreduce_spark.streaming.replay import EVENT_SCHEMA
    from distributed_mapreduce_spark.streaming.sinks import (
        foreach_batch_cdc_merge_partitioned,
        read_current_partitioned,
    )

    src = tmp_path / "src"
    src.mkdir()
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    base = time.time()
    _cdc_change_chunk(
        str(src / "c1.parquet"), [(1, 1, "up", 10), (2, 2, "up", 20), (3, 3, "up", 30)], base
    )
    _cdc_change_chunk(
        str(src / "c2.parquet"), [(4, 2, "up", 21), (5, 3, "del", 0), (6, 4, "up", 40)], base + 5
    )

    def run(changes, store, ckpt):
        q = foreach_batch_cdc_merge_partitioned(changes, store, ckpt, "k", n_buckets=4)
        q.awaitTermination()
        return {r.k: r.v for r in read_current_partitioned(spark, store).collect()}

    def run_chunked():
        return run(_cdc_to_changes(event_stream(spark, str(src))), store, ckpt)

    assert run_chunked() == {1: 10.0, 2: 21.0, 4: 40.0}
    n_versions = len(list(_pl.Path(store).glob("v=*")))

    # resume with no new data: no new version, same content
    assert run_chunked() == {1: 10.0, 2: 21.0, 4: 40.0}
    assert len(list(_pl.Path(store).glob("v=*"))) == n_versions

    # late chunk folds in incrementally
    _cdc_change_chunk(
        str(src / "c3.parquet"), [(7, 1, "del", 0), (8, 5, "up", 50)], base + 10
    )
    assert run_chunked() == {2: 21.0, 4: 40.0, 5: 50.0}

    # batch-boundary invariance: the same change set delivered as ONE
    # batch (plain readStream, no maxFilesPerTrigger) ends at the same
    # snapshot
    one_batch = _cdc_to_changes(
        spark.readStream.schema(EVENT_SCHEMA).parquet(str(src))
    )
    assert run(one_batch, str(tmp_path / "store2"), str(tmp_path / "ckpt2")) == {
        2: 21.0,
        4: 40.0,
        5: 50.0,
    }


def test_streaming_cdc_merge_seeds_init_base(spark, tmp_path):
    """An initial base table seeds the maintained store as committed
    version v=-1 (distributed write): untouched keys pass through and
    changed keys take the stream's winning payload."""
    from distributed_mapreduce_spark.streaming import event_stream
    from distributed_mapreduce_spark.streaming.sinks import (
        foreach_batch_cdc_merge_partitioned,
        read_current_partitioned,
    )

    src = tmp_path / "src"
    src.mkdir()
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    chunk(str(src / "c1.parquet"), [100], time.time())  # user_id=1, value=1.0

    init = spark.createDataFrame([(1, 99.0), (7, 70.0)], "k bigint, v double")

    q = foreach_batch_cdc_merge_partitioned(
        _cdc_to_changes(event_stream(spark, str(src))),
        store,
        ckpt,
        "k",
        n_buckets=4,
        init=init,
    )
    q.awaitTermination()
    got = {r.k: r.v for r in read_current_partitioned(spark, store).collect()}
    assert got == {1: 1.0, 7: 70.0}  # k=1 upserted, k=7 passthrough


def _cdc_change_chunk(path, rows, mtime):
    # rows: (ord, key, type, value)
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[0] * 1_000_000 for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[1] for r in rows], pa.int64()),
            "event_type": pa.array([r[2] for r in rows]),
            "value": pa.array([float(r[3]) for r in rows], pa.float64()),
            "props": pa.array(["{}"] * len(rows)),
        }
    )
    pq.write_table(tbl, path)
    os.utime(path, (mtime, mtime))


def _cdc_to_changes(ev):
    from pyspark.sql import functions as F

    return ev.select(
        F.col("user_id").alias("k"),
        F.col("event_id").alias("ord"),
        (F.col("event_type") == "del").cast("int").alias("is_delete"),
        F.col("value").alias("v"),
    )


def _file_md5s(root):
    """path -> md5 of every data/commit file under a CDC store."""
    import hashlib
    import pathlib

    return {
        str(p.relative_to(root)): hashlib.md5(p.read_bytes()).hexdigest()
        for p in pathlib.Path(root).rglob("*")
        if p.is_file() and (p.suffix == ".parquet" or p.name == "_touched.json")
    }


def test_streaming_cdc_partitioned_matches_unpartitioned(spark, tmp_path):
    """A multi-bucket store must end at the same snapshot as a
    single-bucket one (`n_buckets=1`, every batch rewrites the whole
    snapshot) for the same chunked change feed (upserts, updates,
    deletes) with an init base seeded — and both at the literal
    expected snapshot."""
    from distributed_mapreduce_spark.streaming import event_stream
    from distributed_mapreduce_spark.streaming.sinks import (
        foreach_batch_cdc_merge_partitioned,
        read_current_partitioned,
    )

    src = tmp_path / "src"
    src.mkdir()
    base = time.time()
    _cdc_change_chunk(
        str(src / "c1.parquet"),
        [(1, 1, "up", 10), (2, 2, "up", 20), (3, 3, "up", 30), (4, 11, "up", 110)],
        base,
    )
    _cdc_change_chunk(
        str(src / "c2.parquet"),
        [(5, 2, "up", 21), (6, 3, "del", 0), (7, 4, "up", 40)],
        base + 5,
    )
    _cdc_change_chunk(
        str(src / "c3.parquet"),
        [(8, 1, "del", 0), (9, 5, "up", 50), (10, 11, "up", 111)],
        base + 10,
    )
    init = spark.createDataFrame([(7, 70.0), (2, 2.0)], "k bigint, v double")

    def snap(name, n_buckets):
        store, ckpt = str(tmp_path / name), str(tmp_path / f"{name}_ckpt")
        q = foreach_batch_cdc_merge_partitioned(
            _cdc_to_changes(event_stream(spark, str(src))),
            store,
            ckpt,
            "k",
            n_buckets=n_buckets,
            init=init,
        )
        q.awaitTermination()
        return store, {
            r.k: r.v for r in read_current_partitioned(spark, store).collect()
        }

    expect = {2: 21.0, 4: 40.0, 5: 50.0, 7: 70.0, 11: 111.0}
    assert snap("single", 1)[1] == expect
    store, got = snap("part", 4)
    assert got == expect

    # resume with no new data: no new version, same content
    import pathlib as _pl

    n_versions = len(list(_pl.Path(store).glob("v=*")))
    q = foreach_batch_cdc_merge_partitioned(
        _cdc_to_changes(event_stream(spark, str(src))),
        store,
        str(tmp_path / "part_ckpt"),
        "k",
        n_buckets=4,
        init=init,
    )
    q.awaitTermination()
    assert len(list(_pl.Path(store).glob("v=*"))) == n_versions
    assert {
        r.k: r.v for r in read_current_partitioned(spark, store).collect()
    } == expect

    # a torn write (version dir without its manifest) is invisible to
    # readers and cannot change the snapshot
    torn = _pl.Path(store) / "v=99"
    (torn / "p=0").mkdir(parents=True)
    sample = next((_pl.Path(store) / "v=-1").rglob("*.parquet"))
    (torn / "p=0" / sample.name).write_bytes(sample.read_bytes())
    assert {
        r.k: r.v for r in read_current_partitioned(spark, store).collect()
    } == expect

    # n_buckets is pinned: a different bucketing must refuse
    import pytest as _pt

    with _pt.raises(ValueError, match="n_buckets"):
        foreach_batch_cdc_merge_partitioned(
            _cdc_to_changes(event_stream(spark, str(src))),
            store,
            str(tmp_path / "part_ckpt2"),
            "k",
            n_buckets=8,
        )


def test_streaming_cdc_partitioned_rewrites_only_touched(spark, tmp_path):
    """THE scale contract (VERDICT r6 #1): a batch rewrites only the
    partitions its keys hash into — every pre-existing file in the
    store is byte-identical after the batch, and the new version
    holds exactly the touched buckets."""
    import pathlib as _pl

    from pyspark.sql import functions as F

    from distributed_mapreduce_spark.streaming import event_stream
    from distributed_mapreduce_spark.streaming.sinks import (
        foreach_batch_cdc_merge_partitioned,
        read_current_partitioned,
    )

    B = 4
    # pick keys from known buckets so chunk 2 provably touches ONE
    buckets = {
        r.k: r.p
        for r in spark.range(1, 40)
        .select(
            F.col("id").alias("k"),
            F.pmod(F.xxhash64(F.col("id")), F.lit(B)).cast("int").alias("p"),
        )
        .collect()
    }
    by_bucket: dict[int, list[int]] = {}
    for k, p in buckets.items():
        by_bucket.setdefault(p, []).append(k)
    ka, kb, kc = by_bucket[0][0], by_bucket[1][0], by_bucket[2][0]

    src = tmp_path / "src"
    src.mkdir()
    base = time.time()
    _cdc_change_chunk(
        str(src / "c1.parquet"),
        [(1, ka, "up", 1), (2, kb, "up", 2), (3, kc, "up", 3)],
        base,
    )
    store, ckpt = str(tmp_path / "store"), str(tmp_path / "ckpt")

    def run():
        q = foreach_batch_cdc_merge_partitioned(
            _cdc_to_changes(event_stream(spark, str(src))), store, ckpt, "k", n_buckets=B
        )
        q.awaitTermination()

    run()
    before = _file_md5s(store)
    assert before  # sanity: batch 0 wrote something

    # batch 1 touches only ka's bucket (bucket 0)
    _cdc_change_chunk(str(src / "c2.parquet"), [(4, ka, "up", 9)], base + 5)
    run()
    after = _file_md5s(store)

    # every file that existed before is still there, byte-identical
    assert {p: h for p, h in after.items() if p in before} == before
    # and the new version contains exactly the touched bucket
    new_files = sorted(set(after) - set(before))
    assert new_files, "batch 1 must have committed a new version"
    new_version_dirs = {p.split("/", 2)[1] for p in new_files if "/p=" in p}
    assert new_version_dirs == {"p=0"}
    got = {r.k: r.v for r in read_current_partitioned(spark, store).collect()}
    assert got == {ka: 9.0, kb: 2.0, kc: 3.0}

    # delete-to-empty: removing the only key in bucket 1 must not
    # resurrect kb from the older version (touched-but-absent = empty)
    _cdc_change_chunk(str(src / "c3.parquet"), [(5, kb, "del", 0)], base + 10)
    run()
    final = _file_md5s(store)
    assert {p: h for p, h in final.items() if p in after} == after
    got = {r.k: r.v for r in read_current_partitioned(spark, store).collect()}
    assert got == {ka: 9.0, kc: 3.0}


def test_streaming_cdc_partitioned_type_widening_and_torn_manifest(spark, tmp_path):
    """code-review r7 regressions: (a) a seed whose column types are
    narrower than the change stream's (decimal init vs double changes)
    must be coerced at seed time — untouched buckets keep their v=-1
    files forever, and mixed physical types would break every
    multi-version read; (b) a torn (empty) _touched.json is treated as
    uncommitted, not a permanent JSONDecodeError."""
    import pathlib as _pl

    from pyspark.sql import functions as F

    from distributed_mapreduce_spark.streaming import event_stream
    from distributed_mapreduce_spark.streaming.sinks import (
        foreach_batch_cdc_merge_partitioned,
        read_current_partitioned,
    )

    src = tmp_path / "src"
    src.mkdir()
    chunk(str(src / "c1.parquet"), [100], time.time())  # user_id=1, value=1.0
    init = spark.createDataFrame([(1, 99.0), (7, 70.0)], "k bigint, v double").select(
        "k", F.col("v").cast("decimal(15,2)").alias("v")
    )
    store, ckpt = str(tmp_path / "store"), str(tmp_path / "ckpt")
    q = foreach_batch_cdc_merge_partitioned(
        _cdc_to_changes(event_stream(spark, str(src))),
        store,
        ckpt,
        "k",
        n_buckets=4,
        init=init,
    )
    q.awaitTermination()
    # all buckets (touched by the batch or still on the v=-1 seed)
    # read together under one coerced type
    got = {r.k: float(r.v) for r in read_current_partitioned(spark, store).collect()}
    assert got == {1: 1.0, 7: 70.0}

    # torn manifest: a version dir with an EMPTY _touched.json is
    # invisible, and the snapshot still reads
    torn = _pl.Path(store) / "v=50"
    torn.mkdir()
    (torn / "_touched.json").write_text("")
    assert {
        r.k: float(r.v) for r in read_current_partitioned(spark, store).collect()
    } == got


def test_vacuum_versions_partitioned_reclaims_empty_commits(spark, tmp_path):
    """code-review r7: empty-touched commits older than the newest
    `keep` versions are debris — a stream of empty batches must not
    accumulate version dirs forever."""
    import json as _json
    import pathlib as _pl

    from distributed_mapreduce_spark.streaming import event_stream
    from distributed_mapreduce_spark.streaming.sinks import (
        foreach_batch_cdc_merge_partitioned,
        read_current_partitioned,
        vacuum_versions_partitioned,
    )

    src = tmp_path / "src"
    src.mkdir()
    chunk(str(src / "c1.parquet"), [1], time.time())
    store, ckpt = str(tmp_path / "store"), str(tmp_path / "ckpt")
    q = foreach_batch_cdc_merge_partitioned(
        _cdc_to_changes(event_stream(spark, str(src))), store, ckpt, "k", n_buckets=4
    )
    q.awaitTermination()
    # simulate a run of committed empty batches
    for v in range(1, 6):
        d = _pl.Path(store) / f"v={v}"
        d.mkdir()
        (d / "_touched.json").write_text(
            _json.dumps({"touched": [], "n_buckets": 4})
        )
    before = {r.k: r.v for r in read_current_partitioned(spark, store).collect()}
    deleted = vacuum_versions_partitioned(store, keep=2)
    # v=0 holds the only data; newest two commits (4, 5) survive; the
    # older empty commits (1, 2, 3) are reclaimed
    assert deleted == [1, 2, 3]
    left = sorted(int(p.name.split("=", 1)[1]) for p in _pl.Path(store).glob("v=*"))
    assert 0 in left and 4 in left and 5 in left
    assert {r.k: r.v for r in read_current_partitioned(spark, store).collect()} == before


def test_vacuum_versions_partitioned(spark, tmp_path):
    """Partition-scoped vacuum: versions still holding some
    partition's live (or redelivery-window) state survive; fully
    superseded ones are reclaimed; the snapshot is unchanged."""
    import pathlib as _pl

    from distributed_mapreduce_spark.streaming import event_stream
    from distributed_mapreduce_spark.streaming.sinks import (
        foreach_batch_cdc_merge_partitioned,
        read_current_partitioned,
        vacuum_versions_partitioned,
    )

    from pyspark.sql import functions as F

    B = 4
    by_bucket: dict[int, list[int]] = {}
    for r in (
        spark.range(1, 40)
        .select(
            F.col("id").alias("k"),
            F.pmod(F.xxhash64(F.col("id")), F.lit(B)).cast("int").alias("p"),
        )
        .collect()
    ):
        by_bucket.setdefault(r.p, []).append(r.k)
    # key ka rewritten in every batch; kb, kc (distinct buckets from
    # ka) only in batch 0 — their buckets' state must survive vacuum
    ka, kb, kc = by_bucket[0][0], by_bucket[1][0], by_bucket[2][0]

    src = tmp_path / "src"
    src.mkdir()
    base = time.time()
    _cdc_change_chunk(
        str(src / "c0.parquet"),
        [(1, ka, "up", 0), (2, kb, "up", 20), (3, kc, "up", 30)],
        base,
    )
    for i in range(1, 5):
        _cdc_change_chunk(
            str(src / f"c{i}.parquet"), [(10 + i, ka, "up", i)], base + i
        )
    store, ckpt = str(tmp_path / "store"), str(tmp_path / "ckpt")
    q = foreach_batch_cdc_merge_partitioned(
        _cdc_to_changes(event_stream(spark, str(src))), store, ckpt, "k", n_buckets=B
    )
    q.awaitTermination()

    before = {r.k: r.v for r in read_current_partitioned(spark, store).collect()}
    assert before == {ka: 4.0, kb: 20.0, kc: 30.0}

    import pytest as _pt

    with _pt.raises(ValueError):
        vacuum_versions_partitioned(store, keep=1)
    deleted = vacuum_versions_partitioned(store, keep=2)
    # key 1's bucket was rewritten in batches 0..4: only the newest two
    # of those version dirs still matter for it; batch 0 ALSO holds
    # keys 2,3's live state, so v=0 must survive
    left = sorted(int(p.name.split("=", 1)[1]) for p in _pl.Path(store).glob("v=*"))
    assert 0 in left and deleted and all(v in (1, 2) for v in deleted)
    after = {r.k: r.v for r in read_current_partitioned(spark, store).collect()}
    assert after == before


def test_vacuum_versions_keeps_redelivery_window(spark, tmp_path):
    """vacuum_versions_partitioned on a one-bucket store drops old
    committed versions, keeps the newest `keep`, refuses keep<2, never
    touches uncommitted dirs that may be in-flight writes (a store with
    nothing committed, a version newer than every committed one), and
    the maintained snapshot is unchanged after vacuuming."""
    import pathlib as _pl

    import pytest as _pt
    from pyspark.sql import functions as F

    from distributed_mapreduce_spark.streaming import event_stream
    from distributed_mapreduce_spark.streaming.commitlog import VersionManifests
    from distributed_mapreduce_spark.streaming.sinks import (
        foreach_batch_cdc_merge_partitioned,
        read_current_partitioned,
        vacuum_versions_partitioned,
    )

    src = tmp_path / "src"
    src.mkdir()
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    base = time.time()
    for i in range(4):  # 4 chunks -> 4 versions
        chunk(str(src / f"c{i}.parquet"), [i * 10 + 1], base + i)

    def to_changes(ev):
        return ev.select(
            F.col("user_id").alias("k"),
            F.col("event_id").alias("ord"),
            F.lit(0).alias("is_delete"),
            F.col("value").alias("v"),
        )

    q = foreach_batch_cdc_merge_partitioned(
        to_changes(event_stream(spark, str(src))), store, ckpt, "k", n_buckets=1
    )
    q.awaitTermination()
    assert (_pl.Path(store) / "v=1" / VersionManifests.MANIFEST).exists()
    before = {r.k: r.v for r in read_current_partitioned(spark, store).collect()}

    with _pt.raises(ValueError):
        vacuum_versions_partitioned(store, keep=1)

    # a store with NO committed versions (e.g. a live stream's first
    # in-flight write) must not be touched at all
    fresh = _pl.Path(str(tmp_path / "fresh_store"))
    (fresh / "v=0").mkdir(parents=True)  # uncommitted: no manifest
    assert vacuum_versions_partitioned(str(fresh), keep=2) == []
    assert (fresh / "v=0").exists()

    # an uncommitted version NEWER than every committed one is an
    # in-flight write, never debris
    inflight = _pl.Path(store) / "v=99"
    inflight.mkdir()

    deleted = vacuum_versions_partitioned(store, keep=2)
    assert deleted == [0, 1]
    assert inflight.exists()
    inflight.rmdir()
    left = sorted(
        int(p.name.split("=", 1)[1]) for p in _pl.Path(store).glob("v=*")
    )
    assert left == [2, 3]
    after = {r.k: r.v for r in read_current_partitioned(spark, store).collect()}
    assert after == before


@pytest.mark.full_tier
def test_streaming_dedup_ingest_matches_one_shot(spark, tmp_path):
    """foreach_batch_dedup_ingest (VERDICT r8 #6): streamed ingest
    over an id-ordered chunked feed must keep EXACTLY the same
    surviving-doc set as the one-shot batch policy
    (dedup_corpus_greedy), resume must change nothing, and a new
    chunk must fold in incrementally — still equal to the one-shot
    run over the widened corpus."""
    import pathlib

    import pyarrow as _pa
    import pyarrow.parquet as _pq
    from pyspark.sql import functions as F

    from distributed_mapreduce_spark.operators.dedup import dedup_corpus_greedy
    from distributed_mapreduce_spark.sources import table
    from distributed_mapreduce_spark.streaming.sinks import (
        foreach_batch_dedup_ingest,
        read_ingest_accepted,
    )

    docs = table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    rows = sorted(docs.collect(), key=lambda r: r.doc_id)
    src = tmp_path / "feed"
    src.mkdir()
    base = time.time()

    def write_chunk(name, chunk_rows, mtime):
        tbl = _pa.table(
            {
                "doc_id": _pa.array([r.doc_id for r in chunk_rows], _pa.int64()),
                "text": _pa.array([r.text for r in chunk_rows], _pa.string()),
            }
        )
        p = str(src / name)
        _pq.write_table(tbl, p)
        os.utime(p, (mtime, mtime))

    third = len(rows) // 3
    write_chunk("c1.parquet", rows[:third], base)
    write_chunk("c2.parquet", rows[third : 2 * third], base + 5)
    write_chunk("c3.parquet", rows[2 * third :], base + 10)

    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    tbl_name = "dedup_ingest_idx"

    def run():
        q = foreach_batch_dedup_ingest(
            (
                spark.readStream.schema("doc_id bigint, text string")
                .option("maxFilesPerTrigger", 1)
                .parquet(str(src))
            ),
            store,
            ckpt,
            tbl_name,
            min_jaccard=0.5,
            bands=16,
        )
        q.awaitTermination()

    try:
        run()
        got = sorted(
            r.doc_id for r in read_ingest_accepted(spark, store).collect()
        )
        want = sorted(
            r.doc_id
            for r in dedup_corpus_greedy(docs, 0.5, bands=16).select("doc_id").collect()
        )
        assert got == want
        assert len(got) < len(rows), "fixture plants near-dups; some must be rejected"

        # resume with no new data: nothing changes
        n_manifests = len(list(pathlib.Path(store, "_manifests").glob("*.json")))
        run()
        assert (
            sorted(r.doc_id for r in read_ingest_accepted(spark, store).collect())
            == got
        )
        assert (
            len(list(pathlib.Path(store, "_manifests").glob("*.json")))
            == n_manifests
        )

        # a fourth chunk (disjoint higher ids = shifted copies of the
        # corpus tail: mostly near-dups of already-accepted docs)
        extra = [
            (r.doc_id + 1000, r.text) for r in rows[2 * third :][:40]
        ]
        tbl = _pa.table(
            {
                "doc_id": _pa.array([i for i, _ in extra], _pa.int64()),
                "text": _pa.array([t for _, t in extra], _pa.string()),
            }
        )
        p4 = str(src / "c4.parquet")
        _pq.write_table(tbl, p4)
        os.utime(p4, (base + 15, base + 15))
        run()
        widened = docs.unionByName(
            spark.createDataFrame(extra, "doc_id bigint, text string")
        )
        want4 = sorted(
            r.doc_id
            for r in dedup_corpus_greedy(widened, 0.5, bands=16)
            .select("doc_id")
            .collect()
        )
        got4 = sorted(r.doc_id for r in read_ingest_accepted(spark, store).collect())
        assert got4 == want4
        # the duplicate tail chunk must have been (mostly) rejected
        assert sum(1 for i in got4 if i >= 1000) < len(extra)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl_name}")


@pytest.mark.full_tier
def test_dedup_ingest_compaction_and_fresh_checkpoint_replay(spark, tmp_path):
    """compact_dedup_ingest_store + the known-id gate: the batch
    chain folds into a fresh store's batch=-1 seed (manifest chain
    K → 1), a FRESH-checkpoint resume replays the whole feed onto the
    compacted store and CONVERGES — no survivor is re-accepted, no
    duplicate rows appear — and a genuinely new chunk still folds in
    equal to the one-shot batch policy."""
    import pathlib

    import pyarrow as _pa
    import pyarrow.parquet as _pq
    from pyspark.sql import functions as F

    from distributed_mapreduce_spark.operators.dedup import (
        compact_lsh_band_index,
        dedup_corpus_greedy,
    )
    from distributed_mapreduce_spark.sources import table
    from distributed_mapreduce_spark.streaming.sinks import (
        compact_dedup_ingest_store,
        foreach_batch_dedup_ingest,
        read_ingest_accepted,
    )

    docs = table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    rows = sorted(docs.collect(), key=lambda r: r.doc_id)[:300]
    src = tmp_path / "feed"
    src.mkdir()
    base = time.time()

    def write_chunk(name, chunk_rows, mtime):
        tbl = _pa.table(
            {
                "doc_id": _pa.array([r[0] for r in chunk_rows], _pa.int64()),
                "text": _pa.array([r[1] for r in chunk_rows], _pa.string()),
            }
        )
        p = str(src / name)
        _pq.write_table(tbl, p)
        os.utime(p, (mtime, mtime))

    half = len(rows) // 2
    write_chunk("c1.parquet", [(r.doc_id, r.text) for r in rows[:half]], base)
    write_chunk("c2.parquet", [(r.doc_id, r.text) for r in rows[half:]], base + 5)

    tbl_name = "dedup_compact_idx"

    def run(store, ckpt):
        q = foreach_batch_dedup_ingest(
            (
                spark.readStream.schema("doc_id bigint, text string")
                .option("maxFilesPerTrigger", 1)
                .parquet(str(src))
            ),
            store,
            ckpt,
            tbl_name,
            min_jaccard=0.5,
            bands=16,
        )
        q.awaitTermination()

    s1 = str(tmp_path / "s1")
    try:
        run(s1, str(tmp_path / "ckpt1"))
        got1 = sorted(r.doc_id for r in read_ingest_accepted(spark, s1).collect())

        s2 = str(tmp_path / "s2")
        n = compact_dedup_ingest_store(spark, s1, s2)
        assert n == len(got1)
        compact_lsh_band_index(spark, tbl_name, n_buckets=32)
        assert (
            len(list(pathlib.Path(s2, "_manifests").glob("*.json"))) == 1
        )
        assert sorted(
            r.doc_id for r in read_ingest_accepted(spark, s2).collect()
        ) == got1

        # fresh checkpoint against the compacted store: full replay of
        # c1+c2 converges (known-id gate), then a new chunk folds in
        extra = [(r.doc_id + 5000, r.text) for r in rows[:25]]
        write_chunk("c3.parquet", extra, base + 10)
        run(s2, str(tmp_path / "ckpt2"))
        got2 = sorted(r.doc_id for r in read_ingest_accepted(spark, s2).collect())
        assert len(got2) == len(set(got2)), "replay duplicated accepted rows"

        widened = docs.where(F.col("doc_id") < rows[-1].doc_id + 1).unionByName(
            spark.createDataFrame(extra, "doc_id bigint, text string")
        )
        want = sorted(
            r.doc_id
            for r in dedup_corpus_greedy(widened, 0.5, bands=16)
            .select("doc_id")
            .collect()
        )
        assert got2 == want
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl_name}")


@pytest.mark.full_tier
def test_streaming_ann_ingest_matches_one_shot_store(spark, tmp_path):
    """foreach_batch_ann_ingest: a chunked vector feed committed as
    manifest-gated batch/cell partitions probes IDENTICALLY to a
    one-shot write_ivf_store build (and, with codebooks, to the
    IVFADC store); the probe prunes cells at the partition level
    across batch dirs; resume changes nothing; a fresh-checkpoint
    replay against the compacted store converges with no duplicate
    ids."""
    import pathlib

    import pyarrow as _pa
    import pyarrow.parquet as _pq
    from pyspark.sql import functions as F

    from distributed_mapreduce_spark import plans
    from distributed_mapreduce_spark.operators.similarity import (
        ivf_store_topk,
        ivfpq_store_topk,
        train_centroids,
        train_pq_codebooks,
        write_ivf_store,
        write_ivfpq_store,
    )
    from distributed_mapreduce_spark.sources import table
    from distributed_mapreduce_spark.streaming.sinks import (
        ann_ingest_topk,
        compact_ann_ingest_store,
        foreach_batch_ann_ingest,
    )

    emb = table(spark, "/root/testdata/sf0.001", "embeddings")
    cents = train_centroids(emb, 16)
    cbs = train_pq_codebooks(emb, 64)
    rows = emb.collect()

    src = tmp_path / "feed"
    src.mkdir()
    base = time.time()
    third = len(rows) // 3
    for i, lo in enumerate([0, third, 2 * third]):
        chunk_rows = rows[lo : lo + third] if i < 2 else rows[lo:]
        tbl = _pa.table(
            {
                "vec_id": _pa.array([r.vec_id for r in chunk_rows], _pa.int64()),
                "embedding": _pa.array(
                    [list(map(float, r.embedding)) for r in chunk_rows],
                    _pa.list_(_pa.float32()),
                ),
            }
        )
        p = str(src / f"c{i}.parquet")
        _pq.write_table(tbl, p)
        os.utime(p, (base + 5 * i, base + 5 * i))

    store = str(tmp_path / "store")

    def run(st, ckpt, codebooks=None):
        q = foreach_batch_ann_ingest(
            (
                spark.readStream.schema("vec_id bigint, embedding array<float>")
                .option("maxFilesPerTrigger", 1)
                .parquet(str(src))
            ),
            st,
            ckpt,
            cents,
            codebooks=codebooks,
        )
        q.awaitTermination()

    run(store, str(tmp_path / "ckpt1"))
    qvec = [float(x) for x in rows[42].embedding]
    got = ann_ingest_topk(spark, store, cents, qvec, 10, nprobe=4)

    full = str(tmp_path / "full")
    write_ivf_store(emb.select("vec_id", "embedding"), cents, full)
    want = ivf_store_topk(spark, full, cents, qvec, 10, nprobe=4).collect()
    assert [(r.vec_id, r.cos_sim) for r in got.collect()] == [
        (r.vec_id, r.cos_sim) for r in want
    ]

    # partition pruning across batch dirs
    fmt = plans.physical_plan(got, "formatted")
    pf = [l for l in fmt.splitlines() if "PartitionFilters" in l]
    assert pf and "cell" in pf[0], fmt

    # resume: no new manifests, same result
    n_man = len(list(pathlib.Path(store, "_manifests").glob("*.json")))
    run(store, str(tmp_path / "ckpt1"))
    assert len(list(pathlib.Path(store, "_manifests").glob("*.json"))) == n_man

    # compact -> fresh checkpoint replay converges (known-id gate)
    store2 = str(tmp_path / "store2")
    n = compact_ann_ingest_store(spark, store, store2)
    assert n == len(rows)
    run(store2, str(tmp_path / "ckpt2"))
    back = spark.read.option("basePath", store2).parquet(
        *[str(p) for p in pathlib.Path(store2).glob("batch=*")]
    )
    ids = [r.vec_id for r in back.select("vec_id").collect()]
    assert len(ids) == len(set(ids)) == len(rows), "replay duplicated vectors"
    got2 = ann_ingest_topk(spark, store2, cents, qvec, 10, nprobe=4).collect()
    assert [(r.vec_id, r.cos_sim) for r in got2] == [
        (r.vec_id, r.cos_sim) for r in want
    ]

    # IVFADC form: codes-only store, ADC probe == one-shot IVFPQ store
    store3 = str(tmp_path / "store3")
    run(store3, str(tmp_path / "ckpt3"), codebooks=cbs)
    got3 = ann_ingest_topk(
        spark, store3, cents, qvec, 10, nprobe=4, codebooks=cbs
    ).collect()
    full2 = str(tmp_path / "full2")
    write_ivfpq_store(emb.select("vec_id", "embedding"), cents, cbs, full2)
    want3 = ivfpq_store_topk(spark, full2, cents, cbs, qvec, 10, nprobe=4).collect()
    assert [(r.vec_id, r.approx_dot) for r in got3] == [
        (r.vec_id, r.approx_dot) for r in want3
    ]


@pytest.mark.full_tier
def test_dedup_ingest_torn_append_replay(spark, tmp_path):
    """The torn-append replay edge the dedup sink's docstring claims
    (sinks.py keep-first normalization, ADVICE r9): crash BETWEEN
    append_lsh_band_index and the manifest commit, then replay. The
    replayed batch probes an index already holding its own torn band
    rows, so batch-internal candidate pairs can come back in EITHER
    (id_i, id_j) orientation — without the (min, max) normalization
    the greedy pass would resolve them inconsistently. Survivors must
    equal the one-shot batch policy, with no duplicate rows and no
    extra manifests."""
    import pathlib

    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from distributed_mapreduce_spark.operators.dedup import dedup_corpus_greedy
    from distributed_mapreduce_spark.sources import table
    from distributed_mapreduce_spark.streaming import commitlog
    from distributed_mapreduce_spark.streaming.sinks import (
        foreach_batch_dedup_ingest,
        read_ingest_accepted,
    )

    docs = table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    rows = sorted(docs.collect(), key=lambda r: r.doc_id)
    src = tmp_path / "feed"
    src.mkdir()
    base = time.time()

    def write_chunk(name, chunk_rows, mtime):
        tbl = pa.table(
            {
                "doc_id": pa.array([r.doc_id for r in chunk_rows], pa.int64()),
                "text": pa.array([r.text for r in chunk_rows], pa.string()),
            }
        )
        p = str(src / name)
        pq.write_table(tbl, p)
        os.utime(p, (mtime, mtime))

    third = len(rows) // 3
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    tbl_name = "dedup_torn_idx"

    def run():
        q = foreach_batch_dedup_ingest(
            (
                spark.readStream.schema("doc_id bigint, text string")
                .option("maxFilesPerTrigger", 1)
                .parquet(str(src))
            ),
            store,
            ckpt,
            tbl_name,
            min_jaccard=0.5,
            bands=16,
        )
        q.awaitTermination()

    real_commit = commitlog.ManifestStore.commit
    state = {"armed": False, "fired": False}

    def crashing_commit(self, batch_id, payload):
        if state["armed"] and not state["fired"]:
            state["fired"] = True
            raise RuntimeError("injected crash: torn index append")
        return real_commit(self, batch_id, payload)

    try:
        write_chunk("c1.parquet", rows[:third], base)
        run()  # batch 0 commits cleanly; the index table now exists

        # batch 1 (holds planted near-dups of batch 0 AND internal
        # pairs): append lands, manifest commit crashes
        write_chunk("c2.parquet", rows[third : 2 * third], base + 5)
        commitlog.ManifestStore.commit = crashing_commit
        state["armed"] = True
        with pytest.raises(StreamingQueryException, match="injected crash"):
            run()
        assert state["fired"]
        # the torn state: index holds batch 1's band rows, manifest absent
        assert len(list(pathlib.Path(store, "_manifests").glob("*.json"))) == 1
    finally:
        commitlog.ManifestStore.commit = real_commit

    try:
        run()  # replay batch 1 against its own torn band rows
        write_chunk("c3.parquet", rows[2 * third :], base + 10)
        run()

        got = sorted(r.doc_id for r in read_ingest_accepted(spark, store).collect())
        assert len(got) == len(set(got)), "replay duplicated accepted rows"
        want = sorted(
            r.doc_id
            for r in dedup_corpus_greedy(docs, 0.5, bands=16).select("doc_id").collect()
        )
        assert got == want
        assert len(list(pathlib.Path(store, "_manifests").glob("*.json"))) == 3
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl_name}")


@pytest.mark.full_tier
def test_ann_ingest_batch_probe_equals_per_query_loop(spark, tmp_path):
    """ann_ingest_topk_batch (VERDICT r8 #6 on the ingest layout): a
    multi-query serving batch probed in one manifest-gated,
    partition-pruned scan equals the single-query ann_ingest_topk
    loop per query — exact-cosine AND ADC forms — and cell pruning
    survives the broadcast query join (plan-asserted)."""
    from distributed_mapreduce_spark import plans
    from distributed_mapreduce_spark.operators.similarity import (
        train_centroids,
        train_pq_codebooks,
    )
    from distributed_mapreduce_spark.sources import table
    from distributed_mapreduce_spark.streaming.sinks import (
        ann_ingest_topk,
        ann_ingest_topk_batch,
        foreach_batch_ann_ingest,
    )

    emb = table(spark, "/root/testdata/sf0.001", "embeddings")
    cents = train_centroids(emb, 16)
    cbs = train_pq_codebooks(emb, 64)
    rows = emb.collect()

    src = tmp_path / "feed"
    src.mkdir()
    base = time.time()
    half = len(rows) // 2
    for i, chunk_rows in enumerate([rows[:half], rows[half:]]):
        tbl = pa.table(
            {
                "vec_id": pa.array([r.vec_id for r in chunk_rows], pa.int64()),
                "embedding": pa.array(
                    [list(map(float, r.embedding)) for r in chunk_rows],
                    pa.list_(pa.float32()),
                ),
            }
        )
        p = str(src / f"c{i}.parquet")
        pq.write_table(tbl, p)
        os.utime(p, (base + 5 * i, base + 5 * i))

    def run(st, ckpt, codebooks=None):
        q = foreach_batch_ann_ingest(
            (
                spark.readStream.schema("vec_id bigint, embedding array<float>")
                .option("maxFilesPerTrigger", 1)
                .parquet(str(src))
            ),
            st,
            ckpt,
            cents,
            codebooks=codebooks,
        )
        q.awaitTermination()

    qids = [7, 42, 99]
    qvecs = {
        int(r.vec_id): [float(x) for x in r.embedding]
        for r in rows
        if r.vec_id in qids
    }
    queries = spark.createDataFrame(
        [(i, qvecs[i]) for i in qids], "query_id bigint, qvec array<float>"
    )

    store = str(tmp_path / "store")
    run(store, str(tmp_path / "ckpt1"))
    batch = ann_ingest_topk_batch(spark, store, cents, queries, 10, nprobe=4)
    got = {}
    for r in batch.collect():
        got.setdefault(r.query_id, []).append((r.vec_id, r.cos_sim))
    for qid in qids:
        want = [
            (r.vec_id, r.cos_sim)
            for r in ann_ingest_topk(
                spark, store, cents, qvecs[qid], 10, nprobe=4
            ).collect()
        ]
        assert got[qid] == want, f"query {qid} diverged from the per-query loop"

    fmt = plans.physical_plan(batch, "formatted")
    pf = [l for l in fmt.splitlines() if "PartitionFilters" in l]
    assert pf and "cell" in pf[0], fmt
    assert "BroadcastHashJoin" in fmt and "SortMergeJoin" not in fmt, fmt

    # ADC form over an IVFADC ingest store
    store2 = str(tmp_path / "store2")
    run(store2, str(tmp_path / "ckpt2"), codebooks=cbs)
    batch2 = ann_ingest_topk_batch(
        spark, store2, cents, queries, 10, nprobe=4, codebooks=cbs
    )
    got2 = {}
    for r in batch2.collect():
        got2.setdefault(r.query_id, []).append((r.vec_id, r.approx_dot))
    for qid in qids:
        want2 = [
            (r.vec_id, r.approx_dot)
            for r in ann_ingest_topk(
                spark, store2, cents, qvecs[qid], 10, nprobe=4, codebooks=cbs
            ).collect()
        ]
        assert got2[qid] == want2, f"ADC query {qid} diverged"
    # ADC form too: cell pruning survives the broadcast LUT join
    fmt2 = plans.physical_plan(batch2, "formatted")
    pf2 = [l for l in fmt2.splitlines() if "PartitionFilters" in l]
    assert pf2 and "cell" in pf2[0], fmt2
    assert "BroadcastHashJoin" in fmt2 and "SortMergeJoin" not in fmt2, fmt2


@pytest.mark.full_tier
def test_knn_join_over_maintained_ann_ingest_store(spark, tmp_path):
    """The all-rows kNN join composed with the MAINTAINED index
    (VERDICT r11 #2's 100 TB shape end-to-end): knn_join_ivf with
    members=ann_ingest_members(store) — the manifest-gated committed
    rows of a streamed foreach_batch_ann_ingest store — must equal the
    join over a fresh assign_cells assignment (frozen centroids make
    the ingest layout a pure re-bucketing of the same rows), so the
    per-batch ingest amortizes the member-side assignment of every
    later corpus-wide kNN run."""
    import pyarrow as _pa
    import pyarrow.parquet as _pq

    from distributed_mapreduce_spark.operators.similarity import (
        knn_join_ivf,
        train_centroids,
    )
    from distributed_mapreduce_spark.sources import table
    from distributed_mapreduce_spark.streaming.sinks import (
        ann_ingest_members,
        foreach_batch_ann_ingest,
    )

    emb = table(spark, "/root/testdata/sf0.001", "embeddings")
    cents = train_centroids(emb, 16)
    rows = emb.collect()
    src = tmp_path / "feed"
    src.mkdir()
    base = time.time()
    half = len(rows) // 2
    for i, chunk in enumerate((rows[:half], rows[half:])):
        tbl = _pa.table(
            {
                "vec_id": _pa.array([r.vec_id for r in chunk], _pa.int64()),
                "embedding": _pa.array(
                    [list(map(float, r.embedding)) for r in chunk],
                    _pa.list_(_pa.float32()),
                ),
            }
        )
        p = str(src / f"c{i}.parquet")
        _pq.write_table(tbl, p)
        os.utime(p, (base + i, base + i))

    store = str(tmp_path / "store")
    q = foreach_batch_ann_ingest(
        (
            spark.readStream.schema("vec_id bigint, embedding array<float>")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        ),
        store,
        str(tmp_path / "ckpt"),
        cents,
    )
    q.awaitTermination()

    via_store = knn_join_ivf(
        emb, cents, 5, nprobe=4, members=ann_ingest_members(spark, store)
    ).collect()
    fresh = knn_join_ivf(emb, cents, 5, nprobe=4).collect()
    assert sorted(map(tuple, via_store)) == sorted(map(tuple, fresh))


def test_time_travel_as_of_both_layouts(spark, tmp_path):
    """VERSION AS OF time travel on both CDC store layouts — one
    bucket (each version a whole snapshot) and several: as_of=v
    reproduces the snapshot exactly as it stood after batch v
    committed (checked against every batch boundary), as_of below the
    first version raises, and the vacuum interplay is SOUND — the
    reader detects, per partition via the _vacuumed.json record, a
    historical fold that would silently resolve past a reclaimed
    rewrite, and refuses instead of fabricating history."""
    import pytest

    from distributed_mapreduce_spark.streaming import event_stream
    from distributed_mapreduce_spark.streaming.sinks import (
        foreach_batch_cdc_merge_partitioned,
        read_current_partitioned,
        vacuum_versions_partitioned,
    )

    src = tmp_path / "src"
    src.mkdir()
    base = time.time()
    # key 1 is rewritten in EVERY batch; key 2 only in batch 0 — after
    # a keep=2 vacuum, v=0 must survive for key 2's partition (its only
    # rewrite) while key 1's history stays navigable.
    _cdc_change_chunk(
        str(src / "c1.parquet"), [(1, 1, "up", 10), (2, 2, "up", 20)], base
    )
    _cdc_change_chunk(
        str(src / "c2.parquet"), [(3, 1, "up", 11), (4, 3, "up", 30)], base + 5
    )
    _cdc_change_chunk(
        str(src / "c3.parquet"), [(5, 1, "up", 12), (6, 3, "del", 0)], base + 10
    )
    expected = {
        0: {1: 10.0, 2: 20.0},
        1: {1: 11.0, 2: 20.0, 3: 30.0},
        2: {1: 12.0, 2: 20.0},
    }

    def run(store, n_buckets):
        q = foreach_batch_cdc_merge_partitioned(
            _cdc_to_changes(event_stream(spark, str(src))),
            store,
            store + "_ckpt",
            "k",
            n_buckets=n_buckets,
        )
        q.awaitTermination()

    single, part = str(tmp_path / "single"), str(tmp_path / "part")
    run(single, 1)
    run(part, 4)

    for store in (single, part):
        for v, exp in expected.items():
            assert {
                r.k: r.v
                for r in read_current_partitioned(spark, store, as_of=v).collect()
            } == exp, f"{store} as_of={v}"
        with pytest.raises(FileNotFoundError):
            read_current_partitioned(spark, store, as_of=-1)
    # as_of at/above the newest version == the live read
    assert {
        r.k: r.v for r in read_current_partitioned(spark, part, as_of=99).collect()
    } == expected[2]

    # vacuum interplay: key 2's only rewrite is v=0, so v=0 SURVIVES
    # keep=2 and every as_of stays exact...
    assert vacuum_versions_partitioned(part, keep=2) == []
    for v, exp in expected.items():
        assert {
            r.k: r.v
            for r in read_current_partitioned(spark, part, as_of=v).collect()
        } == exp
    # ...until the hot partitions outgrow their windows: two more
    # batches touching keys 1 AND 3 push both their keep=2 windows to
    # {v3, v4}, leaving v1/v2 protected by nothing (key 2's partition
    # only pins v0) — a mid-history reclamation. Afterward, time travel
    # into a reclaimed rewrite refuses, while as_of windows whose
    # every partition still resolves to a surviving manifest keep
    # working.
    _cdc_change_chunk(
        str(src / "c4.parquet"), [(7, 1, "up", 13), (8, 3, "up", 31)], base + 15
    )
    _cdc_change_chunk(
        str(src / "c5.parquet"), [(9, 1, "up", 14), (10, 3, "del", 0)], base + 20
    )
    run(part, 4)
    # key 1 history: v=0,1,2,3,4 — keep=2 keeps {3,4}; key 2: {0};
    # key 3: {1,2}; newest-2 overall {3,4} ⇒ nothing reclaimed yet?
    # v=0 still survives through key 2, but key 1's v=1,2 rewrites are
    # only protected by key 3's history (same bucket or not). Assert on
    # BEHAVIOR, not the deletion list: after vacuum, every as_of read
    # either matches the true boundary snapshot or refuses loudly —
    # never fabricates.
    deleted = vacuum_versions_partitioned(part, keep=2)
    assert deleted, "the widened histories must reclaim mid-history versions"
    expected[3] = {1: 13.0, 2: 20.0, 3: 31.0}
    expected[4] = {1: 14.0, 2: 20.0}
    for v, exp in expected.items():
        try:
            got = {
                r.k: r.v
                for r in read_current_partitioned(spark, part, as_of=v).collect()
            }
        except FileNotFoundError:
            # refusing is only legitimate when something was reclaimed
            assert deleted, f"as_of={v} refused with nothing vacuumed"
            continue
        assert got == exp, f"part as_of={v} after vacuum {deleted}"
    # the reclaimed rewrites must actually be refused, not silently
    # folded past (v=1 or v=2 hold key 1's vacuumed states when
    # anything was deleted)
    if deleted:
        refused = 0
        for v in deleted:
            try:
                read_current_partitioned(spark, part, as_of=v)
            except FileNotFoundError:
                refused += 1
        assert refused == len(deleted)


def test_time_travel_refuses_below_compaction_floor(spark, tmp_path):
    """compact_store_partitioned's v=-1 seed holds the HEAD snapshot
    of the source chain — a time-travel fold below the source's newest
    version that resolves any partition to the seed must refuse (the
    recorded history floor), not return head state labeled as old
    history (code-review r13); as_of at/above the floor reads the
    seed. Per ADVICE r13 the floor is a seed-semantics marker, not a
    blanket lower bound: after the documented fresh-checkpoint resume
    the new chain's batch ids restart at 0, and a new-chain version
    below the floor whose fold no longer touches seed content is a
    legitimately committed state that must stay reachable."""
    import pytest

    from distributed_mapreduce_spark.streaming import event_stream
    from distributed_mapreduce_spark.streaming.sinks import (
        compact_store_partitioned,
        foreach_batch_cdc_merge_partitioned,
        read_current_partitioned,
    )

    src = tmp_path / "src"
    src.mkdir()
    base = time.time()
    _cdc_change_chunk(str(src / "c1.parquet"), [(1, 1, "up", 10)], base)
    _cdc_change_chunk(str(src / "c2.parquet"), [(2, 1, "up", 11)], base + 5)
    _cdc_change_chunk(str(src / "c3.parquet"), [(3, 1, "up", 12)], base + 10)
    store, ckpt = str(tmp_path / "store"), str(tmp_path / "ckpt")
    q = foreach_batch_cdc_merge_partitioned(
        _cdc_to_changes(event_stream(spark, str(src))), store, ckpt, "k", n_buckets=2
    )
    q.awaitTermination()

    dst = str(tmp_path / "compacted")
    compact_store_partitioned(spark, store, dst)
    head = {r.k: r.v for r in read_current_partitioned(spark, dst).collect()}
    assert head == {1: 12.0}
    # at/above the floor (source head = v2): the seed answers
    assert {
        r.k: r.v for r in read_current_partitioned(spark, dst, as_of=2).collect()
    } == head
    # below it while the fold resolves to the seed: pre-compaction
    # history is gone — refuse, never fabricate (the uncompacted
    # source still answers exactly)
    for v in (0, 1):
        with pytest.raises(FileNotFoundError, match="history floor"):
            read_current_partitioned(spark, dst, as_of=v)
    assert {
        r.k: r.v for r in read_current_partitioned(spark, store, as_of=0).collect()
    } == {1: 10.0}

    # fresh-checkpoint resume against the compacted store (the
    # documented contract): the file source replays c1..c3 as new-chain
    # batches 0..2. Once those versions rewrite every data-bearing
    # partition, as_of below the old floor folds NO seed content and
    # must answer — the ADVICE r13 over-refusal case.
    q = foreach_batch_cdc_merge_partitioned(
        _cdc_to_changes(event_stream(spark, str(src))),
        dst,
        str(tmp_path / "ckpt2"),
        "k",
        n_buckets=2,
    )
    q.awaitTermination()
    for v, exp in {0: 10.0, 1: 11.0, 2: 12.0}.items():
        assert {
            r.k: r.v
            for r in read_current_partitioned(spark, dst, as_of=v).collect()
        } == {1: exp}, f"new-chain as_of={v}"
    # head unchanged: the replay converged
    assert {
        r.k: r.v for r in read_current_partitioned(spark, dst).collect()
    } == head


def _semdedup_feed(spark, tmp_path, n_chunks=3):
    """Stage the sf0.001 embeddings fixture as an ascending-vec_id
    chunked file feed (the streaming-dedup staging pattern), plus the
    frozen centroid list trained on the full corpus with dedup_q19's
    exact loop."""
    import glob as _glob
    import shutil as _shutil

    from distributed_mapreduce_spark.operators.similarity import (
        KM_ITERS,
        KM_K,
        kmeans_train,
    )
    from distributed_mapreduce_spark.queries.simops import DIM
    from distributed_mapreduce_spark.sources import table

    emb = table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    cents = kmeans_train(emb, DIM, KM_K, KM_ITERS)
    ids = sorted(r.vec_id for r in emb.select("vec_id").collect())
    src = tmp_path / "feed"
    src.mkdir()
    base = time.time()
    step = len(ids) // n_chunks
    bounds = [ids[i * step] for i in range(1, n_chunks)] + [ids[-1] + 1]
    lo = ids[0]
    for k, hi in enumerate(bounds):
        chunk = emb.where((emb.vec_id >= lo) & (emb.vec_id < hi))
        tmp = str(tmp_path / f"w{k}")
        chunk.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = _glob.glob(tmp + "/part-*.parquet")[0]
        dst = str(src / f"c{k}.parquet")
        _shutil.move(part, dst)
        os.utime(dst, (base + 5 * k, base + 5 * k))
        lo = hi
    return emb, cents, src, bounds


@pytest.mark.full_tier
def test_streaming_semdedup_matches_one_shot(spark, tmp_path):
    """foreach_batch_semdedup_ingest (VERDICT r13 #2): the streamed
    surviving representative set over an ascending-id chunked feed
    equals the ONE-SHOT semdedup_representatives — which with frozen
    centroids from kmeans_train equals the graded dedup_q19 exactly
    (shared assignment expression) — value-for-value on
    (rep_id, cell, n_members). Resume with no new data changes
    nothing; as_of=k reproduces the set after each batch boundary;
    a FRESH-checkpoint full replay converges."""
    import pathlib
    import shutil as _shutil

    from distributed_mapreduce_spark.queries.simops import (
        DIM,
        SEMDEDUP_TAU,
        semdedup_representatives,
    )
    from distributed_mapreduce_spark.streaming.sinks import (
        foreach_batch_semdedup_ingest,
        read_semdedup_representatives,
    )

    emb, cents, src, bounds = _semdedup_feed(spark, tmp_path)

    def one_shot(df):
        return sorted(
            (r.rep_id, r.cell, r.n_members)
            for r in semdedup_representatives(
                df, DIM, centroids=cents
            ).collect()
        )

    want = one_shot(emb)
    # frozen-centroid one-shot ≡ the trained-in-place graded form
    assert want == sorted(
        (r.rep_id, r.cell, r.n_members)
        for r in semdedup_representatives(emb, DIM).collect()
    )
    assert any(n > 1 for _, _, n in want), "fixture must plant duplicates"

    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")

    def run(checkpoint):
        q = foreach_batch_semdedup_ingest(
            (
                spark.readStream.schema("vec_id bigint, embedding array<float>")
                .option("maxFilesPerTrigger", 1)
                .parquet(str(src))
            ),
            store,
            checkpoint,
            cents,
            DIM,
            tau=SEMDEDUP_TAU,
        )
        q.awaitTermination()

    run(ckpt)
    got = sorted(
        (r.rep_id, r.cell, r.n_members)
        for r in read_semdedup_representatives(spark, store).collect()
    )
    assert got == want

    # time travel: as_of=k ≡ one-shot over the id prefix of batches ≤ k
    for k, hi in enumerate(bounds[:-1]):
        prefix = emb.where(emb.vec_id < hi)
        assert (
            sorted(
                (r.rep_id, r.cell, r.n_members)
                for r in read_semdedup_representatives(
                    spark, store, as_of=k
                ).collect()
            )
            == one_shot(prefix)
        ), f"as_of={k}"

    # resume with no new data: no change, no new manifests
    n_manifests = len(list(pathlib.Path(store, "_manifests").glob("*.json")))
    run(ckpt)
    assert (
        sorted(
            (r.rep_id, r.cell, r.n_members)
            for r in read_semdedup_representatives(spark, store).collect()
        )
        == want
    )
    assert (
        len(list(pathlib.Path(store, "_manifests").glob("*.json"))) == n_manifests
    )

    # fresh-checkpoint full replay: the known-id gate converges it —
    # same set, no duplicate members, no new merges beyond the gate's
    # empty batches
    _shutil.rmtree(ckpt, ignore_errors=True)
    run(str(tmp_path / "ckpt2"))
    again = read_semdedup_representatives(spark, store)
    assert (
        sorted((r.rep_id, r.cell, r.n_members) for r in again.collect()) == want
    )
    total_members = again.groupBy().sum("n_members").collect()[0][0]
    assert total_members == emb.count(), "replay must not duplicate members"


def test_cdc_schema_evolution_both_layouts(spark, tmp_path):
    """mergeSchema evolution end-to-end (VERDICT r13 #3): a CDC feed
    widens mid-stream — run 1 maintains (k, v); run 2 resumes over the
    SAME checkpoint with an added payload column x and
    merge_schema=True. Both store layouts (two buckets, one bucket)
    evolve: pre-addition rows read back with typed NULL x,
    post-addition winners carry values, and a TIME-TRAVEL read below
    the addition returns the OLD schema (the version manifest records
    the snapshot schema). A resume with merge_schema left False
    refuses loudly."""
    import pytest

    from distributed_mapreduce_spark.streaming.sinks import (
        foreach_batch_cdc_merge_partitioned,
        read_current_partitioned,
    )

    src = tmp_path / "src"
    src.mkdir()
    base_t = time.time()

    def chunk(name, rows, cols, mtime):
        # rows: list of tuples matching cols' arrow arrays
        tbl = pa.table(cols)
        p = str(src / name)
        pq.write_table(tbl, p)
        os.utime(p, (mtime, mtime))

    # run-1 feed: (k, ord, is_delete, v)
    chunk(
        "c1.parquet",
        None,
        {
            "k": pa.array([1, 2], pa.int64()),
            "ord": pa.array([1, 2], pa.int64()),
            "is_delete": pa.array([0, 0], pa.int32()),
            "v": pa.array(["a", "b"], pa.string()),
        },
        base_t,
    )
    # run-2 feed (written later): +x double; updates k=2, inserts k=3
    chunk(
        "c2.parquet",
        None,
        {
            "k": pa.array([2, 3], pa.int64()),
            "ord": pa.array([3, 4], pa.int64()),
            "is_delete": pa.array([0, 0], pa.int32()),
            "v": pa.array(["b2", "c"], pa.string()),
            "x": pa.array([9.5, None], pa.float64()),
        },
        base_t + 5,
    )

    def stream(schema):
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )

    s1 = "k bigint, ord bigint, is_delete int, v string"
    s2 = s1 + ", x double"

    for n_buckets in (2, 1):
        store = str(tmp_path / f"store_{n_buckets}")
        ckpt = str(tmp_path / f"ckpt_{n_buckets}")

        def run(schema, merge_schema):
            q = foreach_batch_cdc_merge_partitioned(
                _cdc_to_changes_cols(stream(schema)),
                store,
                ckpt,
                "k",
                n_buckets=n_buckets,
                merge_schema=merge_schema,
            )
            q.awaitTermination()

        def read(**kw):
            return read_current_partitioned(spark, store, **kw)

        # run 1 processes ONLY c1 (c2 not yet written at its staging
        # mtime? both files exist — gate run 1 by removing c2 first)
        os.rename(str(src / "c2.parquet"), str(tmp_path / "c2.hold"))
        run(s1, False)
        assert sorted((r.k, r.v) for r in read().collect()) == [(1, "a"), (2, "b")]
        os.rename(str(tmp_path / "c2.hold"), str(src / "c2.parquet"))

        # resume without merge_schema: loud refusal pointing at the
        # flag, store unchanged (the message travels inside the
        # StreamingQueryException wrapper)
        with pytest.raises(Exception) as exc:
            run(s2, False)
        assert "merge_schema=True" in str(exc.value)
        # resume WITH merge_schema: evolves
        run(s2, True)
        got = sorted((r.k, r.v, r.x) for r in read().collect())
        assert got == [(1, "a", None), (2, "b2", 9.5), (3, "c", None)]

        # time travel below the addition: OLD schema, old values
        old = read(as_of=0)
        assert old.columns == ["k", "v"]
        assert sorted((r.k, r.v) for r in old.collect()) == [
            (1, "a"),
            (2, "b"),
        ]
        # at/after the addition: evolved schema
        assert read(as_of=1).columns == ["k", "v", "x"]


def _cdc_to_changes_cols(df):
    """Identity mapping for the evolution feed: the staged chunks
    already carry (k, ord, is_delete, payload...)."""
    return df


@pytest.mark.full_tier
def test_ingest_store_time_travel(spark, tmp_path):
    """VERSION AS OF on the ingest-store batch chains (VERDICT r13
    #6): as_of=k on read_ingest_accepted / ann_ingest_members /
    ann_ingest_topk reproduces the post-batch-k state exactly at every
    boundary (dedup: ≡ the one-shot keep-first policy over the id
    prefix; ann: ≡ a one-shot IVF store over the prefix), and below a
    compacted store's history floor the readers refuse rather than
    surface the seed's folded head state."""
    import pyarrow as _pa
    import pyarrow.parquet as _pq
    import pytest

    from distributed_mapreduce_spark.operators.dedup import dedup_corpus_greedy
    from distributed_mapreduce_spark.operators.similarity import (
        ivf_store_topk,
        train_centroids,
        write_ivf_store,
    )
    from distributed_mapreduce_spark.sources import table
    from distributed_mapreduce_spark.streaming.sinks import (
        ann_ingest_members,
        ann_ingest_topk,
        compact_ann_ingest_store,
        compact_dedup_ingest_store,
        foreach_batch_dedup_ingest,
        foreach_batch_ann_ingest,
        read_ingest_accepted,
    )

    sf = "/root/testdata/sf0.001"
    base = time.time()

    # ── dedup store ────────────────────────────────────────────────
    docs = table(spark, sf, "documents").select("doc_id", "text")
    rows = sorted(docs.collect(), key=lambda r: r.doc_id)
    third = len(rows) // 3
    bounds = [rows[third].doc_id, rows[2 * third].doc_id, rows[-1].doc_id + 1]
    dsrc = tmp_path / "dfeed"
    dsrc.mkdir()
    for k, (lo, hi) in enumerate(
        zip([0, third, 2 * third], [third, 2 * third, len(rows)])
    ):
        chunk = rows[lo:hi]
        _pq.write_table(
            _pa.table(
                {
                    "doc_id": _pa.array([r.doc_id for r in chunk], _pa.int64()),
                    "text": _pa.array([r.text for r in chunk], _pa.string()),
                }
            ),
            str(dsrc / f"c{k}.parquet"),
        )
        os.utime(str(dsrc / f"c{k}.parquet"), (base + k, base + k))
    dstore = str(tmp_path / "dstore")
    tbl_name = "tt_dedup_idx"
    try:
        q = foreach_batch_dedup_ingest(
            (
                spark.readStream.schema("doc_id bigint, text string")
                .option("maxFilesPerTrigger", 1)
                .parquet(str(dsrc))
            ),
            dstore,
            str(tmp_path / "dckpt"),
            tbl_name,
            min_jaccard=0.5,
            bands=16,
        )
        q.awaitTermination()
        for k, hi in enumerate(bounds):
            want = sorted(
                r.doc_id
                for r in dedup_corpus_greedy(
                    docs.where(docs.doc_id < hi), 0.5, bands=16
                )
                .select("doc_id")
                .collect()
            )
            got = sorted(
                r.doc_id
                for r in read_ingest_accepted(spark, dstore, as_of=k).collect()
            )
            assert got == want, f"dedup as_of={k}"
        # compaction: below the floor the seed-including fold refuses
        dstore2 = str(tmp_path / "dstore2")
        compact_dedup_ingest_store(spark, dstore, dstore2)
        with pytest.raises(FileNotFoundError, match="history floor"):
            read_ingest_accepted(spark, dstore2, as_of=1)
        # at/above the floor (source head = batch 2): the seed answers
        assert sorted(
            r.doc_id for r in read_ingest_accepted(spark, dstore2, as_of=2).collect()
        ) == sorted(r.doc_id for r in read_ingest_accepted(spark, dstore).collect())
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl_name}")

    # ── ann store ──────────────────────────────────────────────────
    emb = table(spark, sf, "embeddings").select("vec_id", "embedding")
    cents = train_centroids(emb, 16)
    erows = sorted(emb.collect(), key=lambda r: r.vec_id)
    et = len(erows) // 3
    esrc = tmp_path / "efeed"
    esrc.mkdir()
    for k, (lo, hi) in enumerate(zip([0, et, 2 * et], [et, 2 * et, len(erows)])):
        chunk = erows[lo:hi]
        _pq.write_table(
            _pa.table(
                {
                    "vec_id": _pa.array([r.vec_id for r in chunk], _pa.int64()),
                    "embedding": _pa.array(
                        [list(map(float, r.embedding)) for r in chunk],
                        _pa.list_(_pa.float32()),
                    ),
                }
            ),
            str(esrc / f"c{k}.parquet"),
        )
        os.utime(str(esrc / f"c{k}.parquet"), (base + k, base + k))
    estore = str(tmp_path / "estore")
    q = foreach_batch_ann_ingest(
        (
            spark.readStream.schema("vec_id bigint, embedding array<float>")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(esrc))
        ),
        estore,
        str(tmp_path / "eckpt"),
        cents,
    )
    q.awaitTermination()
    qvec = [float(x) for x in erows[7].embedding]
    ebounds = [erows[et].vec_id, erows[2 * et].vec_id, erows[-1].vec_id + 1]
    for k, hi in enumerate(ebounds):
        ids = sorted(
            r.vec_id
            for r in ann_ingest_members(spark, estore, as_of=k)
            .select("vec_id")
            .collect()
        )
        assert ids == [r.vec_id for r in erows if r.vec_id < hi], f"ann as_of={k}"
        # probe as-of ≡ a one-shot IVF store over the same prefix
        full = str(tmp_path / f"efull{k}")
        write_ivf_store(
            emb.where(emb.vec_id < hi).select("vec_id", "embedding"), cents, full
        )
        want = ivf_store_topk(spark, full, cents, qvec, 10, nprobe=4).collect()
        got = ann_ingest_topk(
            spark, estore, cents, qvec, 10, nprobe=4, as_of=k
        ).collect()
        assert [(r.vec_id, r.cos_sim) for r in got] == [
            (r.vec_id, r.cos_sim) for r in want
        ], f"ann probe as_of={k}"
    # the batched probe takes the same as_of (per-query ≡ the single
    # probe at the same boundary — its standing contract)
    from distributed_mapreduce_spark.streaming.sinks import ann_ingest_topk_batch

    queries = spark.createDataFrame(
        [(1, [float(x) for x in erows[7].embedding]),
         (2, [float(x) for x in erows[11].embedding])],
        "query_id bigint, qvec array<double>",
    )
    batched = ann_ingest_topk_batch(
        spark, estore, cents, queries, 10, nprobe=4, as_of=0
    ).collect()
    singles = {
        qid: [
            (r.vec_id, r.cos_sim)
            for r in ann_ingest_topk(
                spark, estore, cents, qv, 10, nprobe=4, as_of=0
            ).collect()
        ]
        for qid, qv in [(1, [float(x) for x in erows[7].embedding]),
                        (2, [float(x) for x in erows[11].embedding])]
    }
    got_b: dict = {}
    for r in batched:
        got_b.setdefault(r.query_id, []).append((r.vec_id, r.cos_sim))
    assert got_b == singles

    estore2 = str(tmp_path / "estore2")
    compact_ann_ingest_store(spark, estore, estore2)
    with pytest.raises(FileNotFoundError, match="history floor"):
        ann_ingest_members(spark, estore2, as_of=0)
    assert ann_ingest_members(spark, estore2, as_of=2).count() == len(erows)


@pytest.mark.full_tier
def test_semdedup_ingest_compaction_and_resume(spark, tmp_path):
    """compact_semdedup_ingest_store: the batch chain folds into a
    batch=-1 seed with RESOLVED labels and an empty alias log; the
    representative set is unchanged; as_of below the recorded floor
    refuses on the compacted store; a FRESH-checkpoint full replay
    converges (no duplicate members, no new merges); a genuinely new
    chunk then folds in equal to the one-shot over the widened
    corpus."""
    import json
    import pathlib
    import shutil as _shutil

    import pytest

    from distributed_mapreduce_spark.queries.simops import (
        DIM,
        SEMDEDUP_TAU,
        semdedup_representatives,
    )
    from distributed_mapreduce_spark.streaming.sinks import (
        compact_semdedup_ingest_store,
        foreach_batch_semdedup_ingest,
        read_semdedup_representatives,
    )

    emb, cents, src, bounds = _semdedup_feed(spark, tmp_path)
    store = str(tmp_path / "store")

    def run(st, ckpt):
        q = foreach_batch_semdedup_ingest(
            (
                spark.readStream.schema("vec_id bigint, embedding array<float>")
                .option("maxFilesPerTrigger", 1)
                .parquet(str(src))
            ),
            st,
            ckpt,
            cents,
            DIM,
            tau=SEMDEDUP_TAU,
        )
        q.awaitTermination()

    run(store, str(tmp_path / "ckpt"))
    want = sorted(
        (r.rep_id, r.cell, r.n_members)
        for r in read_semdedup_representatives(spark, store).collect()
    )

    store2 = str(tmp_path / "store2")
    n = compact_semdedup_ingest_store(spark, store, store2)
    assert n == emb.count()
    got = sorted(
        (r.rep_id, r.cell, r.n_members)
        for r in read_semdedup_representatives(spark, store2).collect()
    )
    assert got == want
    # seed labels are resolved: the seed manifest's merge log is empty
    seed = json.loads(
        (pathlib.Path(store2) / "_manifests" / "-1.json").read_text()
    )
    assert seed["merges"] == [] and seed["compacted_from"] >= 3
    # history floor: below the source head the seed-including fold
    # refuses; at the head it answers
    with pytest.raises(FileNotFoundError, match="history floor"):
        read_semdedup_representatives(spark, store2, as_of=0)
    assert (
        sorted(
            (r.rep_id, r.cell, r.n_members)
            for r in read_semdedup_representatives(
                spark, store2, as_of=len(bounds) - 1
            ).collect()
        )
        == want
    )

    # fresh-checkpoint full replay converges: same set, no duplicate
    # members, and the replayed batches contribute no merges
    run(store2, str(tmp_path / "ckpt2"))
    again = read_semdedup_representatives(spark, store2)
    assert (
        sorted((r.rep_id, r.cell, r.n_members) for r in again.collect()) == want
    )
    assert again.groupBy().sum("n_members").collect()[0][0] == emb.count()
    for p in pathlib.Path(store2, "_manifests").glob("*.json"):
        assert json.loads(p.read_text()).get("merges", []) == [], p.name

    # a genuinely new chunk (shifted near-dup copies) folds in equal to
    # the one-shot over the widened corpus
    rows = emb.collect()
    extra = [
        (int(r.vec_id) + 100000, list(r.embedding)) for r in rows[:40]
    ]
    spark.createDataFrame(
        extra, "vec_id bigint, embedding array<float>"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "w_extra"))
    import glob as _glob

    part = _glob.glob(str(tmp_path / "w_extra") + "/part-*.parquet")[0]
    dst = str(src / "c_extra.parquet")
    _shutil.move(part, dst)
    os.utime(dst, (time.time() + 60, time.time() + 60))
    run(store2, str(tmp_path / "ckpt2"))
    widened = emb.unionByName(
        spark.createDataFrame(extra, "vec_id bigint, embedding array<float>")
    )
    want_w = sorted(
        (r.rep_id, r.cell, r.n_members)
        for r in semdedup_representatives(
            widened, DIM, centroids=cents
        ).collect()
    )
    got_w = sorted(
        (r.rep_id, r.cell, r.n_members)
        for r in read_semdedup_representatives(spark, store2).collect()
    )
    assert got_w == want_w
    # the shifted copies are exact duplicates of existing members, so
    # they must have merged into existing components, not new ones
    assert len(got_w) == len(want)


def test_cdc_evolution_with_narrow_init_preserves_added_values(spark, tmp_path):
    """r14 self-review regression: merge_schema=True with an `init`
    NARROWER than the change feed in the same run — the added column
    must be part of the snapshot from batch 0, or each batch's base
    read would drop survivors' previously-merged values and re-pad
    NULLs. Two batches: batch 0 sets x for k=1; batch 1 touches only
    k=2; k=1's x must SURVIVE batch 1 on both layouts (two buckets,
    one bucket)."""
    from distributed_mapreduce_spark.streaming.sinks import (
        foreach_batch_cdc_merge_partitioned,
        read_current_partitioned,
    )

    src = tmp_path / "src"
    src.mkdir()
    base_t = time.time()
    pq.write_table(
        pa.table(
            {
                "k": pa.array([1], pa.int64()),
                "ord": pa.array([1], pa.int64()),
                "is_delete": pa.array([0], pa.int32()),
                "v": pa.array(["a1"], pa.string()),
                "x": pa.array([7.5], pa.float64()),
            }
        ),
        str(src / "c1.parquet"),
    )
    os.utime(str(src / "c1.parquet"), (base_t, base_t))
    pq.write_table(
        pa.table(
            {
                "k": pa.array([2], pa.int64()),
                "ord": pa.array([2], pa.int64()),
                "is_delete": pa.array([0], pa.int32()),
                "v": pa.array(["b1"], pa.string()),
                "x": pa.array([None], pa.float64()),
            }
        ),
        str(src / "c2.parquet"),
    )
    os.utime(str(src / "c2.parquet"), (base_t + 5, base_t + 5))

    init = spark.createDataFrame([(1, "a0"), (2, "b0")], "k bigint, v string")
    schema = "k bigint, ord bigint, is_delete int, v string, x double"
    for n_buckets in (2, 1):
        store = str(tmp_path / f"s_{n_buckets}")
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = foreach_batch_cdc_merge_partitioned(
            stream, store, str(tmp_path / f"c_{n_buckets}"), "k",
            n_buckets=n_buckets, init=init, merge_schema=True,
        )
        q.awaitTermination()
        got = sorted(
            (r.k, r.v, r.x) for r in read_current_partitioned(spark, store).collect()
        )
        # k=1's x from batch 0 must survive batch 1 (which touched k=2)
        assert got == [(1, "a1", 7.5), (2, "b1", None)], n_buckets


def test_partitioned_sink_empty_newest_batch_schema(spark, tmp_path):
    """ADVICE r14 #1/#4 regression: an all-filtered batch as the
    NEWEST committed version records the snapshot schema via snap_ddl.
    The key column must appear exactly ONCE in that manifest (it was
    recorded twice), so the recorded-schema read and compaction work
    when the newest version is empty — an explicitly supported path."""
    import json

    from pyspark.sql import functions as F
    from distributed_mapreduce_spark.streaming.sinks import (
        compact_store_partitioned,
        foreach_batch_cdc_merge_partitioned,
        read_current_partitioned,
    )

    src = tmp_path / "src"
    src.mkdir()
    base_t = time.time()
    cols1 = {
        "k": pa.array([1, 2], pa.int64()),
        "ord": pa.array([1, 2], pa.int64()),
        "is_delete": pa.array([0, 0], pa.int32()),
        "v": pa.array(["a", "b"], pa.string()),
    }
    cols2 = {
        "k": pa.array([-5], pa.int64()),
        "ord": pa.array([3], pa.int64()),
        "is_delete": pa.array([0], pa.int32()),
        "v": pa.array(["drop-me"], pa.string()),
    }
    pq.write_table(pa.table(cols1), str(src / "c1.parquet"))
    os.utime(str(src / "c1.parquet"), (base_t, base_t))
    pq.write_table(pa.table(cols2), str(src / "c2.parquet"))
    os.utime(str(src / "c2.parquet"), (base_t + 5, base_t + 5))

    stream = (
        spark.readStream.schema("k bigint, ord bigint, is_delete int, v string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .where(F.col("k") > 0)  # batch 1 arrives all-filtered
    )
    store, ckpt = str(tmp_path / "store"), str(tmp_path / "ckpt")
    foreach_batch_cdc_merge_partitioned(
        stream, store, ckpt, "k", n_buckets=2
    ).awaitTermination()

    # newest committed version is the empty batch — its manifest's
    # recorded schema must carry each column exactly once
    man = json.loads((tmp_path / "store" / "v=1" / "_touched.json").read_text())
    names = [c for c, _t in man["schema"]]
    assert names == ["k", "v"], names
    snap = read_current_partitioned(spark, store)
    assert snap.columns == ["k", "v"]
    assert sorted((r.k, r.v) for r in snap.collect()) == [(1, "a"), (2, "b")]
    # compaction over the empty-newest chain (failed on the ambiguous
    # duplicate key column before the fix)
    dst = str(tmp_path / "compacted")
    compact_store_partitioned(spark, store, dst)
    got = read_current_partitioned(spark, dst)
    assert sorted((r.k, r.v) for r in got.collect()) == [(1, "a"), (2, "b")]


def test_partitioned_sink_refuses_stored_column_drop(spark, tmp_path):
    """ADVICE r14 #2: resuming an evolved store with a feed that LACKS
    a stored column must refuse — rewriting touched partitions without
    it is the silent column-drop data loss _evolve_base exists to
    refuse, in both strict and merge_schema modes."""
    import pytest as _pytest

    from distributed_mapreduce_spark.streaming.sinks import (
        foreach_batch_cdc_merge_partitioned,
    )

    src = tmp_path / "src"
    src.mkdir()
    base_t = time.time()
    wide = {
        "k": pa.array([1, 2], pa.int64()),
        "ord": pa.array([1, 2], pa.int64()),
        "is_delete": pa.array([0, 0], pa.int32()),
        "v": pa.array(["a", "b"], pa.string()),
        "x": pa.array([1.5, 2.5], pa.float64()),
    }
    pq.write_table(pa.table(wide), str(src / "c1.parquet"))
    os.utime(str(src / "c1.parquet"), (base_t, base_t))

    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    s_wide = "k bigint, ord bigint, is_delete int, v string, x double"
    foreach_batch_cdc_merge_partitioned(
        spark.readStream.schema(s_wide).parquet(str(src)),
        store,
        ckpt,
        "k",
        n_buckets=2,
    ).awaitTermination()

    # narrower resume feed over the SAME checkpoint (the versioned-
    # commit resume contract): touches k=1's partition, would drop x
    narrow = {
        "k": pa.array([1], pa.int64()),
        "ord": pa.array([9], pa.int64()),
        "is_delete": pa.array([0], pa.int32()),
        "v": pa.array(["a2"], pa.string()),
    }
    pq.write_table(pa.table(narrow), str(src / "c2.parquet"))
    os.utime(str(src / "c2.parquet"), (base_t + 5, base_t + 5))
    s_narrow = "k bigint, ord bigint, is_delete int, v string"
    for merge_schema in (False, True):
        # the failed batch never commits, so the checkpoint replays it
        with _pytest.raises(Exception) as exc:
            foreach_batch_cdc_merge_partitioned(
                spark.readStream.schema(s_narrow).parquet(str(src)),
                store,
                ckpt,
                "k",
                n_buckets=2,
                merge_schema=merge_schema,
            ).awaitTermination()
        assert "silently drop" in str(exc.value)


def test_partitioned_sink_init_only_column_fails_at_merge(spark, tmp_path):
    """ADVICE r14 #4: an `init` seed carrying a payload column the
    change feed lacks must not die with a KeyError at sink
    CONSTRUCTION — the snapshot schema falls back to the seed's type
    and the merge layer raises its explicit contract error at the
    first non-empty batch."""
    import pytest as _pytest

    from distributed_mapreduce_spark.streaming.sinks import (
        foreach_batch_cdc_merge_partitioned,
    )

    src = tmp_path / "src"
    src.mkdir()
    chg = {
        "k": pa.array([1], pa.int64()),
        "ord": pa.array([1], pa.int64()),
        "is_delete": pa.array([0], pa.int32()),
        "v": pa.array(["a2"], pa.string()),
    }
    pq.write_table(pa.table(chg), str(src / "c1.parquet"))

    init = spark.createDataFrame([(1, "a", 1.25)], "k bigint, v string, x double")
    # construction succeeds (no KeyError on x) ...
    q = foreach_batch_cdc_merge_partitioned(
        spark.readStream.schema("k bigint, ord bigint, is_delete int, v string")
        .parquet(str(src)),
        str(tmp_path / "store"),
        str(tmp_path / "ckpt"),
        "k",
        n_buckets=2,
        init=init,
        merge_schema=True,
    )
    # ... and the first non-empty batch raises the merge layer's loud
    # rename-or-drop contract error, naming the column
    with _pytest.raises(Exception) as exc:
        q.awaitTermination()
    msg = str(exc.value)
    assert "missing stored payload column" in msg and "'x'" in msg


def test_cdc_sink_type_widening_both_layouts(spark, tmp_path):
    """VERDICT r14 #3 end-to-end: a feed that WIDENS a payload column
    (float→double) mid-stream evolves both store layouts (two
    buckets, one bucket) under merge_schema=True — stored rows cast up
    losslessly, the current read returns the widened type, and a time
    travel below the widening returns the OLD type (per-version
    manifest schemas)."""
    from distributed_mapreduce_spark.streaming.sinks import (
        foreach_batch_cdc_merge_partitioned,
        read_current_partitioned,
    )

    src = tmp_path / "src"
    src.mkdir()
    base_t = time.time()
    c1 = {
        "k": pa.array([1, 2], pa.int64()),
        "ord": pa.array([1, 2], pa.int64()),
        "is_delete": pa.array([0, 0], pa.int32()),
        "v": pa.array([1.5, 2.5], pa.float32()),
    }
    c2 = {
        "k": pa.array([2, 3], pa.int64()),
        "ord": pa.array([3, 4], pa.int64()),
        "is_delete": pa.array([0, 0], pa.int32()),
        "v": pa.array([9.5, 3.25], pa.float64()),
    }
    pq.write_table(pa.table(c1), str(src / "c1.parquet"))
    os.utime(str(src / "c1.parquet"), (base_t, base_t))

    s1 = "k bigint, ord bigint, is_delete int, v float"
    s2 = "k bigint, ord bigint, is_delete int, v double"

    for n_buckets in (2, 1):
        store = str(tmp_path / f"store_{n_buckets}")
        ckpt = str(tmp_path / f"ckpt_{n_buckets}")

        def run(schema):
            stream = spark.readStream.schema(schema).parquet(str(src))
            q = foreach_batch_cdc_merge_partitioned(
                stream, store, ckpt, "k", n_buckets=n_buckets, merge_schema=True
            )
            q.awaitTermination()

        def read(**kw):
            return read_current_partitioned(spark, store, **kw)
        run(s1)
        assert dict(read().dtypes)["v"] == "float"
        pq.write_table(pa.table(c2), str(src / "c2.parquet"))
        os.utime(str(src / "c2.parquet"), (base_t + 5, base_t + 5))
        run(s2)
        cur = read()
        assert dict(cur.dtypes)["v"] == "double"
        got = sorted((r.k, round(r.v, 4)) for r in cur.collect())
        assert got == [(1, 1.5), (2, 9.5), (3, 3.25)]
        # time travel below the widening: the OLD type
        assert dict(read(as_of=0).dtypes)["v"] == "float"
        # the next layout's run 1 must see only c1 again
        os.remove(str(src / "c2.parquet"))


@pytest.mark.full_tier
def test_decontam_ingest_streamed_equals_one_shot(spark, tmp_path):
    """Streaming decontamination (VERDICT r14 #2): the streamed
    survivor set equals the one-shot scrub — and because the verdict
    is a pure function of (doc, static index), it stays equal under a
    FRESH checkpoint replay AND under DIFFERENT batching (the known-id
    gate stops duplicate writes, determinism does the rest). Also:
    torn-commit replay converges, and as_of= folds the exact prefix."""
    from pyspark.sql import functions as F

    from distributed_mapreduce_spark.queries.pipeline_queries import BENCH_SOURCE
    from distributed_mapreduce_spark.sources import widen
    from distributed_mapreduce_spark.sources.catalog import table
    from distributed_mapreduce_spark.streaming.replay import stage_document_chunks
    from distributed_mapreduce_spark.streaming.sinks import (
        build_decontam_index,
        foreach_batch_decontam_ingest,
        read_ingest_accepted,
    )

    sf = "/root/testdata/sf0.001"
    docs = widen(table(spark, sf, "documents"))
    bench = docs.where(F.col("source") == BENCH_SOURCE)
    index = str(tmp_path / "index")
    build_decontam_index(bench, index, "t_decontam_bands", max_bench_df=50)

    (tmp_path / "chunks").mkdir()
    chunks = stage_document_chunks(sf, 3, str(tmp_path / "chunks"), BENCH_SOURCE)
    schema = "doc_id bigint, text string, lang string, source string, n_chars bigint"

    def run(store, ckpt, max_files=1):
        foreach_batch_decontam_ingest(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", max_files)
            .parquet(chunks),
            store,
            ckpt,
            index,
        ).awaitTermination()
        return read_ingest_accepted(spark, store)

    store = str(tmp_path / "store")
    got = run(store, str(tmp_path / "ckpt"))
    ids = sorted(r.doc_id for r in got.select("doc_id").collect())
    assert len(ids) == len(set(ids)), "duplicate survivors"

    # one-shot scrub (same semantics in plain DataFrame code)
    from distributed_mapreduce_spark.operators.contamination import (
        contamination_report,
    )
    from distributed_mapreduce_spark.operators.dedup import (
        doc_shingles,
        jaccard_pairs,
    )

    train = docs.where(F.col("source") != BENCH_SOURCE)
    sh_all = doc_shingles(docs, carry=((F.col("source") == BENCH_SOURCE).alias("b"),)).persist()
    bench_sh = sh_all.where(F.col("b")).select("id", "shingle")
    train_sh = sh_all.where(~F.col("b")).select("id", "shingle")
    rep = contamination_report(train_sh, bench_sh, 0.5)
    dirty_exact = rep.where(F.col("contaminated")).select("id")
    hot = bench_sh.groupBy("shingle").count().where(F.col("count") > 50).select("shingle")
    sh_f = sh_all.join(hot, "shingle", "left_anti")
    pairs = jaccard_pairs(sh_f.select("id", "shingle"), 0.5)
    flags = sh_f.select("id", "b").distinct()
    cross = (
        pairs.join(flags.withColumnRenamed("id", "id_i").withColumnRenamed("b", "bi"), "id_i")
        .join(flags.withColumnRenamed("id", "id_j").withColumnRenamed("b", "bj"), "id_j")
        .where(F.col("bi") != F.col("bj"))
    )
    dirty_fuzzy = (
        cross.select(F.when(F.col("bi"), F.col("id_j")).otherwise(F.col("id_i")).alias("id"))
        .distinct()
    )
    survivors = train.join(
        dirty_exact.unionByName(dirty_fuzzy).distinct().withColumnRenamed("id", "doc_id"),
        "doc_id",
        "left_anti",
    )
    want = sorted(r.doc_id for r in survivors.select("doc_id").collect())
    sh_all.unpersist()
    from distributed_mapreduce_spark.caching import release_caches

    release_caches(pairs)  # jaccard_pairs attaches its internal cache
    assert ids == want

    # fresh checkpoint, same store: every committed batch short-circuits
    got2 = run(store, str(tmp_path / "ckpt2"))
    assert sorted(r.doc_id for r in got2.select("doc_id").collect()) == want

    # fresh checkpoint, DIFFERENT batching (all files in one batch):
    # known-id gate keeps the store duplicate-free and the set equal
    got3 = run(store, str(tmp_path / "ckpt3"), max_files=3)
    ids3 = sorted(r.doc_id for r in got3.select("doc_id").collect())
    assert ids3 == want

    # torn commit: last batch's manifest vanishes → the reader hides
    # the batch (as_of prefix still exact), and a fresh-checkpoint
    # replay re-commits it and converges
    from distributed_mapreduce_spark.streaming.commitlog import ManifestStore

    ms = ManifestStore(store)
    batches = [b for b, _ in ms.manifests()]
    pre = read_ingest_accepted(spark, store, as_of=batches[0])
    pre_ids = sorted(r.doc_id for r in pre.select("doc_id").collect())
    (ms.man_dir / f"{batches[-1]}.json").unlink()
    visible = sorted(
        r.doc_id
        for r in read_ingest_accepted(spark, store).select("doc_id").collect()
    )
    assert set(visible) < set(want)
    got4 = run(store, str(tmp_path / "ckpt4"))
    assert sorted(r.doc_id for r in got4.select("doc_id").collect()) == want
    # as_of prefix unchanged by the replay
    pre2 = read_ingest_accepted(spark, store, as_of=batches[0])
    assert sorted(r.doc_id for r in pre2.select("doc_id").collect()) == pre_ids


@pytest.mark.full_tier
def test_clean_ingest_streamed_equals_batch_composition(spark, tmp_path):
    """Composed cleaning ingest (VERDICT r14 #5): ONE foreachBatch
    pass chaining quality → decontam → exact dedup → near-dup greedy
    equals the batch composition (text_q6 predicate + decontamination
    scrub + keep-min-id-per-fingerprint + dedup_corpus_greedy) on an
    ascending-id feed; a fresh-checkpoint re-batched replay converges;
    per-batch checkpoint blocks are released (zero persisted RDDs
    after the run)."""
    from pyspark.sql import functions as F

    from distributed_mapreduce_spark.functions.text import (
        avg_token_len,
        fingerprint,
        stopword_ratio,
        token_count,
        tokens,
    )
    from distributed_mapreduce_spark.operators.contamination import (
        contamination_report,
    )
    from distributed_mapreduce_spark.operators.dedup import (
        dedup_corpus_greedy,
        doc_shingles,
        jaccard_pairs,
    )
    from distributed_mapreduce_spark.queries.pipeline_queries import BENCH_SOURCE
    from distributed_mapreduce_spark.queries.textops import (
        QF_MAX_TOK_LEN,
        QF_MAX_TOKENS,
        QF_MIN_SW_RATIO,
        QF_MIN_TOK_LEN,
        QF_MIN_TOKENS,
    )
    from distributed_mapreduce_spark.sources import widen
    from distributed_mapreduce_spark.sources.catalog import table
    from distributed_mapreduce_spark.streaming.replay import stage_document_chunks
    from distributed_mapreduce_spark.streaming.sinks import (
        build_decontam_index,
        foreach_batch_clean_ingest,
        read_ingest_accepted,
    )

    # the zero-blocks assertion below is about THIS sink: start from a
    # clean slate so a block leaked by an unrelated earlier test (the
    # suite shares one session) cannot fail it (r15 full-suite lesson)
    spark.catalog.clearCache()
    for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        jrdd.unpersist()

    sf = "/root/testdata/sf0.001"
    docs = widen(table(spark, sf, "documents"))
    bench = docs.where(F.col("source") == BENCH_SOURCE)
    index = str(tmp_path / "index")
    build_decontam_index(bench, index, "t_clean_bench_bands", max_bench_df=50)
    spark.sql("DROP TABLE IF EXISTS t_clean_corpus_bands")

    (tmp_path / "chunks").mkdir()
    chunks = stage_document_chunks(sf, 3, str(tmp_path / "chunks"), BENCH_SOURCE)
    schema = "doc_id bigint, text string, lang string, source string, n_chars bigint"
    toks = tokens("text")
    quality = (
        token_count("text").between(QF_MIN_TOKENS, QF_MAX_TOKENS)
        & (stopword_ratio(toks, "en") >= QF_MIN_SW_RATIO)
        & avg_token_len(toks).between(QF_MIN_TOK_LEN, QF_MAX_TOK_LEN)
    )

    def run(store, ckpt, max_files=1):
        foreach_batch_clean_ingest(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", max_files)
            .parquet(chunks),
            store,
            ckpt,
            "t_clean_corpus_bands",
            index,
            quality_predicate=quality,
        ).awaitTermination()
        return sorted(
            r.doc_id
            for r in read_ingest_accepted(spark, store).select("doc_id").collect()
        )

    store = str(tmp_path / "store")
    got = run(store, str(tmp_path / "ckpt"))
    assert len(got) == len(set(got)), "duplicate survivors"
    n_blocks = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert n_blocks == 0, f"{n_blocks} persisted RDDs leaked by the sink"

    # batch composition, stage by stage
    train = docs.where(F.col("source") != BENCH_SOURCE)
    q_pass = train.where(quality)
    sh_all = doc_shingles(
        docs, carry=((F.col("source") == BENCH_SOURCE).alias("b"),)
    ).persist()
    bench_sh = sh_all.where(F.col("b")).select("id", "shingle")
    rep = contamination_report(
        sh_all.where(~F.col("b")).select("id", "shingle"), bench_sh, 0.5
    )
    dirty_exact = rep.where(F.col("contaminated")).select("id")
    hot = bench_sh.groupBy("shingle").count().where(F.col("count") > 50).select("shingle")
    sh_f = sh_all.join(hot, "shingle", "left_anti")
    pairs = jaccard_pairs(sh_f.select("id", "shingle"), 0.5)
    flags = sh_f.select("id", "b").distinct()
    cross = (
        pairs.join(flags.withColumnRenamed("id", "id_i").withColumnRenamed("b", "bi"), "id_i")
        .join(flags.withColumnRenamed("id", "id_j").withColumnRenamed("b", "bj"), "id_j")
        .where(F.col("bi") != F.col("bj"))
    )
    dirty_fuzzy = cross.select(
        F.when(F.col("bi"), F.col("id_j")).otherwise(F.col("id_i")).alias("id")
    ).distinct()
    clean = q_pass.join(
        dirty_exact.unionByName(dirty_fuzzy).distinct().withColumnRenamed("id", "doc_id"),
        "doc_id",
        "left_anti",
    )
    from pyspark.sql import Window

    exact_kept = (
        clean.withColumn("_fp", fingerprint("text"))
        .withColumn(
            "_rk",
            F.row_number().over(Window.partitionBy("_fp").orderBy("doc_id")),
        )
        .where(F.col("_rk") == 1)
        .drop("_rk", "_fp")
    )
    survivors = dedup_corpus_greedy(exact_kept, 0.5)
    want = sorted(r.doc_id for r in survivors.select("doc_id").collect())
    sh_all.unpersist()
    from distributed_mapreduce_spark.caching import release_caches

    release_caches(pairs)  # jaccard_pairs attaches its internal cache
    assert got == want

    # fresh checkpoint, different batching: committed batches
    # short-circuit / known-id gate dedupes — set unchanged
    got2 = run(store, str(tmp_path / "ckpt2"), max_files=3)
    assert got2 == want


@pytest.mark.full_tier
def test_decontam_and_clean_store_compaction(spark, tmp_path):
    """Chain-reset maintenance for the r15 ingest stores: compaction
    folds accepted batches + sidecars into a fresh store's batch=-1
    seed (manifests K → 1); the compacted read equals the original; a
    FRESH-checkpoint full-feed replay on the compacted store converges
    (known-id gate + deterministic re-rejection); time travel below
    the history floor refuses when the fold includes the seed."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from distributed_mapreduce_spark.queries.pipeline_queries import BENCH_SOURCE
    from distributed_mapreduce_spark.sources import widen
    from distributed_mapreduce_spark.sources.catalog import table
    from distributed_mapreduce_spark.streaming.commitlog import ManifestStore
    from distributed_mapreduce_spark.streaming.replay import stage_document_chunks
    from distributed_mapreduce_spark.streaming.sinks import (
        build_decontam_index,
        compact_clean_ingest_store,
        compact_decontam_ingest_store,
        foreach_batch_clean_ingest,
        foreach_batch_decontam_ingest,
        read_ingest_accepted,
    )

    sf = "/root/testdata/sf0.001"
    docs = widen(table(spark, sf, "documents"))
    index = str(tmp_path / "index")
    build_decontam_index(
        docs.where(F.col("source") == BENCH_SOURCE),
        index,
        "t_compact_bench_bands",
        max_bench_df=50,
    )
    (tmp_path / "chunks").mkdir()
    chunks = stage_document_chunks(sf, 2, str(tmp_path / "chunks"), BENCH_SOURCE)
    schema = "doc_id bigint, text string, lang string, source string, n_chars bigint"

    def stream():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(chunks)
        )

    # ── decontam store ────────────────────────────────────────────
    store, dst = str(tmp_path / "d_store"), str(tmp_path / "d_compact")
    foreach_batch_decontam_ingest(
        stream(), store, str(tmp_path / "d_ckpt"), index
    ).awaitTermination()
    want = sorted(
        r.doc_id for r in read_ingest_accepted(spark, store).collect()
    )
    n = compact_decontam_ingest_store(spark, store, dst)
    assert n == len(want)
    assert len(ManifestStore(dst).manifests()) == 1
    got = sorted(r.doc_id for r in read_ingest_accepted(spark, dst).collect())
    assert got == want
    # fresh-checkpoint full replay on the compacted store converges
    foreach_batch_decontam_ingest(
        stream(), dst, str(tmp_path / "d_ckpt2"), index
    ).awaitTermination()
    got2 = sorted(r.doc_id for r in read_ingest_accepted(spark, dst).collect())
    assert got2 == want
    # history floor: a fold that includes the seed refuses below it
    with _pytest.raises(FileNotFoundError, match="history floor"):
        read_ingest_accepted(spark, dst, as_of=-1)

    # ── clean store ───────────────────────────────────────────────
    spark.sql("DROP TABLE IF EXISTS t_compact_corpus_bands")
    store, dst = str(tmp_path / "c_store"), str(tmp_path / "c_compact")
    foreach_batch_clean_ingest(
        stream(),
        store,
        str(tmp_path / "c_ckpt"),
        "t_compact_corpus_bands",
        index,
    ).awaitTermination()
    want = sorted(r.doc_id for r in read_ingest_accepted(spark, store).collect())
    n = compact_clean_ingest_store(spark, store, dst)
    assert n == len(want)
    seed = ManifestStore(dst).manifests()
    assert len(seed) == 1 and seed[0][1]["touched_fp"], seed
    got = sorted(r.doc_id for r in read_ingest_accepted(spark, dst).collect())
    assert got == want
    foreach_batch_clean_ingest(
        stream(),
        dst,
        str(tmp_path / "c_ckpt2"),
        "t_compact_corpus_bands",
        index,
    ).awaitTermination()
    got2 = sorted(r.doc_id for r in read_ingest_accepted(spark, dst).collect())
    assert got2 == want


def _refused_batch_leaves_nothing(spark, tmp_path, rows, schema, start, match):
    """Run one micro-batch of `rows` through the sink `start(stream,
    store, checkpoint)` builds, expect the batch to refuse with
    `match`, and assert the refusal left no manifest and no persisted
    RDD behind (the ingest driver's release path)."""
    from distributed_mapreduce_spark.streaming.commitlog import ManifestStore

    def persistent():
        return set(
            spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
        )

    src = tmp_path / "src"
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(src))
    store = str(tmp_path / "store")
    before = persistent()
    q = start(
        spark.readStream.schema(schema).parquet(str(src)),
        store,
        str(tmp_path / "ckpt"),
    )
    with pytest.raises(Exception, match=match):
        q.awaitTermination()
    assert ManifestStore(store).manifests() == []
    assert persistent() == before


def test_near_dup_gate_refusal_unpersists_shingles(spark, tmp_path, monkeypatch):
    """ADVICE r15: a GREEDY_MAX_PAIRS refusal (or any verify failure)
    inside the near-dup gate must not leak the persisted batch
    shingles — they would accumulate across redeliveries of a failing
    batch. The refusal is driven through foreach_batch_dedup_ingest,
    whose ingest driver releases every block the batch persisted."""
    import distributed_mapreduce_spark.operators.dedup as dedup_mod
    from distributed_mapreduce_spark.streaming.sinks import (
        foreach_batch_dedup_ingest,
    )

    monkeypatch.setattr(dedup_mod, "GREEDY_MAX_PAIRS", 0)
    txt = "the quick brown fox jumps over the lazy dog " * 4
    _refused_batch_leaves_nothing(
        spark,
        tmp_path,
        [(1, txt), (2, txt)],
        "doc_id bigint, text string",
        lambda stream, store, ckpt: foreach_batch_dedup_ingest(
            stream, store, ckpt, "no_such_band_table_r15"
        ),
        "GREEDY_MAX_PAIRS",
    )


def test_semdedup_edge_refusal_unpersists_batch(spark, tmp_path):
    """The SemDeDup twin: two identical vectors give one verified edge,
    over `max_pairs=0` the batch refuses before its driver-side
    collect, and the driver releases the batch's persisted frames
    (source, assignment, normalized view, edge list)."""
    from distributed_mapreduce_spark.streaming.sinks import (
        foreach_batch_semdedup_ingest,
    )

    _refused_batch_leaves_nothing(
        spark,
        tmp_path,
        [(1, [1.0, 0.0, 0.0, 0.0]), (2, [1.0, 0.0, 0.0, 0.0])],
        "vec_id bigint, embedding array<float>",
        lambda stream, store, ckpt: foreach_batch_semdedup_ingest(
            stream,
            store,
            ckpt,
            [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]],
            4,
            max_pairs=0,
        ),
        "driver-side bound of 0",
    )


def test_decontam_id_collision_across_corpora(spark, tmp_path):
    """ADVICE r15: training and benchmark ids are INDEPENDENT
    namespaces (two corpora commonly both number from 0/1). The fuzzy
    tier must (a) still reject a training doc that collides with its
    OWN contaminating benchmark doc's id — the probe's same-corpus
    id_i != id_j filter would silently drop exactly that candidate —
    and (b) not merge a colliding pair's shingle sets in the verify
    join, which corrupts jaccard in both directions. Ids deliberately
    collide: bench {1,2}, train {1,2,3}."""
    from distributed_mapreduce_spark.operators.dedup import doc_shingles
    from distributed_mapreduce_spark.streaming.sinks import (
        _decontam_dirty,
        _load_decontam_meta,
        build_decontam_index,
    )

    w = [f"tok{i}" for i in range(40)]
    bench1 = " ".join(w[:20])
    bench2 = " ".join(w[20:])
    bench = spark.createDataFrame(
        [(1, bench1), (2, bench2)], "doc_id bigint, text string"
    )
    train = spark.createDataFrame(
        [
            # id collides with its OWN contaminating bench doc (1≈1)
            (1, " ".join(w[:19] + ["changed"])),
            # clean doc whose id collides with UNRELATED bench doc 2 —
            # bare-id keying would merge its shingles into bench 2's
            # set and dilute train 3's verification below
            (2, " ".join(f"other{i}" for i in range(20))),
            # near-copy of bench 2 under a NON-colliding id (3≈2)
            (3, " ".join(w[20:39] + ["changed"])),
        ],
        "doc_id bigint, text string",
    )
    index = str(tmp_path / "index")
    build_decontam_index(bench, index, "t_idcollision_bands", max_bench_df=50)
    meta = _load_decontam_meta(index)
    sh_raw = doc_shingles(train)
    # min_overlap=2.0 disables the exact tier: the fuzzy path is the
    # one the collision breaks, so it is graded in isolation
    dirty = _decontam_dirty(spark, index, meta, sh_raw, 2.0, 0.5)
    got = {(r.id, r.why) for r in dirty.collect()}
    assert got == {(1, "fuzzy"), (3, "fuzzy")}
