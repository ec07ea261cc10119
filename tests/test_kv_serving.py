"""Streaming-maintained KV serving store (VERDICT r15 #2):
operators/kv.apply_kv_ops + streaming/kv_serving.py.

The property under test: chaining the incremental merge over ANY
seq-ordered batching of an op log — including redelivered batches and
replayed rows — converges to fold_kv_log of the whole log, and the
served point/multi-get reads prune to the probed shards."""

from __future__ import annotations

import os
import pathlib
import random
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from distributed_mapreduce_spark.operators.kv import (
    NSHARDS,
    apply_kv_ops,
    fold_kv_log,
    key2shard_py,
)

OPS_DDL = "key string, seq long, op string, value string"


def _mk_ops(raw):
    """raw: [(key, seq)] → deterministic (key, seq, op, value) rows
    (op/value derive from (key, seq) so duplicates are redeliveries)."""
    kinds = ["put", "append", "append", "get"]
    return [
        (k, s, kinds[(s + ord(k[0])) % 4], f"v{k}.{s}") for k, s in raw
    ]


@given(
    raw=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c", "d"]),
            st.integers(min_value=1, max_value=60),
        ),
        min_size=1,
        max_size=30,
        unique_by=lambda t: t[1],  # globally unique seq = a log offset
    ),
    cuts=st.lists(st.integers(min_value=1, max_value=29), max_size=3),
    redeliver=st.booleans(),
)
@settings(max_examples=12, deadline=None)
@pytest.mark.full_tier
def test_apply_kv_ops_chained_equals_one_shot_fold(spark, raw, cuts, redeliver):
    ops = _mk_ops(raw)
    want = {
        r.key: r.value
        for r in fold_kv_log(spark.createDataFrame(ops, OPS_DDL)).collect()
    }
    # seq-ordered batching at arbitrary cut points (the offset-order
    # delivery contract), optionally redelivering every batch twice
    ordered = sorted(ops, key=lambda o: o[1])
    bounds = sorted({c for c in cuts if c < len(ordered)}) + [len(ordered)]
    state = spark.createDataFrame([], "key string, value string, last_seq bigint")
    lo = 0
    for hi in bounds:
        if hi <= lo:
            continue
        batch = spark.createDataFrame(ordered[lo:hi], OPS_DDL)
        state = apply_kv_ops(state, batch).localCheckpoint(eager=True)
        if redeliver:
            # a replayed batch is all-stale: the last_seq watermark
            # must drop every row (no double-append)
            state = apply_kv_ops(state, batch).localCheckpoint(eager=True)
        lo = hi
    got = {r.key: r.value for r in state.select("key", "value").collect()}
    assert got == want


def test_apply_kv_ops_within_batch_order_free(spark):
    """Within one batch the rows may arrive in any order — the fold
    sorts by seq; and a batch put supersedes earlier batch appends
    while later ones concatenate onto it."""
    base = spark.createDataFrame(
        [("k", "OLD", 5)], "key string, value string, last_seq bigint"
    )
    batch = spark.createDataFrame(
        [
            ("k", 9, "append", "+B"),
            ("k", 7, "put", "NEW"),
            ("k", 6, "append", "dropped-by-put"),
            ("k", 8, "append", "+A"),
            ("k", 3, "append", "stale-below-watermark"),
        ],
        OPS_DDL,
    )
    out = {r.key: (r.value, r.last_seq) for r in apply_kv_ops(base, batch).collect()}
    assert out == {"k": ("NEW+A+B", 9)}
    # no put in batch: appends concatenate onto the stored value
    batch2 = spark.createDataFrame(
        [("k", 11, "append", "+C"), ("k", 10, "append", "+c")], OPS_DDL
    )
    base2 = spark.createDataFrame(
        [("k", "NEW+A+B", 9)], "key string, value string, last_seq bigint"
    )
    out2 = {r.key: (r.value, r.last_seq) for r in apply_kv_ops(base2, batch2).collect()}
    assert out2 == {"k": ("NEW+A+B+c+C", 11)}


def _ops_chunk(path, rows, mtime):
    tbl = pa.table(
        {
            "key": pa.array([r[0] for r in rows]),
            "seq": pa.array([r[1] for r in rows], pa.int64()),
            "op": pa.array([r[2] for r in rows]),
            "value": pa.array([r[3] for r in rows]),
        }
    )
    pq.write_table(tbl, path)
    os.utime(path, (mtime, mtime))


def _stage(tmp_path, ops, n_chunks):
    src = tmp_path / "oplog"
    src.mkdir(exist_ok=True)
    ordered = sorted(ops, key=lambda o: o[1])
    n = len(ordered)
    base = time.time()
    for c in range(n_chunks):
        lo, hi = c * n // n_chunks, (c + 1) * n // n_chunks
        _ops_chunk(str(src / f"c{c:03d}.parquet"), ordered[lo:hi], base + c)
    return str(src)


def _stream(spark, src):
    return (
        spark.readStream.schema(OPS_DDL)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )


def test_kv_serving_sink_end_to_end(spark, tmp_path):
    """The composed product shape: op-log stream → shard-partitioned
    versioned snapshot → pruned point/multi-get with as_of time
    travel. Final state equals the one-shot fold; the mid-chain as_of
    equals the prefix fold; a point get reads ONE shard directory;
    fresh-checkpoint replay converges; the store kind is pinned."""
    from distributed_mapreduce_spark.streaming.kv_serving import (
        foreach_batch_kv_serving,
        kv_served_get,
        kv_served_multi_get,
        read_kv_state,
    )

    rng = random.Random(7)
    keys = [str(i) for i in range(30)]
    ops = _mk_ops([(rng.choice(keys), s) for s in range(1, 241)])
    src = _stage(tmp_path, ops, 4)
    store, ckpt = str(tmp_path / "store"), str(tmp_path / "ckpt")

    foreach_batch_kv_serving(_stream(spark, src), store, ckpt).awaitTermination()

    full = spark.createDataFrame(ops, OPS_DDL)
    want = {r.key: r.value for r in fold_kv_log(full).collect()}
    got = {r.key: r.value for r in read_kv_state(spark, store).collect()}
    assert got == want

    # point gets: present keys match the fold, absent pads ""
    some_present = [k for k in keys if k in want][:3]
    for k in some_present + ["no-such-key"]:
        row = kv_served_get(spark, store, k).collect()
        assert row == [(k, want.get(k, ""))]

    # the point read lists exactly ONE shard directory
    df = kv_served_get(spark, store, some_present[0])
    files = df.inputFiles()
    assert files, "point get read no files for a present key"
    shard = key2shard_py(some_present[0])
    assert all(f"/p={shard}/" in f for f in files), files
    dirs = {f.rsplit("/", 1)[0] for f in files}
    assert len(dirs) == 1, dirs

    # multi-get: one row per key, absent pads "", only probed shards read
    probe = [some_present[0], some_present[1], "zz-absent"]
    mg = kv_served_multi_get(spark, store, probe)
    assert {(r.key, r.value) for r in mg.collect()} == {
        (k, want.get(k, "")) for k in probe
    }
    want_shards = {key2shard_py(k) for k in probe}
    got_shards = {
        int(f.split("/p=")[1].split("/")[0]) for f in mg.inputFiles()
    }
    assert got_shards <= want_shards, (got_shards, want_shards)

    # as_of time travel = the kvraft snapshot concept: state after
    # batch 1 committed == fold of the first two chunks (seq-ordered
    # count-slices, so the prefix is exact)
    n = len(ops)
    prefix = sorted(ops, key=lambda o: o[1])[: 2 * n // 4]
    want_pre = {
        r.key: r.value
        for r in fold_kv_log(spark.createDataFrame(prefix, OPS_DDL)).collect()
    }
    got_pre = {
        r.key: r.value for r in read_kv_state(spark, store, as_of=1).collect()
    }
    assert got_pre == want_pre
    # a served get at the historical version
    k0 = next(iter(want_pre))
    assert kv_served_get(spark, store, k0, as_of=1).collect() == [
        (k0, want_pre[k0])
    ]

    # fresh-checkpoint replay: every row is below the stored watermark
    # → all batches drop everything, state unchanged (convergence)
    foreach_batch_kv_serving(
        _stream(spark, src), store, str(tmp_path / "ckpt2")
    ).awaitTermination()
    got2 = {r.key: r.value for r in read_kv_state(spark, store).collect()}
    assert got2 == want

    # store-kind pin: a CDC-shaped store refuses the KV sink
    from distributed_mapreduce_spark.streaming.sinks import (
        foreach_batch_cdc_merge_partitioned,
    )

    cdc_store = str(tmp_path / "cdc")
    q = foreach_batch_cdc_merge_partitioned(
        _stream(spark, src).select(
            "key",
            F.col("seq").alias("ord"),
            F.lit(0).alias("is_delete"),
            "value",
        ),
        cdc_store,
        str(tmp_path / "cdc_ckpt"),
        "key",
        n_buckets=4,
    )
    q.awaitTermination()
    with pytest.raises(ValueError, match="not a kv_serving store"):
        foreach_batch_kv_serving(
            _stream(spark, src), cdc_store, str(tmp_path / "ckpt3")
        )


def test_kv_served_get_empty_shard_and_gets_ignored(spark, tmp_path):
    """A key routing to a shard no batch ever touched reads "" (the
    pruned read returns an empty frame, not an error), and `get` ops
    in the feed neither fold nor dirty the touched-shard set."""
    from distributed_mapreduce_spark.streaming.kv_serving import (
        foreach_batch_kv_serving,
        kv_served_get,
    )

    # single key "0" → shard ord('0')%10 = 8; plus a get op for a key
    # in a different shard, which must NOT create or touch that shard
    ops = [("0", 1, "put", "x"), ("1", 2, "get", "")]
    src = _stage(tmp_path, ops, 1)
    store, ckpt = str(tmp_path / "store"), str(tmp_path / "ckpt")
    foreach_batch_kv_serving(_stream(spark, src), store, ckpt).awaitTermination()

    import json

    man = json.loads(
        (pathlib.Path(store) / "v=0" / "_touched.json").read_text()
    )
    assert man["touched"] == [key2shard_py("0")]
    assert NSHARDS == man["n_buckets"]

    assert kv_served_get(spark, store, "0").collect() == [("0", "x")]
    # key "1" routes to an untouched shard: served as absent
    assert kv_served_get(spark, store, "1").collect() == [("1", "")]

    # the probe and the empty-shard frame are local relations: a get
    # runs no Python-worker scan of rows the driver already held
    for k in ("0", "1"):
        df = kv_served_get(spark, store, k)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" not in plan, plan


def test_kv_store_maintenance_lifecycle(spark, tmp_path):
    """The serving store composes with the partitioned layout's
    maintenance primitives (r16): compact_store_partitioned re-buckets
    with the PINNED routing expression — the xxhash64 default would
    scatter a key2shard store so present keys silently serve "" — and
    the compacted store keeps serving identical gets AND resumes
    through the KV sink; vacuum reclaims old versions (time travel
    below the reclaim refuses, head unaffected); the CDC sink refuses
    a key2shard-pinned store outright."""
    import json

    from distributed_mapreduce_spark.streaming.kv_serving import (
        foreach_batch_kv_serving,
        kv_served_get,
        read_kv_state,
    )
    from distributed_mapreduce_spark.streaming.sinks import (
        compact_store_partitioned,
        foreach_batch_cdc_merge_partitioned,
        vacuum_versions_partitioned,
    )

    rng = random.Random(11)
    keys = [str(i) for i in range(30)]
    ops = _mk_ops([(rng.choice(keys), s) for s in range(1, 241)])
    src = _stage(tmp_path, ops, 4)
    store, ckpt = str(tmp_path / "store"), str(tmp_path / "ckpt")
    foreach_batch_kv_serving(_stream(spark, src), store, ckpt).awaitTermination()
    want = {r.key: r.value for r in read_kv_state(spark, store).collect()}

    # chain reset: the compacted seed must route with key2shard
    dst = str(tmp_path / "compacted")
    compact_store_partitioned(spark, store, dst)
    seed = json.loads(
        (pathlib.Path(dst) / "v=-1" / "_touched.json").read_text()
    )
    assert seed["bucket_expr"] == "key2shard"
    got = {r.key: r.value for r in read_kv_state(spark, dst).collect()}
    assert got == want
    for k in list(want)[:3] + ["zz-absent"]:
        assert kv_served_get(spark, dst, k).collect() == [(k, want.get(k, ""))]
    # every seed partition dir IS the key's shard (scatter would
    # misplace rows even when the full-table fold still unions them)
    for d in pathlib.Path(dst, "v=-1").glob("p=*"):
        shard = int(d.name.split("=")[1])
        in_dir = spark.read.parquet(str(d))
        assert all(key2shard_py(r.key) == shard for r in in_dir.collect()), d

    # fresh-checkpoint resume over the compacted store converges (the
    # seeded last_seq watermarks drop every replayed row)
    foreach_batch_kv_serving(
        _stream(spark, src), dst, str(tmp_path / "ckpt2")
    ).awaitTermination()
    got2 = {r.key: r.value for r in read_kv_state(spark, dst).collect()}
    assert got2 == want

    # the CDC sink refuses the key2shard-pinned store
    with pytest.raises(ValueError, match="bucket_expr"):
        foreach_batch_cdc_merge_partitioned(
            _stream(spark, src).select(
                "key",
                F.col("seq").alias("ord"),
                F.lit(0).alias("is_delete"),
                "value",
            ),
            store,
            str(tmp_path / "cdc_ckpt"),
            "key",
            n_buckets=10,
        )

    # vacuum: old versions reclaimed, head unaffected, as_of below the
    # reclaim refuses instead of fabricating history
    reclaimed = vacuum_versions_partitioned(store, keep=2)
    assert 0 in reclaimed
    assert {
        r.key: r.value for r in read_kv_state(spark, store).collect()
    } == want
    # (the reclaimed version's manifest is gone with its dir, so the
    # refusal is the no-committed-version error rather than the
    # per-partition reclaim guard — either way: refuse, don't fabricate)
    with pytest.raises(FileNotFoundError, match="no committed version|reclaimed"):
        read_kv_state(spark, store, as_of=0).collect()
