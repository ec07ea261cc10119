"""Order-independence of the ord-gated CDC merge
(operators/cdc.py::merge_changes_ordered) and its partition-scoped
streaming sink (foreach_batch_cdc_merge_partitioned(ordered=True)).

The property under test: with per-key-unique ords, applying any
partition of a change set in ANY batch order converges to the same
snapshot — per key the max-ord change overall (a last-writer-wins
register). Tombstones are the load-bearing detail: a winning delete
keeps its row (flag=1, NULL payload) so its ord watermark survives and
a stale upsert redelivered AFTER the delete cannot resurrect the key.
"""

from __future__ import annotations

import os
import random
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from distributed_mapreduce_spark.operators.cdc import (
    merge_changes,
    merge_changes_ordered,
)

SNAP = "k long, v double, ord long, is_delete int"
CHG = "k long, ord long, is_delete int, v double"


def _snap(spark, rows):
    """rows: (k, v, ord, is_delete)"""
    return spark.createDataFrame(rows, SNAP)


def _chg(spark, rows):
    """rows: (k, ord, is_delete, v)"""
    return spark.createDataFrame(rows, CHG)


def _state(df) -> dict:
    rows = df.collect()
    out = {r.k: (r.v, r.ord, r.is_delete) for r in rows}
    # a broken survivors/applied split would emit duplicate keys that
    # the dict comprehension could silently mask (code-review r7-final)
    assert len(out) == len(rows), "snapshot contains duplicate keys"
    return out


def _expected(seed, changes) -> dict:
    """Python oracle: per key, the max-ord change overall wins; keys
    without changes keep their seed row. seed: (k, v, ord)."""
    st = {k: (v, o, 0) for k, v, o in seed}
    best: dict = {}
    for k, o, d, v in changes:
        if k not in best or o > best[k][0]:
            best[k] = (o, d, v)
    for k, (o, d, v) in best.items():
        st[k] = (None, o, 1) if d else (v, o, 0)
    return st


def test_ordered_merge_gates_stale_changes(spark):
    """The resurrection scenario, end to end: a newer delete lands
    first; the stale upsert redelivered afterwards must be a no-op
    (the tombstone's ord watermark gates it). Plus: stale delete after
    a newer upsert, insert of an unseen key, NULL seed ord open to any
    change."""
    seed = [(1, 10.0, None), (2, 20.0, None), (3, 30.0, None)]
    base = _snap(spark, [(k, v, o, 0) for k, v, o in seed])
    newer = [  # (k, ord, is_delete, v)
        (1, 100, 0, 11.0),  # upsert over NULL-ord seed
        (2, 200, 1, None),  # delete key 2
        (4, 50, 0, 44.0),  # insert unseen key
    ]
    stale = [
        (1, 90, 0, 666.0),  # stale upsert: must not overwrite ord 100
        (2, 150, 0, 666.0),  # stale upsert AFTER the delete: must not resurrect
        (3, 5, 1, None),  # delete over NULL-ord seed: applies
        (4, 40, 1, None),  # stale delete: must not remove ord-50 row
    ]
    s1 = merge_changes_ordered(base, _chg(spark, newer), "k")
    s2 = merge_changes_ordered(s1, _chg(spark, stale), "k")
    assert _state(s2) == _expected(seed, newer + stale) == {
        1: (11.0, 100, 0),
        2: (None, 200, 1),
        3: (None, 5, 1),
        4: (44.0, 50, 0),
    }
    # and the reverse delivery order converges to the same snapshot
    r1 = merge_changes_ordered(base, _chg(spark, stale), "k")
    r2 = merge_changes_ordered(r1, _chg(spark, newer), "k")
    assert _state(r2) == _state(s2)


def test_ordered_merge_redelivery_idempotent(spark):
    """Crash-redelivery of the SAME batch (ord ties on the stored row,
    >= gate) must rewrite identical content, deletes included."""
    base = _snap(spark, [(1, 10.0, 7, 0), (2, None, 9, 1)])
    batch = [(1, 8, 0, 18.0), (2, 12, 1, None), (3, 1, 0, 3.0)]
    once = merge_changes_ordered(base, _chg(spark, batch), "k")
    twice = merge_changes_ordered(once, _chg(spark, batch), "k")
    assert _state(once) == _state(twice) == {
        1: (18.0, 8, 0),
        2: (None, 12, 1),
        3: (3.0, 1, 0),
    }


@pytest.mark.full_tier
def test_ordered_merge_permutation_invariance(spark):
    """Random change sets, random batch partitions, random delivery
    orders: every permutation converges to the Python LWW oracle."""
    rng = random.Random(0xC0C)
    for _ in range(4):
        keys = list(range(1, 9))
        seed = [(k, float(k), None) for k in keys[:5]]
        ords = rng.sample(range(1, 200), 24)  # unique ords, the precondition
        changes = [
            (rng.choice(keys), o, int(rng.random() < 0.3), round(rng.random() * 100, 1))
            for o in ords
        ]
        changes = [(k, o, d, None if d else v) for k, o, d, v in changes]
        # partition into 3 batches, deliver in a random order
        rng.shuffle(changes)
        batches = [changes[0::3], changes[1::3], changes[2::3]]
        order = rng.sample(range(3), 3)
        snap = _snap(spark, [(k, v, o, 0) for k, v, o in seed])
        for i in order:
            snap = merge_changes_ordered(snap, _chg(spark, batches[i]), "k")
        assert _state(snap) == _expected(seed, changes)


def test_ordered_merge_in_order_feed_equals_plain_merge(spark):
    """On a feed that IS delivered in per-key ascending ord order —
    merge_changes' contract — the ordered path's live rows must equal
    the plain merge's output exactly (the two differ only in what they
    store, not in what they answer). This pins the relationship
    between the tiers: ordered is a superset guarantee, not a
    different semantics."""
    seed = [(1, 10.0), (2, 20.0), (3, 30.0)]
    batches = [
        [(1, 5, 0, 11.0), (4, 6, 0, 44.0)],
        [(2, 10, 1, None), (4, 12, 0, 45.0)],
        [(1, 20, 0, 12.0), (5, 21, 1, None)],
    ]
    plain = spark.createDataFrame(seed, "k long, v double")
    ordered = _snap(spark, [(k, v, None, 0) for k, v in seed])
    for b in batches:
        plain = merge_changes(plain, _chg(spark, b), "k")
        ordered = merge_changes_ordered(ordered, _chg(spark, b), "k")
    live = ordered.where(F.col("is_delete") == 0).select("k", "v")
    assert sorted((r.k, r.v) for r in live.collect()) == sorted(
        (r.k, r.v) for r in plain.collect()
    ) == [(1, 12.0), (3, 30.0), (4, 45.0)]


def test_ordered_merge_reaps_expired_tombstones(spark):
    """Opportunistic tombstone GC: a merge passing `reap_below` drops
    surviving tombstones older than the horizon (their bucket is being
    rewritten anyway); newer tombstones, live rows below the horizon,
    and NULL-ord seeds are all untouched."""
    base = _snap(
        spark,
        [
            (1, None, 5, 1),  # expired tombstone: reaped
            (2, None, 50, 1),  # tombstone inside the horizon: kept
            (3, 3.0, 5, 0),  # live row below horizon: NEVER reaped
            (4, 4.0, None, 0),  # NULL-ord seed: never matches
        ],
    )
    out = merge_changes_ordered(
        base, _chg(spark, [(9, 60, 0, 9.0)]), "k", reap_below=10
    )
    assert _state(out) == {
        2: (None, 50, 1),
        3: (3.0, 5, 0),
        4: (4.0, None, 0),
        9: (9.0, 60, 0),
    }
    # without the horizon the expired tombstone survives
    out2 = merge_changes_ordered(base, _chg(spark, [(9, 60, 0, 9.0)]), "k")
    assert 1 in _state(out2)


def test_ordered_merge_plan_base_unshuffled(spark, tmp_path):
    """The scale contract: BOTH base passes consume the snapshot
    shuffle-free — the payload scan feeds a broadcast LEFT ANTI and
    the probe scan is column-pruned to (key, ord) before its broadcast
    semi join; no SortMergeJoin/FullOuter anywhere, on the static AND
    AQE-final plans (the r5 CDC defect only showed on the latter)."""
    from distributed_mapreduce_spark import plans

    base_path = str(tmp_path / "base")
    _snap(spark, [(i, float(i), i, 0) for i in range(1, 200)]).write.parquet(base_path)
    base = spark.read.parquet(base_path)
    df = merge_changes_ordered(
        base, _chg(spark, [(1, 500, 0, 1.5), (999, 501, 0, 9.9)]), "k"
    )
    for p in (
        plans.physical_plan(df),
        plans.physical_plan(df, "formatted"),
    ):
        assert "SortMergeJoin" not in p, p
        assert "FullOuter" not in p, p
    assert "LeftAnti" in plans.physical_plan(df)
    # the payload scan (the only scan reading v) is exchange-free
    plans.assert_unshuffled_scan(df, "v#")
    # the probe scan reads exactly (k, ord) — column pruning reached
    # the parquet reader
    fmt = plans.physical_plan(df, "formatted")
    assert "struct<k:bigint,ord:bigint>" in fmt, fmt
    # AQE-final plan agrees
    df.collect()
    pf = plans.physical_plan(df, "simple")
    assert "SortMergeJoin" not in pf, pf
    plans.assert_unshuffled_scan(df, "v#")


def _chunk(path, rows, mtime):
    """rows: (ord, key, type, value) in the events-table wire schema."""
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


def _to_changes(ev):
    return ev.select(
        F.col("user_id").alias("k"),
        F.col("event_id").alias("ord"),
        (F.col("event_type") == "del").cast("int").alias("is_delete"),
        F.col("value").alias("v"),
    )


def test_streaming_cdc_ordered_sink_out_of_order_feed(spark, tmp_path):
    """The sink-level distinction: an out-of-order feed (later batches
    carry lower ords) through the ordered sink converges to the
    max-ord-wins snapshot; the unordered sink on the same feed keeps
    the latest-DELIVERED change instead — including resurrecting a
    deleted key. Also: the ordered flag is pinned in the manifest."""
    from distributed_mapreduce_spark.streaming import event_stream
    from distributed_mapreduce_spark.streaming.sinks import (
        foreach_batch_cdc_merge_partitioned,
        read_current_partitioned,
    )

    src = tmp_path / "src"
    src.mkdir()
    base = time.time()
    # batch 0: the NEWEST changes arrive first
    _chunk(str(src / "c1.parquet"), [(100, 1, "up", 1.0), (200, 2, "del", 0)], base)
    # batch 1: stale redeliveries + one genuine insert
    _chunk(
        str(src / "c2.parquet"),
        [(50, 1, "up", 9.0), (150, 2, "up", 8.0), (10, 3, "up", 10.0)],
        base + 5,
    )

    def run(store, ckpt, ordered):
        q = foreach_batch_cdc_merge_partitioned(
            _to_changes(event_stream(spark, str(src))),
            store,
            ckpt,
            "k",
            n_buckets=4,
            ordered=ordered,
        )
        q.awaitTermination()

    store_o = str(tmp_path / "ordered")
    run(store_o, str(tmp_path / "ordered_ckpt"), True)
    live = read_current_partitioned(spark, store_o, live_only=True)
    assert "is_delete" not in live.columns
    assert {r.k: r.v for r in live.collect()} == {1: 1.0, 3: 10.0}
    # the tombstone row is retained as the deleted key's watermark
    tomb = read_current_partitioned(spark, store_o).where(F.col("is_delete") != 0)
    assert [(r.k, r.ord) for r in tomb.collect()] == [(2, 200)]

    # negative control: the unordered sink applies delivery order
    store_u = str(tmp_path / "unordered")
    run(store_u, str(tmp_path / "unordered_ckpt"), False)
    got_u = {
        r.k: r.v for r in read_current_partitioned(spark, store_u).collect()
    }
    assert got_u == {1: 9.0, 2: 8.0, 3: 10.0}  # stale wins + resurrection
    # live_only is an ordered-store concept; the unordered layout refuses
    with pytest.raises(ValueError, match="live_only"):
        read_current_partitioned(spark, store_u, live_only=True)

    # mode is pinned: reopening the ordered store as unordered refuses
    with pytest.raises(ValueError, match="ordered"):
        foreach_batch_cdc_merge_partitioned(
            _to_changes(event_stream(spark, str(src))),
            store_o,
            str(tmp_path / "ckpt2"),
            "k",
            n_buckets=4,
            ordered=False,
        )
    # reaping requires the ordered snapshot (there is no watermark to
    # expire in the unordered layout)
    with pytest.raises(ValueError, match="reap_tombstones_below"):
        foreach_batch_cdc_merge_partitioned(
            _to_changes(event_stream(spark, str(src))),
            str(tmp_path / "u2"),
            str(tmp_path / "ckpt3"),
            "k",
            n_buckets=4,
            ordered=False,
            reap_tombstones_below=5,
        )


def test_streaming_cdc_ordered_unpartitioned_sink(spark, tmp_path):
    """Ordered mode on a single-bucket store (`n_buckets=1`: every
    batch rewrites the whole snapshot): the same out-of-order feed as
    the multi-bucket test converges to max-ord-wins, live_only hides
    the tombstone, and the tombstone keeps its ord watermark."""
    from distributed_mapreduce_spark.streaming import event_stream
    from distributed_mapreduce_spark.streaming.sinks import (
        foreach_batch_cdc_merge_partitioned,
        read_current_partitioned,
    )

    src = tmp_path / "src"
    src.mkdir()
    base = time.time()
    _chunk(str(src / "c1.parquet"), [(100, 1, "up", 1.0), (200, 2, "del", 0)], base)
    _chunk(
        str(src / "c2.parquet"),
        [(50, 1, "up", 9.0), (150, 2, "up", 8.0), (10, 3, "up", 10.0)],
        base + 5,
    )
    store, ckpt = str(tmp_path / "store"), str(tmp_path / "ckpt")
    q = foreach_batch_cdc_merge_partitioned(
        _to_changes(event_stream(spark, str(src))),
        store,
        ckpt,
        "k",
        n_buckets=1,
        ordered=True,
    )
    q.awaitTermination()
    live = read_current_partitioned(spark, store, live_only=True)
    assert "is_delete" not in live.columns
    assert {r.k: r.v for r in live.collect()} == {1: 1.0, 3: 10.0}
    tomb = read_current_partitioned(spark, store).where(F.col("is_delete") != 0)
    assert [(r.k, r.ord) for r in tomb.collect()] == [(2, 200)]

    # reaping requires ordered, at any bucket count
    with pytest.raises(ValueError, match="reap_tombstones_below"):
        foreach_batch_cdc_merge_partitioned(
            _to_changes(event_stream(spark, str(src))),
            str(tmp_path / "other"),
            str(tmp_path / "ckpt3"),
            "k",
            n_buckets=1,
            reap_tombstones_below=5,
        )


@pytest.mark.full_tier
def test_compact_store_resets_chain_and_replay_converges(spark, tmp_path):
    """compact_store_partitioned: the live snapshot (tombstones
    INCLUDED — their ord watermarks must survive compaction, or
    post-compaction replays would resurrect deleted keys) becomes a
    fresh store's single v=-1 seed; the manifest chain a reader folds
    drops to 1. A fresh-checkpoint resume then replays the whole feed
    onto the compacted snapshot and converges: every replayed change
    is gated to a no-op by its own persisted ord, and new data merges
    normally — the final state equals a straight uncompacted run."""
    from distributed_mapreduce_spark.streaming import event_stream
    from distributed_mapreduce_spark.streaming.commitlog import (
        VERSIONED,
        ManifestStore,
    )
    from distributed_mapreduce_spark.streaming.sinks import (
        compact_store_partitioned,
        foreach_batch_cdc_merge_partitioned,
        read_current_partitioned,
    )

    src = tmp_path / "src"
    src.mkdir()
    base = time.time()
    _chunk(str(src / "c1.parquet"), [(100, 1, "up", 1.0), (200, 2, "del", 0)], base)
    _chunk(str(src / "c2.parquet"), [(150, 2, "up", 8.0), (10, 3, "up", 10.0)], base + 5)

    def run(store, ckpt):
        q = foreach_batch_cdc_merge_partitioned(
            _to_changes(event_stream(spark, str(src))),
            store,
            ckpt,
            "k",
            n_buckets=4,
            ordered=True,
        )
        q.awaitTermination()

    s1 = str(tmp_path / "s1")
    run(s1, str(tmp_path / "ckpt1"))
    assert len(ManifestStore(s1, VERSIONED).manifests()) == 2  # one per batch

    s2 = str(tmp_path / "s2")
    compact_store_partitioned(spark, s1, s2, "k")
    assert len(ManifestStore(s2, VERSIONED).manifests()) == 1  # the chain reset
    # snapshot identical through compaction, tombstone included
    assert sorted(
        (r.k, r.v, r.ord, r.is_delete)
        for r in read_current_partitioned(spark, s2).collect()
    ) == sorted(
        (r.k, r.v, r.ord, r.is_delete)
        for r in read_current_partitioned(spark, s1).collect()
    )

    # new data arrives; resume against the compacted store with a
    # FRESH checkpoint — the file source replays c1+c2 too
    _chunk(
        str(src / "c3.parquet"),
        [(120, 2, "up", 666.0), (300, 4, "up", 4.0)],  # stale k2 + new k4
        base + 10,
    )
    run(s2, str(tmp_path / "ckpt2"))

    # straight uncompacted run over the full feed = the oracle
    s3 = str(tmp_path / "s3")
    run(s3, str(tmp_path / "ckpt3"))
    live = lambda s: sorted(
        (r.k, r.v)
        for r in read_current_partitioned(spark, s, live_only=True).collect()
    )
    assert live(s2) == live(s3) == [(1, 1.0), (3, 10.0), (4, 4.0)]

    # the routing key is pinned in the manifests: a mismatched key
    # refuses instead of silently scattering rows into wrong buckets
    with pytest.raises(ValueError, match="routes on key"):
        compact_store_partitioned(spark, s1, str(tmp_path / "bad"), "v")


def test_compact_store_unordered_replay_converges(spark, tmp_path):
    """The unordered half of the compaction convergence claim: a fresh
    checkpoint replays the whole in-order feed onto the compacted
    snapshot, the same winners re-apply in the same order, and the
    final state equals a straight run (the unordered snapshot has no
    tombstones — deletes replay as deletes)."""
    from distributed_mapreduce_spark.streaming import event_stream
    from distributed_mapreduce_spark.streaming.commitlog import (
        VERSIONED,
        ManifestStore,
    )
    from distributed_mapreduce_spark.streaming.sinks import (
        compact_store_partitioned,
        foreach_batch_cdc_merge_partitioned,
        read_current_partitioned,
    )

    src = tmp_path / "src"
    src.mkdir()
    base = time.time()
    _chunk(str(src / "c1.parquet"), [(1, 1, "up", 1.0), (2, 2, "up", 2.0)], base)
    _chunk(str(src / "c2.parquet"), [(3, 2, "del", 0), (4, 3, "up", 3.0)], base + 5)

    def run(store, ckpt):
        q = foreach_batch_cdc_merge_partitioned(
            _to_changes(event_stream(spark, str(src))), store, ckpt, "k", n_buckets=4
        )
        q.awaitTermination()

    s1 = str(tmp_path / "s1")
    run(s1, str(tmp_path / "ckpt1"))
    s2 = str(tmp_path / "s2")
    compact_store_partitioned(spark, s1, s2)  # key comes from the manifest
    assert len(ManifestStore(s2, VERSIONED).manifests()) == 1

    _chunk(str(src / "c3.parquet"), [(5, 1, "up", 9.0), (6, 4, "up", 4.0)], base + 10)
    run(s2, str(tmp_path / "ckpt2"))
    s3 = str(tmp_path / "s3")
    run(s3, str(tmp_path / "ckpt3"))
    snap = lambda s: sorted(
        (r.k, r.v) for r in read_current_partitioned(spark, s).collect()
    )
    assert snap(s2) == snap(s3) == [(1, 9.0), (3, 3.0), (4, 4.0)]


def test_streaming_cdc_ordered_sink_reaps_on_rewrite(spark, tmp_path):
    """Tombstone GC through the sink: a later batch that rewrites the
    tombstone's bucket (any same-bucket key) drops the expired
    watermark; the reaped store still serves the same live rows."""
    from pyspark.sql import functions as F2

    from distributed_mapreduce_spark.streaming import event_stream
    from distributed_mapreduce_spark.streaming.sinks import (
        foreach_batch_cdc_merge_partitioned,
        read_current_partitioned,
    )

    B = 4
    # two keys guaranteed to share a hash bucket
    rows = spark.range(1, 64).select(
        F2.col("id").alias("k"),
        F2.pmod(F2.xxhash64(F2.col("id")), F2.lit(B)).cast("int").alias("p"),
    ).collect()
    by_bucket: dict = {}
    for r in rows:
        by_bucket.setdefault(r.p, []).append(r.k)
    ka, kb = by_bucket[0][0], by_bucket[0][1]

    src = tmp_path / "src"
    src.mkdir()
    base = time.time()
    _chunk(str(src / "c1.parquet"), [(100, ka, "del", 0)], base)
    _chunk(str(src / "c2.parquet"), [(300, kb, "up", 7.0)], base + 5)

    store, ckpt = str(tmp_path / "store"), str(tmp_path / "ckpt")
    q = foreach_batch_cdc_merge_partitioned(
        _to_changes(event_stream(spark, str(src))),
        store,
        ckpt,
        "k",
        n_buckets=B,
        ordered=True,
        reap_tombstones_below=200,
    )
    q.awaitTermination()
    snap = read_current_partitioned(spark, store)
    # batch 1 rewrote bucket 0 (kb's upsert) and reaped ka's expired
    # tombstone (ord 100 < 200) in the same pass
    assert {(r.k, r.v, r.is_delete) for r in snap.collect()} == {(kb, 7.0, 0)}


# ── mergeSchema type widening (VERDICT r14 #3 + ADVICE r14 #3) ───────


def test_merge_schema_accepts_lossless_widenings(spark):
    """A change batch whose shared columns WIDEN losslessly (int→
    bigint, float→double, decimal growth, byte→short) evolves: stored
    rows cast up, merged output carries the widened schema, values
    unchanged — the Delta type-widening behavior, key column included
    (the 'upstream widens an id column' case)."""
    base = spark.createDataFrame(
        [(1, 1.5, "a"), (2, 2.5, "b")],
        "k int, v float, t string",
    ).withColumn("d", F.lit("1.25").cast("decimal(6,2)"))
    changes = spark.createDataFrame(
        [(2, 10, 0, 9.5, "b2", "3.125")],
        "k bigint, ord bigint, is_delete int, v double, t string, d string",
    ).withColumn("d", F.col("d").cast("decimal(9,3)"))
    out = merge_changes(base, changes, "k", merge_schema=True)
    types = dict(out.dtypes)
    assert types == {
        "k": "bigint",
        "v": "double",
        "t": "string",
        "d": "decimal(9,3)",
    }
    got = {r.k: (r.v, r.t, str(r.d)) for r in out.collect()}
    assert got[1] == (pytest.approx(1.5), "a", "1.250")
    assert got[2] == (pytest.approx(9.5), "b2", "3.125")


@pytest.mark.parametrize(
    "base_t,chg_t",
    [
        ("bigint", "int"),  # narrowing
        ("double", "float"),  # narrowing
        ("int", "string"),  # cross-family
        ("decimal(6,2)", "decimal(6,3)"),  # integer digits shrink 4→3
        ("decimal(6,2)", "decimal(7,1)"),  # scale shrinks
    ],
)
def test_merge_schema_refuses_non_widening_type_changes(spark, base_t, chg_t):
    base = spark.createDataFrame([(1, "x")], "k long, t string").withColumn(
        "v", F.lit(None).cast(base_t)
    )
    changes = spark.createDataFrame(
        [(1, 1, 0, "y")], "k long, ord long, is_delete int, t string"
    ).withColumn("v", F.lit(None).cast(chg_t))
    with pytest.raises(ValueError, match="never silently cast"):
        merge_changes(base, changes, "k", merge_schema=True)


def test_merge_schema_refuses_key_and_gate_column_type_changes(spark):
    """ADVICE r14 #3: the type check covers the KEY column and (in the
    ordered layout) the ord/tombstone columns — an implicit cast on
    the join/gate columns is as silent a corruption as one on a
    payload column. Non-widening changes there refuse."""
    # key narrowing: bigint base, int changes
    base = spark.createDataFrame([(1, 2.0)], "k bigint, v double")
    changes = spark.createDataFrame(
        [(1, 1, 0, 3.0)], "k int, ord long, is_delete int, v double"
    )
    with pytest.raises(ValueError, match="never silently cast"):
        merge_changes(base, changes, "k", merge_schema=True)
    # ord cross-family change in the ordered layout
    sbase = spark.createDataFrame(
        [(1, 2.0, 5, 0)], "k long, v double, ord long, is_delete int"
    )
    schg = spark.createDataFrame(
        [(1, "6", 0, 3.0)], "k long, ord string, is_delete int, v double"
    )
    with pytest.raises(ValueError, match="never silently cast"):
        merge_changes_ordered(sbase, schg, "k", merge_schema=True)


def test_merge_schema_ordered_widens_ord_watermark(spark):
    """int→bigint on the ord column through the ordered merge: stored
    watermarks (surviving tombstones included) cast up, the stale-
    change gate still compares correctly across the widening."""
    base = spark.createDataFrame(
        [(1, 2.0, 5, 0), (2, None, 9, 1), (3, 4.0, 2, 0)],
        "k long, v double, ord int, is_delete int",
    )
    changes = spark.createDataFrame(
        [(1, 4, 0, 9.9), (3, 7, 0, 5.5)],
        "k long, ord bigint, is_delete int, v double",
    )
    out = merge_changes_ordered(base, changes, "k", merge_schema=True)
    assert dict(out.dtypes)["ord"] == "bigint"
    st = _state(out)
    # k=1's change (ord 4) is STALE vs stored 5 — gated out across the cast
    assert st[1] == (2.0, 5, 0)
    # k=2's tombstone survives with its widened watermark
    assert st[2] == (None, 9, 1)
    # k=3 applies (7 >= 2)
    assert st[3] == (5.5, 7, 0)


def test_partitioned_sink_refuses_key_type_change(spark, tmp_path):
    """ADVICE r15 (high): the partitioned sink routes buckets by
    pmod(xxhash64(key), n) and xxhash64 hashes int and bigint
    DIFFERENTLY — so even the lossless key widening _evolve_base
    accepts would leave every stored row in a bucket the
    touched-partition probe never reads (stale duplicates, silently
    missed deletes). The key's type is therefore pinned like
    n_buckets: a feed that retypes the key refuses at stream
    construction (recorded-schema pin) and, for stores whose
    manifests predate schema recording, at the first merge that reads
    the stored type (the write_batch belt). Payload widening through
    the same sink still evolves."""
    import json
    import pathlib

    from distributed_mapreduce_spark.streaming import event_stream
    from distributed_mapreduce_spark.streaming.sinks import (
        foreach_batch_cdc_merge_partitioned,
        read_current_partitioned,
    )

    # first, the premise the refusal rests on: the two types really do
    # hash apart (if Spark ever unified them, the pin could relax)
    h = spark.range(1).select(
        F.xxhash64(F.lit(5).cast("int")).alias("hi"),
        F.xxhash64(F.lit(5).cast("bigint")).alias("hl"),
    ).collect()[0]
    assert h.hi != h.hl

    src = tmp_path / "src"
    src.mkdir()
    base = time.time()
    _chunk(str(src / "c1.parquet"), [(1, 1, "up", 1.0), (2, 2, "up", 2.0)], base)

    def changes_with_key_type(t):
        return _to_changes(event_stream(spark, str(src))).withColumn(
            "k", F.col("k").cast(t)
        )

    store, ckpt = str(tmp_path / "store"), str(tmp_path / "ckpt")
    q = foreach_batch_cdc_merge_partitioned(
        changes_with_key_type("int"), store, ckpt, "k", n_buckets=4,
        merge_schema=True,
    )
    q.awaitTermination()
    assert {r.k for r in read_current_partitioned(spark, store).collect()} == {1, 2}

    # construction-time pin: the recorded schema says k is int
    with pytest.raises(ValueError, match="xxhash64 hashes the two types"):
        foreach_batch_cdc_merge_partitioned(
            changes_with_key_type("bigint"),
            store,
            str(tmp_path / "ckpt2"),
            "k",
            n_buckets=4,
            merge_schema=True,
        )

    # pre-schema-recording store: strip the recorded schemas so the
    # construction pin is blind, then RESUME the same checkpoint with a
    # new chunk — batch 1 reads v=0 as its base and the write_batch
    # belt must refuse against the type the stored files actually hold
    for mf in pathlib.Path(store).glob("v=*/_touched.json"):
        payload = json.loads(mf.read_text())
        payload.pop("schema", None)
        mf.write_text(json.dumps(payload))
    _chunk(str(src / "c2.parquet"), [(3, 1, "up", 3.0)], base + 5)
    q2 = foreach_batch_cdc_merge_partitioned(
        changes_with_key_type("bigint"),
        store,
        ckpt,
        "k",
        n_buckets=4,
        merge_schema=True,
    )
    with pytest.raises(Exception, match="xxhash64 hashes the two types"):
        q2.awaitTermination()

    # non-key widening through the SAME sink still evolves (the pin is
    # key-only): v float->double on a fresh int-keyed store
    store2, ckpt4 = str(tmp_path / "store2"), str(tmp_path / "ckpt4")
    qa = foreach_batch_cdc_merge_partitioned(
        changes_with_key_type("int").withColumn("v", F.col("v").cast("float")),
        store2,
        ckpt4,
        "k",
        n_buckets=4,
        merge_schema=True,
    )
    qa.awaitTermination()
    qb = foreach_batch_cdc_merge_partitioned(
        changes_with_key_type("int"),
        store2,
        str(tmp_path / "ckpt5"),
        "k",
        n_buckets=4,
        merge_schema=True,
    )
    qb.awaitTermination()
    snap = read_current_partitioned(spark, store2)
    assert dict(snap.dtypes)["v"] == "double"
    # c2's ord-3 upsert moved k=1 to 3.0 before the widened re-run
    assert {r.k: r.v for r in snap.collect()} == {1: 3.0, 2: 2.0}


def test_merge_schema_widens_date_to_timestamp_ntz(spark):
    """VERDICT r15 #6: date→timestamp_ntz is in Delta's type-widening
    table and is lossless (midnight NTZ, no timezone semantics) — the
    flat merge evolves it, stored rows cast up to midnight. The
    timezone-AWARE timestamp stays refused: that cast reads the
    session timezone, so stored instants would depend on reader
    configuration."""
    import datetime

    base = spark.createDataFrame(
        [(1, datetime.date(2020, 3, 1)), (2, datetime.date(2021, 7, 4))],
        "k long, d date",
    )
    changes = spark.sql(
        "SELECT CAST(2 AS BIGINT) k, CAST(9 AS BIGINT) ord, 0 is_delete, "
        "TIMESTAMP_NTZ'2022-01-02 03:04:05' d"
    )
    out = merge_changes(base, changes, "k", merge_schema=True)
    assert dict(out.dtypes)["d"] == "timestamp_ntz"
    got = {r.k: r.d for r in out.collect()}
    assert got[1] == datetime.datetime(2020, 3, 1, 0, 0)
    assert got[2] == datetime.datetime(2022, 1, 2, 3, 4, 5)

    tz_changes = spark.sql(
        "SELECT CAST(2 AS BIGINT) k, CAST(9 AS BIGINT) ord, 0 is_delete, "
        "TIMESTAMP'2022-01-02 03:04:05' d"
    )
    with pytest.raises(ValueError, match="never silently cast"):
        merge_changes(base, tz_changes, "k", merge_schema=True)


def test_partitioned_sink_date_to_ntz_widening_e2e(spark, tmp_path):
    """The widening through the PARTITIONED layout: a resumed feed
    retypes a date payload column to timestamp_ntz — later versions
    store NTZ, never-rewritten partitions' DATE files read back
    promoted under the recorded schema (the probed parquet-reader
    promotion _is_widening's docstring cites), and a time-travel read
    below the widening returns the OLD date type."""
    import datetime

    from distributed_mapreduce_spark.streaming import event_stream
    from distributed_mapreduce_spark.streaming.sinks import (
        foreach_batch_cdc_merge_partitioned,
        read_current_partitioned,
    )

    src = tmp_path / "src"
    src.mkdir()
    base = time.time()
    _chunk(str(src / "c1.parquet"), [(1, 1, "up", 1.0), (2, 2, "up", 2.0)], base)

    def changes(date_type):
        return _to_changes(event_stream(spark, str(src))).withColumn(
            "d", F.to_date(F.lit("2020-03-01")).cast(date_type)
        )

    store, ckpt = str(tmp_path / "store"), str(tmp_path / "ckpt")
    foreach_batch_cdc_merge_partitioned(
        changes("date"), store, ckpt, "k", n_buckets=4, merge_schema=True
    ).awaitTermination()
    snap0 = read_current_partitioned(spark, store)
    assert dict(snap0.dtypes)["d"] == "date"

    # resume the same checkpoint with the widened feed; the new chunk
    # touches ONLY key 3's bucket, so key 1/2's partition keeps its
    # DATE-typed files and must read back promoted
    _chunk(str(src / "c2.parquet"), [(5, 3, "up", 3.0)], base + 5)
    foreach_batch_cdc_merge_partitioned(
        changes("timestamp_ntz"), store, ckpt, "k", n_buckets=4,
        merge_schema=True,
    ).awaitTermination()
    snap1 = read_current_partitioned(spark, store)
    assert dict(snap1.dtypes)["d"] == "timestamp_ntz"
    got = {r.k: r.d for r in snap1.collect()}
    assert got == {
        1: datetime.datetime(2020, 3, 1, 0, 0),
        2: datetime.datetime(2020, 3, 1, 0, 0),
        3: datetime.datetime(2020, 3, 1, 0, 0),
    }
    # time travel below the widening: the OLD schema
    pre = read_current_partitioned(spark, store, as_of=0)
    assert dict(pre.dtypes)["d"] == "date"
    assert {r.k: r.d for r in pre.collect()} == {
        1: datetime.date(2020, 3, 1),
        2: datetime.date(2020, 3, 1),
    }
