"""KV-store semantics (SURVEY.md §2.3, K1-K8) as Spark batch operators.

The reference *declares* a replicated, sharded KV store (Labs 2-4
client APIs + the porcupine model) but its server bodies are skeletons;
the normative semantics live in /root/reference/src/models/kv.go:40-54:
state is one string per key, initial "" — `get` reads, `put` replaces,
`append` concatenates — with exactly-once appends under client retries
(/root/reference/src/kvraft/test_test.go:80-97) and per-client order.

Spark re-expression: the server's op stream becomes an *op-log table*
`(key, seq, op, value)` and the state is a deterministic fold over it.
The whole fold is relational (no per-row loop): the last `put` per key
is a max(); the state is that put's value concatenated with every
later `append`, in seq order.

Scale notes: one shuffle on `key` (the groupBy); a 100 TB op-log folds
with partial aggregation on the max() side and an ordered collect_list
bounded by per-key mutation count. The consensus layer itself (Raft,
labrpc) is an intentional non-goal — Spark's reliability model
replaces job-level fault tolerance (SURVEY.md §7.3 hard spot 3).

Shard management (K4-K8): `key2shard` is a partitioning expression;
`rebalance` reproduces the shardmaster's invariant — max−min ≤ 1 with
minimal shard movement (/root/reference/src/shardmaster/test_test.go:35-52)
— as a pure, property-tested function.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_mapreduce_spark.sources.catalog import local_frame

NSHARDS = 10  # /root/reference/src/shardmaster/common.go:21


# ---------------------------------------------------------------------------
# K1-K3: state fold over an op log
# ---------------------------------------------------------------------------


def fold_kv_log(ops: DataFrame) -> DataFrame:
    """Fold an op-log `(key, seq, op, value)` into final state `(key, value)`.

    Semantics (models/kv.go:40-54): put replaces, append concatenates,
    get is a read (no state change). Exactly-once: duplicate (key, seq)
    deliveries — the reference's retried RPCs — are dropped before the
    fold, the analog of its (clientId, seq) dedup.
    """
    # Exactly-once under retries (K3): a redelivered op is byte-identical
    # (same client op, same seq), so whole-row distinct() is the dedup —
    # and unlike dropDuplicates(["key","seq"]) (first() over var-length
    # strings ⇒ SortAggregate fallback) it stays a HashAggregate.
    muts = ops.where(F.col("op") != F.lit("get")).distinct()
    last_put = (
        muts.where(F.col("op") == "put")
        .groupBy("key")
        .agg(F.max("seq").alias("pseq"))
    )
    # Keep the winning put plus every append after it (all appends when
    # no put ever happened), then concatenate in seq order.
    live = muts.join(last_put, "key", "left").where(
        (
            (F.col("op") == "append")
            & (F.col("pseq").isNull() | (F.col("seq") > F.col("pseq")))
        )
        | ((F.col("op") == "put") & (F.col("seq") == F.col("pseq")))
    )
    ordered_concat = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("seq", "value"))),
            lambda s: s["value"],
        ),
        "",
    )
    return live.groupBy("key").agg(ordered_concat.alias("value"))


def apply_kv_ops(base: DataFrame, ops: DataFrame) -> DataFrame:
    """Fold ONE op-log batch onto an existing state snapshot — the
    incremental twin of fold_kv_log, and the merge step of the
    streaming-maintained serving store (streaming/kv_serving.py): the
    reference's shardkv data plane is an incrementally-maintained
    served store, not a scan-time fold
    (/root/reference/src/shardkv/client.go:68-130; kvraft's snapshot
    keeps exactly this (state, last-applied-index) pair,
    /root/reference/src/kvraft/config.go:54).

    `base` schema: (key, value, last_seq) — last_seq is the key's
    last-APPLIED op seq, the exactly-once watermark (the analog of the
    reference's per-client dedup state). `ops` schema: fold_kv_log's
    (key, seq, op, value). Returns the new snapshot, same base schema.

    Semantics per key (models/kv.go:40-54, incrementally):
    - ops with seq <= stored last_seq are ALREADY APPLIED (a replayed
      or duplicate delivery) — dropped, so redelivering any prefix of
      the feed converges instead of double-appending;
    - byte-identical duplicate rows within the batch collapse via
      distinct() (fold_kv_log's retried-RPC dedup);
    - a batch put supersedes everything before it in the batch; the
      new value is the last put's value (or the stored value when the
      batch has no put) concatenated with every later append, in seq
      order.

    Chaining apply_kv_ops over ANY seq-ordered batching of an op log
    equals fold_kv_log of the whole log (✓property-tested, random
    splits + redelivery injection). Cross-batch the feed must deliver
    each key's ops at nondecreasing seq (a CDC log read in offset
    order — merge_changes' contract); a LATE op (seq below the
    watermark but never applied) is indistinguishable from a duplicate
    and is dropped — the price of exactly-once without unbounded
    op-id state, same trade the reference makes with per-client seqs.

    Scale shape (the merge_changes_ordered cost model): the base is
    NEVER shuffled — two narrow passes, (1) a broadcast-semi probe of
    (key, value, last_seq) restricted to the batch's keys, (2) the
    broadcast LEFT ANTI for survivors; all shuffles are batch-sized
    (distinct + two keyed aggs)."""
    muts = ops.where(F.col("op") != F.lit("get")).distinct()
    batch_keys = muts.select("key").distinct()
    # narrow probe: stored (value, watermark) for the batch's keys only
    probe = base.join(F.broadcast(batch_keys), "key", "left_semi").select(
        "key", F.col("value").alias("_base_value"), F.col("last_seq").alias("_base_seq")
    )
    fresh = (
        muts.join(F.broadcast(probe.select("key", "_base_seq")), "key", "left")
        .where(F.col("_base_seq").isNull() | (F.col("seq") > F.col("_base_seq")))
        .drop("_base_seq")
    )
    pseq = (
        fresh.where(F.col("op") == "put")
        .groupBy("key")
        .agg(F.max("seq").alias("pseq"))
    )
    live = fresh.join(pseq, "key", "left").where(
        (
            (F.col("op") == "append")
            & (F.col("pseq").isNull() | (F.col("seq") > F.col("pseq")))
        )
        | ((F.col("op") == "put") & (F.col("seq") == F.col("pseq")))
    )
    ordered_concat = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("seq", "value"))),
            lambda s: s["value"],
        ),
        "",
    )
    delta = live.groupBy("key").agg(
        ordered_concat.alias("_suffix"),
        # max live seq == max fresh seq: the max fresh op is either the
        # winning put (live) or an append above it (live)
        F.max("seq").alias("_new_seq"),
        F.max((F.col("op") == "put").cast("int")).alias("_has_put"),
    )
    merged = delta.join(F.broadcast(probe), "key", "left").select(
        "key",
        F.when(F.col("_has_put") == 1, F.col("_suffix"))
        .otherwise(F.concat(F.coalesce("_base_value", F.lit("")), F.col("_suffix")))
        .alias("value"),
        F.col("_new_seq").alias("last_seq"),
    )
    survivors = base.join(F.broadcast(delta.select("key")), "key", "left_anti")
    return survivors.select("key", "value", "last_seq").unionByName(merged)


def kv_get(state: DataFrame, spark: SparkSession, key: str) -> DataFrame:
    """K1 Get: point lookup; absent key reads as ""
    (/root/reference/src/kvraft/client.go:27-31).

    Against an UNMATERIALIZED state frame this scans whatever the
    frame's plan scans; the served store (streaming/kv_serving.py)
    keeps the fold materialized per shard and `kv_served_get` prunes
    the read to one shard directory."""
    probe = local_frame(spark, [(key,)], "key string")
    return probe.join(state, "key", "left").select(
        "key", F.coalesce("value", F.lit("")).alias("value")
    )


# ---------------------------------------------------------------------------
# K4: shard routing
# ---------------------------------------------------------------------------


def key2shard(key: Column) -> Column:
    """shard = first byte of key mod NSHARDS
    (/root/reference/src/shardkv/client.go:22-29), as a partitioning
    expression usable in repartition()/groupBy()."""
    return F.pmod(F.ascii(F.substring(key, 1, 1)), F.lit(NSHARDS)).cast("int")


def key2shard_py(key: str) -> int:
    """THE driver-side twin of key2shard — the one place the routing
    expression exists in Python (a silent divergence between the pair
    would make a pruned serving read miss a PRESENT key and return ""
    — the worst failure mode of a serving path). Spark's ascii() returns the
    first character's codepoint (multibyte included) and 0 for the
    empty string, which is exactly `ord(key[0])` / 0 — the equivalence
    is pinned by a hypothesis property test over ASCII, empty, and
    astral-plane keys (tests/test_kv.py), so a change to either side
    fails loudly instead of mis-pruning."""
    return (ord(key[0]) if key else 0) % NSHARDS


# ---------------------------------------------------------------------------
# K5-K8: shard→group configuration (pure functions, property-tested)
# ---------------------------------------------------------------------------


def rebalance(shards: list[int], gids: list[int]) -> list[int]:
    """Reassign shards to groups: max−min ≤ 1 load spread with minimal
    moves from the current assignment (shardmaster/test_test.go:35-52).

    `shards[i]` is the owning gid (0 = unassigned); `gids` the live
    groups. Deterministic: ties broken by sorted gid.
    """
    if not gids:
        return [0] * len(shards)
    gids_sorted = sorted(set(gids))
    n, g = len(shards), len(gids_sorted)
    base, rem = divmod(n, g)
    # Deterministic targets: first `rem` gids (sorted) get base+1.
    target = {gid: base + (1 if i < rem else 0) for i, gid in enumerate(gids_sorted)}

    counts = {gid: 0 for gid in gids_sorted}
    out = list(shards)
    # Pass 1: keep shards already on a live, under-target group.
    for i, gid in enumerate(out):
        if gid in counts and counts[gid] < target[gid]:
            counts[gid] += 1
        else:
            out[i] = 0  # must move (dead group, over target, or unassigned)
    # Pass 2: hand the moving shards to under-target groups in gid order.
    recipients = [gid for gid in gids_sorted for _ in range(target[gid] - counts[gid])]
    it = iter(recipients)
    for i, gid in enumerate(out):
        if gid == 0:
            out[i] = next(it)
    return out


class ShardMaster:
    """K5-K8 config state machine: versioned shard→group assignments
    (/root/reference/src/shardmaster/common.go:25-29). Join/Leave
    rebalance with minimal movement; Move pins; Query(-1) = latest."""

    def __init__(self, nshards: int = NSHARDS):
        self.configs: list[dict] = [{"num": 0, "shards": [0] * nshards, "groups": {}}]

    def _push(self, shards: list[int], groups: dict[int, list[str]]) -> None:
        self.configs.append(
            {"num": len(self.configs), "shards": shards, "groups": dict(groups)}
        )

    def join(self, new_groups: dict[int, list[str]]) -> None:
        cur = self.configs[-1]
        groups = {**cur["groups"], **new_groups}
        self._push(rebalance(cur["shards"], list(groups)), groups)

    def leave(self, gids: list[int]) -> None:
        cur = self.configs[-1]
        groups = {g: s for g, s in cur["groups"].items() if g not in set(gids)}
        shards = [0 if g in set(gids) else g for g in cur["shards"]]
        self._push(rebalance(shards, list(groups)), groups)

    def move(self, shard: int, gid: int) -> None:
        cur = self.configs[-1]
        shards = list(cur["shards"])
        shards[shard] = gid
        self._push(shards, cur["groups"])

    def query(self, num: int = -1) -> dict:
        return self.configs[num if 0 <= num < len(self.configs) else -1]


# ---------------------------------------------------------------------------
# queries() entries: op log derived deterministically from `events`
# (FIXTURES.md §C: user_id→key, event_id→seq).
# ---------------------------------------------------------------------------


def ops_projection(ev: DataFrame) -> DataFrame:
    """Derive the op log `(key, seq, op, value)` from an events-shaped
    DataFrame (batch or streaming — the projection is mode-agnostic)."""
    return ev.select(
        F.pmod("user_id", F.lit(100)).cast("string").alias("key"),
        F.col("event_id").alias("seq"),
        F.when(F.col("event_id") % 10 < 6, "append")
        .when(F.col("event_id") % 10 < 9, "put")
        .otherwise("get")
        .alias("op"),
        F.concat(F.lit("v"), F.col("event_id").cast("string")).alias("value"),
    )


def _ops_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from distributed_mapreduce_spark.sources import table

    return ops_projection(table(spark, sf_dir, "events"))


_OPS_SQL = """
        SELECT CAST(user_id % 100 AS VARCHAR) AS key,
               event_id AS seq,
               CASE WHEN event_id % 10 < 6 THEN 'append'
                    WHEN event_id % 10 < 9 THEN 'put'
                    ELSE 'get' END AS op,
               'v' || CAST(event_id AS VARCHAR) AS value
        FROM events
"""

_FOLD_SQL = f"""
        WITH ops AS ({_OPS_SQL}),
        muts AS (SELECT * FROM ops WHERE op <> 'get'),
        last_put AS (
            SELECT key, max(seq) AS pseq FROM muts WHERE op = 'put' GROUP BY key
        ),
        live AS (
            SELECT m.key, m.seq, m.value
            FROM muts m LEFT JOIN last_put lp ON m.key = lp.key
            WHERE (m.op = 'append' AND (lp.pseq IS NULL OR m.seq > lp.pseq))
               OR (m.op = 'put' AND m.seq = lp.pseq)
        )
        SELECT key, string_agg(value, '' ORDER BY seq) AS value
        FROM live
        GROUP BY key
"""


def kv_q1_state_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1-K3: full state fold of the derived op log."""
    return fold_kv_log(_ops_from_events(spark, sf_dir))


def kv_q2_key2shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4: shard-routing distribution of the op-log keys."""
    ops = _ops_from_events(spark, sf_dir)
    return (
        ops.select(key2shard(F.col("key")).alias("shard"))
        .groupBy("shard")
        .agg(F.count("*").alias("n_ops"))
    )


def kv_q3_get(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1: point Get('7') with absent-key ⇒ "" semantics.

    The key predicate is applied *below* the fold — valid because the
    fold is independent per key — so the point lookup scans and folds
    one key's ops, not the whole log. At 100 TB with the op-log stored
    partitioned/bucketed by key this prunes to a single partition.
    """
    ops = _ops_from_events(spark, sf_dir).where(F.col("key") == "7")
    return kv_get(fold_kv_log(ops), spark, "7")


# --- K5-K8 graded query: config history + data-plane routing ----------------

# Fixed shardmaster op script — hits every config op and rebalance edge
# case: initial fill (Join 1), growth (Join 2,3), shrink with
# reassignment (Leave 1), a pinned shard (Move 7→2), growth around the
# pin (Join 4), shrink absorbing the pin (Leave 3). Mirrors the
# reference's shardmaster test choreography
# (/root/reference/src/shardmaster/test_test.go:35-52).
def _config_script(sm: "ShardMaster") -> None:
    sm.join({1: ["g1a", "g1b"]})
    sm.join({2: ["g2a"], 3: ["g3a"]})
    sm.leave([1])
    sm.move(7, 2)
    sm.join({4: ["g4a"]})
    sm.leave([3])


# Golden (num, shard, gid) rows for the script above, frozen from a
# ShardMaster run whose invariants the property tests enforce
# independently (tests/test_kv.py: max−min ≤ 1 load spread, minimal
# movement, Move pins). The DuckDB oracle reads this literal, so the
# graded comparison checks the live ShardMaster AND the routing join
# against a fixed expectation — a regression in rebalance() shows up as
# a hash mismatch, not a silently moved goalpost.
_GOLDEN_CONFIGS = (
    "(0,0,0),(0,1,0),(0,2,0),(0,3,0),(0,4,0),(0,5,0),(0,6,0),(0,7,0),(0,8,0),(0,9,0),"
    "(1,0,1),(1,1,1),(1,2,1),(1,3,1),(1,4,1),(1,5,1),(1,6,1),(1,7,1),(1,8,1),(1,9,1),"
    "(2,0,1),(2,1,1),(2,2,1),(2,3,1),(2,4,2),(2,5,2),(2,6,2),(2,7,3),(2,8,3),(2,9,3),"
    "(3,0,2),(3,1,2),(3,2,3),(3,3,3),(3,4,2),(3,5,2),(3,6,2),(3,7,3),(3,8,3),(3,9,3),"
    "(4,0,2),(4,1,2),(4,2,3),(4,3,3),(4,4,2),(4,5,2),(4,6,2),(4,7,2),(4,8,3),(4,9,3),"
    "(5,0,2),(5,1,2),(5,2,3),(5,3,3),(5,4,2),(5,5,2),(5,6,4),(5,7,4),(5,8,3),(5,9,4),"
    "(6,0,2),(6,1,2),(6,2,2),(6,3,4),(6,4,2),(6,5,2),(6,6,4),(6,7,4),(6,8,4),(6,9,4)"
)


def kv_q4_config_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K5-K8 + K4 as one data-plane query: run the fixed Join/Leave/Move
    script through the live ShardMaster (Query(num) over every config =
    the full history reconstruction,
    /root/reference/src/shardmaster/client.go:31-46), then route the
    real op-log keyspace through each config — per (config num, group):
    how many shards it owns and how many live keys it serves
    (key2shard, /root/reference/src/shardkv/client.go:22-29).

    Scale shape: config history is driver-side metadata (the
    reference's shardmaster is a dedicated small Raft group, not the
    data plane), surfaced as a literal VALUES relation and broadcast;
    the only distributed work is the distinct over the op-log keys —
    one shuffle whose output is bounded by keyspace cardinality."""
    sm = ShardMaster()
    _config_script(sm)
    rows = ",".join(
        f"({c['num']},{s},{gid})"
        for c in sm.configs
        for s, gid in enumerate(c["shards"])
    )
    configs = spark.sql(
        f"SELECT CAST(num AS BIGINT) AS num, CAST(shard AS INT) AS shard, "
        f"CAST(gid AS BIGINT) AS gid FROM VALUES {rows} AS t(num, shard, gid)"
    )
    keys = (
        _ops_from_events(spark, sf_dir)
        .select("key")
        .distinct()
        .withColumn("shard", key2shard(F.col("key")))
    )
    return (
        configs.join(F.broadcast(keys), "shard", "left")
        .groupBy("num", "gid")
        .agg(
            F.countDistinct("shard").alias("n_shards"),
            F.count("key").alias("n_keys"),
        )
    )


ORACLES = {
    "kv_q1_state_fold": _FOLD_SQL,
    "kv_q3_get": f"""
        SELECT '7' AS key,
               coalesce((SELECT value FROM ({_FOLD_SQL}) WHERE key = '7'), '') AS value
    """,
    "kv_q4_config_history": f"""
        WITH ops AS ({_OPS_SQL}),
        keys AS (SELECT DISTINCT key FROM ops),
        configs AS (
            SELECT CAST(num AS BIGINT) AS num, CAST(shard AS INTEGER) AS shard,
                   CAST(gid AS BIGINT) AS gid
            FROM (VALUES {_GOLDEN_CONFIGS}) AS t(num, shard, gid)
        ),
        routed AS (
            SELECT c.num, c.gid, c.shard, k.key
            FROM configs c LEFT JOIN keys k
              ON CAST(ascii(substr(k.key, 1, 1)) % {NSHARDS} AS INTEGER) = c.shard
        )
        SELECT num, gid,
               count(DISTINCT shard) AS n_shards,
               count(key) AS n_keys
        FROM routed
        GROUP BY num, gid
    """,
}

QUERIES = {
    "kv_q1_state_fold": kv_q1_state_fold,
    "kv_q3_get": kv_q3_get,
    "kv_q4_config_history": kv_q4_config_history,
}

# The standalone shard-distribution census: key2shard is now graded
# inside kv_q4's routing join, so this twin rides the shadow tier
# (registry.py grading cap).
SHADOW_QUERIES = {
    "kv_q2_key2shard": kv_q2_key2shard,
}

SHADOW_ORACLES = {
    "kv_q2_key2shard": f"""
        WITH ops AS ({_OPS_SQL})
        SELECT CAST(ascii(substr(key, 1, 1)) % {NSHARDS} AS INTEGER) AS shard,
               count(*) AS n_ops
        FROM ops
        GROUP BY 1
    """,
}
