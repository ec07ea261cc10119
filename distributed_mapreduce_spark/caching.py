"""Operator-scope cache lifecycle (VERDICT r13 #5).

Several batch operators persist() a shared subtree their returned lazy
DataFrame reads more than once (the cache-the-training-set idiom of
iterative ML, or the shingle pass feeding signatures + verify + sizes
in the dedup tier). The operator cannot unpersist before returning —
the caller's action is what consumes the cache — but without a release
path a long-lived session composing several operators accumulates
storage blocks indefinitely (the bench harness masks this with a
per-query clearCache, which a real session doesn't run).

The contract here makes the lifetime explicit and releasable:

- an operator calls ``attach_caches(result, cached_a, cached_b, ...)``
  on the frame it returns, annotating it with every persisted
  DataFrame its plan reads (attachments PROPAGATE: passing a frame
  that itself carries attachments forwards them, so compositions keep
  the full set);
- the caller materializes the result (action of its choice), then
  calls ``release_caches(result)`` — every attached cache unpersists
  and the annotation clears. Releasing before the action is safe but
  forfeits the sharing (Spark recomputes; results are unchanged).

SURVIVAL RULE (VERDICT r14 watch item #2): the annotation lives as a
Python attribute on the EXACT DataFrame object the operator returned.
Deriving a new frame — ``annotated.select(...)``, ``.where(...)``,
``.join(...)`` — produces a FRESH object with no annotation: releasing
the derived frame is a no-op and the caches leak until the session's
cache is cleared wholesale. Composition code must either release the
ORIGINAL annotated frame once the derived result is consumed, or
forward the annotation explicitly with
``attach_caches(derived, annotated)`` (which also forwards checkpoint
RDD ids). The annotation also holds strong Python references to every
attached frame, so an annotated result that is never released keeps
those objects alive for its own lifetime — by design, since the JVM
cache they pin was already leaked without a release path.

Streaming sinks don't need this: their per-batch persists are consumed
inside the foreachBatch function, and the ingest sinks' shared driver
(``streaming/sinks._ingest_sink``) releases them in ``finally`` —
every frame the batch persisted, plus the checkpoint blocks it created
(a ``persistent_rdd_ids`` diff).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_ATTR = "_dmr_caches"
_RDD_ATTR = "_dmr_rdd_ids"


def attach_caches(result: DataFrame, *sources: DataFrame) -> DataFrame:
    """Annotate `result` with the persisted DataFrames its plan reads.

    Each source contributes itself if it is persisted, plus anything
    already attached to it (composition). Duplicates (by object
    identity) collapse so release never double-unpersists."""
    seen: dict[int, DataFrame] = {
        id(c): c for c in getattr(result, _ATTR, ())
    }
    for s in sources:
        for c in getattr(s, _ATTR, ()):
            seen.setdefault(id(c), c)
        lvl = s.storageLevel
        if lvl.useMemory or lvl.useDisk:
            seen.setdefault(id(s), s)
        spark_ids = getattr(s, _RDD_ATTR, None)
        if spark_ids is not None and spark_ids[1]:
            attach_rdd_ids(result, spark_ids[0], spark_ids[1])
    setattr(result, _ATTR, tuple(seen.values()))
    return result


def release_caches(result: DataFrame, blocking: bool = False) -> DataFrame:
    """Unpersist every cache attached to `result` (no-op for frames
    with none) and clear the annotations. Call after the action that
    materializes the result; idempotent.

    CAVEAT for checkpoint-backed results (attach_rdd_ids): cached
    plans recompute safely after release, but a localCheckpoint
    truncates lineage — once its blocks are released, the frame they
    backed CANNOT be queried again. Release only when done with it."""
    for c in getattr(result, _ATTR, ()):
        c.unpersist(blocking)
    if hasattr(result, _ATTR):
        setattr(result, _ATTR, ())
    spark_ids = getattr(result, _RDD_ATTR, None)
    if spark_ids is not None:
        spark, ids = spark_ids
        unpersist_rdd_ids(spark, ids, blocking)
        setattr(result, _RDD_ATTR, (spark, frozenset()))
    return result


# ── localCheckpoint blocks (no CacheManager entry) ───────────────────
# DataFrame.localCheckpoint persists its materialized RDD directly;
# the blocks never appear in the SQL cache, so DataFrame.unpersist
# cannot reach them (the "orphan RDD" class of ADVICE r9 — bench.py
# sweeps them between queries via getPersistentRDDs). Operators that
# checkpoint (connected_components, pagerank) track the RDD ids they
# created and either release superseded iterations eagerly in-loop or
# attach the survivors to the result for release_caches.


def persistent_rdd_ids(spark) -> frozenset:
    """Ids of every currently persisted RDD (JVM registry) — snapshot
    before a localCheckpoint, diff after, to learn which blocks a
    specific checkpoint created. The diff assumes no OTHER driver
    thread is creating persistent RDDs in the same window (true for
    this repo's batch operators and for the ingest sinks' driver, which
    diffs around each micro-batch on the stream's one batch thread)."""
    return frozenset(
        spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    )


def unpersist_rdd_ids(spark, ids, blocking: bool = False) -> None:
    """Unpersist the given RDD ids if still registered (idempotent —
    ids already swept by a clearCache/orphan pass are skipped)."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for i in ids:
        jrdd = jmap.get(i)
        if jrdd is not None:
            jrdd.unpersist(blocking)


def attach_rdd_ids(result: DataFrame, spark, ids) -> DataFrame:
    """Annotate `result` with checkpoint RDD ids release_caches should
    free. See the release_caches caveat: unlike cached plans, a
    released checkpoint-backed frame is not re-queryable."""
    prev = getattr(result, _RDD_ATTR, None)
    merged = frozenset(ids) | (prev[1] if prev is not None else frozenset())
    setattr(result, _RDD_ATTR, (spark, merged))
    return result
