"""Incremental aggregate maintenance over a partitioned rollup store.

The 100 TB ingest pattern behind every "daily metrics" table: facts
arrive in batches, the rollup is stored as Hive-partitioned parquet
(sources/files.write_partitioned), and a batch refreshes ONLY the
partitions it touches — merging its partial aggregates into the stored
partials and dynamic-overwriting those partitions. Cost is
∝ batch + affected-partition size, never ∝ store size; re-running the
same batch is idempotent (the same partitions get the same bytes).

Correctness rests on the aggregates being algebraic (mergeable
partials): count/sum merge by SUM over partials, min/max by MIN/MAX.
Non-mergeable measures (exact distinct, exact percentile) need either
the raw facts of affected partitions or a mergeable sketch
(operators/sketches.py HLL for distinct) — the operator rejects kinds
it can't merge rather than silently corrupting the store.

For engine-order-independent results use DECIMAL measure columns (the
repo-wide parity discipline): double sums merge in a different order
incrementally than in one shot, decimal sums are exact either way —
asserted bit-for-bit in tests/test_incremental.py.

Reference parity note: the reference has no incremental surface at all
(SURVEY.md §2.4 gap list) — this is [EXT] north-star coverage shaped
by its O7 text-sink atomicity contract (/root/reference/src/mr/
worker.go temp+rename): the partition directory swap is the same
atomic-commit idea at dataset granularity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_mapreduce_spark.sources.files import write_partitioned

# measure kind -> (raw aggregation, partial-merge aggregation)
# "hll" covers the canonical non-algebraic aggregate (exact distinct)
# with its mergeable-sketch form: the stored column is a DataSketches
# HLL binary whose union is an elementwise register max — associative
# and commutative, so ANY batch arrival order yields the identical
# sketch bytes (asserted vs one-shot in tests). Read the estimate out
# with sketches.hll_estimate.
# "kll" covers the OTHER canonical non-algebraic aggregate (exact
# percentile) with its mergeable-sketch form (DataSketches KLL over a
# double column). Unlike HLL, KLL compaction is randomized: merged
# bytes/estimates vary slightly by merge order, so the maintained
# store is graded on the published ~1.65% (k=200) normalized rank
# error vs exact quantiles, not bit equality — while the recorded
# stream length n stays EXACT under any merge order (asserted).
# Read quantiles out with sketches.kll_quantile.
_KINDS = {
    "count": (lambda c: F.count(F.lit(1)), lambda c: F.sum(c)),
    "sum": (lambda c: F.sum(c), lambda c: F.sum(c)),
    "min": (lambda c: F.min(c), lambda c: F.min(c)),
    "max": (lambda c: F.max(c), lambda c: F.max(c)),
    "hll": (
        lambda c: F.hll_sketch_agg(c, F.lit(12)),
        lambda c: F.hll_union_agg(c, F.lit(False)),
    ),
    "kll": (
        lambda c: F.kll_sketch_agg_double(c.cast("double"), F.lit(200)),
        lambda c: F.kll_merge_agg_double(c, F.lit(200)),
    ),
}

Measures = dict[str, tuple[str, str | None]]


def _aggs(measures: Measures, merge: bool) -> list:
    cols = []
    for name, (kind, src) in measures.items():
        if kind not in _KINDS:
            raise ValueError(
                f"measure {name!r}: kind {kind!r} is not mergeable "
                f"(supported: {sorted(_KINDS)}); use a mergeable sketch "
                f"or recompute from raw facts"
            )
        raw, mrg = _KINDS[kind]
        fn = mrg if merge else raw
        cols.append(fn(F.col(name if merge else (src or name))).alias(name))
    return cols


def rollup(facts: DataFrame, keys: list[str], measures: Measures) -> DataFrame:
    """One-shot rollup of raw facts: groupBy(keys) with the raw form of
    every measure — the full-recompute baseline refresh_rollup must
    reproduce partition-by-partition."""
    return facts.groupBy(*keys).agg(*_aggs(measures, merge=False))


def merge_partials(partials: DataFrame, keys: list[str], measures: Measures) -> DataFrame:
    """Merge-at-read over a store of per-batch partial aggregates: the
    LSM-style sibling of refresh_rollup. Writers append partials under
    `batch=<id>/` with overwrite (idempotent on redelivery — see
    streaming/sinks.foreach_batch_rollup_partials); readers fold them
    with the merge form of each measure. Periodically compact with
    compact_partials below — the fold is associative, so base+new
    merges stay exact."""
    return partials.groupBy(*keys).agg(*_aggs(measures, merge=True))


def compact_partials(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    keys: list[str],
    measures: Measures,
    keep: int = 2,
) -> list[int]:
    """Compact a per-batch partials store (the
    streaming/sinks.foreach_batch_rollup_partials layout) into a fresh
    store: every batch directory EXCEPT the newest `keep` is folded —
    with the merge form of each measure — into one base partial
    written under the smallest folded batch id; the kept directories
    are copied byte-verbatim. merge-at-read over the compacted store
    equals the original bit-for-bit for deterministic-merge measure
    kinds — count/sum/min/max/hll (✓test); a `kll` sketch's merged
    BYTES vary with the merge tree (see _KINDS), so compaction keeps
    its estimates within the sketch's error bound but not byte-stable.
    The reader now lists O(keep+1) directories instead of one per
    batch ever ingested.

    The folded frame is cast back to the stored partials' exact
    schema before writing: Spark's sum over decimal widens the type
    (e.g. decimal(28,4) → decimal(38,4)), and a store with
    heterogeneous parquet schemas hard-fails at read time whenever
    the inferred-first directory is the narrow one
    (PARQUET_COLUMN_DATA_TYPE_MISMATCH — reproduced in review). A
    folded value that genuinely overflows the stored type would cast
    to NULL, silently corrupting the base — that case raises
    instead.

    Why a NEW store and why `keep`: the writer's exactly-once story is
    idempotent per-batch overwrite, so a crashed batch N may be
    redelivered and rewrite `batch=N` — folding a batch that can still
    be redelivered would double-count it when the redelivery recreates
    its directory. Only the newest `keep` (≥2, the
    vacuum_versions_partitioned window) are still in that window; everything older is final. And
    an in-place fold has no safe ordering: writing the folded sum
    before deleting the folded dirs over-counts on crash, deleting
    first loses data. A fresh store leaves `src_path` untouched until
    the caller atomically swaps paths in the maintenance window
    (writer stopped); a crash mid-compaction means rerun, nothing
    lost. Returns the folded batch ids."""
    import pathlib
    import shutil

    if keep < 2:
        raise ValueError("keep < 2 breaks crash-redelivery (see docstring)")
    src = pathlib.Path(src_path)
    dst = pathlib.Path(dst_path)
    batches = sorted(
        int(p.name.split("=", 1)[1]) for p in src.glob("batch=*") if p.is_dir()
    )
    fold_ids = batches[:-keep] if len(batches) > keep else []
    dst.mkdir(parents=True, exist_ok=True)
    if fold_ids:
        import functools
        import operator

        stored = spark.read.parquet(*[str(src / f"batch={b}") for b in fold_ids])
        folded = merge_partials(stored, keys, measures)
        # cast back to the stored schema; refuse silent overflow-to-NULL
        types = {f.name: f.dataType for f in stored.schema}
        meas = [n for n in types if n not in keys]
        # try_cast: NULL-on-overflow under ANSI and legacy modes alike
        # (a plain cast would throw an opaque executor
        # ArithmeticException mid-guard under ANSI)
        bad = folded.where(
            functools.reduce(
                operator.or_,
                [
                    F.col(c).isNotNull() & F.col(c).try_cast(types[c]).isNull()
                    for c in meas
                ],
            )
        ).count()
        if bad:
            raise ValueError(
                f"{bad} folded row(s) overflow the stored partial schema; "
                "widen the measure's stored type before compacting"
            )
        folded.select(
            *[F.col(f.name).cast(f.dataType).alias(f.name) for f in stored.schema]
        ).write.mode("overwrite").parquet(str(dst / f"batch={fold_ids[0]}"))
    for b in batches[len(fold_ids):]:
        tgt = dst / f"batch={b}"
        # re-runnable after a mid-compaction crash: replace, never mix
        # a partial copy with a fresh one
        shutil.rmtree(tgt, ignore_errors=True)
        shutil.copytree(src / f"batch={b}", tgt)
    return fold_ids


def refresh_rollup(
    spark: SparkSession,
    store_path: str,
    batch: DataFrame,
    partition_col: str,
    keys: list[str],
    measures: Measures,
) -> list:
    """Merge a fact batch into the partitioned rollup store.

    1. Aggregate the batch to partials (groupBy keys — map-side
       combine, shuffle ∝ batch key cardinality).
    2. Read back ONLY the affected partitions: the partition-value
       filter becomes a planning-time PartitionFilter, so unaffected
       directories are never listed or scanned.
    3. Merge stored + batch partials with the merge form of each
       measure, and dynamic-overwrite exactly the affected partitions.

    The affected-value collect is bounded by construction: partition
    columns are low-cardinality by the write_partitioned contract (a
    batch touches days/languages, not arbitrary keys). Returns the
    affected partition values (useful for logging/compaction)."""
    from pyspark.errors import AnalysisException

    part = rollup(batch, keys, measures)
    affected = [r[0] for r in part.select(partition_col).distinct().collect()]
    # The except is scoped to the store READ only (ADVICE r5): a
    # wrapped unionByName would misdiagnose a batch/store schema
    # mismatch (e.g. a changed measure set) as first-load and silently
    # overwrite the affected partitions with batch-only partials —
    # destroying stored history where an error must surface instead.
    try:
        stored = spark.read.parquet(store_path)
    except AnalysisException as exc:
        # PySpark 4 prefixes the error class in the message:
        # "[PATH_NOT_FOUND] Path does not exist: ..."
        if "PATH_NOT_FOUND" not in str(exc):
            raise
        # First load: no store yet — the batch partials ARE the store.
        merged_src = part
    else:
        merged_src = stored.where(
            F.col(partition_col).isin(affected)
        ).unionByName(part)
    merged = merged_src.groupBy(*keys).agg(*_aggs(measures, merge=True))
    write_partitioned(merged, store_path, [partition_col], dynamic=True)
    return affected
