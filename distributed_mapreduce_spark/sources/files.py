"""File sources/sinks matching the reference's physical formats.

The reference's only IO surfaces (SURVEY.md §1.2) are:
- whole text files in, one map task per file
  (/root/reference/src/mr/worker.go:91-102) — catalog.whole_documents
  serves that (filename, contents) contract from the documents table;
- JSON-lines KeyValue intermediates `mr-<map>-<reduce>`
  (/root/reference/src/mr/worker.go:123-131) — `write_jsonl_kv` /
  `read_jsonl_kv` for when a pipeline wants that materialization
  explicitly (Spark's own shuffle replaces it otherwise);
- `"key value"` text output `mr-out-<r>`
  (/root/reference/src/mr/worker.go:217-218) — catalog.write_kv_text.

Plus generic JSON-lines and the Hive-layout partitioned parquet sink
with its in-place small-file maintenance.

Scale notes: JSON-lines reads are schema-provided (no inference job)
and line-oriented, so `maxPartitionBytes` splits the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

KV_SCHEMA = "Key string, Value string"


def write_jsonl_kv(df: DataFrame, path: str, key: str = "key", value: str = "value") -> None:
    """Materialize (key, value) rows as the reference's intermediate
    JSON-lines format: {"Key": ..., "Value": ...} per line, atomic via
    Spark's output committer (the hand-rolled temp+rename of
    worker.go:103-140)."""
    df.select(
        F.col(key).cast("string").alias("Key"), F.col(value).cast("string").alias("Value")
    ).write.mode("overwrite").json(path)


def read_jsonl_kv(spark: SparkSession, path: str) -> DataFrame:
    """Read the JSON-lines KeyValue format back (schema-provided: no
    inference pass over the data)."""
    return spark.read.schema(KV_SCHEMA).json(path).select(
        F.col("Key").alias("key"), F.col("Value").alias("value")
    )


def write_jsonl(df: DataFrame, path: str) -> None:
    """Generic JSON-lines sink (one JSON object per row) — the
    interchange format LLM corpora ship in. Atomic via Spark's output
    committer, splittable on read (line-oriented), schema carried by
    the reader (`read_jsonl`), not inferred."""
    df.write.mode("overwrite").json(path)


def read_jsonl(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """Schema-provided JSON-lines scan: no inference job (inference is
    a full extra pass over the data at scale), byte-range input
    splitting exactly like a text scan."""
    return spark.read.schema(schema).json(path)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    dynamic: bool = False,
    files_per_partition: int = 1,
) -> None:
    """Hive-layout partitioned parquet sink (`col=value/` directories)
    — the write layout that makes 100 TB readable: a reader filtering
    on a partition column prunes whole directories at planning time
    (PartitionFilters in the scan, zero IO for pruned partitions), and
    downstream jobs process partitions independently.

    With dynamic=True, overwrite replaces ONLY the partitions present
    in `df` (partitionOverwriteMode=dynamic) — the idempotent
    daily-ingest pattern: re-running a day's load rewrites that day's
    directory and leaves the rest of the dataset untouched. Static
    overwrite (the default) replaces the whole dataset.

    Scale notes: partition columns must be low-cardinality (date,
    lang, source-shard) — a high-cardinality partition column creates
    millions of directories and small files. The pre-write repartition
    keys on the partition columns so each directory's files come from
    few tasks rather than every task writing into every partition; but
    keyed alone, one hot partition value funnels through ONE task, so
    `files_per_partition` adds a deterministic spread key (xxhash64 of
    the full row — NOT rand(), whose non-deterministic partitioning
    can drop/duplicate rows when a task retries) giving each partition
    value up to that many writer tasks/files. Size it to hot-partition
    volume ÷ target file size (~128 MB-1 GB files)."""
    if not partition_cols:
        raise ValueError("partition_cols must be non-empty; use a plain write otherwise")
    keys = [F.col(c) for c in partition_cols]
    if files_per_partition > 1:
        spread = F.pmod(
            F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(files_per_partition)
        )
        keys.append(spread)
        # Explicit numPartitions: a bare keyed repartition is an AQE
        # coalesce target, which would merge the spread right back into
        # one task at small volume and defeats the hot-partition split.
        n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        part = df.repartition(max(n, files_per_partition), *keys)
    else:
        part = df.repartition(*keys)
    writer = part.write.option(
        "partitionOverwriteMode", "dynamic" if dynamic else "static"
    )
    writer.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def compact_partitioned(
    spark: SparkSession,
    path: str,
    partition_cols: list[str],
    target_file_bytes: int = 128 << 20,
    slack: int = 1,
) -> dict[str, int]:
    """Partition-preserving, IN-PLACE compaction of a Hive-layout
    dataset: rewrite only the partition directories that are actually
    fragmented (file count exceeds their size-derived target by more
    than `slack`), via one dynamic-partition-overwrite job per distinct
    target file count; partitions
    already compact are not read, not rewritten, and their files stay
    byte-identical — the property that makes this safe to run as a
    rolling maintenance job behind a streaming ingest (the idle 99% of
    a 100 TB dataset costs nothing per run, matching Delta OPTIMIZE's
    "only touched partitions" bin-packing contract).

    Sizing is per-directory from the filesystem footprint (compressed
    bytes — the unit the target is denominated in); the directory walk
    is the same footer-listing-scale driver loop as
    manifest.write_manifest (distributable as a mapPartitions over the
    file list on a real deployment). Hot partitions that need several
    files get them through write_partitioned's deterministic
    files_per_partition spread (xxhash64, task-retry safe — not
    rand()).

    Returns {partition_dir_relpath: n_files_target} for the rewritten
    directories only (empty dict = nothing fragmented, nothing
    touched). Atomicity note: dynamic overwrite commits per partition
    through the normal Spark committer; a crash mid-job leaves
    untouched partitions intact and rewritten ones either old or new —
    re-running converges (the operation is idempotent on content)."""
    import pathlib

    if not partition_cols:
        raise ValueError("partition_cols must be non-empty")
    base = pathlib.Path(path)
    # group leaf files by partition directory (relative to base)
    by_dir: dict[str, list] = {}
    for p in base.rglob("*.parquet"):
        if p.parent == base:
            # A parquet file at the dataset ROOT means the layout is
            # not the Hive-partitioned one this maintenance assumes —
            # staging such rows through write_partitioned(dynamic=True)
            # would fail or misplace them (they carry no partition
            # columns). Refuse loudly rather than skip: a mixed layout
            # is corrupt for dynamic partition overwrite (ADVICE r7).
            raise ValueError(
                f"compact_partitioned: {p} sits at the dataset root — "
                f"{path} is not a pure partitioned layout"
            )
        by_dir.setdefault(str(p.parent.relative_to(base)), []).append(p)
    plans: dict[str, int] = {}
    for rel_dir, fs in by_dir.items():
        size = sum(f.stat().st_size for f in fs)
        want = max(1, -(-size // target_file_bytes))
        if len(fs) > want + slack:
            plans[rel_dir] = int(want)
    if not plans:
        return plans
    # Group directories by their target file count so every partition
    # gets ITS size's worth of files (one shared files_per_partition
    # would hand cold partitions a hot partition's spread). Distinct
    # targets are few (1, 2, 4, ...), so this is a handful of jobs.
    #
    # Each group stages through a scratch dir first: Spark cannot
    # safely overwrite directories an in-flight plan is reading
    # (lazy execution would race file deletes), and staging to disk —
    # unlike a localCheckpoint — bounds nothing by executor memory.
    # The 2× write of AFFECTED data only is the price of in-place
    # maintenance; the fresh-store swap (the ingest stores' compact_*
    # folds in streaming/sinks.py) is the alternative when a manifest
    # protocol needs crash-exactness beyond the committer's
    # per-partition atomicity.
    import shutil
    import tempfile
    from collections import defaultdict

    groups: dict[int, list[str]] = defaultdict(list)
    for rel_dir, want in plans.items():
        groups[want].append(rel_dir)
    for want, dirs in sorted(groups.items()):
        staging = tempfile.mkdtemp(prefix="dmr_compact_")
        try:
            (
                spark.read.option("basePath", str(base))
                .parquet(*[str(base / d) for d in dirs])
                .write.mode("overwrite")
                .parquet(f"{staging}/stage")
            )
            write_partitioned(
                spark.read.parquet(f"{staging}/stage"),
                str(base),
                partition_cols,
                dynamic=True,
                files_per_partition=want,
            )
        finally:
            shutil.rmtree(staging, ignore_errors=True)
    return plans
