"""Z-order (multi-dimensional) clustering layout for data skipping.

`sources/manifest.py` gives file-level zone maps, but its skipping
contract says effectiveness requires LAYOUT CORRELATION — and a linear
sort can correlate the layout with only ONE column: sort a 100 TB
dataset by `l_partkey` and zone pruning on `l_suppkey` degrades to
reading every file. Z-ordering (Delta `OPTIMIZE ZORDER BY`, the
Iceberg sort-order z-curve) interleaves the bits of per-column rank
buckets into a single space-filling-curve key and range-partitions the
write on that key, so every file covers a small HYPER-RECTANGLE of the
value space: a range predicate on ANY of the z-columns — or a
conjunction across them — skips most files
(`manifest.read_pruned_multi`).

Pipeline shape at 100 TB (all distributed, no driver data path):
1. one `approxQuantile` sampling job per layout computes 2^bits − 1
   equal-frequency boundaries per column (Greenwald-Khanna sketch,
   driver receives only the ~KB boundary list);
2. per-row bucket ids = count of boundaries ≤ value, an O(2^bits)
   JVM-side higher-order-function scan over a broadcast array literal
   (bits ≤ 8 keeps that ≤ 256 comparisons/row — cheaper than it looks
   because it is codegen'd; a binary search would need a UDF and lose
   the JVM lane);
3. bit-interleave the bucket ids into the z-value (pure shift/or
   column arithmetic, whole-stage codegen);
4. `repartitionByRange(n_files, z)` + sort-within-partitions on z —
   the only shuffle in the job, and exactly the shuffle a compaction
   rewrite pays anyway (this op IS a compaction policy: run it where
   a small-file compaction would run);
5. zone manifest from the parquet footers of the files just written.

Rank-bucketing (not raw values) is what makes the curve robust: the
z-curve assumes roughly uniform axes, and equal-frequency buckets make
any numeric distribution uniform by construction — a skewed
`o_totalprice` z-orders as well as a uniform key. Ties beyond the
boundary resolution all land in one bucket (sound: zone maps stay
conservative; skipping on the tied range just degrades).

Supported z-column types: numerics, date, timestamp (ranked through
their natural numeric image — one approxQuantile sketch job), and
strings (sampled lexicographic boundaries, the Delta
range_partition_id approach: a deterministic hash-ordered sample —
a distributed TakeOrdered, no count job, layout-independent — sorted
on the driver and read at equal-frequency positions). Unsupported
types raise rather than mis-cluster.

Reference anchor: the reference's only layout lever is the fixed
mr-<map>-<reduce> hash fan-out (/root/reference/src/mr/worker.go:123-131);
this module is the lake-format generalization of "choose the file a
row lands in so readers touch few files".
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from distributed_mapreduce_spark.sources import manifest as zone_manifest


def _is_string(df: DataFrame, col: str) -> bool:
    return dict(df.dtypes)[col] == "string"


def _numeric_image(df: DataFrame, col: str) -> Column:
    """Order-preserving numeric image of a z-column (approxQuantile
    accepts only numerics). Raises on unsupported types rather than
    clustering on a lexicographically-wrong cast."""
    dtype = dict(df.dtypes)[col]
    if dtype in ("date",):
        return F.datediff(F.col(col), F.lit("1970-01-01")).cast("double")
    if dtype.startswith("timestamp"):
        return F.unix_micros(F.col(col)).cast("double")
    numeric_prefixes = ("tinyint", "smallint", "int", "bigint", "float", "double", "decimal")
    if any(dtype.startswith(p) for p in numeric_prefixes):
        return F.col(col).cast("double")
    raise ValueError(
        f"z-order column {col!r} has unsupported type {dtype}; "
        "supported: numeric, date, timestamp, string"
    )


def _string_boundaries(
    df: DataFrame, col: str, bits: int, sample_rows: int = 20_000
) -> list[str]:
    """Sampled lexicographic boundaries for a string z-column. The
    sample is the `sample_rows` smallest rows by xxhash64 over the
    FULL row — deterministic given the data, independent of partition
    layout (unlike monotonically_increasing_id or rand()), and
    distributed as a TakeOrdered (only the sample reaches the driver;
    no count job). Frequency weighting is coarse — identical rows
    share a hash so a value's copies enter all-or-nothing — which only
    blurs bucket balance, never soundness (zone maps stay conservative
    regardless of where boundaries land)."""
    rows = (
        df.where(F.col(col).isNotNull())
        .orderBy(F.xxhash64(*[F.col(c) for c in df.columns]))
        .select(col)
        .limit(sample_rows)
        .collect()
    )
    vals = sorted(r[0] for r in rows)
    if not vals:
        return []
    n_buckets = 1 << bits
    bnds = {
        vals[min(len(vals) - 1, (i * len(vals)) // n_buckets)]
        for i in range(1, n_buckets)
    }
    return sorted(bnds)


def rank_bucket(col: Column, boundaries: list) -> Column:
    """Equal-frequency bucket id: number of boundaries ≤ value, via a
    JVM higher-order filter over the (small, ≤ 2^bits − 1 element)
    boundary array literal. Boundaries are floats for numeric-imaged
    columns, strings for string columns (lexicographic — Spark's
    UTF8String byte order equals code-point order, the same order
    Python uses when the manifest reader compares zones). NULL ranks
    as bucket 0 (clustered with the minimum — zone maps ignore NULLs
    anyway, so placement is a locality choice, not a correctness
    one)."""
    if not boundaries:
        return F.lit(0)
    lits = [
        F.lit(b if isinstance(b, str) else float(b)) for b in boundaries
    ]
    n = F.size(F.filter(F.array(*lits), lambda b: b <= col))
    return F.coalesce(n, F.lit(0))


def interleave_bits(bucket_cols: list[Column], bits: int) -> Column:
    """Morton/z-value: bit i of column j lands at position
    i * n_cols + j. With bits ≤ 8 and ≤ 4 columns the z-value fits in
    32 bits; the expression is bits × n_cols shift/or terms — narrow
    enough for whole-stage codegen (wide flat expressions >64 KB fall
    back to interpreted eval; this stays far under)."""
    ncols = len(bucket_cols)
    z = F.lit(0).cast("long")
    for j, c in enumerate(bucket_cols):
        cl = c.cast("long")
        for i in range(bits):
            bit = F.shiftright(cl, i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * ncols + j))
    return z


def zorder_boundaries(
    df: DataFrame, zcols: list[str], bits: int = 6
) -> dict[str, list[float]]:
    """The sampling job: per-column equal-frequency boundaries
    (2^bits − 1 probes, relative error ¼ bucket). One distributed pass;
    the driver holds only the boundary lists."""
    n_buckets = 1 << bits
    probs = [i / n_buckets for i in range(1, n_buckets)]
    rel_err = 1.0 / (4 * n_buckets)
    out: dict[str, list] = {
        c: _string_boundaries(df, c, bits) for c in zcols if _is_string(df, c)
    }
    num_cols = [c for c in zcols if c not in out]
    if num_cols:
        imaged = df.select(
            *[_numeric_image(df, c).alias(f"__zi_{c}") for c in num_cols]
        )
        quantiles = imaged.approxQuantile(
            [f"__zi_{c}" for c in num_cols], probs, rel_err
        )
        out.update({c: qs for c, qs in zip(num_cols, quantiles)})
    return out


def zorder_value(
    df: DataFrame, zcols: list[str], boundaries: dict[str, list[float]], bits: int = 6
) -> Column:
    """The z-value column for `df` given precomputed boundaries."""
    buckets = [
        rank_bucket(
            F.col(c) if _is_string(df, c) else _numeric_image(df, c),
            boundaries[c],
        )
        for c in zcols
    ]
    return interleave_bits(buckets, bits)


def write_zordered(
    df: DataFrame,
    path: str,
    zcols: list[str],
    bits: int = 6,
    n_files: int = 16,
    write_zone_manifest: bool = True,
) -> dict:
    """Z-cluster `df` on `zcols` into `n_files` parquet files and
    (optionally) write the `_zone_manifest.json` covering the same
    columns. Returns the manifest dict (empty if not written).

    The explicit `n_files` on repartitionByRange is load-bearing: it
    is the file-count ↔ hyper-rectangle-granularity knob (size it as
    total_bytes / target_file_bytes, as any compaction does),
    and an unpinned range partition count would let AQE coalesce the
    carefully-spread ranges back together at small volume.
    """
    if not (1 <= bits <= 8):
        raise ValueError("bits must be in [1, 8] (bucket scan is O(2^bits)/row)")
    if not zcols:
        raise ValueError("zcols must be non-empty")
    bnds = zorder_boundaries(df, zcols, bits)
    z = zorder_value(df, zcols, bnds, bits)
    (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )
    if write_zone_manifest:
        return zone_manifest.write_manifest(path, zcols)
    return {}
