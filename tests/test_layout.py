"""Z-order clustering layout (sources/layout.py): the z-curve must
(1) never change query answers (pruned read ≡ full filtered read on
every axis and on conjunctions), (2) make zone pruning effective on
EVERY z-column — the property a linear sort cannot deliver — and
(3) make conjunctive pruning multiplicative (read_pruned_multi).
Effectiveness assertions are deliberately loose bounds on file counts:
the curve's exact file/rectangle split depends on range-partitioner
sampling, but a y-slab that a linear-x layout cannot prune AT ALL must
prune well under z-order on fully-deterministic grid data."""

from __future__ import annotations

from pyspark.sql import functions as F

from distributed_mapreduce_spark.sources.layout import (
    interleave_bits,
    write_zordered,
    zorder_boundaries,
)
from distributed_mapreduce_spark.sources.manifest import read_pruned_multi

N_FILES = 16


def _grid(spark, n=40_000):
    """Deterministic 2-D grid: x and y independent, uniform 0..999."""
    return spark.range(n).select(
        F.col("id"),
        (F.col("id") % 1000).alias("x"),
        ((F.col("id") * 7919) % 1000).alias("y"),
    )


def _ids(df):
    return sorted(r.id for r in df.collect())


def test_interleave_bits_morton_order(spark):
    """Spot-check the Morton encoding against hand-computed values."""
    df = spark.createDataFrame(
        [(0, 0), (1, 0), (0, 1), (3, 5)], "a int, b int"
    )
    z = df.select(
        interleave_bits([F.col("a"), F.col("b")], bits=3).alias("z")
    ).collect()
    # bit i of a -> position 2i; bit i of b -> position 2i+1
    def morton(a, b):
        out = 0
        for i in range(3):
            out |= ((a >> i) & 1) << (2 * i)
            out |= ((b >> i) & 1) << (2 * i + 1)
        return out

    assert [r.z for r in z] == [morton(a, b) for a, b in [(0, 0), (1, 0), (0, 1), (3, 5)]]


def test_zorder_write_preserves_rows_and_prunes_both_axes(spark, tmp_path):
    df = _grid(spark)
    path = str(tmp_path / "z")
    write_zordered(df, path, ["x", "y"], bits=5, n_files=N_FILES)

    back = spark.read.parquet(path)
    assert _ids(back) == _ids(df), "layout rewrite must be row-preserving"

    for col in ("x", "y"):
        pruned, read, total = read_pruned_multi(spark, path, {col: (100, 199)})
        full = back.where(F.col(col).between(100, 199))
        assert _ids(pruned) == _ids(full)
        assert total == N_FILES
        # a 10% slab on either axis must skip a substantial share of
        # files — the multi-axis locality linear sort cannot give
        assert read <= (3 * total) // 4, f"{col}: z-order should prune, read {read}/{total}"


def test_linear_sort_cannot_prune_the_other_axis(spark, tmp_path):
    """The negative control: sort by x, and y-zone pruning degrades to
    reading (nearly) everything — motivating z-order."""
    df = _grid(spark)
    path = str(tmp_path / "linear")
    (
        df.repartitionByRange(N_FILES, "x")
        .sortWithinPartitions("x")
        .write.parquet(path)
    )
    from distributed_mapreduce_spark.sources.manifest import write_manifest

    write_manifest(path, ["x", "y"])

    _, read_x, total = read_pruned_multi(spark, path, {"x": (100, 199)})
    assert read_x <= 3, "linear layout prunes its own sort column tightly"
    _, read_y, _ = read_pruned_multi(spark, path, {"y": (100, 199)})
    assert read_y >= total - 1, "y spans every x-sorted file"


def test_conjunctive_pruning_is_multiplicative(spark, tmp_path):
    df = _grid(spark)
    path = str(tmp_path / "zm")
    write_zordered(df, path, ["x", "y"], bits=5, n_files=N_FILES)
    back = spark.read.parquet(path)

    pruned, read_both, total = read_pruned_multi(
        spark, path, {"x": (100, 199), "y": (100, 199)}
    )
    full = back.where(F.col("x").between(100, 199) & F.col("y").between(100, 199))
    assert _ids(pruned) == _ids(full)

    _, read_x, _ = read_pruned_multi(spark, path, {"x": (100, 199)})
    _, read_y, _ = read_pruned_multi(spark, path, {"y": (100, 199)})
    assert read_both <= min(read_x, read_y), "conjunction can only tighten"
    # 10% x 10% of the plane: a z-layout should confine that to a
    # small minority of the 16 hyper-rectangles
    assert read_both <= total // 2


def test_multi_pruner_sound_without_zone_and_empty_selection(spark, tmp_path):
    df = _grid(spark, n=4_000)
    path = str(tmp_path / "zs")
    write_zordered(df, path, ["x"], bits=4, n_files=4)

    # y has no manifest entry: never a skip criterion, still filtered
    pruned, read, total = read_pruned_multi(
        spark, path, {"x": (0, 99), "y": (0, 99)}
    )
    full = spark.read.parquet(path).where(
        F.col("x").between(0, 99) & F.col("y").between(0, 99)
    )
    assert _ids(pruned) == _ids(full)
    assert read <= total

    # disjoint x-range: zero files read, schema preserved, zero rows
    pruned, read, _ = read_pruned_multi(spark, path, {"x": (5000, 6000)})
    assert read == 0
    assert pruned.columns == spark.read.parquet(path).columns
    assert pruned.count() == 0


def test_skewed_column_buckets_stay_balanced(spark, tmp_path):
    """Equal-frequency bucketing: a heavily skewed column must still
    spread across z-buckets (raw-value bucketing would collapse)."""
    df = spark.range(20_000).select(
        F.col("id"),
        # ~90% of mass at small values, long tail
        F.when(F.col("id") % 10 < 9, F.col("id") % 50)
        .otherwise(F.col("id"))
        .alias("v"),
        (F.col("id") % 1000).alias("u"),
    )
    bnds = zorder_boundaries(df, ["v"], bits=5)["v"]
    distinct_bnds = len(set(bnds))
    assert distinct_bnds >= 8, f"skewed column should still yield many buckets, got {distinct_bnds}"

    path = str(tmp_path / "skew")
    write_zordered(df, path, ["v", "u"], bits=5, n_files=8)
    pruned, read, total = read_pruned_multi(spark, path, {"v": (0, 10)})
    full = spark.read.parquet(path).where(F.col("v").between(0, 10))
    assert _ids(pruned) == _ids(full)


def test_string_zcol_clusters_and_prunes(spark, tmp_path):
    """String z-columns go through sampled lexicographic boundaries;
    pruning and row-preservation must hold exactly as for numerics
    (manifest string zones compare in code-point order on both the
    write and read side)."""
    df = spark.range(20_000).select(
        F.col("id"),
        F.format_string("k%04d", (F.col("id") % 1000).cast("int")).alias("s"),
        ((F.col("id") * 7919) % 1000).alias("y"),
    )
    path = str(tmp_path / "zstr")
    write_zordered(df, path, ["s", "y"], bits=5, n_files=N_FILES)
    back = spark.read.parquet(path)
    assert _ids(back) == _ids(df)

    pruned, read_s, total = read_pruned_multi(spark, path, {"s": ("k0100", "k0199")})
    full = back.where(F.col("s").between("k0100", "k0199"))
    assert _ids(pruned) == _ids(full)
    assert read_s <= (3 * total) // 4, f"string axis should prune, read {read_s}/{total}"

    pruned, read_y, _ = read_pruned_multi(spark, path, {"y": (100, 199)})
    assert _ids(pruned) == _ids(back.where(F.col("y").between(100, 199)))
    assert read_y <= (3 * total) // 4, f"numeric axis should prune, read {read_y}/{total}"


def test_unsupported_zcol_type_raises(spark):
    df = spark.range(10).select(F.col("id"), F.array(F.col("id")).alias("a"))
    import pytest

    with pytest.raises(ValueError, match="unsupported type"):
        zorder_boundaries(df, ["a"], bits=4)
