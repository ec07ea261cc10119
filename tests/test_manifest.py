"""Zone-map data skipping: pruned reads must equal full filtered reads
(soundness) and actually skip files on range-clustered layout
(effectiveness); uncorrelated layout degrades to reading everything,
never to wrong answers."""

from __future__ import annotations

from pyspark.sql import functions as F

from distributed_mapreduce_spark.sources import table
from distributed_mapreduce_spark.sources.manifest import (
    read_pruned_multi,
    write_manifest,
)


def _rows(df):
    return sorted((r.event_id, float(r.value)) for r in df.collect())


def test_pruned_read_equals_full_on_clustered_layout(spark, sf_dir, tmp_path):
    ev = table(spark, sf_dir, "events").select("event_id", "value")
    path = str(tmp_path / "clustered")
    # range-cluster by value: the write-side half of the contract
    ev.repartitionByRange(8, "value").sortWithinPartitions("value").write.parquet(path)
    write_manifest(path, ["value"])

    lo, hi = 3.0, 6.0
    pruned, read, total = read_pruned_multi(spark, path, {"value": (lo, hi)})
    full = spark.read.parquet(path).where(F.col("value").between(lo, hi))
    assert _rows(pruned) == _rows(full)
    assert total == 8
    assert read < total, "clustered layout must skip files"


def test_pruned_read_sound_on_uncorrelated_layout(spark, sf_dir, tmp_path):
    ev = table(spark, sf_dir, "events").select("event_id", "value")
    path = str(tmp_path / "hashed")
    ev.repartition(8, "event_id").write.parquet(path)  # value spans every file
    write_manifest(path, ["value"])

    pruned, read, total = read_pruned_multi(spark, path, {"value": (3.0, 6.0)})
    full = spark.read.parquet(path).where(F.col("value").between(3.0, 6.0))
    assert _rows(pruned) == _rows(full)
    assert read == total, "no correlation -> nothing skippable"


def test_typed_stats_prune_date_column(spark, sf_dir, tmp_path):
    """ADVICE r5: date/timestamp/decimal zone bounds used to round-trip
    as strings (json default=str) and either TypeError'd or mispruned
    lexicographically against typed lo/hi. The typed codec must prune a
    DATE column correctly AND effectively on clustered layout."""
    import datetime

    ev = table(spark, sf_dir, "events").select(
        "event_id", F.to_date("ts").alias("day")
    )
    path = str(tmp_path / "bydate")
    ev.repartitionByRange(6, "day").sortWithinPartitions("day").write.parquet(path)
    m = write_manifest(path, ["day"])
    # the returned (decoded) manifest carries real date objects
    some_zone = next(z["day"] for z in m.values() if "day" in z)
    assert isinstance(some_zone[0], datetime.date)

    days = sorted(r.day for r in ev.select("day").distinct().collect())
    lo, hi = days[0], days[min(1, len(days) - 1)]
    pruned, read, total = read_pruned_multi(spark, path, {"day": (lo, hi)})
    full = spark.read.parquet(path).where(F.col("day").between(lo, hi))
    assert sorted(r.event_id for r in pruned.collect()) == sorted(
        r.event_id for r in full.collect()
    )
    assert read < total, "date-clustered layout must skip files"


def test_unsupported_stat_type_raises_at_write(tmp_path):
    from distributed_mapreduce_spark.sources.manifest import _encode

    import pytest

    with pytest.raises(ValueError, match="unsupported type"):
        _encode(object())


def test_pruned_read_keeps_partition_columns(spark, sf_dir, tmp_path):
    """ADVICE r5: a pruned file-list read of a Hive-partitioned dataset
    used to DROP the partition columns that the base-dir (empty
    selection) branch keeps — the two branches must return the same
    schema, with partition values intact."""
    ev = table(spark, sf_dir, "events").select(
        "event_id", "value", "event_type"
    )
    path = str(tmp_path / "parts")
    (
        ev.repartitionByRange(4, "value")
        .sortWithinPartitions("value")
        .write.partitionBy("event_type")
        .parquet(path)
    )
    write_manifest(path, ["value"])

    pruned, read, total = read_pruned_multi(spark, path, {"value": (3.0, 6.0)})
    full = spark.read.parquet(path).where(F.col("value").between(3.0, 6.0))
    assert "event_type" in pruned.columns
    assert sorted(pruned.columns) == sorted(full.columns)
    assert sorted(
        (r.event_id, r.event_type) for r in pruned.collect()
    ) == sorted((r.event_id, r.event_type) for r in full.collect())

    empty, read0, _ = read_pruned_multi(spark, path, {"value": (1e9, 2e9)})
    assert read0 == 0
    assert sorted(empty.columns) == sorted(pruned.columns)


def test_pruned_read_empty_range(spark, sf_dir, tmp_path):
    ev = table(spark, sf_dir, "events").select("event_id", "value")
    path = str(tmp_path / "c2")
    ev.repartitionByRange(4, "value").write.parquet(path)
    write_manifest(path, ["value"])
    pruned, read, total = read_pruned_multi(spark, path, {"value": (1e9, 2e9)})
    assert pruned.count() == 0
    assert read == 0 and total == 4


def test_typed_stats_prune_timestamp_and_decimal(spark, sf_dir, tmp_path):
    """Remaining typed-codec branches exercised end-to-end: TIMESTAMP
    and DECIMAL zone bounds round-trip through the codec and prune
    correctly (equal rows to the full filtered read, files skipped on
    clustered layout)."""
    import datetime
    import decimal

    ev = table(spark, sf_dir, "events").select(
        "event_id", "ts", F.col("value").cast("decimal(18,4)").alias("d")
    )

    # timestamp column. Spark's DEFAULT parquet timestamp encoding
    # (INT96) carries no min/max footer statistics — zones silently
    # degrade to always-read (sound). TIMESTAMP_MICROS is the
    # write-side requirement for effective timestamp zones.
    p1 = str(tmp_path / "byts")
    prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try:
        ev.repartitionByRange(6, "ts").sortWithinPartitions("ts").write.parquet(p1)
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
    m = write_manifest(p1, ["ts"])
    z = next(s["ts"] for s in m.values() if "ts" in s)
    assert isinstance(z[0], datetime.datetime)
    lo, hi = z[0], z[1]  # one file's span: must skip the others
    pruned, read, total = read_pruned_multi(spark, p1, {"ts": (lo, hi)})
    full = spark.read.parquet(p1).where(F.col("ts").between(lo, hi))
    assert sorted(r.event_id for r in pruned.collect()) == sorted(
        r.event_id for r in full.collect()
    )
    assert read < total

    # decimal column: pyarrow cannot extract parquet stats for Spark's
    # decimal physical encoding (ArrowNotImplementedError) — the
    # manifest must degrade to NO zone (always read, sound), never
    # crash or misprune
    p2 = str(tmp_path / "bydec")
    ev.repartitionByRange(6, "d").sortWithinPartitions("d").write.parquet(p2)
    m2 = write_manifest(p2, ["d"])
    assert all("d" not in s for s in m2.values())
    dlo, dhi = decimal.Decimal("3.0"), decimal.Decimal("6.0")
    pruned2, read2, total2 = read_pruned_multi(spark, p2, {"d": (dlo, dhi)})
    full2 = spark.read.parquet(p2).where(F.col("d").between(dlo, dhi))
    assert sorted(r.event_id for r in pruned2.collect()) == sorted(
        r.event_id for r in full2.collect()
    )
    assert read2 == total2  # no zones -> nothing skippable, all read

    # the decimal codec branch itself round-trips (unit level, for
    # engines whose footers do expose decimal stats)
    from distributed_mapreduce_spark.sources.manifest import _decode, _encode

    v = decimal.Decimal("12.3456")
    assert _decode(_encode(v)) == v and isinstance(_decode(_encode(v)), decimal.Decimal)
