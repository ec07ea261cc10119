"""File source/sink round-trips (reference IO formats, SURVEY.md §1.2)
and the partitioned parquet layout with its small-file maintenance."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from distributed_mapreduce_spark.sources.files import read_jsonl_kv, write_jsonl_kv
from distributed_mapreduce_spark.sources.catalog import write_kv_text


def test_jsonl_kv_roundtrip_matches_reference_format(spark, tmp_path):
    df = spark.createDataFrame([("a", "1"), ("b", "2")], "key string, value string")
    out = str(tmp_path / "mr-jsonl")
    write_jsonl_kv(df, out)
    # physical format: {"Key": ..., "Value": ...} JSON lines
    # (/root/reference/src/main/mr-tmp/mr-0-0)
    part = next(
        str(p) for p in (tmp_path / "mr-jsonl").iterdir() if p.name.startswith("part-")
    )
    with open(part) as f:
        recs = [json.loads(line) for line in f if line.strip()]
    assert all(set(r) == {"Key", "Value"} for r in recs)
    back = read_jsonl_kv(spark, out)
    assert sorted(map(tuple, back.collect())) == [("a", "1"), ("b", "2")]


def test_kv_text_matches_reference_format(spark, tmp_path):
    df = spark.createDataFrame([("a", 9), ("b", 10)], "key string, value int")
    out = str(tmp_path / "mr-out")
    write_kv_text(df, out)
    lines = set()
    for p in (tmp_path / "mr-out").iterdir():
        if p.name.startswith("part-"):
            lines |= {line for line in p.read_text().splitlines() if line}
    # "<key> <value>" lines (/root/reference/src/mr/worker.go:217-218)
    assert lines == {"a 9", "b 10"}


def test_events_ts_normalizes_to_session_timestamp(spark, sf_dir, tmp_path):
    """The driver has shipped the events fixture with two different ts
    encodings across rounds (TIMESTAMP(NANOS) → long under the legacy
    conf; TIMESTAMP(µs, no tz) → TIMESTAMP_NTZ). catalog.table must
    normalize BOTH to the plain session timestamp type (tz pinned UTC)
    so time arithmetic (`unix_micros`, windows) and the DuckDB oracle
    see one wall-clock semantics regardless of the physical encoding."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import TimestampType

    from distributed_mapreduce_spark.sources import table

    # whatever encoding the current fixture carries must come out LTZ
    assert isinstance(table(spark, sf_dir, "events").schema["ts"].dataType, TimestampType)

    # synthetic NTZ-µs fixture exercises the cast branch explicitly,
    # and the wall-clock values must survive unchanged
    base = datetime.datetime(2024, 3, 1, 12, 30, 45, 123456)
    tbl = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array([base, base + datetime.timedelta(hours=1)], pa.timestamp("us")),
            "user_id": pa.array([7, 8], pa.int64()),
            "event_type": pa.array(["click", "purchase"]),
            "value": pa.array([1.0, 2.0]),
            "props": pa.array(["{}", "{}"]),
        }
    )
    pq.write_table(tbl, str(tmp_path / "events.parquet"))
    df = table(spark, str(tmp_path), "events")
    assert isinstance(df.schema["ts"].dataType, TimestampType)
    got = [r["ts"] for r in df.orderBy("event_id").collect()]
    assert got == [base, base + datetime.timedelta(hours=1)]


def test_table_rereads_run_no_schema_job(spark, tmp_path):
    """Parquet schema inference runs a Spark job; catalog.table infers
    once per file version and re-reads with the memoized schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from distributed_mapreduce_spark.sources import table

    def next_job_id():
        return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()

    path = str(tmp_path / "documents.parquet")
    pq.write_table(pa.table({"doc_id": [1, 2], "text": ["a", "b"]}), path)
    first = table(spark, str(tmp_path), "documents")
    jobs = next_job_id()
    again = table(spark, str(tmp_path), "documents")
    assert next_job_id() == jobs
    assert again.schema == first.schema

    # a rewritten file is inferred again
    pq.write_table(pa.table({"doc_id": [3], "text": ["c"], "source": ["s"]}), path)
    jobs = next_job_id()
    rewritten = table(spark, str(tmp_path), "documents")
    assert next_job_id() > jobs
    assert rewritten.columns == ["doc_id", "text", "source"]
    assert [tuple(r) for r in rewritten.collect()] == [(3, "c", "s")]


def test_partitioned_write_prunes_and_roundtrips(spark, tmp_path):
    """Hive-layout partitioned parquet (sources/files.py): the dataset
    round-trips with the partition column reconstructed from directory
    names, and a filter on the partition column prunes at PLANNING
    time — the pruned partitions' files are never even listed as scan
    inputs (the property that makes a 100 TB dataset readable)."""
    from distributed_mapreduce_spark.sources.files import write_partitioned

    rows = [(i, ["en", "de", "fr"][i % 3], f"doc {i}") for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    path = str(tmp_path / "part_ds")
    write_partitioned(df, path, ["lang"])

    back = spark.read.parquet(path)
    assert sorted((r.doc_id, r.lang, r.text) for r in back.collect()) == sorted(rows)

    filtered = back.where(F.col("lang") == "en")
    assert filtered.count() == 20
    # planning-time pruning: the lang predicate must land in the
    # scan's PartitionFilters (directory pruning — pruned partitions
    # are never opened), NOT as a row-level PushedFilters/DataFilters
    # predicate. (inputFiles() reflects the unfiltered relation, so
    # the plan is the right place to assert.)
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    part_clause = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert part_clause, plan
    assert any("lang" in ln and "en" in ln for ln in part_clause), part_clause


def test_partitioned_dynamic_overwrite_touches_only_written_partitions(spark, tmp_path):
    """partitionOverwriteMode=dynamic: rewriting one partition's data
    replaces that directory only — the idempotent daily-ingest
    pattern. Static overwrite would drop the other partitions."""
    from distributed_mapreduce_spark.sources.files import write_partitioned

    schema = "doc_id long, lang string, text string"
    full = spark.createDataFrame(
        [(1, "en", "one"), (2, "de", "zwei"), (3, "fr", "trois")], schema
    )
    path = str(tmp_path / "dyn_ds")
    write_partitioned(full, path, ["lang"])

    patch = spark.createDataFrame([(2, "de", "zwei NEU"), (4, "de", "vier")], schema)
    write_partitioned(patch, path, ["lang"], dynamic=True)

    back = {(r.doc_id, r.lang): r.text for r in spark.read.parquet(path).collect()}
    assert back == {
        (1, "en"): "one",          # untouched partition survives
        (3, "fr"): "trois",        # untouched partition survives
        (2, "de"): "zwei NEU",     # rewritten
        (4, "de"): "vier",         # added
    }


def test_partitioned_write_spread_key_and_guards(spark, tmp_path):
    """files_per_partition > 1 splits a hot partition value across
    multiple files (write parallelism within a partition) with zero
    data loss; empty partition_cols is rejected; static overwrite is
    pinned per-write, immune to a session-level dynamic default."""
    import pathlib

    import pytest as _pytest

    from distributed_mapreduce_spark.sources.files import write_partitioned

    schema = "doc_id long, lang string, text string"
    rows = [(i, "en", f"doc {i}") for i in range(40)]  # one hot partition
    df = spark.createDataFrame(rows, schema)
    path = str(tmp_path / "spread_ds")
    write_partitioned(df, path, ["lang"], files_per_partition=4)

    back = spark.read.parquet(path)
    assert sorted((r.doc_id, r.lang, r.text) for r in back.collect()) == sorted(rows)
    files = list((pathlib.Path(path) / "lang=en").glob("part-*.parquet"))
    assert len(files) > 1, "hot partition should split across writer files"

    with _pytest.raises(ValueError, match="partition_cols"):
        write_partitioned(df, path, [])

    # static overwrite must replace the WHOLE dataset even when the
    # session default is dynamic
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        full = spark.createDataFrame(
            [(1, "en", "one"), (2, "de", "zwei")], schema
        )
        p2 = str(tmp_path / "static_ds")
        write_partitioned(full, p2, ["lang"])
        only_fr = spark.createDataFrame([(3, "fr", "trois")], schema)
        write_partitioned(only_fr, p2, ["lang"])  # static: replaces all
        left = [(r.doc_id, r.lang) for r in spark.read.parquet(p2).collect()]
        assert left == [(3, "fr")]
    finally:
        spark.conf.unset("spark.sql.sources.partitionOverwriteMode")


def test_compact_partitioned_rewrites_only_fragmented_dirs(spark, tmp_path):
    """In-place partition-preserving compaction: the fragmented
    partition collapses to its size-derived file count, the already-
    compact partition is untouched BYTE-IDENTICALLY (mtime+content),
    rows survive exactly, and a second run is a no-op."""
    import pathlib

    from distributed_mapreduce_spark.sources.files import (
        compact_partitioned,
        write_partitioned,
    )

    df = spark.createDataFrame(
        [(i, "hot" if i % 2 == 0 else "cold", f"row {i}") for i in range(2000)],
        "id long, part string, s string",
    )
    base = str(tmp_path / "ds")
    # cold: compact from the start; hot written fragmented afterwards
    write_partitioned(df.where("part = 'cold'"), base, ["part"])
    (
        df.where("part = 'hot'")
        .repartition(23)
        .write.mode("append")
        .partitionBy("part")
        .parquet(base)
    )
    hot_dir = pathlib.Path(base) / "part=hot"
    cold_dir = pathlib.Path(base) / "part=cold"
    assert len(list(hot_dir.glob("*.parquet"))) == 23
    cold_before = sorted(
        (p.name, p.stat().st_size, p.read_bytes()) for p in cold_dir.glob("*.parquet")
    )

    plans = compact_partitioned(spark, base, ["part"], target_file_bytes=1 << 30)
    assert set(plans) == {"part=hot"} and plans["part=hot"] == 1
    assert len(list(hot_dir.glob("*.parquet"))) == 1
    cold_after = sorted(
        (p.name, p.stat().st_size, p.read_bytes()) for p in cold_dir.glob("*.parquet")
    )
    assert cold_after == cold_before, "untouched partition must stay byte-identical"

    back = spark.read.parquet(base)
    assert sorted(r.id for r in back.collect()) == list(range(2000))

    assert compact_partitioned(spark, base, ["part"], target_file_bytes=1 << 30) == {}


def test_compact_partitioned_groups_by_target_file_count(spark, tmp_path):
    """Two fragmented partitions with different size targets each get
    THEIR OWN file count (a shared spread would hand the small
    partition the big one's file count)."""
    import pathlib

    from distributed_mapreduce_spark.sources.files import compact_partitioned

    big = spark.range(40_000).selectExpr(
        "id", "'big' AS part", "repeat(uuid(), 8) AS s"
    )
    small = spark.range(200).selectExpr("id", "'small' AS part", "'x' AS s")
    for d in (big, small):
        d.repartition(17).write.mode("append").partitionBy("part").parquet(
            str(tmp_path / "ds")
        )
    base = str(tmp_path / "ds")
    big_bytes = sum(
        p.stat().st_size for p in (pathlib.Path(base) / "part=big").glob("*.parquet")
    )
    # target sized so big needs >1 file and small needs exactly 1
    target = max(1, big_bytes // 3)
    plans = compact_partitioned(spark, base, ["part"], target_file_bytes=target)
    assert plans["part=small"] == 1
    assert plans["part=big"] >= 2
    n_small = len(list((pathlib.Path(base) / "part=small").glob("*.parquet")))
    n_big = len(list((pathlib.Path(base) / "part=big").glob("*.parquet")))
    assert n_small == 1
    assert 2 <= n_big <= plans["part=big"]
    assert spark.read.parquet(base).count() == 40_200


def test_compact_partitioned_refuses_root_level_files(spark, tmp_path):
    """A parquet file at the dataset ROOT means the layout is not the
    Hive-partitioned one the maintenance assumes — compacting it would
    stage rows with no partition columns into a dynamic overwrite.
    Must refuse loudly, touching nothing (ADVICE r7)."""
    import pytest

    from distributed_mapreduce_spark.sources.files import compact_partitioned

    base = tmp_path / "ds"
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, part string")
    df.repartition(4).write.partitionBy("part").parquet(str(base))
    # stray non-partitioned file at the root
    df.coalesce(1).drop("part").write.mode("append").parquet(str(base))
    before = sorted(p.name for p in base.rglob("*.parquet"))
    with pytest.raises(ValueError, match="dataset root"):
        compact_partitioned(spark, str(base), ["part"], target_file_bytes=1)
    assert sorted(p.name for p in base.rglob("*.parquet")) == before


def test_jsonl_roundtrip_generic(spark, tmp_path):
    """Generic JSONL sink/scan roundtrip (the corpus interchange
    format): typed columns survive exactly, nulls included, and the
    schema-provided read performs no inference pass (schema equality
    asserted, not sampled)."""
    from distributed_mapreduce_spark.sources.files import read_jsonl, write_jsonl

    rows = [
        (1, "plain text", "en", 10),
        (2, 'quotes " and \\ backslash', "de", 24),
        (3, None, "fr", 0),  # null text must roundtrip as null
    ]
    schema = "doc_id long, text string, lang string, n_chars long"
    df = spark.createDataFrame(rows, schema)
    out = str(tmp_path / "jsonl")
    write_jsonl(df, out)
    back = read_jsonl(spark, out, schema)
    assert back.schema == df.schema
    assert sorted(map(tuple, back.collect())) == sorted(rows)
