"""Table catalog over the driver's parquet fixtures + file sources/sinks.

Source operators (SURVEY.md §2.1):
- O1 whole-file text scan (/root/reference/src/mr/worker.go:91-102):
  ``whole_documents`` models the (filename, contents) row the reference
  Map UDF receives — here the `documents` table plays the corpus, with
  parquet scan + column pruning instead of whole-file slurps.
- O7 text sink with atomic commit (worker.go:184-198): ``write_kv_text``
  emits the reference's `"key value"` line format; atomicity comes from
  Spark's FileOutputCommitter (task-attempt temp dirs + rename), the
  exact mechanism the reference hand-rolled.

Scale notes: parquet scans here are the 100 TB path — Catalyst pushes
filters and prunes columns into the scan (verify via
``plans.assert_pushed``); `spark.sql.files.maxPartitionBytes` governs
input splitting (the reference's dead O11 code, master.go:153-208).
"""

from __future__ import annotations

import os
from collections.abc import Iterable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, LongType, StructType, TimestampNTZType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any scale factor; at
# 100 TB these stay ~KB-MB (region/nation are fixed-cardinality) or are
# bounded dims — broadcast kills the shuffle on the probe side.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part", "customer"})

# Session conf that changes the schema Spark infers from a parquet footer.
# The memo below is process-wide: its key holds every input that decides
# the inferred schema, so one session or test cannot see another's entry
# as stale.
_SCHEMA_CONF = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)
_SCHEMAS: dict[tuple, StructType] = {}


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table as a DataFrame (parquet, pushdown-capable).

    Parquet schema inference runs a one-task Spark job per read, so the
    inferred schema is memoized per (path, size, mtime, schema conf)
    and later reads of the unchanged file pass it to `.schema()`: no
    job. A rewritten file (or a dataset directory whose entries change)
    has a new stat key and is inferred again; a path the driver cannot
    stat (a remote store) is inferred on every read."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = f"{sf_dir}/{name}.parquet"
    try:
        st = os.stat(path)
    except OSError:
        key = None
    else:
        key = (path, st.st_size, st.st_mtime_ns)
        key += tuple(spark.conf.get(k) for k in _SCHEMA_CONF)
    if key in _SCHEMAS:
        df = spark.read.schema(_SCHEMAS[key]).parquet(path)
    else:
        df = spark.read.parquet(path)
        if key is not None:
            _SCHEMAS[key] = df.schema
    if name == "events":
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            # TIMESTAMP(NANOS) read as long (see session._RUNTIME_CONF);
            # truncate to µs — the same truncation DuckDB applies — so
            # timestamp semantics agree with the oracle.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(ts_type, TimestampNTZType):
            # TIMESTAMP(µs, no tz) reads as TIMESTAMP_NTZ; cast to the
            # session type (tz pinned UTC in session.py) so downstream
            # time arithmetic (unix_micros, windows) and the DuckDB
            # oracle see identical wall-clock semantics regardless of
            # which physical timestamp encoding the fixture carries.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def widen(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Ensure a scan feeding heavy per-row compute has at least
    `min_partitions` (default: defaultParallelism) partitions.

    The fixtures are single-row-group parquet files, so their scans are
    one task regardless of `maxPartitionBytes` — any expensive map work
    (shingling, language-ID, media decode) would run on one core. At
    real scale the scan already has hundreds of partitions and this is
    a no-op; the check is driver-side only (no job is triggered).

    The partition probe (`df.rdd`) physically plans the subtree — not
    free on wide plans, and at real scale the answer is always "no-op"
    (VERDICT r16 #6). `spark.dmr.widen=false` (conf/--conf, read per
    call so a session can flip it) disables the probe AND the
    repartition outright — set it in production deployments where
    every table is multi-split; the default `true` keeps the
    fixture-scale behavior and the driver's bench comparable."""
    spark = df.sparkSession
    try:
        enabled = spark.conf.get("spark.dmr.widen", "true")
    except Exception:  # pragma: no cover - conf service unavailable
        enabled = "true"
    if str(enabled).lower() == "false":
        return df
    n = min_partitions or spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n)
    return df


def local_frame(
    spark: SparkSession, rows: Iterable[tuple], schema: str | StructType
) -> DataFrame:
    """A DataFrame over rows the driver already holds, as a JVM local
    relation: the plan scans a `LocalTableScan` and collecting it runs
    no Spark job.

    `spark.createDataFrame(<list>, schema)` pickles the rows into a
    Python RDD, so every action over it runs one Python-worker task per
    core to hand back rows the driver had. An Arrow table built from
    the same rows, typed from `schema` (DDL string or StructType),
    goes to the JVM in one call and becomes a `LocalRelation` below
    `spark.sql.execution.arrow.localRelationThreshold` (48 MB by
    default; above it, a JVM-side RDD of the Arrow batches, still no
    Python worker). The rows are tuples in schema order; timestamps
    are read as UTC."""
    struct = DataType.fromDDL(schema) if isinstance(schema, str) else schema
    arrow = to_arrow_schema(struct)
    cols = list(zip(*rows)) or [()] * len(arrow)
    return spark.createDataFrame(
        pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
        ),
        struct,
    )


def load(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    """Load several tables at once: ``t = load(spark, sf, 'orders', 'lineitem')``."""
    return {n: table(spark, sf_dir, n) for n in (names or TABLES)}


def whole_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's whole-file scan shape: (filename, contents).

    Mirrors the Map UDF input contract of
    /root/reference/src/mr/worker.go:25 (key = file name, value = whole
    file body) with `documents.source`/`doc_id` as the filename and
    `text` as the contents. Column-pruned parquet scan, not a slurp.
    """
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        F.concat_ws("-", "source", F.col("doc_id").cast("string")).alias("filename"),
        F.col("text").alias("contents"),
    )


def write_kv_text(df: DataFrame, path: str, key: str = "key", value: str = "value") -> None:
    """O7: the reference's `"<key> <value>"` text output format
    (/root/reference/src/mr/worker.go:217-218), with Spark's atomic
    output commit replacing the hand-rolled temp-file+rename."""
    df.select(F.concat_ws(" ", F.col(key).cast("string"), F.col(value).cast("string"))).write.mode(
        "overwrite"
    ).text(path)
