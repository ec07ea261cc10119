"""Driver-held rows enter plans as JVM local relations
(sources/catalog.local_frame), never as a pickled Python RDD.

`spark.createDataFrame(<list>)` runs one Python-worker task per core on
every action that scans the frame; `local_frame` builds the same rows
as a `LocalTableScan` that collects with no Spark job. The guard below
keeps the product on the helper; the parity checks pin that the helper
returns what `createDataFrame(list)` returned, for every schema the
product builds a frame with."""

from __future__ import annotations

import ast
import pathlib

import pytest

PKG = pathlib.Path(__file__).resolve().parents[1] / "distributed_mapreduce_spark"

# product files that may call createDataFrame outside local_frame
ALLOWED = {
    "operators/mapreduce.py": "its input is an RDD (the map/reduce UDF "
    "output), not a list the driver holds",
}


def _create_dataframe_calls() -> list[tuple[str, int, str | None]]:
    """(file, line, enclosing function) of every `.createDataFrame(`
    call in the product package."""
    found = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()

        def walk(node, fn):
            for child in ast.iter_child_nodes(node):
                name = fn
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    name = child.name
                if (
                    isinstance(child, ast.Call)
                    and isinstance(child.func, ast.Attribute)
                    and child.func.attr == "createDataFrame"
                ):
                    found.append((rel, child.lineno, fn))
                walk(child, name)

        walk(ast.parse(path.read_text(), str(path)), None)
    return found


def test_no_create_dataframe_outside_local_frame():
    calls = _create_dataframe_calls()
    offenders = [
        f"{rel}:{line}"
        for rel, line, fn in calls
        if rel not in ALLOWED
        and not (rel == "sources/catalog.py" and fn == "local_frame")
    ]
    assert not offenders, (
        "build driver-held rows with sources.catalog.local_frame "
        f"(a local relation, no Python-worker job): {offenders}"
    )
    # the allowlist names live call sites only
    assert {rel for rel, _, _ in calls} >= set(ALLOWED)


# every schema the product builds a driver-side frame with, and rows
# carrying nulls in each column
CDC_SNAPSHOT = [
    ("c_custkey", "bigint"),
    ("c_mktsegment", "string"),
    ("c_acctbal", "double"),
    ("ord", "bigint"),
    ("is_delete", "int"),
]
KV_SNAPSHOT = [("key", "string"), ("value", "string"), ("last_seq", "bigint")]
CASES = {
    "key string": [("a",), (None,), ("é",)],
    "id bigint": [(1,), (None,), (2**40,)],
    "cell int, cvec array<double>": [(0, [0.5, -1.0]), (1, None), (None, [None, 2.0])],
    "sub int, code int, cvec array<double>": [(0, 3, [1.0]), (None, None, [])],
    "lang string, __rate double": [("en", 0.25), (None, None)],
    "id bigint, component bigint": [(1, 1), (5, None), (None, 2)],
    "kv": [("k", "v", 3), ("k2", None, None)],
    "cdc": [(1, "AUTO", 1.5, 7, 0), (2, None, None, None, None)],
}


def _ddl(name: str) -> str:
    from distributed_mapreduce_spark.streaming.sinks import _schema_ddl

    return {"kv": _schema_ddl(KV_SNAPSHOT), "cdc": _schema_ddl(CDC_SNAPSHOT)}.get(
        name, name
    )


def _jobs(spark) -> int:
    return spark._jsparkSession.sparkContext().dagScheduler().nextJobId()


@pytest.mark.parametrize("empty", [False, True], ids=["rows", "empty"])
@pytest.mark.parametrize("name", sorted(CASES))
def test_local_frame_matches_create_dataframe(spark, name, empty):
    from pyspark.sql.types import DataType

    from distributed_mapreduce_spark.sources.catalog import local_frame

    rows = [] if empty else CASES[name]
    ddl = _ddl(name)
    want = spark.createDataFrame(rows, ddl)
    # DDL strings and StructTypes (the sinks pass `df.schema`) alike
    for schema in (ddl, DataType.fromDDL(ddl)):
        got = local_frame(spark, rows, schema)
        assert got.schema.simpleString() == want.schema.simpleString()
        before = _jobs(spark)
        out = got.collect()
        assert _jobs(spark) == before, "collecting a local frame ran a job"
        assert out == want.collect()
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
