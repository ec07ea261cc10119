"""`sinks.compact_ingest_store` over hand-built two-batch ingest stores,
one per layout the five ingest sinks write:

- accepted rows with `ids`, `shingles` and `hashes` sidecars (the clean
  sink; dedup and decontam write a subset);
- cell-partitioned rows with an `ids` sidecar (the ANN sink);
- cell-partitioned rows with labelled `ids` and a `merges` record (the
  SemDeDup sink).

No stream runs: each source is a few small parquet writes committed with
`ManifestStore.commit`, so the default tier compacts an ingest store in
seconds. Buckets are written here with their own `pmod(xxhash64(...))`
expression, not the product's writer."""

from __future__ import annotations

import pathlib

import pytest

ID_BUCKETS = 4

# (batch, rows) per layout; every id is distinct across batches
DOCS = {0: [(1, "a b c"), (2, "b c d"), (9, "x y z")], 1: [(4, "c d e")]}
VECS = {0: [(1, 0), (2, 0), (5, 1)], 1: [(0, 0), (6, 1), (7, 2)]}
# SemDeDup labels at insertion (id -> comp); batch 1 merged comp 1 into
# comp 0 through id 0, so ids 1 and 2 resolve to 0
LABELS = {1: 1, 2: 1, 5: 5, 0: 0, 6: 5, 7: 7}
MERGES = {0: [], 1: [[1, 0]]}


def _bucketed(spark, rows, ddl, col, path):
    df = spark.createDataFrame(rows, ddl).selectExpr(
        "*", f"cast(pmod(xxhash64({col}), {ID_BUCKETS}) as int) as p"
    )
    df.write.mode("overwrite").partitionBy("p").parquet(str(path))
    return sorted({r["p"] for r in df.select("p").collect()})


def _accepted_store(spark, root):
    from distributed_mapreduce_spark.streaming.commitlog import ManifestStore

    ms = ManifestStore(root)
    for b, docs in DOCS.items():
        spark.createDataFrame(docs, "doc_id bigint, text string").write.parquet(
            str(ms.batch_dir(b, "accepted"))
        )
        ids = [(i,) for i, _ in docs]
        sh = [(i, w) for i, t in docs for w in t.split()]
        fps = [(f"fp{i}",) for i, _ in docs]
        _bucketed(
            spark, sh, "id bigint, shingle string", "id", ms.batch_dir(b, "shingles")
        )
        ms.commit(
            b,
            {
                "accepted": len(docs),
                "id_buckets": ID_BUCKETS,
                "touched": _bucketed(
                    spark, ids, "id bigint", "id", ms.batch_dir(b, "ids")
                ),
                "touched_fp": _bucketed(
                    spark, fps, "fp string", "fp", ms.batch_dir(b, "hashes")
                ),
            },
        )
    return ms


def _cell_store(spark, root, semdedup: bool):
    from distributed_mapreduce_spark.streaming.commitlog import ManifestStore

    ms = ManifestStore(root)
    for b, vecs in VECS.items():
        spark.createDataFrame(
            [(i, [float(i)], c) for i, c in vecs],
            "vec_id bigint, embedding array<float>, cell int",
        ).write.partitionBy("cell").parquet(str(ms.batch_dir(b)))
        if semdedup:
            ids = [(i, LABELS[i], c) for i, c in vecs]
            ddl = "id bigint, comp bigint, cell int"
        else:
            ids, ddl = [(i,) for i, _ in vecs], "id bigint"
        payload = {
            "vectors": len(vecs),
            "id_buckets": ID_BUCKETS,
            "touched": _bucketed(spark, ids, ddl, "id", ms.batch_dir(b, "ids")),
        }
        if semdedup:
            payload["cells"] = sorted({c for _, c in vecs})
            payload["merges"] = MERGES[b]
        ms.commit(b, payload)
    return ms


def _sidecar_rows(spark, root, name) -> list[tuple]:
    """Rows of sidecar `name` with their `p=` bucket, batch dropped."""
    df = spark.read.option("basePath", str(pathlib.Path(root) / name)).parquet(
        *[str(d) for d in sorted((pathlib.Path(root) / name).glob("batch=*"))]
    )
    return sorted(tuple(r) for r in df.drop("batch").collect())


def _leaves(root, name) -> list[int]:
    seed = pathlib.Path(root) / name / "batch=-1"
    return sorted(int(d.name.split("=", 1)[1]) for d in seed.glob("p=*"))


@pytest.mark.parametrize("layout", ["accepted", "cells", "cells_merges"])
def test_compact_ingest_store_layouts(spark, tmp_path, layout):
    from distributed_mapreduce_spark.streaming.commitlog import (
        ManifestStore,
        read_history_floor,
    )
    from distributed_mapreduce_spark.streaming.sinks import compact_ingest_store

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    if layout == "accepted":
        _accepted_store(spark, src)
        sidecars = {"ids": "touched", "shingles": None, "hashes": "touched_fp"}
        n_rows = sum(len(d) for d in DOCS.values())
    else:
        _cell_store(spark, src, semdedup=layout == "cells_merges")
        sidecars = {"ids": "touched"}
        n_rows = sum(len(v) for v in VECS.values())

    assert compact_ingest_store(spark, src, dst) == n_rows

    (seed_b, seed), = ManifestStore(dst).manifests()
    assert seed_b == -1 and seed["compacted_from"] == 2
    assert seed["id_buckets"] == ID_BUCKETS
    assert read_history_floor(dst) == 1
    for name in ("ids", "shingles", "hashes"):
        assert (pathlib.Path(dst) / name).exists() == (name in sidecars), name
    for name, key in sidecars.items():
        got, want = _sidecar_rows(spark, dst, name), _sidecar_rows(spark, src, name)
        if layout == "cells_merges":
            # (id, comp, cell, p): the bucket stays, the label resolves
            assert [(r[0], r[3]) for r in got] == [(r[0], r[3]) for r in want]
            assert {r[0]: r[1] for r in got} == {
                i: {1: 0}.get(c, c) for i, c in LABELS.items()
            }
        else:
            assert got == want, name
        if key is not None:
            assert seed[key] == _leaves(dst, name), name
    assert ("touched_fp" in seed) == (layout == "accepted")

    if layout == "accepted":
        assert seed["accepted"] == n_rows and "vectors" not in seed
        rows = spark.read.parquet(f"{dst}/accepted/batch=-1")
        assert sorted(tuple(r) for r in rows.collect()) == sorted(
            d for docs in DOCS.values() for d in docs
        )
    else:
        assert seed["vectors"] == n_rows and "accepted" not in seed
        rows = spark.read.option("basePath", dst).parquet(f"{dst}/batch=-1")
        assert sorted((r.vec_id, r.cell) for r in rows.collect()) == sorted(
            v for vecs in VECS.values() for v in vecs
        )
    if layout == "cells_merges":
        assert seed["cells"] == [0, 1, 2] and seed["merges"] == []
    else:
        assert "cells" not in seed and "merges" not in seed
