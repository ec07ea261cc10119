#!/usr/bin/env python3
"""A/B digest harness for refactors of the manifest-committed sinks and
their compactors: build one fixed source store per ingest family,
compact it, and write a CONTENT digest of both stores — row multisets
per data dir and sidecar (file layout excluded: part-file names embed
uuids; partition values included), every committed source manifest
with `elapsed_s` dropped (a wall-clock stamp), the seed manifest
payload, and the history floor, each manifest with its key order. The
versioned stores are digested the same way: a CDC table store in the
st_q9 configuration, an `ordered=True` CDC store with an `init` seed
(st_q10's), and a KV serving store fed in two batches — every
`v=<id>/p=<k>` leaf's sorted rows and every `_touched.json` byte for
byte. The store readers are digested too, as sorted rows of each
as_of read at every committed id and at the head: `read_ingest_accepted`,
`ann_ingest_members` or `read_semdedup_representatives` on each ingest
source and its compacted store (a read refused below the history floor
records the refusal), `read_current_partitioned` on the three versioned
stores and `read_kv_state` on the KV store. Run before and after a
refactor; the digests must be identical. The SemDeDup feed arrives in
descending vec_id order, so a later batch holds smaller ids than the
stored members it near-duplicates and the union by min id commits
alias (merge) records; the run fails if no manifest carries one. The
band-index tables live in a fresh warehouse under the run's temp dir,
so a table left by an earlier run cannot answer the first batch's
probe. The feeds are built by the graded queries' own code
(`replay.chunk_stream`, `streaming_queries.cdc_change_feed`). The
session is stopped and the temp dir removed when the run ends.

Usage: python scripts/compactor_ab.py <out.json> <sf_dir>
  e.g. python scripts/compactor_ab.py before.json <testdata>/sf0.001
"""

from __future__ import annotations

import hashlib
import json
import os
import pathlib
import shutil
import sys
import tempfile

sys.path.insert(0, ".")


def _frame_digest(df) -> str:
    rows = sorted(
        json.dumps(
            [None if v is None else str(v) for v in r],
            ensure_ascii=False,
        )
        for r in df.collect()
    )
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


def _rows_digest(spark, path) -> str | None:
    p = pathlib.Path(path)
    if not p.exists():
        return None
    files = sorted(str(f) for f in p.rglob("*.parquet"))
    if not files:
        return None
    return _frame_digest(spark.read.option("basePath", str(p)).parquet(*files))


def _as_of_digests(read, ids) -> dict:
    """The sorted-row digest of `read(as_of)` at each id in `ids` and
    at the head (None); a refused read records its exception type."""
    out = {}
    for as_of in [*ids, None]:
        try:
            out[str(as_of)] = _frame_digest(read(as_of))
        except (FileNotFoundError, ValueError) as e:
            out[str(as_of)] = f"refused: {type(e).__name__}"
    return out


def main() -> int:
    out_path, sf = sys.argv[1], sys.argv[2]
    work = pathlib.Path(tempfile.mkdtemp(prefix="dmr_compab_"))
    spark = None
    try:
        # read by the session module at import: set before importing it
        os.environ["SPARK_GRAFT_WAREHOUSE"] = str(work / "warehouse")
        # the session's 8g default lets the driver heap grow to ~5 GB RSS
        # before the GC reclaims it; this fixture-scale run needs far less
        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
        from distributed_mapreduce_spark.session import get_spark

        spark = get_spark(app_name="compactor_ab")
        digests = _digests(spark, work, sf)
        pathlib.Path(out_path).write_text(json.dumps(digests, indent=1, sort_keys=True))
        print(f"wrote {out_path}")
    finally:
        if spark is not None:
            spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    return 0


def _digests(spark, work: pathlib.Path, sf: str) -> dict:
    from pyspark.sql import functions as F

    from distributed_mapreduce_spark.sources import widen
    from distributed_mapreduce_spark.sources.catalog import table
    from distributed_mapreduce_spark.queries.pipeline_queries import BENCH_SOURCE
    from distributed_mapreduce_spark.queries.streaming_queries import (
        CDC_COLUMNS,
        cdc_change_feed,
    )
    from distributed_mapreduce_spark.streaming.replay import chunk_stream, stage_chunks
    from distributed_mapreduce_spark.streaming import sinks as S
    from distributed_mapreduce_spark.streaming.commitlog import (
        ManifestStore,
        read_json_tolerant,
    )

    spark.conf.set("spark.sql.shuffle.partitions", "4")
    (work / "docs").mkdir()
    (work / "embs").mkdir()
    doc_chunks = stage_chunks(sf, "documents", 3, str(work / "docs"))
    emb_chunks = stage_chunks(sf, "embeddings", 3, str(work / "embs"))

    (work / "sem_embs").mkdir()
    sem_dir = stage_chunks(sf, "embeddings", 3, str(work / "sem_embs"))
    # the file source reads oldest first: swap the mtimes so the
    # highest-id chunk is read first
    sem_chunks = sorted(pathlib.Path(sem_dir).glob("*.parquet"))
    stamps = [c.stat().st_mtime for c in sem_chunks]
    for c, t in zip(sem_chunks, reversed(stamps)):
        os.utime(c, (t, t))

    digests: dict = {}
    subdirs = ("accepted", "ids", "shingles", "hashes", None)

    def digest_source(src) -> dict:
        ms = ManifestStore(src)
        d = {}
        for b, _ in ms.manifests():
            for sub in subdirs:
                d[f"{sub or 'rows'}/batch={b}"] = _rows_digest(
                    spark, ms.batch_dir(b, sub)
                )
        d["manifests"] = [
            (b, [[k, v] for k, v in payload.items() if k != "elapsed_s"])
            for b, payload in ms.manifests()
        ]
        return d

    def digest(name, src, dst, reader):
        base = pathlib.Path(dst)
        d = {"source": digest_source(src)}
        for sub in subdirs:
            d[sub or "rows"] = _rows_digest(
                spark, base / sub if sub else base / "batch=-1"
            )
        ms = ManifestStore(dst)
        d["seed"] = [(b, list(payload.items())) for b, payload in ms.manifests()]
        fl = read_json_tolerant(pathlib.Path(dst) / "_history_floor.json")
        d["floor"] = fl
        ids = [b for b, _ in ManifestStore(src).manifests()]
        for side, store in (("source_as_of", src), ("compacted_as_of", dst)):
            d[side] = _as_of_digests(
                lambda as_of, store=store: reader(spark, store, as_of=as_of), ids
            )
        digests[name] = d

    # dedup
    src, dst = str(work / "dedup_src"), str(work / "dedup_dst")
    S.foreach_batch_dedup_ingest(
        chunk_stream(spark, "documents", doc_chunks),
        src,
        str(work / "dedup_ckpt"),
        "t_compab_dedup_bands",
    ).awaitTermination()
    S.compact_ingest_store(spark, src, dst)
    digest("dedup", src, dst, S.read_ingest_accepted)

    # ann / semdedup share frozen centroids
    from distributed_mapreduce_spark.operators.similarity import train_centroids

    emb = table(spark, sf, "embeddings")
    cents = train_centroids(emb, 16)

    src, dst = str(work / "ann_src"), str(work / "ann_dst")
    S.foreach_batch_ann_ingest(
        chunk_stream(spark, "embeddings", emb_chunks), src, str(work / "ann_ckpt"), cents
    ).awaitTermination()
    S.compact_ingest_store(spark, src, dst)
    digest("ann", src, dst, S.ann_ingest_members)

    # semdedup (kmeans_train centroid format, the dedup_q19 loop)
    from distributed_mapreduce_spark.operators.similarity import (
        KM_ITERS,
        KM_K,
        kmeans_train,
    )

    km_cents = kmeans_train(emb.select("vec_id", "embedding"), 64, KM_K, KM_ITERS)
    src, dst = str(work / "sem_src"), str(work / "sem_dst")
    S.foreach_batch_semdedup_ingest(
        chunk_stream(spark, "embeddings", sem_dir),
        src,
        str(work / "sem_ckpt"),
        km_cents,
        64,
    ).awaitTermination()
    if not any(m.get("merges") for _, m in ManifestStore(src).manifests()):
        raise SystemExit("semdedup feed committed no merge record")
    S.compact_ingest_store(spark, src, dst)
    digest("semdedup", src, dst, S.read_semdedup_representatives)

    # decontam + clean share an index
    bench = widen(table(spark, sf, "documents")).where(
        F.col("source") == BENCH_SOURCE
    )
    index = str(work / "index")
    S.build_decontam_index(bench, index, "t_compab_bench_bands", max_bench_df=50)

    src, dst = str(work / "dec_src"), str(work / "dec_dst")
    S.foreach_batch_decontam_ingest(
        chunk_stream(spark, "documents", doc_chunks), src, str(work / "dec_ckpt"), index
    ).awaitTermination()
    S.compact_ingest_store(spark, src, dst)
    digest("decontam", src, dst, S.read_ingest_accepted)

    src, dst = str(work / "clean_src"), str(work / "clean_dst")
    S.foreach_batch_clean_ingest(
        chunk_stream(spark, "documents", doc_chunks),
        src,
        str(work / "clean_ckpt"),
        "t_compab_clean_bands",
        index,
    ).awaitTermination()
    S.compact_ingest_store(spark, src, dst)
    digest("clean", src, dst, S.read_ingest_accepted)

    # the versioned stores: CDC (st_q9 and st_q10 configurations) and
    # KV serving, each over the same two-chunk event feed
    from distributed_mapreduce_spark.operators.kv import ops_projection
    from distributed_mapreduce_spark.streaming.kv_serving import (
        foreach_batch_kv_serving,
        read_kv_state,
    )
    (work / "events").mkdir()
    ev_chunks = stage_chunks(sf, "events", 2, str(work / "events"))

    def digest_versioned(store, readers) -> dict:
        d = {}
        versions = []
        for v in pathlib.Path(store).glob("v=*"):
            d[f"{v.name}/_touched.json"] = (v / "_touched.json").read_text()
            versions.append(int(v.name.split("=", 1)[1]))
            for leaf in v.glob("p=*"):
                d[f"{v.name}/{leaf.name}"] = _rows_digest(spark, leaf)
        for reader in readers:
            d[f"{reader.__name__}_as_of"] = _as_of_digests(
                lambda as_of: reader(spark, store, as_of=as_of), sorted(versions)
            )
        return d

    def versioned(name, start, readers=(S.read_current_partitioned,)):
        src = work / f"{name}_src"
        start(str(src), str(work / f"{name}_ckpt")).awaitTermination()
        digests[name] = digest_versioned(str(src), readers)

    init = table(spark, sf, "customer").select(*CDC_COLUMNS)
    for name, ord_expr, ordered in (
        ("cdc_st_q9", F.col("event_id"), False),
        ("cdc_ordered", -F.col("event_id"), True),
    ):
        changes = cdc_change_feed(chunk_stream(spark, "events", ev_chunks), ord_expr)
        versioned(
            name,
            lambda src, ckpt, changes=changes, ordered=ordered: (
                S.foreach_batch_cdc_merge_partitioned(
                    changes, src, ckpt, "c_custkey", n_buckets=8, init=init,
                    ordered=ordered,
                )
            ),
        )
    versioned(
        "kv_serving",
        lambda src, ckpt: foreach_batch_kv_serving(
            ops_projection(chunk_stream(spark, "events", ev_chunks)), src, ckpt
        ),
        (S.read_current_partitioned, read_kv_state),
    )
    if len(list((work / "kv_serving_src").glob("v=*"))) != 2:
        raise SystemExit("KV serving feed did not commit two batches")

    return digests


if __name__ == "__main__":
    sys.exit(main())
