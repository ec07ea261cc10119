#!/usr/bin/env python3
"""A/B digest harness for refactors of the ingest sinks and their
compactors: build one fixed source store per ingest family, compact it,
and write a CONTENT digest of both stores — row multisets per data dir
and sidecar (file layout excluded: part-file names embed uuids;
partition values included), every committed source manifest with
`elapsed_s` dropped (a wall-clock stamp), the seed manifest payload,
and the history floor. Run before and after a refactor; the digests
must be identical. The band-index tables live in a fresh warehouse
under the run's temp dir, so a table left by an earlier run cannot
answer the first batch's probe.

Usage: python scripts/compactor_ab.py <out.json>
"""

from __future__ import annotations

import hashlib
import json
import os
import pathlib
import sys
import tempfile

sys.path.insert(0, ".")


def _rows_digest(spark, path) -> str | None:
    p = pathlib.Path(path)
    if not p.exists():
        return None
    files = sorted(str(f) for f in p.rglob("*.parquet"))
    if not files:
        return None
    df = spark.read.option("basePath", str(p)).parquet(*files)
    rows = sorted(
        json.dumps(
            [None if v is None else str(v) for v in r],
            ensure_ascii=False,
        )
        for r in df.collect()
    )
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


def main() -> int:
    out_path = sys.argv[1]
    work = pathlib.Path(tempfile.mkdtemp(prefix="dmr_compab_"))
    # read by the session module at import: set before importing it
    os.environ["SPARK_GRAFT_WAREHOUSE"] = str(work / "warehouse")
    from pyspark.sql import functions as F

    from distributed_mapreduce_spark.session import get_spark
    from distributed_mapreduce_spark.sources import widen
    from distributed_mapreduce_spark.sources.catalog import table
    from distributed_mapreduce_spark.queries.pipeline_queries import BENCH_SOURCE
    from distributed_mapreduce_spark.streaming.replay import (
        stage_document_chunks,
        stage_embedding_chunks,
    )
    from distributed_mapreduce_spark.streaming import sinks as S
    from distributed_mapreduce_spark.streaming.commitlog import (
        ManifestStore,
        read_json_tolerant,
    )

    spark = get_spark(app_name="compactor_ab")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    sf = "/root/testdata/sf0.001"
    (work / "docs").mkdir()
    (work / "embs").mkdir()
    doc_chunks = stage_document_chunks(sf, 3, str(work / "docs"))
    emb_chunks = stage_embedding_chunks(sf, 3, str(work / "embs"))
    doc_schema = (
        "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )
    emb_schema = "vec_id bigint, embedding array<float>"

    def doc_stream():
        return (
            spark.readStream.schema(doc_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(doc_chunks)
        )

    def emb_stream():
        return (
            spark.readStream.schema(emb_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(emb_chunks)
        )

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
            (b, {k: v for k, v in sorted(payload.items()) if k != "elapsed_s"})
            for b, payload in ms.manifests()
        ]
        return d

    def digest(name, src, dst):
        base = pathlib.Path(dst)
        d = {"source": digest_source(src)}
        for sub in subdirs:
            d[sub or "rows"] = _rows_digest(
                spark, base / sub if sub else base / "batch=-1"
            )
        ms = ManifestStore(dst)
        d["seed"] = [
            (b, {k: v for k, v in sorted(payload.items())})
            for b, payload in ms.manifests()
        ]
        fl = read_json_tolerant(pathlib.Path(dst) / "_history_floor.json")
        d["floor"] = fl
        digests[name] = d

    # dedup
    src, dst = str(work / "dedup_src"), str(work / "dedup_dst")
    S.foreach_batch_dedup_ingest(
        doc_stream(), src, str(work / "dedup_ckpt"), "t_compab_dedup_bands"
    ).awaitTermination()
    S.compact_dedup_ingest_store(spark, src, dst)
    digest("dedup", src, dst)

    # ann / semdedup share frozen centroids
    from distributed_mapreduce_spark.operators.similarity import train_centroids

    emb = table(spark, sf, "embeddings")
    cents = train_centroids(emb, 16)

    src, dst = str(work / "ann_src"), str(work / "ann_dst")
    S.foreach_batch_ann_ingest(
        emb_stream(), src, str(work / "ann_ckpt"), cents
    ).awaitTermination()
    S.compact_ann_ingest_store(spark, src, dst)
    digest("ann", src, dst)

    # semdedup (kmeans_train centroid format, the dedup_q19 loop)
    from distributed_mapreduce_spark.operators.similarity import (
        KM_ITERS,
        KM_K,
        kmeans_train,
    )

    km_cents = kmeans_train(emb.select("vec_id", "embedding"), 64, KM_K, KM_ITERS)
    src, dst = str(work / "sem_src"), str(work / "sem_dst")
    S.foreach_batch_semdedup_ingest(
        emb_stream(), src, str(work / "sem_ckpt"), km_cents, 64
    ).awaitTermination()
    S.compact_semdedup_ingest_store(spark, src, dst)
    digest("semdedup", src, dst)

    # decontam + clean share an index
    bench = widen(table(spark, sf, "documents")).where(
        F.col("source") == BENCH_SOURCE
    )
    index = str(work / "index")
    S.build_decontam_index(bench, index, "t_compab_bench_bands", max_bench_df=50)

    src, dst = str(work / "dec_src"), str(work / "dec_dst")
    S.foreach_batch_decontam_ingest(
        doc_stream(), src, str(work / "dec_ckpt"), index
    ).awaitTermination()
    S.compact_decontam_ingest_store(spark, src, dst)
    digest("decontam", src, dst)

    src, dst = str(work / "clean_src"), str(work / "clean_dst")
    S.foreach_batch_clean_ingest(
        doc_stream(), src, str(work / "clean_ckpt"), "t_compab_clean_bands", index
    ).awaitTermination()
    S.compact_clean_ingest_store(spark, src, dst)
    digest("clean", src, dst)

    pathlib.Path(out_path).write_text(json.dumps(digests, indent=1, sort_keys=True))
    print(f"wrote {out_path}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
