"""Opt-in multi-process serialization smoke (VERDICT r6 #2).

Everything else in this repo runs `local[N]`, where driver and
executors share one JVM+Python process tree — closure-serialization,
broadcast-transport, and Python-worker-spawn bugs can hide there. This
suite reruns ONE query per operator family under
`local-cluster[2,4,2048]` — Spark's standalone-cluster simulation with
two REAL executor JVMs (separate processes, real RPC, real
closure/broadcast serialization, per-executor Python worker pools) —
and asserts full DuckDB parity at sf0.001. It is the cheapest
available hardening of the 100×-scale claim short of a real cluster.

The smoke set is biased toward the machinery most at risk under real
serialization (the verdict's named suspects):
- closure captures in Arrow-lane folds: kv_q1 (applyInPandas fold),
  pack_q1 (sequential recurrence), st_q4 (applyInPandasWithState),
  ml_q1 (per-step GD closure over driver-held weights)
- shuffle-join plumbing: dedup_q10 (the exact jaccard pair join over
  shingle sets, then two provenance equi-joins — no sketch)
- broadcast paths: contam_q1 (broadcast semi-join), sim_q3 (collected
  centroids re-broadcast), rel_q1 (plain SQL baseline)
- foreachBatch driver/executor splits: st_q9 (partition-scoped CDC:
  manifests written by the driver, data by executors)
- Python-UDF surfaces: mr_generic_indexer (reference Map/Reduce UDF
  contract), mm_q2 (Pillow decode in executor Python workers),
  text_q5 (pandas-UDF rolling hash)
- iterative lineage: dedup_q7 (connected components, localCheckpoint
  blocks live on executors)
- everything else: mix_q1 (md5 sampling), dedup_q4 (LSH banding),
  ev_q2 (sessionize windows)

Not part of the default suite (a full standalone cluster per run; the
session-scoped `spark` fixture would collide):

    DMR_LOCAL_CLUSTER=1 python -m pytest tests/test_local_cluster.py -v

`DMR_LOCAL_CLUSTER_FULL=1` widens the run to EVERY oracle-backed query
in both tiers (the registry's full surface — see COVERAGE.md's count
header) — the strongest single claim the container can
make about the 100×-scale story: the entire query surface passes
value-exact parity under real multi-process serialization.
"""

from __future__ import annotations

import os

import pytest

pytestmark = pytest.mark.skipif(
    os.environ.get("DMR_LOCAL_CLUSTER") != "1",
    reason="local-cluster smoke is opt-in: set DMR_LOCAL_CLUSTER=1",
)

SF = "/root/testdata/sf0.001"

# one query per family — name: tier (registered/shadow)
SMOKE_SET = {
    "mr_generic_indexer": "registered",
    "kv_q1_state_fold": "registered",
    "pack_q1_greedy": "registered",
    "mix_q1_stratified_sample": "registered",
    "contam_q1_benchmark_overlap": "registered",
    "st_q4_stateful_kv": "registered",
    "text_q5_rolling_fingerprint": "registered",
    "dedup_q4_minhash_lsh": "registered",
    "dedup_q7_clusters": "registered",
    "sim_q3_ivf_topk": "registered",
    "mm_q2_features": "registered",
    "ev_q2_sessionize": "registered",
    "rel_q1_pricing_summary": "registered",
    "st_q9_cdc_upsert": "shadow",
    "st_q10_cdc_ordered": "shadow",  # ordered sink: tombstone snapshot + ord gate
    "ml_q1_scaling_fit": "shadow",
    "dedup_q10_source_overlap": "shadow",
    "dedup_q15_incremental_lsh": "shadow",  # two-sided band probe + carry agg
    # r15 composed clean ingest: four chained gates + static-index
    # probes + per-batch localCheckpoint truncation under real JVMs
    "st_q15_clean_ingest": "shadow",
    # r16 streaming-maintained KV serving store: op-log foreachBatch →
    # shard-partitioned versioned snapshot (driver-written manifests,
    # executor-written data) → pruned multi-get + as_of time travel
    "kv_q5_served_get": "shadow",
    # r16 paragraph dedup: min(struct) partial agg + winner join-back
    # + ordered collect_list reconstruction — a shuffle shape none of
    # the other smoke rows exercise
    "dedup_q20_paragraph_dedup": "shadow",
}


def _param_names() -> list[str]:
    if os.environ.get("DMR_LOCAL_CLUSTER_FULL") != "1":
        return sorted(SMOKE_SET)
    from distributed_mapreduce_spark.registry import all_oracles, shadow_oracles

    return sorted(all_oracles()) + sorted(shadow_oracles())


@pytest.fixture(scope="module")
def cluster_spark():
    from pyspark.sql import SparkSession

    from distributed_mapreduce_spark.session import get_spark

    # A standalone mini-cluster cannot coexist with another session in
    # this process (same reasoning as test_sf1_stress.stress_spark).
    if SparkSession.getActiveSession() is not None:
        pytest.skip(
            "local-cluster smoke needs its own SparkSession — run "
            "tests/test_local_cluster.py standalone, not inside the full suite"
        )
    spark = get_spark(
        app_name="dmr-local-cluster-smoke", master="local-cluster[2,4,2048]"
    )
    yield spark
    spark.stop()


def _lookup(name: str):
    from distributed_mapreduce_spark.registry import (
        all_oracles,
        all_queries,
        shadow_oracles,
        shadow_queries,
    )

    if name in all_queries():
        return all_queries()[name], all_oracles().get(name)
    return shadow_queries()[name], shadow_oracles().get(name)


@pytest.mark.parametrize("name", _param_names())
def test_query_on_local_cluster(cluster_spark, name):
    """Same DuckDB parity gate as test_oracle_parity, but with real
    executor processes: a pass means the query's closures, broadcasts,
    Arrow batches, and driver/executor splits all survive genuine
    serialization boundaries."""
    from distributed_mapreduce_spark.testing import check_query

    fn, sql = _lookup(name)
    assert sql is not None, f"{name} lost its oracle"
    res = check_query(cluster_spark, name, fn, sql, SF)
    assert res.ok, f"{name} under local-cluster: {res.detail}"


# ── Ingest sinks under real multi-process execution (VERDICT r11 #3) ──
# The query suite above exercises reads; the streaming ingest sinks
# (foreachBatch driver callbacks orchestrating executor-side joins,
# bucketed band-index writes through the catalog, manifest commits,
# compactors) had only local[N] coverage — exactly the machinery where
# r7 found the executor-sys.path bug local[N] can never see. Each test
# runs the full e2e shape the verdict prescribed: feed → torn-append
# replay → compact → fresh-checkpoint resume, asserting parity with
# the one-shot batch policy (deterministic, so equal to the local-mode
# result by construction). Wall time is printed for SCALE.md.


def _write_chunk(src, name, cols: dict, mtime: float) -> None:
    import os as _os

    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(src / name)
    pq.write_table(pa.table(cols), p)
    _os.utime(p, (mtime, mtime))


def test_dedup_ingest_pipeline_on_local_cluster(cluster_spark, tmp_path):
    import pathlib
    import time

    from pyspark.errors.exceptions.captured import StreamingQueryException

    from distributed_mapreduce_spark.operators.dedup import (
        compact_lsh_band_index,
        dedup_corpus_greedy,
    )
    from distributed_mapreduce_spark.sources import table
    from distributed_mapreduce_spark.streaming import commitlog
    from distributed_mapreduce_spark.streaming.sinks import (
        compact_ingest_store,
        foreach_batch_dedup_ingest,
        read_ingest_accepted,
    )

    t_start = time.perf_counter()
    spark = cluster_spark
    docs = table(spark, SF, "documents").select("doc_id", "text")
    rows = sorted(docs.collect(), key=lambda r: r.doc_id)
    src = tmp_path / "feed"
    src.mkdir()
    base = time.time()
    third = len(rows) // 3

    def chunk_cols(chunk_rows):
        import pyarrow as pa

        return {
            "doc_id": pa.array([r.doc_id for r in chunk_rows], pa.int64()),
            "text": pa.array([r.text for r in chunk_rows], pa.string()),
        }

    store = str(tmp_path / "store")
    tbl_name = "lc_dedup_ingest_idx"

    def run(st=store, ckpt=None):
        q = foreach_batch_dedup_ingest(
            (
                spark.readStream.schema("doc_id bigint, text string")
                .option("maxFilesPerTrigger", 1)
                .parquet(str(src))
            ),
            st,
            ckpt or str(tmp_path / "ckpt"),
            tbl_name,
            min_jaccard=0.5,
            bands=16,
        )
        q.awaitTermination()

    real_commit = commitlog.ManifestStore.commit
    state = {"armed": False, "fired": False}

    def crashing_commit(self, batch_id, payload):
        if state["armed"] and not state["fired"]:
            state["fired"] = True
            raise RuntimeError("injected crash: torn index append")
        return real_commit(self, batch_id, payload)

    try:
        _write_chunk(src, "c1.parquet", chunk_cols(rows[:third]), base)
        run()
        # torn append: batch 1's index rows land, manifest commit dies
        _write_chunk(
            src, "c2.parquet", chunk_cols(rows[third : 2 * third]), base + 5
        )
        commitlog.ManifestStore.commit = crashing_commit
        state["armed"] = True
        try:
            run()
            raise AssertionError("injected crash did not fire")
        except StreamingQueryException:
            pass
        assert state["fired"]
        commitlog.ManifestStore.commit = real_commit
        run()  # replay batch 1 against its own torn band rows
        _write_chunk(src, "c3.parquet", chunk_cols(rows[2 * third :]), base + 10)
        run()

        got = sorted(r.doc_id for r in read_ingest_accepted(spark, store).collect())
        want = sorted(
            r.doc_id
            for r in dedup_corpus_greedy(docs, 0.5, bands=16)
            .select("doc_id")
            .collect()
        )
        assert got == want and len(got) == len(set(got))

        # compact both artifacts, then a fresh-checkpoint resume:
        # full-feed replay converges via the known-id gate, and a
        # re-crawled chunk (duplicate text, fresh ids) mostly rejects
        store2 = str(tmp_path / "store2")
        assert compact_ingest_store(spark, store, store2) == len(got)
        compact_lsh_band_index(spark, tbl_name)
        recrawl = [(r.doc_id + 1_000_000, r.text) for r in rows[:third]]
        import pyarrow as pa

        _write_chunk(
            src,
            "c4.parquet",
            {
                "doc_id": pa.array([i for i, _ in recrawl], pa.int64()),
                "text": pa.array([t for _, t in recrawl], pa.string()),
            },
            base + 15,
        )
        run(store2, str(tmp_path / "ckpt2"))
        got2 = sorted(
            r.doc_id for r in read_ingest_accepted(spark, store2).collect()
        )
        assert [i for i in got2 if i < 1_000_000] == want, (
            "fresh-checkpoint replay changed the accepted set"
        )
        accepted_recrawl = sum(1 for i in got2 if i >= 1_000_000)
        assert accepted_recrawl < len(recrawl) / 2, (
            f"re-crawled duplicates largely accepted ({accepted_recrawl})"
        )
        print(
            f"\n  [local-cluster] dedup ingest e2e "
            f"(torn+replay+compact+resume): {time.perf_counter()-t_start:.1f}s"
        )
    finally:
        commitlog.ManifestStore.commit = real_commit
        spark.sql(f"DROP TABLE IF EXISTS {tbl_name}")


def test_ann_ingest_pipeline_on_local_cluster(cluster_spark, tmp_path):
    import pathlib
    import time

    from pyspark.errors.exceptions.captured import StreamingQueryException

    from distributed_mapreduce_spark.operators.similarity import (
        ivf_topk,
        train_centroids,
        write_ivf_store,
    )
    from distributed_mapreduce_spark.sources import table
    from distributed_mapreduce_spark.streaming import commitlog
    from distributed_mapreduce_spark.streaming.sinks import (
        ann_ingest_members,
        compact_ingest_store,
        foreach_batch_ann_ingest,
    )

    t_start = time.perf_counter()
    spark = cluster_spark
    emb = table(spark, SF, "embeddings")
    cents = train_centroids(emb, 16)
    rows = emb.collect()
    src = tmp_path / "feed"
    src.mkdir()
    base = time.time()
    third = len(rows) // 3

    def chunk_cols(chunk_rows):
        import pyarrow as pa

        return {
            "vec_id": pa.array([r.vec_id for r in chunk_rows], pa.int64()),
            "embedding": pa.array(
                [list(map(float, r.embedding)) for r in chunk_rows],
                pa.list_(pa.float32()),
            ),
        }

    store = str(tmp_path / "store")

    def run(st=store, ckpt=None):
        q = foreach_batch_ann_ingest(
            (
                spark.readStream.schema("vec_id bigint, embedding array<float>")
                .option("maxFilesPerTrigger", 1)
                .parquet(str(src))
            ),
            st,
            ckpt or str(tmp_path / "ckpt"),
            cents,
        )
        q.awaitTermination()

    real_commit = commitlog.ManifestStore.commit
    state = {"armed": False, "fired": False}

    def crashing_commit(self, batch_id, payload):
        if state["armed"] and not state["fired"]:
            state["fired"] = True
            raise RuntimeError("injected crash: torn ann append")
        return real_commit(self, batch_id, payload)

    try:
        _write_chunk(src, "c1.parquet", chunk_cols(rows[:third]), base)
        run()
        _write_chunk(
            src, "c2.parquet", chunk_cols(rows[third : 2 * third]), base + 5
        )
        commitlog.ManifestStore.commit = crashing_commit
        state["armed"] = True
        try:
            run()
            raise AssertionError("injected crash did not fire")
        except StreamingQueryException:
            pass
        assert state["fired"]
        commitlog.ManifestStore.commit = real_commit
        run()  # replay the torn batch
        _write_chunk(src, "c3.parquet", chunk_cols(rows[2 * third :]), base + 10)
        run()

        qvec = [float(x) for x in rows[42].embedding]
        got = ivf_topk(
            ann_ingest_members(spark, store), cents, qvec, 10, nprobe=4
        ).collect()
        full = str(tmp_path / "full")
        write_ivf_store(emb.select("vec_id", "embedding"), cents, full)
        want = ivf_topk(spark.read.parquet(full), cents, qvec, 10, nprobe=4).collect()
        assert [(r.vec_id, r.cos_sim) for r in got] == [
            (r.vec_id, r.cos_sim) for r in want
        ]

        # compact → fresh-checkpoint resume converges, probe unchanged
        store2 = str(tmp_path / "store2")
        assert compact_ingest_store(spark, store, store2) == len(rows)
        run(store2, str(tmp_path / "ckpt2"))
        back = spark.read.option("basePath", store2).parquet(
            *[str(p) for p in pathlib.Path(store2).glob("batch=*")]
        )
        ids = [r.vec_id for r in back.select("vec_id").collect()]
        assert len(ids) == len(set(ids)) == len(rows), "replay duplicated vectors"
        got2 = ivf_topk(
            ann_ingest_members(spark, store2), cents, qvec, 10, nprobe=4
        ).collect()
        assert [(r.vec_id, r.cos_sim) for r in got2] == [
            (r.vec_id, r.cos_sim) for r in want
        ]
        print(
            f"\n  [local-cluster] ann ingest e2e "
            f"(torn+replay+compact+resume): {time.perf_counter()-t_start:.1f}s"
        )
    finally:
        commitlog.ManifestStore.commit = real_commit


def test_semdedup_ingest_pipeline_on_local_cluster(cluster_spark, tmp_path):
    """The streaming SemDeDup sink under real executor JVMs (the
    dedup/ann ingest hardening pattern): chunked feed, a torn commit
    mid-chain, replay, final representative set ≡ the one-shot
    semdedup_representatives with the same frozen centroids."""
    import time

    from pyspark.errors.exceptions.captured import StreamingQueryException

    from distributed_mapreduce_spark.operators.similarity import (
        KM_ITERS,
        KM_K,
        kmeans_train,
    )
    from distributed_mapreduce_spark.queries.simops import (
        DIM,
        SEMDEDUP_TAU,
        semdedup_representatives,
    )
    from distributed_mapreduce_spark.sources import table
    from distributed_mapreduce_spark.streaming import commitlog
    from distributed_mapreduce_spark.streaming.sinks import (
        foreach_batch_semdedup_ingest,
        read_semdedup_representatives,
    )

    t_start = time.perf_counter()
    spark = cluster_spark
    emb = table(spark, SF, "embeddings").select("vec_id", "embedding")
    cents = kmeans_train(emb, DIM, KM_K, KM_ITERS)
    rows = sorted(emb.collect(), key=lambda r: r.vec_id)
    src = tmp_path / "feed"
    src.mkdir()
    base = time.time()
    third = len(rows) // 3

    def chunk_cols(chunk_rows):
        import pyarrow as pa

        return {
            "vec_id": pa.array([r.vec_id for r in chunk_rows], pa.int64()),
            "embedding": pa.array(
                [list(map(float, r.embedding)) for r in chunk_rows],
                pa.list_(pa.float32()),
            ),
        }

    store = str(tmp_path / "store")

    def run():
        q = foreach_batch_semdedup_ingest(
            (
                spark.readStream.schema("vec_id bigint, embedding array<float>")
                .option("maxFilesPerTrigger", 1)
                .parquet(str(src))
            ),
            store,
            str(tmp_path / "ckpt"),
            cents,
            DIM,
            tau=SEMDEDUP_TAU,
        )
        q.awaitTermination()

    real_commit = commitlog.ManifestStore.commit
    state = {"armed": False, "fired": False}

    def crashing_commit(self, batch_id, payload):
        if state["armed"] and not state["fired"]:
            state["fired"] = True
            raise RuntimeError("injected crash: torn semdedup append")
        return real_commit(self, batch_id, payload)

    try:
        _write_chunk(src, "c1.parquet", chunk_cols(rows[:third]), base)
        run()
        _write_chunk(
            src, "c2.parquet", chunk_cols(rows[third : 2 * third]), base + 5
        )
        commitlog.ManifestStore.commit = crashing_commit
        state["armed"] = True
        try:
            run()
            raise AssertionError("injected crash did not fire")
        except StreamingQueryException:
            pass
        assert state["fired"]
        commitlog.ManifestStore.commit = real_commit
        run()  # replay the torn batch
        _write_chunk(src, "c3.parquet", chunk_cols(rows[2 * third :]), base + 10)
        run()

        got = sorted(
            (r.rep_id, r.cell, r.n_members)
            for r in read_semdedup_representatives(spark, store).collect()
        )
        want = sorted(
            (r.rep_id, r.cell, r.n_members)
            for r in semdedup_representatives(
                emb, DIM, centroids=cents
            ).collect()
        )
        assert got == want
        print(
            f"\n  [local-cluster] semdedup ingest e2e "
            f"(torn+replay): {time.perf_counter()-t_start:.1f}s"
        )
    finally:
        commitlog.ManifestStore.commit = real_commit


def test_clean_ingest_pipeline_on_local_cluster(cluster_spark, tmp_path):
    """The composed clean-ingest sink (r15) end-to-end under real
    executor JVMs: torn-commit mid-chain, replay convergence, final
    survivors ≡ an uncrashed run, compaction + fresh-checkpoint resume.
    Covers the decontamination machinery too (shared `_decontam_dirty`
    probes run inside every batch)."""
    import time

    from pyspark.errors.exceptions.captured import StreamingQueryException
    from pyspark.sql import functions as F

    from distributed_mapreduce_spark.queries.pipeline_queries import BENCH_SOURCE
    from distributed_mapreduce_spark.sources import table, widen
    from distributed_mapreduce_spark.streaming import commitlog
    from distributed_mapreduce_spark.streaming.sinks import (
        build_decontam_index,
        compact_ingest_store,
        foreach_batch_clean_ingest,
        read_ingest_accepted,
    )

    t_start = time.perf_counter()
    spark = cluster_spark
    docs = widen(table(spark, SF, "documents"))
    index = str(tmp_path / "index")
    build_decontam_index(
        docs.where(F.col("source") == BENCH_SOURCE),
        index,
        "lc_clean_bench_bands",
        max_bench_df=50,
    )
    rows = sorted(
        docs.where(F.col("source") != BENCH_SOURCE).collect(),
        key=lambda r: r.doc_id,
    )
    src = tmp_path / "feed"
    src.mkdir()
    base = time.time()
    third = len(rows) // 3

    def chunk_cols(chunk_rows):
        import pyarrow as pa

        return {
            "doc_id": pa.array([r.doc_id for r in chunk_rows], pa.int64()),
            "text": pa.array([r.text for r in chunk_rows], pa.string()),
            "lang": pa.array([r.lang for r in chunk_rows], pa.string()),
            "source": pa.array([r.source for r in chunk_rows], pa.string()),
            "n_chars": pa.array([r.n_chars for r in chunk_rows], pa.int64()),
        }

    schema = "doc_id bigint, text string, lang string, source string, n_chars bigint"

    def run(st, ckpt, tbl):
        foreach_batch_clean_ingest(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src)),
            st,
            ckpt,
            tbl,
            index,
        ).awaitTermination()

    real_commit = commitlog.ManifestStore.commit
    state = {"armed": False, "fired": False}

    def crashing_commit(self, batch_id, payload):
        if state["armed"] and not state["fired"]:
            state["fired"] = True
            raise RuntimeError("injected crash: torn clean-ingest commit")
        return real_commit(self, batch_id, payload)

    store = str(tmp_path / "store")
    try:
        _write_chunk(src, "c1.parquet", chunk_cols(rows[:third]), base)
        run(store, str(tmp_path / "ckpt"), "lc_clean_idx")
        _write_chunk(
            src, "c2.parquet", chunk_cols(rows[third : 2 * third]), base + 5
        )
        commitlog.ManifestStore.commit = crashing_commit
        state["armed"] = True
        try:
            run(store, str(tmp_path / "ckpt"), "lc_clean_idx")
            raise AssertionError("injected crash did not fire")
        except StreamingQueryException:
            pass
        assert state["fired"]
        commitlog.ManifestStore.commit = real_commit
        run(store, str(tmp_path / "ckpt"), "lc_clean_idx")  # replay batch 1
        _write_chunk(src, "c3.parquet", chunk_cols(rows[2 * third :]), base + 10)
        run(store, str(tmp_path / "ckpt"), "lc_clean_idx")
        got = sorted(r.doc_id for r in read_ingest_accepted(spark, store).collect())
        assert len(got) == len(set(got))

        # uncrashed reference run over the identical feed
        spark.sql("DROP TABLE IF EXISTS lc_clean_idx_ref")
        ref = str(tmp_path / "ref_store")
        run(ref, str(tmp_path / "ref_ckpt"), "lc_clean_idx_ref")
        want = sorted(r.doc_id for r in read_ingest_accepted(spark, ref).collect())
        assert got == want, "torn-commit replay diverged from the clean run"

        # compaction + fresh-checkpoint full-feed resume converges
        store2 = str(tmp_path / "store2")
        assert compact_ingest_store(spark, store, store2) == len(got)
        run(store2, str(tmp_path / "ckpt2"), "lc_clean_idx")
        got2 = sorted(
            r.doc_id for r in read_ingest_accepted(spark, store2).collect()
        )
        assert got2 == want
        print(
            f"\n  [local-cluster] clean ingest e2e "
            f"(torn+replay+compact+resume): {time.perf_counter()-t_start:.1f}s"
        )
    finally:
        commitlog.ManifestStore.commit = real_commit
        spark.sql("DROP TABLE IF EXISTS lc_clean_idx")
        spark.sql("DROP TABLE IF EXISTS lc_clean_idx_ref")
