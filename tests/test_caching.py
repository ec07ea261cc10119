"""Operator-scope cache lifecycle (VERDICT r13 #5).

Every batch operator that persist()s a shared subtree must leave a
release path: the cached frames are attached to the returned DataFrame
(caching.attach_caches) and caching.release_caches(result) unpersists
them all. The integration test here runs each persisting operator,
materializes its result, releases, and asserts ZERO persisted RDDs
remain — the exact criterion VERDICT r13 #5 names
(`spark.sparkContext._jsc.getPersistentRDDs`).
"""

from __future__ import annotations

import pytest


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _assert_released(spark, df):
    """Materialize `df`, release its caches, assert zero blocks."""
    from distributed_mapreduce_spark.caching import release_caches

    df.count()
    assert _n_persistent(spark) > 0, (
        "operator did not persist anything — the site this test covers "
        "was removed; update the test"
    )
    release_caches(df)
    assert _n_persistent(spark) == 0


@pytest.fixture(autouse=True)
def _clean_cache(spark):
    spark.catalog.clearCache()
    for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        jrdd.unpersist()
    yield
    spark.catalog.clearCache()
    for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        jrdd.unpersist()


def test_attach_release_semantics(spark):
    """attach propagates from sources (persisted frames and frames
    carrying attachments), dedupes by identity, and release is
    idempotent and a no-op on unannotated frames."""
    from distributed_mapreduce_spark.caching import attach_caches, release_caches

    a = spark.range(10).persist()
    b = spark.range(5)  # not persisted: contributes nothing
    mid = attach_caches(a.selectExpr("id * 2 AS id"), a, b)
    assert [c is a for c in mid._dmr_caches] == [True]
    # propagation + identity dedupe: a arrives via mid AND directly
    top = attach_caches(mid.selectExpr("id + 1 AS id"), mid, a)
    assert [c is a for c in top._dmr_caches] == [True]
    top.count()
    assert _n_persistent(spark) == 1
    release_caches(top)
    assert _n_persistent(spark) == 0
    release_caches(top)  # idempotent
    release_caches(b)  # no annotation: no-op
    assert _n_persistent(spark) == 0


def _docs(spark, n=40):
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    rows = [
        (i, " ".join(words[(i + j) % len(words)] for j in range(12)))
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _emb(spark, n=30, dim=4):
    rows = [
        (i, i % 3, [float((i * 7 + j * 3) % 11) / 10 + 0.1 for j in range(dim)])
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "vec_id bigint, label int, embedding array<float>"
    )


def test_dedup_operators_release(spark):
    from distributed_mapreduce_spark.operators.dedup import (
        doc_shingles,
        dup_span_coverage,
        incremental_minhash_pairs,
        jaccard_pairs,
        minhash_near_dup_pairs,
        simhash_near_dup_pairs,
        span_scrub,
    )

    docs = _docs(spark)
    # construct lazily, one at a time: Spark's CacheManager matches
    # cached plans STRUCTURALLY, so building two operators over the
    # same doc_shingles(docs) plan up front would share one cache
    # entry and the first release would strip the second's blocks
    for mk in (
        lambda: jaccard_pairs(doc_shingles(docs), 0.5),
        lambda: minhash_near_dup_pairs(docs, 0.5),
        lambda: incremental_minhash_pairs(
            doc_shingles(docs, carry=((docs.doc_id % 2 == 0).alias("is_new"),))
        ),
        lambda: simhash_near_dup_pairs(docs),
        lambda: dup_span_coverage(docs),
        lambda: span_scrub(docs),
    ):
        _assert_released(spark, mk())


def test_iterative_ml_operators_release(spark):
    from distributed_mapreduce_spark.operators.regression import (
        linreg_gd,
        linsvm_gd,
    )
    from distributed_mapreduce_spark.operators.similarity import (
        kmeans_lloyd,
        power_iteration,
    )

    emb = _emb(spark)
    xy = spark.createDataFrame(
        [(float(i), 2.0 * i + 1.0) for i in range(20)], "x double, y double"
    )
    svm = spark.createDataFrame(
        [(float(i % 5), float(i % 7), 1.0 if i % 2 else -1.0) for i in range(20)],
        "f1 double, f2 double, y double",
    )
    # lazily, one at a time — see the plan-sharing note in
    # test_dedup_operators_release (kmeans and power_iteration cache
    # the same structural flat-projection plan)
    for mk in (
        lambda: kmeans_lloyd(emb, dim=4, k=3, iters=2),
        lambda: power_iteration(emb, dim=4, iters=2),
        lambda: linreg_gd(xy, iters=2),
        lambda: linsvm_gd(svm, ["f1", "f2"], iters=2),
    ):
        _assert_released(spark, mk())


def test_similarity_and_sampling_release(spark):
    from distributed_mapreduce_spark.operators.sampling import (
        global_shuffle_index,
    )
    from distributed_mapreduce_spark.operators.similarity import (
        knn_join_ivf,
        train_centroids,
    )

    emb = _emb(spark)
    cents = train_centroids(emb, num_cells=3)
    _assert_released(spark, knn_join_ivf(emb, cents, k=2, nprobe=2))
    _assert_released(spark, global_shuffle_index(_docs(spark), "doc_id"))


def test_cached_aggregate_is_planned_adaptively(spark, sf_dir):
    """A persisted aggregate's fill runs AQE through its final stage:
    the final shuffle read is coalesced, so a few-row cache is not
    stored, and re-scanned, at the full shuffle width. The cached rows
    are the uncached rows."""
    from pyspark.sql import functions as F

    from distributed_mapreduce_spark.sources import table

    def agg():
        return table(spark, sf_dir, "events").groupBy("event_type").agg(
            F.count("*").alias("n"), F.sum("user_id").alias("s")
        )

    expected = sorted(agg().collect())
    cached = agg().persist()
    cached.count()
    assert cached.rdd.getNumPartitions() <= spark.sparkContext.defaultParallelism
    assert sorted(cached.collect()) == expected


def test_query_builders_release(spark):
    from distributed_mapreduce_spark.queries.simops import (
        label_centroid_profile,
        semdedup_representatives,
    )

    emb = _emb(spark)
    _assert_released(spark, label_centroid_profile(emb, dim=4))
    _assert_released(spark, semdedup_representatives(emb, dim=4, k=3, iters=1))


def test_graph_checkpoints_release(spark):
    """connected_components / pagerank use localCheckpoint (no
    CacheManager entry — DataFrame.unpersist can't reach the blocks):
    superseded iteration checkpoints are freed in-loop, the edge
    checkpoint is freed when iteration stops, and the surviving final
    checkpoint is attached as RDD ids for release_caches. The driver
    union-find branch frees its edge checkpoint eagerly and returns an
    attachment-free frame."""
    from distributed_mapreduce_spark.caching import release_caches
    from distributed_mapreduce_spark.operators.components import (
        connected_components,
        pagerank,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "id_i bigint, id_j bigint"
    )
    # driver branch: checkpoint freed inside the operator
    cc = connected_components(edges)
    cc.count()
    assert _n_persistent(spark) == 0
    # distributed branch: only the final label checkpoint survives
    ccd = connected_components(edges, driver_max_edges=0)
    got = {r.id: r.component for r in ccd.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5}
    assert _n_persistent(spark) == 1  # one label generation, not one per iter
    release_caches(ccd)
    assert _n_persistent(spark) == 0
    pr = pagerank(edges)
    assert pr.count() == 5
    assert _n_persistent(spark) == 1  # final rank checkpoint only
    release_caches(pr)
    assert _n_persistent(spark) == 0
    # iters=0 edge: the lazy result still reads the deg checkpoint —
    # it must stay alive until release (r14 self-review)
    pr0 = pagerank(edges, iters=0)
    assert pr0.count() == 5 and {r.pr for r in pr0.collect()} == {0.2}
    release_caches(pr0)
    assert _n_persistent(spark) == 0


def test_error_paths_do_not_leak_blocks(spark):
    """The refusal paths unpersist before raising: zero-variance /
    empty power_iteration, NULL-key shuffle index."""
    from distributed_mapreduce_spark.operators.sampling import (
        global_shuffle_index,
    )
    from distributed_mapreduce_spark.operators.similarity import power_iteration

    flatd = spark.createDataFrame(
        [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(5)],
        "vec_id bigint, embedding array<float>",
    )
    with pytest.raises(ValueError):
        power_iteration(flatd, dim=4)
    docs = spark.createDataFrame(
        [(None, "x"), (1, "y")], "doc_id bigint, text string"
    )
    with pytest.raises(ValueError):
        global_shuffle_index(docs, "doc_id").count()
    assert _n_persistent(spark) == 0


def test_derived_frame_annotation_survival_rule(spark):
    """VERDICT r14 #4: the annotation lives on the EXACT returned
    object — deriving a new frame (`annotated.select(...)`) silently
    drops it. This test pins the spec composition code leans on:
    releasing the DERIVED frame is a no-op (the leak shape), releasing
    the ORIGINAL still frees everything, and explicit forwarding via
    attach_caches(derived, annotated) restores releasability."""
    from distributed_mapreduce_spark.caching import attach_caches, release_caches

    src = spark.range(20).persist()
    annotated = attach_caches(src.selectExpr("id * 2 AS id"), src)
    derived = annotated.select("id")
    derived.count()
    assert _n_persistent(spark) == 1
    # leak shape: the derived frame carries no annotation
    release_caches(derived)
    assert _n_persistent(spark) == 1
    # supported path 1: release the ORIGINAL annotated frame
    release_caches(annotated)
    assert _n_persistent(spark) == 0

    # supported path 2: forward the annotation explicitly
    src2 = spark.range(20).persist()
    annotated2 = attach_caches(src2.selectExpr("id * 2 AS id"), src2)
    derived2 = attach_caches(annotated2.select("id"), annotated2)
    derived2.count()
    assert _n_persistent(spark) == 1
    release_caches(derived2)
    assert _n_persistent(spark) == 0
