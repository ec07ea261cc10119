"""Similarity + multimodal tests: IVF recall vs brute force, cosine
semantics, mapInPandas feature plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from distributed_mapreduce_spark.functions.vectors import cosine, dot
from distributed_mapreduce_spark.operators.multimodal import (
    decode_stub,
    extract_features,
    multimodal_table,
)
from distributed_mapreduce_spark.operators.similarity import (
    assign_cells,
    ivf_topk,
    topk_cosine_literal,
    train_centroids,
)
from distributed_mapreduce_spark.sources import table


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return table(spark, sf_dir, "embeddings")


def test_cosine_expression(spark):
    rows = [([1.0, 0.0], [1.0, 0.0]), ([1.0, 0.0], [0.0, 1.0]), ([0.0, 0.0], [1.0, 1.0])]
    df = spark.createDataFrame(rows, "a array<float>, b array<float>")
    got = [r.c for r in df.select(cosine(F.col("a"), F.col("b")).alias("c")).collect()]
    assert got == [1.0, 0.0, 0.0]
    d = [r.d for r in df.select(dot(F.col("a"), F.col("b")).alias("d")).collect()]
    assert d == [1.0, 0.0, 0.0]


def test_ivf_recall_vs_bruteforce(spark, emb):
    """IVF with nprobe=8/16 must recover most of the exact top-10 for a
    panel of query vectors (random-uniform data is the hard case)."""
    cents = train_centroids(emb)
    cells = assign_cells(emb, cents)
    total_hits = 0
    for qid in [0, 7, 42, 99, 123]:
        qvec = [float(x) for x in emb.where(F.col("vec_id") == qid).collect()[0]["embedding"]]
        exact = [r.vec_id for r in topk_cosine_literal(emb, qvec, 10).collect()]
        approx = [r.vec_id for r in ivf_topk(cells, cents, qvec, 10, nprobe=8).collect()]
        total_hits += len(set(exact) & set(approx))
    assert total_hits >= 0.6 * 50, f"IVF recall too low: {total_hits}/50"


def test_ivf_store_probe_matches_in_memory_and_prunes_partitions(
    spark, emb, tmp_path
):
    """The materialized serving layout (write_ivf_store → ivf_topk
    over the read-back store): the store probe returns the same
    ids+scores as the in-memory probe on the same centroids, and the
    `cell IN` predicate prunes at the PARTITION level — it must appear
    in the scan's PartitionFilters (directory pruning), not as a
    post-scan data filter."""
    from distributed_mapreduce_spark import plans
    from distributed_mapreduce_spark.operators.similarity import write_ivf_store

    cents = train_centroids(emb, 16)
    path = str(tmp_path / "ivf_store")
    write_ivf_store(emb, cents, path)

    qid = 42
    qvec = [
        float(x) for x in emb.where(F.col("vec_id") == qid).collect()[0]["embedding"]
    ]
    mem = ivf_topk(assign_cells(emb, cents), cents, qvec, 10, nprobe=4).collect()
    store = ivf_topk(spark.read.parquet(path), cents, qvec, 10, nprobe=4)
    got = store.collect()
    assert [(r.vec_id, r.cos_sim) for r in got] == [
        (r.vec_id, r.cos_sim) for r in mem
    ]

    fmt = plans.physical_plan(store, "formatted")
    pf = [l for l in fmt.splitlines() if "PartitionFilters" in l]
    assert pf and "cell" in pf[0], fmt
    # the cell predicate prunes directories; it must NOT also appear as
    # a pushed DATA filter (cell is a partition column, not in files) —
    # in this plan nothing is pushed at all, which is exactly right
    for line in fmt.splitlines():
        if "PushedFilters" in line:
            assert "cell" not in line, fmt
    # and the data files themselves carry no cell column
    rs = [l for l in fmt.splitlines() if "ReadSchema" in l]
    assert rs and "cell" not in rs[0], fmt


def test_ivfpq_store_probe_matches_in_memory_and_reads_only_codes(
    spark, emb, tmp_path
):
    """The IVFADC store (write_ivf_store → ivf_topk, with codebooks): same
    result as the in-memory ivfpq_topk, the probe prunes partitions,
    AND the scan's ReadSchema is the code columns only — the
    storage-axis half of the claim (a probe of this layout never reads
    a float vector)."""
    from distributed_mapreduce_spark import plans
    from distributed_mapreduce_spark.operators.similarity import (
        ivfpq_topk,
        train_centroids,
        train_pq_codebooks,
        write_ivf_store,
    )

    qid = 42
    qvec = [
        float(x) for x in emb.where(F.col("vec_id") == qid).collect()[0]["embedding"]
    ]
    cents = train_centroids(emb, 16)
    cbs = train_pq_codebooks(emb, 64)
    path = str(tmp_path / "ivfpq_store")
    write_ivf_store(emb, cents, path, cbs)

    mem = ivfpq_topk(emb, qvec, 10, num_cells=16, nprobe=4).collect()
    store = ivf_topk(
        spark.read.parquet(path), cents, qvec, 10, nprobe=4, codebooks=cbs
    )
    got = store.collect()
    assert [(r.vec_id, r.approx_dot) for r in got] == [
        (r.vec_id, r.approx_dot) for r in mem
    ]

    fmt = plans.physical_plan(store, "formatted")
    pf = [l for l in fmt.splitlines() if "PartitionFilters" in l]
    assert pf and "cell" in pf[0], fmt
    rs = [l for l in fmt.splitlines() if "ReadSchema" in l]
    assert rs and "embedding" not in rs[0] and "c0:int" in rs[0], fmt


def test_ivf_cells_partition_all_vectors(spark, emb):
    cents = train_centroids(emb, 16)
    cells = assign_cells(emb, cents)
    assert cells.where(F.col("cell").isNull()).count() == 0
    n_cells = cells.select("cell").distinct().count()
    assert 2 <= n_cells <= 16


def test_multimodal_schema_and_features(spark, sf_dir):
    mm = multimodal_table(spark, sf_dir)
    assert dict(mm.dtypes)["payload"] == "binary"
    feats = extract_features(mm)
    row = feats.first()
    assert len(row.features) == 8
    assert row.n_bytes > 0
    # deterministic stub: histogram sums to ~1
    assert abs(sum(row.features) - 1.0) < 1e-9
    # every modality present
    assert feats.select("modality").distinct().count() == 3


def test_decode_stub_deterministic_and_real_gated():
    """The graded decode is the stub: deterministic per payload and
    shaped like a real decoder's output (FEATURE_DIM floats,
    L1-normalized), with an empty payload decoding to zeros — so a
    real decoder can replace it without touching downstream operators."""
    from distributed_mapreduce_spark.operators.multimodal import FEATURE_DIM

    payload = b"hello multimodal world"
    feats = decode_stub(payload, "image")
    assert feats == decode_stub(payload, "image")
    assert len(feats) == FEATURE_DIM
    assert abs(sum(feats) - 1.0) < 1e-9
    assert decode_stub(b"", "video") == [0.0] * FEATURE_DIM


def test_frame_sample_slices_and_strides(spark, sf_dir):
    """Every sampled frame is the exact byte slice at its index; indices
    step by the stride; a short payload yields just frame 0."""
    from distributed_mapreduce_spark.operators.multimodal import frame_sample

    mm = multimodal_table(spark, sf_dir).where("modality = 'video'")
    raw = {r["doc_id"]: bytes(r["payload"]) for r in mm.collect()}
    frames = frame_sample(mm, frame_bytes=64, stride=4).collect()
    assert frames
    seen = set()
    for r in frames:
        b = raw[r["doc_id"]]
        assert r["frame_idx"] % 4 == 0
        assert bytes(r["frame"]) == b[r["frame_idx"] * 64 : (r["frame_idx"] + 1) * 64]
        seen.add(r["doc_id"])
    assert seen == set(raw)  # every video contributed at least frame 0


def test_quantize_codes_in_range_and_reconstruction_bound(spark, sf_dir):
    """int8 quantization: codes live in [0,255] and dequantization error
    is bounded by half a scale step per element."""
    from distributed_mapreduce_spark.queries.simops import emb_q1_quantize
    from distributed_mapreduce_spark.sources import table

    emb = {r["vec_id"]: [float(x) for x in r["embedding"]]
           for r in table(spark, sf_dir, "embeddings").collect()}
    for r in emb_q1_quantize(spark, sf_dir).collect():
        v = emb[r["vec_id"]]
        mn, mx = min(v), max(v)
        scale = (mx - mn) / 255
        codes = [int((x - mn) / scale + 0.5) if mx > mn else 0 for x in v]
        assert all(0 <= c <= 255 for c in codes)
        assert r["sum_q"] == sum(codes)
        if mx > mn:  # dequant error ≤ scale/2 (+ float slack)
            assert all(
                abs((mn + c * scale) - x) <= scale / 2 + 1e-12
                for c, x in zip(codes, v)
            )


def test_pq_encode_codes_shape_and_range(spark, emb):
    """PQ encode: every vector gets m codes, each in [0, codebook_size);
    codebook source vectors (the 16 lowest ids) may or may not encode
    to 'their' codeword (another codeword can be equidistant), but
    distance-0 self-match means vector j < 16 must get SOME code with
    distance 0 in each subspace — asserted via exact reconstruction of
    its own subvector for at least one code."""
    from distributed_mapreduce_spark.operators.similarity import (
        PQ_CODEBOOK,
        PQ_M,
        pq_encode,
        train_pq_codebooks,
    )

    cbs = train_pq_codebooks(emb, 64)
    assert len(cbs) == PQ_M and len(cbs[0]) == PQ_CODEBOOK
    assert len(cbs[0][0]) == 64 // PQ_M
    codes = pq_encode(emb, cbs)
    rows = codes.collect()
    n_vecs = emb.count()
    assert len(rows) == n_vecs
    for r in rows:
        for j in range(PQ_M):
            assert 0 <= r[f"c{j}"] < PQ_CODEBOOK


def test_pq_codebook_vectors_self_encode_exactly(spark, emb):
    """A codebook-source vector's subvector IS codeword c (c = its rank
    among the 16 lowest ids), so its argmin distance is exactly 0 —
    the code must reconstruct the subvector bit-for-bit."""
    from distributed_mapreduce_spark.operators.similarity import (
        pq_encode,
        train_pq_codebooks,
    )

    cbs = train_pq_codebooks(emb, 64)
    sub = 64 // len(cbs)
    src = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in emb.orderBy("vec_id").limit(16).collect()
    }
    ranked = sorted(src)
    codes = {
        r.vec_id: r
        for r in pq_encode(emb.where(F.col("vec_id").isin(ranked)), cbs).collect()
    }
    for rank, vid in enumerate(ranked):
        for j in range(len(cbs)):
            code = codes[vid][f"c{j}"]
            got = cbs[j][code]
            want = src[vid][j * sub : (j + 1) * sub]
            assert got == want, (vid, j, code)


def test_pq_adc_approximates_exact_topk(spark, emb):
    """ADC ranking must overlap the exact cosine top-10 — PQ with a
    16-deep sampled codebook on uniform data is a coarse quantizer, so
    the bar is deliberately low (>= 2 of 10 across a 5-query panel
    pooled), but a broken encode/ADC (e.g. scrambled luts) scores ~0."""
    from distributed_mapreduce_spark.operators.similarity import (
        pq_adc_topk,
        pq_encode,
        train_pq_codebooks,
    )

    cbs = train_pq_codebooks(emb, 64)
    codes = pq_encode(emb, cbs).cache()
    try:
        hits = 0
        for qid in [0, 7, 42, 99, 123]:
            qvec = [
                float(x)
                for x in emb.where(F.col("vec_id") == qid).collect()[0]["embedding"]
            ]
            exact = {r.vec_id for r in topk_cosine_literal(emb, qvec, 10).collect()}
            approx = {r.vec_id for r in pq_adc_topk(codes, cbs, qvec, 10).collect()}
            hits += len(exact & approx)
        assert hits >= 10, f"PQ ADC overlap too low: {hits}/50"
    finally:
        codes.unpersist()


def test_kmeans_lloyd_recovers_planted_clusters(spark):
    """On well-separated planted Gaussians, 2 Lloyd iterations from the
    deterministic init must produce clusters that are nearly pure
    (majority planted label >= 90% per cell) — parity tests prove both
    engines agree; this proves the algorithm actually clusters."""
    import numpy as np

    from distributed_mapreduce_spark.operators.similarity import kmeans_lloyd

    rng = np.random.default_rng(3)
    centers = rng.normal(size=(8, 16)) * 20
    rows = []
    for i in range(400):
        g = i % 8
        rows.append((i, g, (centers[g] + rng.normal(size=16)).tolist()))
    emb = spark.createDataFrame(
        rows, "vec_id bigint, planted int, embedding array<double>"
    ).cache()
    try:
        assigned = kmeans_lloyd(emb, 16, k=8, iters=2)
        joined = assigned.join(emb.select("vec_id", "planted"), "vec_id").collect()
        by_cell: dict[int, list[int]] = {}
        for r in joined:
            by_cell.setdefault(r.cell, []).append(r.planted)
        assert len(joined) == 400
        impure = 0
        for cell, labels in by_cell.items():
            top = max(labels.count(x) for x in set(labels))
            if top < 0.9 * len(labels):
                impure += 1
        # deterministic lowest-id init can merge/split a planted pair;
        # allow at most one impure cell
        assert impure <= 1, f"{impure} impure cells"
    finally:
        emb.unpersist()


def test_ivf_store_append_equals_full_build(spark, emb, tmp_path):
    """append_ivf_store (VERDICT r7 #1): a store built from batch 1
    then maintained with two appended batches must probe IDENTICALLY
    to a fresh full build over all three — and the appends must never
    rewrite a pre-existing file (byte-identity), the property that
    makes per-batch cost ∝ batch size at 100 TB."""
    import pathlib

    from distributed_mapreduce_spark.operators.similarity import (
        append_ivf_store,
        write_ivf_store,
    )

    cents = train_centroids(emb, 16)
    full, inc = str(tmp_path / "full"), str(tmp_path / "inc")
    write_ivf_store(emb, cents, full)

    b0 = emb.where(F.col("vec_id") % 3 == 0)
    b1 = emb.where(F.col("vec_id") % 3 == 1)
    b2 = emb.where(F.col("vec_id") % 3 == 2)
    write_ivf_store(b0, cents, inc)
    before = {
        str(p.relative_to(inc)): p.read_bytes()
        for p in pathlib.Path(inc).rglob("*.parquet")
    }
    append_ivf_store(b1, cents, inc)
    mid = {
        str(p.relative_to(inc)): p.read_bytes()
        for p in pathlib.Path(inc).rglob("*.parquet")
    }
    assert set(before) < set(mid)
    assert all(mid[k] == v for k, v in before.items()), (
        "append rewrote a pre-existing file"
    )
    append_ivf_store(b2, cents, inc)

    qvec = [
        float(x) for x in emb.where(F.col("vec_id") == 42).collect()[0]["embedding"]
    ]
    got_full = ivf_topk(spark.read.parquet(full), cents, qvec, 10, nprobe=4).collect()
    got_inc = ivf_topk(spark.read.parquet(inc), cents, qvec, 10, nprobe=4).collect()
    assert [(r.vec_id, r.cos_sim) for r in got_inc] == [
        (r.vec_id, r.cos_sim) for r in got_full
    ]


def test_ivfpq_store_append_equals_full_build_and_compacts(spark, emb, tmp_path):
    """append_ivf_store with codebooks: maintained store ≡ fresh full
    build under ADC probes (frozen centroids + codebooks ⇒
    deterministic encode), and compact_partitioned bounds the append
    chain's file count without changing a single probe result."""
    import pathlib

    from distributed_mapreduce_spark.operators.similarity import (
        append_ivf_store,
        train_pq_codebooks,
        write_ivf_store,
    )
    from distributed_mapreduce_spark.sources.files import compact_partitioned

    cents = train_centroids(emb, 16)
    cbs = train_pq_codebooks(emb, 64)
    full, inc = str(tmp_path / "full"), str(tmp_path / "inc")
    write_ivf_store(emb, cents, full, cbs)
    write_ivf_store(emb.where(F.col("vec_id") % 3 == 0), cents, inc, cbs)
    append_ivf_store(emb.where(F.col("vec_id") % 3 == 1), cents, inc, cbs)
    append_ivf_store(emb.where(F.col("vec_id") % 3 == 2), cents, inc, cbs)

    def probe(path):
        return ivf_topk(
            spark.read.parquet(path), cents, qvec, 10, nprobe=4, codebooks=cbs
        )

    qvec = [
        float(x) for x in emb.where(F.col("vec_id") == 7).collect()[0]["embedding"]
    ]
    want = [
        (r.vec_id, r.approx_dot)
        for r in probe(full).collect()
    ]
    got = [
        (r.vec_id, r.approx_dot)
        for r in probe(inc).collect()
    ]
    assert got == want

    # three write jobs → ≥3 file sets in hot cells; compaction bounds it
    plans = compact_partitioned(spark, inc, ["cell"], target_file_bytes=1 << 30)
    assert plans, "append chain left nothing to compact?"
    for d in pathlib.Path(inc).glob("cell=*"):
        assert len(list(d.glob("*.parquet"))) <= 2
    after = [
        (r.vec_id, r.approx_dot)
        for r in probe(inc).collect()
    ]
    assert after == want


def _query_frame(spark, emb, ids):
    """(query_id, qvec) serving batch built from embedding rows —
    qvec stays array<float> like the source, so casts match the
    per-query literal path bit-for-bit."""
    rows = {r.vec_id: r.embedding for r in emb.where(F.col("vec_id").isin(ids)).collect()}
    return (
        spark.createDataFrame(
            [(int(i), [float(x) for x in rows[i]]) for i in ids],
            "query_id bigint, qvec array<float>",
        ),
        {int(i): [float(x) for x in rows[i]] for i in ids},
    )


def _assert_pruned_broadcast_plan(df, plans):
    """The directive's plan contract (VERDICT r8 #6): cell pruning
    must SURVIVE the query join — `cell IN (...)` stays a partition
    filter on the store scan, and the join is broadcast on the query
    side so store rows are never exchanged."""
    fmt = plans.physical_plan(df, "formatted")
    pf = [l for l in fmt.splitlines() if "PartitionFilters" in l]
    assert pf and "cell" in pf[0], fmt
    assert "BroadcastHashJoin" in fmt, fmt
    assert "SortMergeJoin" not in fmt, fmt


def test_batched_ivf_store_probe_equals_per_query_loop(spark, emb, tmp_path):
    """ivf_store_topk_batch (VERDICT r8 #6): a multi-query serving
    batch probed in ONE plan/one store scan returns, per query,
    exactly what the single-query ivf_topk loop returns — same
    probe cells, bit-identical scores, same top-k order."""
    from distributed_mapreduce_spark import plans
    from distributed_mapreduce_spark.operators.similarity import (
        ivf_store_topk_batch,
        write_ivf_store,
    )

    cents = train_centroids(emb, 16)
    path = str(tmp_path / "ivf_store")
    write_ivf_store(emb, cents, path)

    qids = [3, 42, 77, 100, 123]
    queries, qvecs = _query_frame(spark, emb, qids)
    batch = ivf_store_topk_batch(spark, path, cents, queries, 10, nprobe=4)
    got = {}
    for r in batch.collect():
        got.setdefault(r.query_id, []).append((r.vec_id, r.cos_sim))
    for qid in qids:
        want = [
            (r.vec_id, r.cos_sim)
            for r in ivf_topk(
                spark.read.parquet(path), cents, qvecs[qid], 10, nprobe=4
            ).collect()
        ]
        assert got[qid] == want, f"query {qid} diverged from the per-query loop"

    _assert_pruned_broadcast_plan(batch, plans)


def test_batched_probe_edge_cases(spark, emb, tmp_path):
    """Degenerate serving batches must behave, not crash: an EMPTY
    query batch returns an empty (not erroring) result from both
    batched probe, and a single-query batch equals the
    single-query API exactly (the |Q|=1 degeneracy)."""
    from distributed_mapreduce_spark.operators.similarity import (
        ivf_store_topk_batch,
        write_ivf_store,
    )

    cents = train_centroids(emb, 16)
    path = str(tmp_path / "store")
    write_ivf_store(emb, cents, path)

    empty = spark.createDataFrame([], "query_id bigint, qvec array<float>")
    assert ivf_store_topk_batch(spark, path, cents, empty, 10).count() == 0

    one, qvecs = _query_frame(spark, emb, [42])
    got = [
        (r.vec_id, r.cos_sim)
        for r in ivf_store_topk_batch(spark, path, cents, one, 10).collect()
    ]
    want = [
        (r.vec_id, r.cos_sim)
        for r in ivf_topk(spark.read.parquet(path), cents, qvecs[42], 10).collect()
    ]
    assert got == want


def test_knn_join_ivf_exhaustive_probe_is_exact(spark, emb, sf_dir):
    """knn_join_ivf with nprobe = num_cells degenerates to the exact
    kNN self-join (every cell probed ⇒ every pair scored) — asserted
    bit-for-bit against an independent DuckDB quadratic brute force
    using the mirrored cosine_sql, so the recall knob's endpoints are
    pinned: num_cells ⇒ recall 1.0, and the approximate tier below can
    only lose neighbors to unprobed cells, never to scoring bugs."""
    import duckdb

    from distributed_mapreduce_spark.functions.vectors import unrolled_dot_sql
    from distributed_mapreduce_spark.operators.similarity import (
        knn_join_ivf,
        train_centroids,
    )

    cents = train_centroids(emb, 16)
    got = [
        (r.id, r.nb, r.cos_sim)
        for r in knn_join_ivf(emb, cents, 5, nprobe=16).collect()
    ]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW e AS SELECT * FROM '{sf_dir}/embeddings.parquet'"
    )
    want = con.execute(
        f"""
        WITH n AS (
            SELECT vec_id,
                   list_transform(embedding,
                       x -> CAST(x AS DOUBLE) / sqrt({unrolled_dot_sql("embedding", "embedding", 64)}))
                   AS ne
            FROM e
            WHERE sqrt({unrolled_dot_sql("embedding", "embedding", 64)}) > 0
        ),
        scored AS (
            SELECT a.vec_id AS id, b.vec_id AS nb,
                   round({unrolled_dot_sql("a.ne", "b.ne", 64)}, 6) AS cos_sim
            FROM n a JOIN n b ON a.vec_id <> b.vec_id
        )
        SELECT id, nb, cos_sim FROM (
            SELECT id, nb, cos_sim,
                   row_number() OVER (PARTITION BY id ORDER BY cos_sim DESC, nb ASC) AS rn
            FROM scored
        ) WHERE rn <= 5
        ORDER BY id, cos_sim DESC, nb ASC
        """
    ).fetchall()
    assert got == [tuple(r) for r in want]


@pytest.mark.full_tier
def test_knn_join_ivf_recall_volume_store_and_plan(spark, emb, tmp_path):
    """The approximate tier's three contracts (VERDICT r11 #2):
    (a) recall vs the exact result: above a stated floor at the
        default nprobe (measured on this fixture: det-centroids
        0.31/0.49/0.74 at nprobe 2/4/8 — seeded-Gaussian embeddings are the structureless worst case
        for IVF, real corpora cluster; floors 0.40 at nprobe=4 and
        0.65 at nprobe=8), and MONOTONE in nprobe;
    (b) the scored-pair volume BEATS the exact grid tier's N(N-1)
        window input — the linear-vs-quadratic claim at fixture scale;
    (c) plan: no cartesian anywhere, and the per-id rank limit plans
        as WindowGroupLimit Partial + Exchange + Final (the map-side
        top-k combine);
    plus the store form: members=<write_ivf_store read-back> returns
    the identical result (the 100 TB shape probes the maintained
    cell-partitioned store, not a fresh assignment)."""
    from distributed_mapreduce_spark import plans
    from distributed_mapreduce_spark.operators.similarity import (
        assign_cells,
        assign_probe_cells,
        knn_join_ivf,
        train_centroids,
        write_ivf_store,
    )

    cents = train_centroids(emb, 16)
    approx_df = knn_join_ivf(emb, cents, 5, nprobe=4)
    approx = approx_df.collect()
    exact = knn_join_ivf(emb, cents, 5, nprobe=16).collect()

    def by_id(rows):
        out = {}
        for r in rows:
            out.setdefault(r.id, set()).add(r.nb)
        return out

    def recall_of(rows, e):
        a = by_id(rows)
        return sum(
            len(a.get(i, set()) & nbs) / len(nbs) for i, nbs in e.items()
        ) / len(e)

    e = by_id(exact)
    rec4 = recall_of(approx, e)
    rec2 = recall_of(knn_join_ivf(emb, cents, 5, nprobe=2).collect(), e)
    rec8 = recall_of(knn_join_ivf(emb, cents, 5, nprobe=8).collect(), e)
    print(
        f"\n  knn_join_ivf recall@5 /16 cells: det nprobe 2/4/8 = "
        f"{rec2:.3f}/{rec4:.3f}/{rec8:.3f}"
    )
    assert rec4 >= 0.40, f"recall {rec4:.3f} under the stated floor"
    assert rec8 >= 0.65, f"recall {rec8:.3f} under the stated floor"
    assert rec2 < rec4 < rec8, "recall must be monotone in nprobe"

    # (b) candidate volume: what the window actually consumes
    n = emb.count()
    cand = (
        assign_probe_cells(
            emb.selectExpr("vec_id as __qid", "embedding as __qv"),
            cents,
            4,
            qid_col="__qid",
            qvec_col="__qv",
        )
        .join(assign_cells(emb, cents).selectExpr("vec_id as nb", "cell"), "cell")
        .where("__qid != nb")
        .count()
    )
    grid = n * (n - 1)  # the exact tier windows both orientations of every pair
    print(f"  knn_join_ivf candidates {cand} vs grid window input {grid} ({cand/grid:.2f}x)")
    assert cand < grid

    # (c) plan shape
    plans.assert_no_cartesian(approx_df)
    plan = plans.physical_plan(approx_df, "simple")
    # the pair join must be an EQUI-join on cell (SortMerge or hash) —
    # the only BroadcastNestedLoopJoins allowed are the 16-row centroid
    # crossJoins (the O(1)-row dim form the registry guard exempts)
    import re

    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \[cell", plan), plan
    lines = plan.splitlines()
    partial = next(
        (i for i, l in enumerate(lines) if "WindowGroupLimit" in l and "Partial" in l),
        None,
    )
    final = next(
        (i for i, l in enumerate(lines) if "WindowGroupLimit" in l and "Final" in l),
        None,
    )
    assert partial is not None and final is not None, plan
    assert any("Exchange" in l for l in lines[final:partial]), plan

    # store form ≡ in-memory assignment
    path = str(tmp_path / "knn_store")
    write_ivf_store(emb, cents, path)
    via_store = knn_join_ivf(
        emb, cents, 5, nprobe=4, members=spark.read.parquet(path)
    ).collect()
    assert sorted(map(tuple, via_store)) == sorted(map(tuple, approx))

    # degenerate nprobe clamps to 1 identically on BOTH paths (a row
    # always probes at least its own cell — the paths must agree)
    self0 = knn_join_ivf(emb, cents, 5, nprobe=0).collect()
    store0 = knn_join_ivf(
        emb, cents, 5, nprobe=0, members=spark.read.parquet(path)
    ).collect()
    self1 = knn_join_ivf(emb, cents, 5, nprobe=1).collect()
    assert sorted(map(tuple, self0)) == sorted(map(tuple, store0)) == sorted(
        map(tuple, self1)
    )


def test_semdedup_planted_duplicates(spark):
    """Planted duplicate groups through the REAL operator: group A
    (ids 10/12/14, near-identical vectors) and group B (ids 11/13)
    collapse to their min-id representative; the far-apart singles
    survive. ids are arranged so the deterministic k=2 init (two
    lowest ids) seeds one centroid per region, making cell assignment
    unambiguous."""
    from distributed_mapreduce_spark.queries.simops import semdedup_representatives

    rows = [
        (10, [1.0, 0.02, 0.0, 0.0]),
        (12, [1.0, 0.01, 0.0, 0.0]),
        (14, [0.99, 0.02, 0.01, 0.0]),
        (11, [0.0, 0.0, 1.0, 0.03]),
        (13, [0.0, 0.01, 1.0, 0.02]),
        (30, [0.7, 0.0, 0.7, 0.0]),
        (31, [-0.7, 0.0, 0.7, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    reps = {
        r.rep_id: r.n_members
        for r in semdedup_representatives(emb, dim=4, k=2, iters=1, tau=0.9).collect()
    }
    assert reps == {10: 3, 11: 2, 30: 1, 31: 1}


def test_semdedup_partitions_fixture_and_recall_vs_exact_tier(spark, sf_dir):
    """On the fixture: representatives partition the corpus (sizes sum
    to the row count, labels unique), every dropped row is one the
    EXACT tier also pairs (within-cell pairs at the same tau are a
    subset of dedup_q6's — no false drops), and the cell-bounded tier
    recovers a stated floor of the exact tier's dropped rows. The
    fixture is the published hard case — random-uniform embeddings at
    the weakly-similar tau=0.4 operating point give clusters little
    signal (true near-dups at cos→1 co-locate with probability →1);
    the measured fixture recall lives in SCALE.md."""
    from distributed_mapreduce_spark.operators.components import connected_components
    from distributed_mapreduce_spark.queries.simops import (
        dedup_q6_embedding_cosine,
        dedup_q19_semdedup,
    )

    reps = dedup_q19_semdedup(spark, str(sf_dir)).collect()
    n = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    assert sum(r.n_members for r in reps) == n
    rep_ids = [r.rep_id for r in reps]
    assert len(set(rep_ids)) == len(rep_ids)

    exact_pairs = dedup_q6_embedding_cosine(spark, str(sf_dir))
    paired = {
        i
        for r in exact_pairs.collect()
        for i in (r.id_i, r.id_j)
    }
    dropped = {r for r in range(n)} - set(rep_ids)
    assert dropped <= paired, "semdedup dropped a row the exact tier never pairs"

    exact_dropped = {
        r.id
        for r in connected_components(exact_pairs).collect()
        if r.id != r.component
    }
    assert exact_dropped, "fixture lost its planted near-dup signal"
    recall = len(dropped) / len(exact_dropped)
    assert recall >= 0.2, f"semdedup recall collapsed: {recall:.2f}"


def test_power_iteration_finds_planted_direction(spark):
    """Power iteration on data with one dominant variance direction:
    two tight blobs separated along a known axis. The top component
    must align with the separation axis, so the centered projections
    split by blob with a wide margin — and each blob's projections
    cluster tightly (|proj| ≈ half the separation)."""
    from distributed_mapreduce_spark.operators.similarity import power_iteration

    rows = []
    for i in range(20):
        eps = (i % 5) * 0.01
        rows.append((i, [10.0 + eps, eps, 1.0, -1.0]))
        rows.append((100 + i, [-10.0 - eps, -eps, 1.0, -1.0]))
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    got = {r.vec_id: r.proj for r in power_iteration(emb, dim=4).collect()}
    assert len(got) == 40
    pos = [v for k, v in got.items() if k < 100]
    neg = [v for k, v in got.items() if k >= 100]
    # one blob projects positive, the other negative (sign convention
    # fixed by the deterministic e0 init), both near ±10
    assert all(9.0 < v < 11.0 for v in pos) or all(9.0 < v < 11.0 for v in neg)
    assert all(-11.0 < v < -9.0 for v in neg) or all(-11.0 < v < -9.0 for v in pos)


def test_label_centroid_profile_planted_cohesion(spark):
    """Planted groups through the real operator: a perfectly-cohesive
    label (identical vectors → every member cosine exactly 1.0 to the
    centroid) and a dispersed label (two orthogonal directions →
    members sit at cos ≈ 0.707 to the mean, with exact min=max by
    symmetry)."""
    from distributed_mapreduce_spark.queries.simops import label_centroid_profile

    rows = [(i, [3.0, 0.0, 0.0, 4.0], 1) for i in range(5)]
    rows += [(10, [1.0, 0.0, 0.0, 0.0], 2), (11, [0.0, 1.0, 0.0, 0.0], 2)]
    emb = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )
    got = {r.label: r for r in label_centroid_profile(emb, dim=4).collect()}
    assert got[1].n_vecs == 5 and got[1].centroid_norm == 5.0
    assert got[1].mean_cos == 1.0 == got[1].min_cos == got[1].max_cos
    assert got[2].n_vecs == 2
    assert got[2].min_cos == got[2].max_cos == pytest.approx(0.707107, abs=1e-6)


def test_power_iteration_zero_variance_refuses(spark):
    """All-identical rows have no principal direction: the operator
    must refuse with the diagnosis, not die with a NULL-division
    TypeError inside the loop (code-review r13)."""
    emb = spark.createDataFrame(
        [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(5)],
        "vec_id bigint, embedding array<float>",
    )
    from distributed_mapreduce_spark.operators.similarity import power_iteration

    with pytest.raises(ValueError, match="zero variance"):
        power_iteration(emb, dim=4).collect()


def test_power_iteration_empty_input_refuses(spark):
    """Zero rows: the mean agg returns NULL and float(None) would die
    with an opaque TypeError (ADVICE r13) — refuse with the diagnosis
    instead, same class as the zero-variance guard."""
    from distributed_mapreduce_spark.operators.similarity import power_iteration

    emb = spark.createDataFrame([], "vec_id bigint, embedding array<float>")
    with pytest.raises(ValueError, match="empty input"):
        power_iteration(emb, dim=4)
