"""Similarity-search + multimodal queries ([EXT] north star).

sim_q1/sim_q2 are oracle-backed: the DuckDB side mirrors the Spark
cosine fold with an unrolled left-associative double sum (see
functions/vectors.py) so scores are bit-identical. The IVF variant and
the mapInPandas feature extraction are rows-only for the driver; their
correctness gates are recall/equivalence tests in tests/test_similarity.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_mapreduce_spark.functions.vectors import (
    cosine_sql,
    flat_normalized,
    pair_dot_expr_spark,
    unrolled_dot_sql,
)
from distributed_mapreduce_spark.operators.multimodal import (
    FEATURE_DIM,
    FRAME_BYTES,
    FRAME_STRIDE,
    extract_features,
    frame_sample,
    multimodal_table,
)
from distributed_mapreduce_spark.operators.similarity import (
    assign_cells,
    ivf_topk,
    power_iteration_sql,
    topk_cosine_literal,
    train_centroids,
)
from distributed_mapreduce_spark.queries.relational import money
from distributed_mapreduce_spark.queries.textops import cc_closure_sql
from distributed_mapreduce_spark.sources import table

DIM = 64
QUERY_VEC_ID = 0
TOP_K = 10
PAIR_SAMPLE_MOD = 5  # pair query samples vec_id % 5 == 0
TOP_PAIRS = 20


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "embeddings")


def _qvec(emb: DataFrame) -> list[float]:
    """THE query vector, driver-held (1-row bounded collect) — shared
    by the exact tier (sim_q1) and the IVF probe (sim_q3) so they can
    never diverge on which vector they score against."""
    return [
        float(x)
        for x in emb.where(F.col("vec_id") == QUERY_VEC_ID).collect()[0]["embedding"]
    ]


def sim_q1_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for the query vector (vec_id=0): map-side
    cosine against the driver-held query + TakeOrdered, no join at all.
    The ANN baseline/verifier. The 1-row collect is the bounded kind
    (same pattern as sim_q3's probe); scores are bit-identical to the
    broadcast-join form (see topk_cosine_literal)."""
    emb = _emb(spark, sf_dir)
    return topk_cosine_literal(emb, _qvec(emb), TOP_K)


def sim_q2_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most-similar pairs within a deterministic sample (vec_id % 5 = 0):
    the all-pairs brute-force verifier tier, shaped as the same
    grid-partitioned join as dedup_q6 (_grid_self_pair_join) — at scale this
    exact tier runs only on LSH/IVF candidate pairs, but even the full
    sampled form never broadcasts the table or relies on a cross join."""
    from distributed_mapreduce_spark.sources import widen

    emb = _emb(spark, sf_dir).where(F.pmod("vec_id", F.lit(PAIR_SAMPLE_MOD)) == 0)

    # Flatten vectors to scalar columns AND precompute each row's norm
    # below the exchanges, once into a persisted table both sides read
    # (see dedup_q6): the N² projection is then one multiply-add chain
    # + one guarded division per pair instead of three array folds.
    # sqrt(Σaᵢ²) per row is the same bits as computing it per pair, so
    # scores stay oracle-identical. (Unlike dedup_q6 this keeps raw
    # vectors + a norm column rather than pre-normalizing — the
    # oracle's cosine divides once per pair, and x/n then dot reorders
    # the float ops.) widen BEFORE persist: see dedup_q6.
    cols = [f"CAST(embedding[{i}] AS DOUBLE) as __v{i}" for i in range(DIM)]
    sq = F.expr(pair_dot_expr_spark("__v", "__v", DIM))
    flat = widen(
        emb.selectExpr("vec_id as id", *cols).withColumn("__norm", F.sqrt(sq))
    ).persist()
    d = F.expr(pair_dot_expr_spark("a.__v", "b.__v", DIM))
    denom = F.col("a.__norm") * F.col("b.__norm")
    cos = F.when(denom > 0, d / denom).otherwise(F.lit(0.0))
    from distributed_mapreduce_spark.caching import attach_caches

    return attach_caches(
        _grid_self_pair_join(flat, EMB_GRID_BLOCKS)
        .select(
            F.least(F.col("a.id"), F.col("b.id")).alias("id_i"),
            F.greatest(F.col("a.id"), F.col("b.id")).alias("id_j"),
            F.round(cos, 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("id_i"), F.asc("id_j"))
        .limit(TOP_PAIRS),
        flat,
    )


def sim_q3_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-probed top-10 — the ANN scale path, and fully value-hash
    graded: every stage is deterministic (centroids = 16 lowest-id
    vectors, cell assignment = argmax cosine with min-cell tiebreak,
    probe = 4 best cells for the query), so the DuckDB oracle replays
    the whole index build + probe bit-for-bit. Recall vs the exact
    sim_q1 tier is additionally asserted in tests."""
    emb = _emb(spark, sf_dir)
    cents = train_centroids(emb)
    return ivf_topk(assign_cells(emb, cents), cents, _qvec(emb), TOP_K)


def sim_q4_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-10 — the compression tier of the
    ANN stack (IVF shrinks the SEARCH, PQ shrinks the STORAGE: m=8
    codes/vector instead of 64 floats). Fully value-hash graded: the
    codebooks are the deterministic sampling build (subvectors of the
    16 lowest-id vectors, the train_centroids pattern), encode is an
    exact relational argmin, and ADC partials stage through DECIMAL,
    so the DuckDB oracle replays codebook → encode → lookup-table
    scoring bit-for-bit. Approximation QUALITY (vs the exact sim_q1
    tier) is asserted separately in tests."""
    from distributed_mapreduce_spark.operators.similarity import (
        pq_adc_topk,
        pq_encode,
        train_pq_codebooks,
    )

    emb = _emb(spark, sf_dir)
    cbs = train_pq_codebooks(emb, DIM)
    return pq_adc_topk(pq_encode(emb, cbs), cbs, _qvec(emb), TOP_K)


def sim_q5_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ composed top-10 (operators/similarity.py::ivfpq_topk) —
    the FAISS-IVFADC serving shape: probe 4 of 16 cells, ADC-rank the
    candidates from their 8 PQ codes. Every stage deterministic, so
    the oracle replays centroids → assignment → probe → codebooks →
    encode → lookup-table scoring bit-for-bit."""
    from distributed_mapreduce_spark.operators.similarity import ivfpq_topk

    emb = _emb(spark, sf_dir)
    return ivfpq_topk(emb, _qvec(emb), TOP_K, dim=DIM)


def sim_q6_kmeans_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded iterative clustering: 2 Lloyd iterations of k=8 k-means
    (operators/similarity.py::kmeans_lloyd), census of the final
    assignment (cell, n_vecs, sum of member ids). Every stage is
    engine-deterministic (deterministic init, argmin with cell
    tiebreak, decimal-staged means), so the DuckDB oracle replays the
    ENTIRE iterative algorithm — init → assign → means → assign →
    means → final assign — bit-for-bit: the strongest correctness
    signal an iterative ML loop can carry (BPE's sequential-fold
    grading is the fallback pattern for loops SQL can't express)."""
    from distributed_mapreduce_spark.operators.similarity import kmeans_lloyd

    a = kmeans_lloyd(_emb(spark, sf_dir), DIM)
    return a.groupBy("cell").agg(
        F.count("*").alias("n_vecs"),
        F.sum("vec_id").cast("bigint").alias("sum_id"),
    )


def _kmeans_assign_ctes() -> tuple[str, str]:
    """DuckDB replay of kmeans_lloyd (same k/iters/dim constants):
    generated CTE chain c0 → a1 → c1 → a2 → c2 → a3, with identical
    float-op order everywhere — left-associative squared-L2 chains,
    round-to-12 DECIMAL(22,12) coordinate sums, double division,
    coalesce-to-previous for empty cells. Returns the comma-joined
    CTE chain (no WITH keyword) and the name of the final-assignment
    CTE holding (vec_id, cell) — shared by the sim_q6 census oracle
    and the dedup_q19 semantic-dedup oracle, so the two replays of
    the iterative loop cannot drift apart."""
    from distributed_mapreduce_spark.operators.similarity import KM_ITERS, KM_K

    d = DIM
    xs = ", ".join(f"CAST(embedding[{i + 1}] AS DOUBLE) AS x{i}" for i in range(d))
    ms0 = ", ".join(f"x{i} AS m{i}" for i in range(d))
    dist = " + ".join(f"(f.x{i} - c.m{i}) * (f.x{i} - c.m{i})" for i in range(d))
    mean_cols = ", ".join(
        f"round(CAST(sum(CAST(round(f.x{i}, 12) AS DECIMAL(22,12))) AS DOUBLE)"
        f" / count(*), 12) AS m{i}"
        for i in range(d)
    )
    parts = [
        f"flat AS (SELECT vec_id, {xs} FROM embeddings)",
        f"""c0 AS (
            SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell,
                   {ms0}
            FROM (SELECT * FROM flat ORDER BY vec_id LIMIT {KM_K})
        )""",
    ]
    prev = "c0"
    for it in range(1, KM_ITERS + 1):
        coal = ", ".join(f"coalesce(m.m{i}, p.m{i}) AS m{i}" for i in range(d))
        parts.append(
            f"""a{it} AS (
            SELECT vec_id, cell FROM (
                SELECT f.vec_id, c.cell,
                       row_number() OVER (
                           PARTITION BY f.vec_id ORDER BY {dist} ASC, c.cell ASC
                       ) AS rn
                FROM flat f CROSS JOIN {prev} c
            ) WHERE rn = 1
        )"""
        )
        parts.append(
            f"""m{it} AS (
            SELECT a.cell, {mean_cols}
            FROM a{it} a JOIN flat f USING (vec_id)
            GROUP BY a.cell
        )"""
        )
        parts.append(
            f"""c{it} AS (
            SELECT p.cell, {coal}
            FROM {prev} p LEFT JOIN m{it} m ON p.cell = m.cell
        )"""
        )
        prev = f"c{it}"
    final = KM_ITERS + 1
    parts.append(
        f"""a{final} AS (
            SELECT vec_id, cell FROM (
                SELECT f.vec_id, c.cell,
                       row_number() OVER (
                           PARTITION BY f.vec_id ORDER BY {dist} ASC, c.cell ASC
                       ) AS rn
                FROM flat f CROSS JOIN {prev} c
            ) WHERE rn = 1
        )"""
    )
    return ",\n".join(parts), f"a{final}"


def _kmeans_sql() -> str:
    """sim_q6's census over the shared kmeans assignment replay."""
    ctes, assign = _kmeans_assign_ctes()
    return f"""WITH {ctes}
        SELECT cell, count(*) AS n_vecs, CAST(sum(vec_id) AS BIGINT) AS sum_id
        FROM {assign}
        GROUP BY cell
    """


EMB_DUP_THRESHOLD = 0.4


# Grid side length for the blocked exact all-pairs join: B² reducer
# cells, each task's working set is two id-blocks (2·N/B vectors), and
# each row is shuffled B times — the classic theta-join grid trade
# (pick B ≈ √(cluster cores) at scale).
EMB_GRID_BLOCKS = 8


def _grid_self_pair_join(flat: DataFrame, B: int) -> DataFrame:
    """Upper-triangle grid self-join — the shared scaffolding of every
    exact all-pairs query (dedup_q6, sim_q2): hash ids into B blocks,
    replicate each side across its candidate partner blocks (explode —
    pure projection, no extra join), and equi-join on the
    (block_a, block_b) cell key. Every unordered pair is produced in
    exactly ONE cell and one orientation, per-task memory is bounded by
    two id-blocks, and nothing broadcasts the table.

    a-rows replicate only to partner blocks ≥ their own, b-rows only to
    partner blocks ≤ their own, so a cross-block pair lands once
    regardless of id order (callers canonicalize ids via least/greatest
    — their pair scores are symmetric, so orientation doesn't change
    values). Only same-block cells need the id tiebreak. This halves
    replication AND avoids scoring the discarded orientation of every
    cross-block pair — Catalyst orders the pushed-down score filter
    ahead of cheap conjuncts in the join condition, so rows eliminated
    by generation are twice as cheap as rows eliminated by predicate.

    ``flat`` must carry an ``id`` column (+ payload columns), usually
    persisted by the caller (both sides read it). The sides come back
    aliased ``a``/``b`` — access columns qualified
    (``F.col("a.id")``, ``F.col("b.__v3")``) rather than through
    per-side rename projections: the 2×(DIM+1)-column renames the
    previous form used were pure Catalyst-analysis weight (~0.5 s per
    construction at DIM=64, measured r5). Internal block columns
    ``blk``/``pblk`` stay on the result for the caller to ignore."""
    all_blocks = F.array(*[F.lit(i) for i in range(B)])
    exploded = flat.withColumn("blk", F.pmod("id", F.lit(B)).cast("int")).withColumn(
        "pblk", F.explode(all_blocks)
    )
    a = exploded.where(F.col("pblk") >= F.col("blk")).alias("a")
    b = exploded.where(F.col("pblk") <= F.col("blk")).alias("b")
    return a.join(
        b,
        (F.col("a.blk") == F.col("b.pblk"))
        & (F.col("a.pblk") == F.col("b.blk"))
        & ((F.col("a.blk") != F.col("a.pblk")) | (F.col("a.id") < F.col("b.id")))
        & (F.col("a.id") != F.col("b.id")),
    )


def dedup_q6_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (rounded cos ≥ 0.4) as a
    grid-partitioned exact all-pairs join: hash ids into B blocks,
    replicate each side across the B candidate partner blocks
    (explode — pure projection, no extra join), and equi-join on the
    (block_a, block_b) cell key. Every pair is scored in exactly one of
    the B² cells, per-task memory is bounded by two blocks, and nothing
    broadcasts the table — the failure mode of the naive
    broadcast-cross-join this replaces.

    Why exact, not LSH candidates like dedup_q4: at τ = 0.4 in 64-dim
    the hyperplane-LSH per-bit collision rate at threshold is
    1 − arccos(0.4)/π ≈ 0.63, so any banding with near-1 recall at the
    boundary generates more candidate pairs than the N² it prunes —
    approximate candidates only win at τ ≳ 0.8 (where sim/IVF paths
    apply) or with recall < 1. The quadratic work is inherent to the
    chosen threshold; the grid makes it schedulable and
    memory-bounded.

    Normalize + flatten BELOW the exchange: each vector normalizes and
    unpacks once before replication, so the per-pair math is a flat
    left-associated multiply-add chain — the same operation order as
    the oracle, keeping scores bit-identical."""
    from distributed_mapreduce_spark.sources import widen

    emb = _emb(spark, sf_dir)
    # Normalize+flatten ONCE and persist; both join sides read the
    # shared table through aliases. Recomputing the 64-column
    # projection per side cost duplicate normalize work plus ~0.3 s of
    # Catalyst analysis per construction (measured r5; at sf1 the
    # duplicated normalize halved the stress time when removed) — and
    # at scale this persisted projection is exactly the intermediate a
    # pipeline checkpoints before a self-join (cache lifetime: see the
    # convention note on operators/dedup.jaccard_pairs). widen BEFORE
    # persist: the single-file fixture scan is one partition; unwidened,
    # the whole normalize pass and every downstream explode would run
    # on one core. (On a real multi-partition table this is a no-op.)
    flat = widen(flat_normalized(emb, "id", "__v", DIM)).persist()
    dot = F.expr(pair_dot_expr_spark("a.__v", "b.__v", DIM))
    from distributed_mapreduce_spark.caching import attach_caches

    return attach_caches(
        _grid_self_pair_join(flat, EMB_GRID_BLOCKS)
        .select(
            F.least(F.col("a.id"), F.col("b.id")).alias("id_i"),
            F.greatest(F.col("a.id"), F.col("b.id")).alias("id_j"),
            F.round(dot, 6).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= EMB_DUP_THRESHOLD),
        flat,
    )


def dedup_q11_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup-group census: connected components over the
    embedding-cosine pair graph (dedup_q6), one row per cluster with
    its size — the same keep-one-per-group step dedup_q7 runs on the
    lexical (jaccard) graph, here on the semantic graph, sharing both
    the pair generator and the CC operator. Oracle: DuckDB recursive
    transitive closure over the identical pair SQL.

    Scale shape inherits from its parts: grid-partitioned pair
    generation (never broadcasts the table), and a pair graph that is
    O(#near-dups) — the CC hybrid collects it for union-find when
    measured small, distributed min-label iteration otherwise."""
    from distributed_mapreduce_spark.operators.components import connected_components

    pairs = dedup_q6_embedding_cosine(spark, sf_dir)
    comp = connected_components(pairs)
    return comp.groupBy("component").agg(F.count("*").alias("n_vecs"))


# SemDeDup similarity threshold — the same operating point as the
# exact tier (dedup_q6), so the two tiers answer the same question and
# their disagreement is exactly the cross-cluster recall loss.
SEMDEDUP_TAU = EMB_DUP_THRESHOLD


def semdedup_representatives(
    emb: DataFrame,
    dim: int = DIM,
    k: int | None = None,
    iters: int | None = None,
    tau: float = SEMDEDUP_TAU,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic dedup with the pair
    space bounded by k-means cells instead of dedup_q6's exact N²/B
    grid — cluster the embeddings (the audited engine-deterministic
    kmeans_lloyd), generate candidate pairs ONLY within a cell
    (one cell-keyed equi-join), connect components, keep the min-id
    representative per group (singletons keep themselves). Returns one
    row per surviving representative: (rep_id, cell, n_members).

    The published trade this encodes: only within-cell pairs are
    considered, so a near-dup pair split across cells is missed —
    recall vs the exact tier is measured in tests (and dedup_q6/q11
    remain the exact-tier answer). In exchange the pair volume drops
    from Θ(N²/B) to Σ_cells |cell|² ≈ N·(N/k): at 100 TB k scales with
    N (SemDeDup ran k=50k on LAION), holding the average cell bounded
    — linear total work, and a fat cell can fall back to the
    _grid_self_pair_join scaffolding cell-locally.

    Plan shape: the candidate join is a hash-partitioned equi-join on
    cell (never a broadcast of the table, never a cartesian); the
    normalize+flatten projection is computed once and persisted (the
    dedup_q6 rationale); component labels come from the audited CC
    operator; the final keep-min-id is one groupBy over components."""
    from distributed_mapreduce_spark.operators.components import connected_components
    from distributed_mapreduce_spark.operators.similarity import (
        KM_ITERS,
        KM_K,
        kmeans_assign,
        kmeans_lloyd,
    )
    from distributed_mapreduce_spark.sources import widen

    k = KM_K if k is None else k
    iters = KM_ITERS if iters is None else iters
    if centroids is not None:
        # FROZEN-centroid form (the streaming-ingest parity side):
        # skip training, assign against the given list — bit-identical
        # to kmeans_lloyd when `centroids` came from kmeans_train on
        # the same corpus (shared _kmeans_best_cell expression).
        assign = kmeans_assign(emb, centroids)  # (vec_id, cell)
    else:
        assign = kmeans_lloyd(emb, dim, k, iters)  # (vec_id, cell)
    flat = widen(flat_normalized(emb, "vec_id", "__v", dim))
    j = flat.join(assign, "vec_id").persist()
    dot = F.expr(pair_dot_expr_spark("a.__v", "b.__v", dim))
    a, b = j.alias("a"), j.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .where(F.round(dot, 6) >= tau)
        .select(
            F.col("a.vec_id").alias("id_i"),
            F.col("b.vec_id").alias("id_j"),
        )
    )
    comp = connected_components(pairs)
    members = assign.join(comp, assign["vec_id"] == comp["id"], "left").select(
        "cell",
        F.coalesce("component", F.col("vec_id")).alias("component"),
    )
    from distributed_mapreduce_spark.caching import attach_caches

    return attach_caches(
        members.groupBy("component")
        .agg(
            F.min("cell").cast("int").alias("cell"),
            F.count("*").alias("n_members"),
        )
        .select(F.col("component").alias("rep_id"), "cell", "n_members"),
        j,
        assign,
        comp,
    )


def ml_q3_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded distributed PCA: top principal component of the
    embedding table by 3 matrix-free power-iteration steps
    (operators/similarity.power_iteration), reported as each vector's
    centered projection onto the component — the embedding-whitening /
    outlier-scoring step of a vector pipeline, and the fourth
    engine-deterministic iterative loop next to sim_q6 (k-means),
    ml_q1 (GD) and dedup_q13 (PageRank). The oracle replays the whole
    loop — mean, every s-accumulation, every normalize — bit-for-bit;
    all 2000 per-vector projections match exactly."""
    from distributed_mapreduce_spark.operators.similarity import power_iteration

    return power_iteration(_emb(spark, sf_dir), DIM)


def dedup_q19_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded SemDeDup over the embeddings fixture — see
    semdedup_representatives (the operator this query applies; the
    synthetic planted-duplicate tests exercise the same code path).

    Oracle: the shared _kmeans_assign_ctes replay (bit-identical
    centroids and assignment), the same normalized left-assoc dot,
    the shared cc_closure_sql transitive closure, and the identical
    coalesce-singleton + min-id group step."""
    return semdedup_representatives(_emb(spark, sf_dir))


def emb_q1_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 scalar quantization (the embedding-compression
    step of a vector store): codes = floor((x−min)/scale + 0.5) with
    scale = (max−min)/255. Graded on the integer code checksum per
    vector — exact, no float-comparison slack; floor(x+0.5) instead of
    round() because the engines disagree on round-half ties.

    Scale notes: pure per-row map expression — quantization of a
    100 TB embedding column streams at scan speed, no shuffle; the 4×
    size cut is what makes the IVF index RAM-resident at serving time."""
    from distributed_mapreduce_spark.sources import widen

    emb = widen(_emb(spark, sf_dir))
    v = F.transform("embedding", lambda x: x.cast("double"))
    d = emb.select("vec_id", v.alias("v"))
    mn, mx = F.array_min("v"), F.array_max("v")
    d = d.select("vec_id", "v", mn.alias("mn"), mx.alias("mx"))
    scale = (F.col("mx") - F.col("mn")) / 255
    codes = F.when(
        F.col("mx") > F.col("mn"),
        F.transform(
            "v", lambda x: F.floor((x - F.col("mn")) / scale + 0.5).cast("bigint")
        ),
    ).otherwise(F.transform("v", lambda x: F.lit(0).cast("bigint")))
    return d.select(
        "vec_id",
        F.round("mn", 6).alias("qmin"),
        F.round("mx", 6).alias("qmax"),
        F.aggregate(
            codes, F.lit(0).cast("bigint"), lambda acc, x: acc + x
        ).alias("sum_q"),
    )


def label_centroid_profile(
    emb: DataFrame, dim: int = DIM, label_col: str = "label"
) -> DataFrame:
    """Per-group embedding centroid profile — the domain-embedding
    summary a curation pipeline maintains per source/cluster/label
    (SemDeDup's cluster statistics, drift monitoring, domain-balance
    dashboards): for every label, the per-dimension mean vector plus
    the cohesion of the group around it (mean / min / max rounded
    cosine of members to their centroid). Returns one row per label:
    (label, n_vecs, centroid_norm, mean_cos, min_cos, max_cos).

    The grouped dense-vector mean applies the ml_q3 measured lesson:
    dim per-coordinate decimal aggregates evaluated IN PLACE (one wide
    agg keyed by label — never a posexplode that materializes dim×
    rows before partial aggregation). The centroid table is
    labels×dim, broadcast back for the cohesion pass — two scans
    total at any corpus size, shuffle bounded by labels×dim decimal
    partials.

    Determinism staging: per-dim means are round-12 decimal sums
    (order-independent); member cosine is the left-assoc flat-column
    chain rounded to 6 (the dedup_q6 discipline); the cohesion mean
    stages the rounded cosines through DECIMAL again."""

    def dec12(c):
        return F.round(c, 12).cast("decimal(22,12)")

    from distributed_mapreduce_spark.functions.vectors import (
        round12_decimal_mean_sql,
    )

    d = dim
    # dim-wide projections/aggregates/chains build as parsed strings —
    # the r16 construction-cost discipline (see functions/vectors.py);
    # round12_decimal_mean_sql is the same staging both engines run,
    # so using it as the Spark-side source keeps ONE definition.
    flat = emb.selectExpr(
        f"{label_col} as label",
        *[f"CAST(embedding[{i}] AS DOUBLE) as x{i}" for i in range(d)],
    ).persist()
    cents = flat.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        *[
            F.expr(round12_decimal_mean_sql(f"x{i}")).alias(f"m{i}")
            for i in range(d)
        ],
    )
    dotxm = F.expr(pair_dot_expr_spark("x", "m", d))
    nx = F.sqrt(F.expr(pair_dot_expr_spark("x", "x", d)))
    nm = F.sqrt(F.expr(pair_dot_expr_spark("m", "m", d)))
    cos = F.round(
        F.when(nx * nm > 0, dotxm / (nx * nm)).otherwise(F.lit(0.0)), 6
    )
    scored = flat.join(F.broadcast(cents), "label").select(
        "label",
        "n_vecs",
        F.round(nm, 6).alias("centroid_norm"),
        cos.alias("cos"),
    )
    from distributed_mapreduce_spark.caching import attach_caches

    return attach_caches(
        scored.groupBy("label", "n_vecs", "centroid_norm").agg(
            F.round(
                F.sum(dec12(F.col("cos"))).cast("double") / F.count("*"), 6
            ).alias("mean_cos"),
            F.min("cos").alias("min_cos"),
            F.max("cos").alias("max_cos"),
        ),
        flat,
    )


def emb_q2_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded per-label centroid profile over the embeddings fixture —
    see label_centroid_profile (the operator this query applies; the
    planted-cohesion test exercises the same code path). Graded on all
    six columns per label."""
    from distributed_mapreduce_spark.sources import widen

    return label_centroid_profile(widen(_emb(spark, sf_dir)), DIM)


def _label_centroids_sql() -> str:
    """DuckDB mirror of emb_q2_label_centroids stage by stage: the
    same flat projection, round-12 decimal per-dim means, left-assoc
    cosine chains rounded to 6, and the decimal-staged cohesion mean."""
    from distributed_mapreduce_spark.functions.vectors import round12_decimal_mean_sql

    d = DIM
    xs = ", ".join(f"CAST(embedding[{i + 1}] AS DOUBLE) AS x{i}" for i in range(d))
    means = ", ".join(
        f"{round12_decimal_mean_sql(f'x{i}')} AS m{i}" for i in range(d)
    )
    dotxm = " + ".join(f"f.x{i} * c.m{i}" for i in range(d))
    nx = "sqrt(" + " + ".join(f"f.x{i} * f.x{i}" for i in range(d)) + ")"
    nm = "sqrt(" + " + ".join(f"c.m{i} * c.m{i}" for i in range(d)) + ")"
    return f"""
        WITH flat AS (SELECT label, {xs} FROM embeddings),
        cents AS (
            SELECT label, count(*) AS n_vecs, {means}
            FROM flat GROUP BY label
        ),
        scored AS (
            SELECT f.label, c.n_vecs,
                   round({nm}, 6) AS centroid_norm,
                   round(CASE WHEN {nx} * {nm} > 0
                         THEN ({dotxm}) / ({nx} * {nm})
                         ELSE 0.0 END, 6) AS cos
            FROM flat f JOIN cents c USING (label)
        )
        SELECT label, n_vecs, centroid_norm,
               round(CAST(sum(CAST(round(cos, 12) AS DECIMAL(22,12))) AS DOUBLE)
                     / count(*), 6) AS mean_cos,
               min(cos) AS min_cos,
               max(cos) AS max_cos
        FROM scored
        GROUP BY 1, 2, 3
    """


def mm_q1_payload_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal metadata aggregation over the binary payload column."""
    mm = multimodal_table(spark, sf_dir)
    return mm.groupBy("modality").agg(
        F.count("*").alias("n_items"),
        F.sum(F.col("meta.n_bytes")).alias("total_bytes"),
        money(F.avg(F.col("meta.n_bytes").cast("decimal(18,4)"))).alias("avg_bytes"),
    )


def mm_q2_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched feature extraction (stubbed decode) aggregated per
    modality — exercises the real mapInPandas plumbing end-to-end.

    Oracle-backed: the stub feature f0 is the fraction of payload bytes
    ≡ 0 (mod FEATURE_DIM), which DuckDB reproduces on the ASCII fixture
    text with a per-char ascii() filter — so the whole Python path
    (Arrow batch → numpy decode → re-aggregation) is value-hash-graded,
    not just row-counted. Averages stage through DECIMAL (the engine-
    parity pattern used repo-wide) so accumulation order can't drift
    the low-order bits."""
    feats = extract_features(multimodal_table(spark, sf_dir))
    return feats.groupBy("modality").agg(
        F.count("*").alias("n_items"),
        F.round(F.avg(F.element_at("features", 1).cast("decimal(18,12)")), 6)
        .cast("double")
        .alias("avg_f0"),
        money(F.avg(F.col("n_bytes").cast("decimal(18,4)"))).alias("avg_bytes"),
    )


def mm_q3_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sample the video payloads (every 4th 64-byte frame) and
    fingerprint each sampled frame — per-frame rows, value-checked
    against DuckDB byte-slicing (the fixture text is ASCII, so VARCHAR
    substring mirrors the binary slice exactly)."""
    mm = multimodal_table(spark, sf_dir).where(F.col("modality") == "video")
    frames = frame_sample(mm, FRAME_BYTES, FRAME_STRIDE)
    return frames.select(
        "doc_id",
        "frame_idx",
        F.md5("frame").alias("frame_md5"),
        F.octet_length("frame").cast("bigint").alias("n_bytes"),
    )


_COS_AB = cosine_sql("a.embedding", "q.qv", DIM)
_COS_PAIR = cosine_sql("a.va", "b.vb", DIM)

# Exact cosine near-dup pairs — the dedup_q6 oracle AND the pair graph
# dedup_q11's transitive closure runs over (one SQL definition, so the
# two can never drift apart — same pattern as textops._Q3_PAIRS_SQL).
_Q6_PAIRS_SQL = f"""
        WITH n AS (
            SELECT vec_id,
                   list_transform(embedding,
                       x -> CAST(x AS DOUBLE) / sqrt({unrolled_dot_sql("embedding", "embedding", DIM)}))
                   AS ne
            FROM embeddings
            WHERE sqrt({unrolled_dot_sql("embedding", "embedding", DIM)}) > 0
        ),
        a AS (SELECT vec_id AS id_i, ne AS va FROM n),
        b AS (SELECT vec_id AS id_j, ne AS vb FROM n)
        SELECT id_i, id_j, round({unrolled_dot_sql("a.va", "b.vb", DIM)}, 6) AS cos_sim
        FROM a JOIN b ON id_i < id_j
        WHERE round({unrolled_dot_sql("a.va", "b.vb", DIM)}, 6) >= {EMB_DUP_THRESHOLD}
"""

ORACLES = {
    "sim_q1_topk_bruteforce": f"""
        WITH q AS (
            SELECT embedding AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID}
        )
        SELECT a.vec_id, round({_COS_AB}, 6) AS cos_sim
        FROM embeddings a CROSS JOIN q
        ORDER BY cos_sim DESC, a.vec_id ASC
        LIMIT {TOP_K}
    """,
    # normalize-then-dot, same op order as the Spark side: per-element
    # x/sqrt(left-assoc Σx²), then one left-assoc dot fold per pair.
    "dedup_q6_embedding_cosine": _Q6_PAIRS_SQL,
    "emb_q1_quantize": """
        WITH e AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ),
        m AS (SELECT vec_id, v, list_min(v) AS mn, list_max(v) AS mx FROM e)
        SELECT vec_id,
               round(mn, 6) AS qmin,
               round(mx, 6) AS qmax,
               CAST(list_sum(
                   CASE WHEN mx > mn
                   THEN list_transform(v, x -> CAST(floor((x - mn) / ((mx - mn) / 255) + 0.5) AS BIGINT))
                   ELSE list_transform(v, x -> CAST(0 AS BIGINT)) END
               ) AS BIGINT) AS sum_q
        FROM m
    """,
    "mm_q3_video_frames": f"""
        WITH v AS (
            SELECT doc_id, text FROM documents WHERE doc_id % 3 = 2
        ),
        i AS (
            SELECT doc_id, text,
                   unnest(range(0,
                                CAST(ceil(octet_length(encode(text)) / {FRAME_BYTES}.0) AS BIGINT),
                                {FRAME_STRIDE})) AS frame_idx
            FROM v
        )
        SELECT doc_id, frame_idx,
               md5(substring(text, CAST(frame_idx * {FRAME_BYTES} + 1 AS BIGINT), {FRAME_BYTES}))
                   AS frame_md5,
               octet_length(encode(substring(text, CAST(frame_idx * {FRAME_BYTES} + 1 AS BIGINT), {FRAME_BYTES})))
                   AS n_bytes
        FROM i
    """,
    # Full replay of the IVF build + probe (operators/similarity.py):
    # centroid table = 16 lowest-id vectors in id order; assignment =
    # per-vector argmax cosine (ties → lowest cell, mirroring Spark's
    # max(struct(score, −cell))); probe = 4 cells nearest the query;
    # final ranking identical to sim_q1's rounded-cosine TakeOrdered.
    "sim_q3_ivf_topk": f"""
        WITH cent AS (
            SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell,
                   embedding AS cvec
            FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16)
        ),
        q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
        assign AS (
            SELECT e.vec_id, c.cell,
                   {cosine_sql("e.embedding", "c.cvec", DIM)} AS score
            FROM embeddings e CROSS JOIN cent c
        ),
        best AS (
            SELECT vec_id, cell FROM (
                SELECT vec_id, cell,
                       row_number() OVER (
                           PARTITION BY vec_id ORDER BY score DESC, cell ASC
                       ) AS rn
                FROM assign
            ) WHERE rn = 1
        ),
        probe AS (
            SELECT cell FROM cent CROSS JOIN q
            ORDER BY {cosine_sql("cent.cvec", "q.qv", DIM)} DESC, cell ASC
            LIMIT 4
        )
        SELECT e.vec_id, round({cosine_sql("e.embedding", "q.qv", DIM)}, 6) AS cos_sim
        FROM embeddings e
        JOIN best ON e.vec_id = best.vec_id
        CROSS JOIN q
        WHERE best.cell IN (SELECT cell FROM probe)
        ORDER BY cos_sim DESC, e.vec_id ASC
        LIMIT {TOP_K}
    """,
    # DuckDB mirror of decode_stub's f0 (operators/multimodal.py:70-82):
    # fraction of payload bytes ≡ 0 mod FEATURE_DIM; fixture text is
    # pure ASCII (asserted: octet_length == length), so per-char
    # ascii() IS the byte value.
    "mm_q2_features": f"""
        WITH t AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 3 = 0 THEN 'image'
                        WHEN doc_id % 3 = 1 THEN 'audio'
                        ELSE 'video' END AS modality,
                   octet_length(encode(text)) AS n_bytes,
                   CASE WHEN octet_length(encode(text)) = 0 THEN CAST(0.0 AS DOUBLE)
                        ELSE len(list_filter(string_split(text, ''),
                                             c -> ascii(c) % {FEATURE_DIM} = 0))
                             * 1.0 / octet_length(encode(text)) END AS f0
            FROM documents
        )
        SELECT modality,
               count(*) AS n_items,
               CAST(round(avg(CAST(f0 AS DECIMAL(18,12))), 6) AS DOUBLE) AS avg_f0,
               CAST(round(avg(CAST(n_bytes AS DECIMAL(18,4))), 2) AS DOUBLE) AS avg_bytes
        FROM t
        GROUP BY modality
    """,
    "mm_q1_payload_stats": """
        SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
                    WHEN doc_id % 3 = 1 THEN 'audio'
                    ELSE 'video' END AS modality,
               count(*) AS n_items,
               CAST(sum(CAST(octet_length(encode(text)) AS BIGINT)) AS BIGINT) AS total_bytes,
               CAST(round(avg(CAST(octet_length(encode(text)) AS DECIMAL(18,4))), 2) AS DOUBLE) AS avg_bytes
        FROM documents
        GROUP BY 1
    """,
}

QUERIES = {
    "emb_q1_quantize": emb_q1_quantize,
    "sim_q1_topk_bruteforce": sim_q1_topk_bruteforce,
    "sim_q3_ivf_topk": sim_q3_ivf_topk,
    "dedup_q6_embedding_cosine": dedup_q6_embedding_cosine,
    "mm_q1_payload_stats": mm_q1_payload_stats,
    "mm_q2_features": mm_q2_features,
    "mm_q3_video_frames": mm_q3_video_frames,
}

# Sampled all-pairs top-k is the brute-force verifier tier of the pair
# scoring that dedup_q6 grades through its pruned composition — shadow
# tier (registry.py grading cap), still parity-checked in pytest.
def sim_q7_ivf_store_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sim_q3's probe through the MATERIALIZED serving layout
    (operators/similarity.write_ivf_store → ivf_topk): the vectors
    are written `partitionBy("cell")` into an ephemeral store
    and the probe reads only the nprobe nearest cells' partition
    directories — the `cell IN (...)` predicate prunes at the FILE
    LISTING level (plan-asserted in test_similarity.py), which is the
    read shape a 100 TB ANN index actually serves from. Same
    deterministic index build as sim_q3, bit-identical scoring
    contract, so the graded oracle is sim_q3's SQL verbatim.

    r8: the store is built INCREMENTALLY — seeded from one third of
    the vectors, then maintained with two append_ivf_store batches
    against the frozen centroids (VERDICT r8 #1). The oracle is
    unchanged: frozen-centroid assignment is deterministic, so the
    maintained store holds exactly a fresh full build's rows and the
    probe ranks identically — the graded row itself now certifies
    append ≡ rebuild."""
    from distributed_mapreduce_spark.operators.similarity import (
        append_ivf_store,
        write_ivf_store,
    )
    from distributed_mapreduce_spark.streaming.replay import ephemeral_dir

    import os as _os

    emb = _emb(spark, sf_dir)
    cents = train_centroids(emb)
    # the store is a full re-encode of the vectors — ask tmpfs for
    # that much (×3: parquet re-write + partition-dir overhead) or
    # fall back to disk; bench passes accumulate one store per call
    # until process exit, so an unsized request would pile tmpfs full
    # (code-review r7-final)
    src = _os.path.getsize(_os.path.join(sf_dir, "embeddings.parquet"))
    store = ephemeral_dir("dmr_ivf_store_", need_bytes=3 * src)
    write_ivf_store(emb.where(F.col("vec_id") % 3 == 0), cents, f"{store}/t")
    append_ivf_store(emb.where(F.col("vec_id") % 3 == 1), cents, f"{store}/t")
    append_ivf_store(emb.where(F.col("vec_id") % 3 == 2), cents, f"{store}/t")
    return ivf_topk(spark.read.parquet(f"{store}/t"), cents, _qvec(emb), TOP_K)


def sim_q8_ivfpq_store_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sim_q5's IVFADC probe through the MATERIALIZED code store
    (write_ivf_store → ivf_topk, both given the codebooks): PQ codes
    — not vectors — written partitionBy(cell); the probe
    partition-prunes to the nprobe nearest cells and ADC-ranks
    without ever reading a float vector (the scan's ReadSchema is
    the m code columns — plan-asserted in test_similarity.py). Same deterministic index
    metadata as sim_q5, so the graded oracle is sim_q5's composed SQL
    verbatim — one definition, in-memory and serving-layout read
    paths.

    r8: built incrementally like sim_q7 — seed third + two
    append_ivf_store batches against the FROZEN centroids AND
    codebooks (pq_encode is a deterministic argmin given them), so the
    unchanged oracle certifies append ≡ rebuild for the code store
    too."""
    from distributed_mapreduce_spark.operators.similarity import (
        append_ivf_store,
        train_pq_codebooks,
        write_ivf_store,
    )
    from distributed_mapreduce_spark.streaming.replay import ephemeral_dir

    import os as _os

    emb = _emb(spark, sf_dir)
    cents = train_centroids(emb)
    cbs = train_pq_codebooks(emb, DIM)
    # codes are ~m ints/vector — far smaller than the vectors — but
    # size the tmpfs ask off the source anyway (codes + footer +
    # partition dirs); accumulation caveat as in sim_q7
    src = _os.path.getsize(_os.path.join(sf_dir, "embeddings.parquet"))
    store = ephemeral_dir("dmr_ivfpq_store_", need_bytes=src)
    write_ivf_store(emb.where(F.col("vec_id") % 3 == 0), cents, f"{store}/t", cbs)
    append_ivf_store(emb.where(F.col("vec_id") % 3 == 1), cents, f"{store}/t", cbs)
    append_ivf_store(emb.where(F.col("vec_id") % 3 == 2), cents, f"{store}/t", cbs)
    return ivf_topk(
        spark.read.parquet(f"{store}/t"), cents, _qvec(emb), TOP_K, codebooks=cbs
    )


K_NN = 5  # neighbors per row in the kNN self-join


def sim_q10_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-nearest-neighbor SELF-join: every row's K_NN nearest
    neighbors by rounded cosine (id-asc tiebreak) — the all-rows twin
    of the one-query top-k tiers, and the embedding-side workhorse of
    cluster analysis / near-dup mining. Returns (id, nb, cos_sim),
    K_NN rows per id.

    Plan shape — the dedup_q6 grid plus ONE rank-limited window:
      1. normalize+flatten ONCE below the exchange (persisted; both
         sides read it), exactly dedup_q6's discipline, so scores are
         bit-identical to the oracle's normalize-then-dot replay;
      2. `_grid_self_pair_join` produces each unordered pair in ONE
         cell; a 2-struct explode emits both orientations (the dot is
         orientation-invariant bit-for-bit — multiplication commutes
         exactly), so each endpoint sees the pair;
      3. one window per id with `row_number() ≤ K_NN`: Spark ≥3.5
         plans this as WindowGroupLimit PARTIAL before the exchange +
         FINAL after (✓plan-asserted) — the engine's own map-side
         top-k combine, so the id shuffle carries ≤ K_NN rows per id
         per upstream partition instead of N. A hand-built per-cell
         pre-window was tried and REJECTED (measured in the plan): the
         alias chain through the struct-explode hides the join's
         output partitioning, so the extra window costs a FULL-volume
         exchange on (cell, id) — strictly worse than the free partial
         limit. Lesson: for rank-limit windows, don't hand-stage the
         combine; the optimizer already does.
    The approximate path is `knn_join_ivf` (r12; shadow twin
    sim_q11_knn_join_ivf): cell-local kNN over the IVF assignment or a
    `write_ivf_store` layout — ~nprobe·N·avg_cell scored pairs instead
    of this tier's Θ(N²/B); measured crossover at N=20k: 0.62× this
    grid's wall at recall 0.656 (SCALE.md). Oracle: quadratic DuckDB
    replay (every ordered pair, rank per id) — feasible at grading
    scale, which is exactly why the exact tier is the graded one."""
    from pyspark.sql import Window

    from distributed_mapreduce_spark.sources import widen

    emb = _emb(spark, sf_dir)
    flat = widen(flat_normalized(emb, "id", "__v", DIM)).persist()
    dot = F.expr(pair_dot_expr_spark("a.__v", "b.__v", DIM))
    both = (
        _grid_self_pair_join(flat, EMB_GRID_BLOCKS)
        .select(
            F.round(dot, 6).alias("cos_sim"),
            F.explode(
                F.array(
                    F.struct(
                        F.col("a.id").alias("id"), F.col("b.id").alias("nb")
                    ),
                    F.struct(
                        F.col("b.id").alias("id"), F.col("a.id").alias("nb")
                    ),
                )
            ).alias("__e"),
        )
        .select(F.col("__e.id").alias("id"), F.col("__e.nb").alias("nb"), "cos_sim")
    )
    w_glob = Window.partitionBy("id").orderBy(F.desc("cos_sim"), F.asc("nb"))
    from distributed_mapreduce_spark.caching import attach_caches

    return attach_caches(
        both.withColumn("__rg", F.row_number().over(w_glob))
        .where(F.col("__rg") <= K_NN)
        .select("id", "nb", "cos_sim"),
        flat,
    )


def sim_q11_knn_join_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-backed APPROXIMATE kNN self-join (VERDICT r11 #2) — the
    scale tier sim_q10's docstring promised: instead of the grid's
    Θ(N²/B) exact pair volume, every row probes only its nprobe
    nearest IVF cells (knn_join_ivf), so scored pairs are
    ~nprobe·N·avg_cell — linear in N once cells are bounded, which is
    the only kNN-join shape that survives an all-rows run at 100 TB.
    Same deterministic centroid build as sim_q3, so the whole pipeline
    — assignment argmax, per-row probe ranking, candidate join, per-id
    top-k — replays exactly in the DuckDB oracle; recall vs the exact
    grid tier is measured in SCALE.md and tested with a floor. Returns
    (id, nb, cos_sim), ≤ K_NN rows per id."""
    from distributed_mapreduce_spark.operators.similarity import (
        knn_join_ivf,
        train_centroids,
    )

    emb = _emb(spark, sf_dir)
    cents = train_centroids(emb)
    return knn_join_ivf(emb, cents, K_NN)


BATCH_QUERY_IDS = (0, 42, 137, 311)


def sim_q9_batch_store_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCHED multi-query probe of the materialized IVF store
    (VERDICT r8 #6 / r10 #4): a serving batch of |Q|=4 queries
    answered from ONE partition-pruned scan — assign_probe_cells ranks
    each query's nprobe cells Spark-side (bit-matched to ivf_topk's
    driver-side ranking), the scan prunes to the UNION of probed
    cells at the partition level, the broadcast query join keeps store
    rows unexchanged, and a per-query window takes each top-k. The
    oracle replays the per-query pipeline independently (sim_q3's CTEs
    with the probe and final ranking PARTITIONed BY query id), so the
    graded row certifies batch ≡ per-query loops — query_id 0 is
    QUERY_VEC_ID on purpose: its slice of this result is exactly
    sim_q7's. Returns (query_id, vec_id, cos_sim), k rows per query."""
    import os as _os

    from distributed_mapreduce_spark.operators.similarity import (
        ivf_store_topk_batch,
        write_ivf_store,
    )
    from distributed_mapreduce_spark.streaming.replay import ephemeral_dir

    emb = _emb(spark, sf_dir)
    cents = train_centroids(emb)
    src = _os.path.getsize(_os.path.join(sf_dir, "embeddings.parquet"))
    store = ephemeral_dir("dmr_ivf_batch_", need_bytes=3 * src)
    write_ivf_store(emb, cents, f"{store}/t")
    queries = emb.where(F.col("vec_id").isin(*BATCH_QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    return ivf_store_topk_batch(spark, f"{store}/t", cents, queries, TOP_K, nprobe=4)


SHADOW_QUERIES = {
    "sim_q2_top_pairs": sim_q2_top_pairs,
    "dedup_q11_embedding_clusters": dedup_q11_embedding_clusters,
    "sim_q4_pq_topk": sim_q4_pq_topk,
    "sim_q5_ivfpq_topk": sim_q5_ivfpq_topk,
    "sim_q6_kmeans_census": sim_q6_kmeans_census,
    "sim_q7_ivf_store_probe": sim_q7_ivf_store_probe,
    "sim_q8_ivfpq_store_probe": sim_q8_ivfpq_store_probe,
    "sim_q9_batch_store_probe": sim_q9_batch_store_probe,
    "sim_q10_knn_join": sim_q10_knn_join,
    "sim_q11_knn_join_ivf": sim_q11_knn_join_ivf,
    "dedup_q19_semdedup": dedup_q19_semdedup,
    "ml_q3_pca_power": ml_q3_pca_power,
    "emb_q2_label_centroids": emb_q2_label_centroids,
}


def _semdedup_sql() -> str:
    """DuckDB mirror of dedup_q19_semdedup stage by stage: the shared
    kmeans assignment replay (_kmeans_assign_ctes — bit-identical
    centroids/cells), the dedup_q6-form normalize + left-assoc dot on
    cell-equal id-ordered pairs, the shared cc_closure_sql transitive
    closure, and the identical coalesce-singleton + min-id keep."""
    ctes, assign = _kmeans_assign_ctes()
    norm = unrolled_dot_sql("embedding", "embedding", DIM)
    pairs_sql = f"""
            SELECT a.vec_id AS id_i, b.vec_id AS id_j
            FROM j a JOIN j b ON a.cell = b.cell AND a.vec_id < b.vec_id
            WHERE round({unrolled_dot_sql("a.ne", "b.ne", DIM)}, 6) >= {SEMDEDUP_TAU}
    """
    return f"""
        WITH RECURSIVE {ctes},
        n AS (
            SELECT vec_id,
                   list_transform(embedding,
                       x -> CAST(x AS DOUBLE) / sqrt({norm})) AS ne
            FROM embeddings
            WHERE sqrt({norm}) > 0
        ),
        j AS (SELECT n.vec_id, s.cell, n.ne FROM n JOIN {assign} s USING (vec_id)),
        {cc_closure_sql(pairs_sql)},
        members AS (
            SELECT s.cell, coalesce(c.component, s.vec_id) AS component
            FROM {assign} s LEFT JOIN comp c ON s.vec_id = c.id
        )
        SELECT component AS rep_id,
               CAST(min(cell) AS INTEGER) AS cell,
               count(*) AS n_members
        FROM members
        GROUP BY component
    """


def _ivfpq_sql() -> str:
    """DuckDB replay of the composed IVF+PQ pipeline: the sim_q3 IVF
    CTEs (centroids, argmax assignment, probe) select the candidate
    set; the sim_q4 PQ CTEs (codebooks, argmin encode, decimal-staged
    ADC lut) rank it. Every float expression keeps the Spark side's
    left-associative op order."""
    from distributed_mapreduce_spark.operators.similarity import (
        DEFAULT_NPROBE,
        DEFAULT_NUM_CELLS,
        PQ_CODEBOOK,
        PQ_M,
    )

    sub = DIM // PQ_M
    dist = " + ".join(
        f"(CAST(e.embedding[s.sub*{sub}+{i}+1] AS DOUBLE)"
        f" - CAST(c.cvec[s.sub*{sub}+{i}+1] AS DOUBLE))"
        f" * (CAST(e.embedding[s.sub*{sub}+{i}+1] AS DOUBLE)"
        f" - CAST(c.cvec[s.sub*{sub}+{i}+1] AS DOUBLE))"
        for i in range(sub)
    )
    lut_dot = " + ".join(
        f"CAST(q.qv[s.sub*{sub}+{i}+1] AS DOUBLE)"
        f" * CAST(c.cvec[s.sub*{sub}+{i}+1] AS DOUBLE)"
        for i in range(sub)
    )
    return f"""
        WITH ivfc AS (
            SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell,
                   embedding AS cvec
            FROM (SELECT vec_id, embedding FROM embeddings
                  ORDER BY vec_id LIMIT {DEFAULT_NUM_CELLS})
        ),
        q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
        assign AS (
            SELECT e.vec_id, c.cell,
                   {cosine_sql("e.embedding", "c.cvec", DIM)} AS score
            FROM embeddings e CROSS JOIN ivfc c
        ),
        icell AS (
            SELECT vec_id, cell FROM (
                SELECT vec_id, cell,
                       row_number() OVER (
                           PARTITION BY vec_id ORDER BY score DESC, cell ASC
                       ) AS rn
                FROM assign
            ) WHERE rn = 1
        ),
        probe AS (
            SELECT cell FROM ivfc CROSS JOIN q
            ORDER BY {cosine_sql("ivfc.cvec", "q.qv", DIM)} DESC, cell ASC
            LIMIT {DEFAULT_NPROBE}
        ),
        pqc AS (
            SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS code,
                   embedding AS cvec
            FROM (SELECT vec_id, embedding FROM embeddings
                  ORDER BY vec_id LIMIT {PQ_CODEBOOK})
        ),
        subs AS (SELECT unnest(range(0, {PQ_M})) AS sub),
        cand AS (
            SELECT e.vec_id, s.sub, c.code, {dist} AS dist
            FROM embeddings e
            SEMI JOIN (SELECT vec_id FROM icell
                       WHERE cell IN (SELECT cell FROM probe)) USING (vec_id)
            CROSS JOIN subs s CROSS JOIN pqc c
        ),
        best AS (
            SELECT vec_id, sub, code FROM (
                SELECT vec_id, sub, code,
                       row_number() OVER (
                           PARTITION BY vec_id, sub ORDER BY dist ASC, code ASC
                       ) AS rn
                FROM cand
            ) WHERE rn = 1
        ),
        lut AS (
            SELECT s.sub, c.code,
                   CAST(round({lut_dot}, 12) AS DECIMAL(22,12)) AS p
            FROM pqc c CROSS JOIN subs s CROSS JOIN q
        )
        SELECT b.vec_id,
               CAST(round(sum(l.p), 6) AS DOUBLE) AS approx_dot
        FROM best b JOIN lut l ON b.sub = l.sub AND b.code = l.code
        GROUP BY b.vec_id
        ORDER BY approx_dot DESC, b.vec_id ASC
        LIMIT {TOP_K}
    """


def _pq_sql() -> str:
    """DuckDB replay of the PQ build + encode + ADC (operators/
    similarity.py::train_pq_codebooks/pq_encode/pq_adc_topk), with the
    identical float-op order everywhere: squared-L2 encode distances
    and lut dots are left-associative chains over CAST-to-DOUBLE
    elements; lut partials round to 12 into DECIMAL(22,12) so the
    per-row sum is exact and order-independent on both engines."""
    from distributed_mapreduce_spark.operators.similarity import PQ_CODEBOOK, PQ_M

    sub = DIM // PQ_M
    dist = " + ".join(
        f"(CAST(e.embedding[s.sub*{sub}+{i}+1] AS DOUBLE)"
        f" - CAST(c.cvec[s.sub*{sub}+{i}+1] AS DOUBLE))"
        f" * (CAST(e.embedding[s.sub*{sub}+{i}+1] AS DOUBLE)"
        f" - CAST(c.cvec[s.sub*{sub}+{i}+1] AS DOUBLE))"
        for i in range(sub)
    )
    lut_dot = " + ".join(
        f"CAST(q.qv[s.sub*{sub}+{i}+1] AS DOUBLE)"
        f" * CAST(c.cvec[s.sub*{sub}+{i}+1] AS DOUBLE)"
        for i in range(sub)
    )
    return f"""
        WITH cent AS (
            SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS code,
                   embedding AS cvec
            FROM (SELECT vec_id, embedding FROM embeddings
                  ORDER BY vec_id LIMIT {PQ_CODEBOOK})
        ),
        subs AS (SELECT unnest(range(0, {PQ_M})) AS sub),
        q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
        cand AS (
            SELECT e.vec_id, s.sub, c.code, {dist} AS dist
            FROM embeddings e CROSS JOIN subs s CROSS JOIN cent c
        ),
        best AS (
            SELECT vec_id, sub, code FROM (
                SELECT vec_id, sub, code,
                       row_number() OVER (
                           PARTITION BY vec_id, sub ORDER BY dist ASC, code ASC
                       ) AS rn
                FROM cand
            ) WHERE rn = 1
        ),
        lut AS (
            SELECT s.sub, c.code,
                   CAST(round({lut_dot}, 12) AS DECIMAL(22,12)) AS p
            FROM cent c CROSS JOIN subs s CROSS JOIN q
        )
        SELECT b.vec_id,
               CAST(round(sum(l.p), 6) AS DOUBLE) AS approx_dot
        FROM best b JOIN lut l ON b.sub = l.sub AND b.code = l.code
        GROUP BY b.vec_id
        ORDER BY approx_dot DESC, b.vec_id ASC
        LIMIT {TOP_K}
    """

SHADOW_ORACLES = {
    "sim_q4_pq_topk": _pq_sql(),
    "sim_q5_ivfpq_topk": _ivfpq_sql(),
    # the store probes compute exactly sim_q3's / sim_q5's results
    # through the partitioned layouts — one oracle definition each,
    # two read paths
    "sim_q7_ivf_store_probe": ORACLES["sim_q3_ivf_topk"],
    "sim_q8_ivfpq_store_probe": _ivfpq_sql(),
    # sim_q3's replay generalized to a QUERY SET: the same cent /
    # assign / best CTEs, with the probe and the final top-k each
    # PARTITIONed BY query_id — one independent per-query pipeline per
    # row of q, which is exactly the "batch ≡ per-query loop" claim
    # the batched probe must satisfy.
    "sim_q9_batch_store_probe": f"""
        WITH cent AS (
            SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell,
                   embedding AS cvec
            FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16)
        ),
        q AS (
            SELECT vec_id AS query_id, embedding AS qv
            FROM embeddings WHERE vec_id IN {BATCH_QUERY_IDS}
        ),
        assign AS (
            SELECT e.vec_id, c.cell,
                   {cosine_sql("e.embedding", "c.cvec", DIM)} AS score
            FROM embeddings e CROSS JOIN cent c
        ),
        best AS (
            SELECT vec_id, cell FROM (
                SELECT vec_id, cell,
                       row_number() OVER (
                           PARTITION BY vec_id ORDER BY score DESC, cell ASC
                       ) AS rn
                FROM assign
            ) WHERE rn = 1
        ),
        probe AS (
            SELECT query_id, cell FROM (
                SELECT q.query_id, cent.cell,
                       row_number() OVER (
                           PARTITION BY q.query_id
                           ORDER BY {cosine_sql("cent.cvec", "q.qv", DIM)} DESC,
                                    cent.cell ASC
                       ) AS rn
                FROM cent CROSS JOIN q
            ) WHERE rn <= 4
        ),
        scored AS (
            SELECT q.query_id, e.vec_id,
                   round({cosine_sql("e.embedding", "q.qv", DIM)}, 6) AS cos_sim
            FROM embeddings e
            JOIN best ON e.vec_id = best.vec_id
            JOIN probe p ON best.cell = p.cell
            JOIN q ON q.query_id = p.query_id
        )
        SELECT query_id, vec_id, cos_sim FROM (
            SELECT query_id, vec_id, cos_sim,
                   row_number() OVER (
                       PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC
                   ) AS rn
            FROM scored
        ) WHERE rn <= {TOP_K}
    """,
    # kNN self-join replay: normalize-then-dot per ORDERED pair (the
    # dot is orientation-invariant bit-for-bit, so scoring a JOIN b ON
    # id <> nb reproduces the grid's canonical-orientation scores
    # exactly), then rank per id. Quadratic on purpose — grading scale
    # makes the exact replay feasible.
    "sim_q10_knn_join": f"""
        WITH n AS (
            SELECT vec_id,
                   list_transform(embedding,
                       x -> CAST(x AS DOUBLE) / sqrt({unrolled_dot_sql("embedding", "embedding", DIM)}))
                   AS ne
            FROM embeddings
            WHERE sqrt({unrolled_dot_sql("embedding", "embedding", DIM)}) > 0
        ),
        a AS (SELECT vec_id AS id, ne AS va FROM n),
        b AS (SELECT vec_id AS nb, ne AS vb FROM n),
        scored AS (
            SELECT id, nb,
                   round({unrolled_dot_sql("a.va", "b.vb", DIM)}, 6) AS cos_sim
            FROM a JOIN b ON id <> nb
        )
        SELECT id, nb, cos_sim FROM (
            SELECT id, nb, cos_sim,
                   row_number() OVER (
                       PARTITION BY id ORDER BY cos_sim DESC, nb ASC
                   ) AS rn
            FROM scored
        ) WHERE rn <= {K_NN}
    """,
    # Full DuckDB replay of the IVF kNN-join pipeline: the sim_q3 CTEs
    # (deterministic centroids, argmax cell assignment) plus a per-ROW
    # probe ranking (row_number ≤ nprobe — every row is a query), the
    # cell-equality candidate join, and the per-id top-K_NN ranking.
    # Operand order: scores(e, c) serves both assignment and probe
    # ranking — cosine is bit-commutative (products and the two sqrt
    # factors commute exactly), so it equals the Spark side's
    # cosine(cvec, qvec) orientation bit-for-bit. Pair scoring is the
    # sim_q10 contract verbatim — normalize once (zero-norm rows have
    # no cosine neighbors and drop out), ONE dot per pair, round 6.
    "sim_q11_knn_join_ivf": f"""
        WITH cent AS (
            SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell,
                   embedding AS cvec
            FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16)
        ),
        scores AS (
            SELECT e.vec_id, c.cell,
                   {cosine_sql("e.embedding", "c.cvec", DIM)} AS score
            FROM embeddings e CROSS JOIN cent c
        ),
        ranked AS (
            SELECT vec_id, cell,
                   row_number() OVER (
                       PARTITION BY vec_id ORDER BY score DESC, cell ASC
                   ) AS rn
            FROM scores
        ),
        best AS (SELECT vec_id, cell FROM ranked WHERE rn = 1),
        probe AS (SELECT vec_id, cell FROM ranked WHERE rn <= 4),
        cand AS (
            SELECT p.vec_id AS id, b.vec_id AS nb
            FROM probe p JOIN best b ON b.cell = p.cell AND b.vec_id != p.vec_id
        ),
        n AS (
            SELECT vec_id,
                   list_transform(embedding,
                       x -> CAST(x AS DOUBLE) / sqrt({unrolled_dot_sql("embedding", "embedding", DIM)}))
                   AS ne
            FROM embeddings
            WHERE sqrt({unrolled_dot_sql("embedding", "embedding", DIM)}) > 0
        ),
        scored AS (
            SELECT c.id, c.nb,
                   round({unrolled_dot_sql("n1.ne", "n2.ne", DIM)}, 6) AS cos_sim
            FROM cand c
            JOIN n n1 ON n1.vec_id = c.id
            JOIN n n2 ON n2.vec_id = c.nb
        )
        SELECT id, nb, cos_sim FROM (
            SELECT id, nb, cos_sim,
                   row_number() OVER (
                       PARTITION BY id ORDER BY cos_sim DESC, nb ASC
                   ) AS rn
            FROM scored
        ) WHERE rn <= {K_NN}
        ORDER BY id, cos_sim DESC, nb ASC
    """,
    "sim_q6_kmeans_census": _kmeans_sql(),
    # Transitive closure over the same pair graph as the dedup_q6
    # oracle (the shared cc_closure_sql chain); component label = min
    # reachable vec id — the Spark side's min-label fixpoint (same
    # shape as dedup_q7's).
    "dedup_q11_embedding_clusters": f"""
        WITH RECURSIVE {cc_closure_sql(_Q6_PAIRS_SQL)}
        SELECT component, count(*) AS n_vecs FROM comp GROUP BY component
    """,
    "sim_q2_top_pairs": f"""
        WITH s AS (
            SELECT vec_id, embedding FROM embeddings WHERE vec_id % {PAIR_SAMPLE_MOD} = 0
        ),
        a AS (SELECT vec_id AS id_i, embedding AS va FROM s),
        b AS (SELECT vec_id AS id_j, embedding AS vb FROM s)
        SELECT id_i, id_j, round({_COS_PAIR}, 6) AS cos_sim
        FROM a CROSS JOIN b
        WHERE id_i < id_j
        ORDER BY cos_sim DESC, id_i ASC, id_j ASC
        LIMIT {TOP_PAIRS}
    """,
    "dedup_q19_semdedup": _semdedup_sql(),
    "ml_q3_pca_power": power_iteration_sql(DIM),
    "emb_q2_label_centroids": _label_centroids_sql(),
}
