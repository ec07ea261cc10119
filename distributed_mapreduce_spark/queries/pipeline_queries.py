"""Training-data pipeline queries ([EXT] north star): deterministic
corpus mixing (stratified sampling, train/holdout split) and benchmark
decontamination over `documents`.

All three are oracle-backed: the sampling hash is md5-prefix
arithmetic both engines compute identically (operators/sampling.py),
and the contamination shingles reuse the exact tokenizer mirror the
dedup oracles use — so the driver checks the SAMPLED ROW SETS and the
per-document overlap values, not just aggregates of convenience.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_mapreduce_spark.operators.contamination import (
    contamination_report,
    contamination_report_tagged,
)
from distributed_mapreduce_spark.operators.dedup import doc_shingles
from distributed_mapreduce_spark.queries.textops import (
    MAX_SHINGLE_DF,
    NEAR_DUP_JACCARD,
)
from distributed_mapreduce_spark.operators.packing import pack_greedy
from distributed_mapreduce_spark.operators.sampling import (
    hash_bucket_sql,
    hash_uniform,
    hash_uniform_sql,
    split_train_holdout,
    stratified_sample,
    weighted_sample_k,
)
from distributed_mapreduce_spark.sources import table, widen

# Mixture config: target keep-rate per language stratum (a real
# pipeline loads this from a config store; here it is the fixture of
# the graded query).
MIX_RATES = {"en": 0.5, "de": 0.3, "fr": 0.2, "es": 0.1, "zh": 0.05}
HOLDOUT_PCT = 10  # buckets 0..9 of 100 → deterministic 10% holdout

BENCH_SOURCE = "src0"  # the stand-in "benchmark" corpus
CONTAM_MIN_OVERLAP = 0.5


def mix_q1_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language downsampling to the MIX_RATES targets,
    reported per (lang, source) cell — the corpus-mixing step. The
    sampled set is layout-independent (hash-bucket, not Bernoulli), so
    the oracle reproduces the exact same rows."""
    docs = widen(table(spark, sf_dir, "documents"))
    kept = stratified_sample(docs, "lang", MIX_RATES, key_col="doc_id")
    return kept.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


def mix_q2_train_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disjoint, exhaustive train/holdout split by doc_id hash — the
    leakage-safe randomSplit() replacement. Graded on per-split doc and
    char totals (the splits are exact row sets, mirrored in SQL)."""
    docs = widen(table(spark, sf_dir, "documents"))
    train, holdout = split_train_holdout(docs, "doc_id", HOLDOUT_PCT)
    lab = lambda df, name: df.select(
        F.lit(name).alias("split"), "doc_id", "n_chars"
    )
    return (
        lab(train, "train")
        .unionAll(lab(holdout, "holdout"))
        .groupBy("split")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars"))
    )


K_PER_STRATUM = 8


def mix_q3_k_per_stratum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k-per-stratum deterministic sample: rank documents
    inside each (lang) stratum by content hash (layout-independent,
    uniform-ish) and keep the first k — the fixed-size cousin of the
    rate sample in mix_q1, used for eval-set carving. One window
    shuffle on the stratum key; ties impossible (doc_id tiebreak)."""
    from pyspark.sql import Window

    from distributed_mapreduce_spark.operators.sampling import hash_bucket

    docs = widen(table(spark, sf_dir, "documents"))
    w = Window.partitionBy("lang").orderBy(
        hash_bucket("doc_id", 2**31).asc(), F.col("doc_id").asc()
    )
    return (
        docs.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= K_PER_STRATUM)
        .select("lang", "doc_id", "source", F.col("rk").cast("bigint").alias("rk"))
    )


WEIGHTED_K = 6


def mix_q5_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-proportional k-per-stratum sample (Efraimidis–Spirakis
    over the content-addressed uniform — operators/sampling.
    weighted_sample_k): 6 documents per language, selection probability
    ∝ n_chars — the temperature-mixing sampler next to mix_q3's uniform
    cousin. Graded on the exact selected ROW SET."""
    docs = widen(table(spark, sf_dir, "documents"))
    kept = weighted_sample_k(docs, "lang", "n_chars", "doc_id", WEIGHTED_K)
    return kept.select("lang", "doc_id", "n_chars", "rk")


def pipe_q3_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus interchange-format certification: the documents table
    flows through a JSON-lines sink (sources/files.write_jsonl — the
    format LLM corpora actually ship in) and a schema-provided
    JSON-lines scan, and must survive byte-exact — the oracle compares
    the ROUNDTRIPPED rows, column by column, against the parquet
    originals, so this certifies the sink encoder + scan decoder pair,
    not an in-memory plan (the mr_q4 discipline applied to the generic
    multi-column typed format).

    Scale notes: the JSONL write is one committer-atomic pass; the
    read back is schema-provided (no inference job) and line-splittable
    — at 100 TB both sides stream at scan speed with no shuffle."""
    import shutil
    import tempfile

    from distributed_mapreduce_spark.sources.files import read_jsonl, write_jsonl

    docs = widen(table(spark, sf_dir, "documents"))
    tmp = tempfile.mkdtemp(prefix="pipe_q3_jsonl_")
    try:
        write_jsonl(docs, f"{tmp}/docs")
        back = read_jsonl(
            spark,
            f"{tmp}/docs",
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        # Materialize before the temp dir vanishes (mr_q4 convention).
        return back.select(
            "doc_id", "text", "lang", "source", "n_chars"
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# Budget-constrained temperature mixing (mix_q6): total sampled budget
# as a fraction of the corpus, split across languages by sqrt-flattened
# share (temperature α = 0.5 — the multilingual-mixing standard that
# upweights low-resource strata relative to proportional sampling).
MIX_BUDGET_FRAC = 0.5


def mix_q6_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budget-constrained mixture sampling — the data-mixing op a
    training run executes when the deliverable is a TOKEN BUDGET, not
    a row count (mix_q5's k-per-stratum cousin): each language gets
    budget_l = floor(FRAC · T · sqrt(tot_l) / Σ sqrt(tot_m)) characters
    (sqrt = temperature-0.5 flattening of the corpus share), then docs
    are admitted in deterministic content-addressed order (the mix_q3
    hash order) while the running character total fits the budget.
    Graded on the exact admitted row set.

    Engine-parity notes: sqrt is IEEE-correctly-rounded in both
    engines; the per-language weights stage through DECIMAL
    (round-6 → DECIMAL(28,6), exact order-free sum) and the budget is
    ONE fixed-order double expression floor'd to bigint; the running
    total is an exact integer window sum over a unique (hash, doc_id)
    order — no float comparison anywhere in the admission predicate.

    Scale shape: one map-side-partial groupBy for per-language totals,
    a 5-row broadcast of the budget table, and one per-language window
    (rank + running sum in the same sort) — the same single-shuffle
    shape as mix_q3; at 100 TB the stratum count stays tiny while the
    window parallelizes per language partition, and a skewed stratum
    splits by pre-ranking on the hash prefix."""
    from pyspark.sql import Window

    from distributed_mapreduce_spark.operators.sampling import hash_bucket

    docs = widen(table(spark, sf_dir, "documents"))
    tot = docs.groupBy("lang").agg(F.sum("n_chars").alias("tot"))
    s = tot.select(
        "lang",
        "tot",
        F.round(F.sqrt(F.col("tot").cast("double")), 6)
        .cast("decimal(28,6)")
        .alias("s"),
    )
    denom = s.agg(
        F.sum("s").alias("denom"), F.sum("tot").alias("t_chars")
    )
    budgets = s.crossJoin(F.broadcast(denom)).select(
        "lang",
        F.floor(
            F.lit(MIX_BUDGET_FRAC)
            * F.col("t_chars").cast("double")
            * F.col("s").cast("double")
            / F.col("denom").cast("double")
        )
        .cast("bigint")
        .alias("budget_chars"),
    )
    order = [hash_bucket("doc_id", 2**31).asc(), F.col("doc_id").asc()]
    w = Window.partitionBy("lang").orderBy(*order)
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = docs.select(
        "lang",
        "doc_id",
        "n_chars",
        F.row_number().over(w).alias("rk"),
        F.sum("n_chars").over(wsum).alias("cum_chars"),
    )
    return (
        ranked.join(F.broadcast(budgets), "lang")
        .where(F.col("cum_chars") <= F.col("budget_chars"))
        .select(
            "lang",
            "doc_id",
            "n_chars",
            F.col("rk").cast("bigint").alias("rk"),
            F.col("cum_chars").cast("bigint").alias("cum_chars"),
            "budget_chars",
        )
    )


# Per-language epoch targets for upsampling: how many times each
# stratum is repeated in the training mixture (fractional epochs are
# the published practice — GPT-3's Table 2.2 and the LLaMA data recipe
# both repeat high-quality sources 1-4 epochs, fractionally).
MIX_EPOCHS = {"en": 1.0, "de": 2.5, "fr": 3.25, "es": 0.5, "zh": 4.0}


def mix_q7_epoch_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fractional-epoch domain upsampling — the mixing op that REPEATS
    strata instead of downsampling them (mix_q1's inverse direction):
    every document of language l appears floor(e_l) times, plus one
    extra copy for the deterministic hash-selected frac(e_l) share of
    the stratum (the content-addressed uniform, so the extra-copy set
    is reproducible across runs, layouts, and cluster widths — the
    stratified_sample contract). Emits one manifest row per COPY with
    its copy index; strata at e < 1 keep only the selected share.
    Graded on the exact expanded row set.

    Engine parity by construction: the copy count is integer CASE
    arithmetic over the md5-prefix uniform (hash_uniform ≡
    hash_uniform_sql, bit-identical), and the expansion is
    sequence/generate_series over exact integers.

    Scale shape: one per-row map + explode (a generator projection —
    no shuffle, no join); at 100 TB ship the (doc_id, n_copies)
    manifest and expand at read time inside the data loader — same
    query minus the explode."""
    import math

    docs = widen(table(spark, sf_dir, "documents"))
    expr = None
    for lang, e in MIX_EPOCHS.items():
        base, frac = int(math.floor(e)), round(e - math.floor(e), 6)
        copies = F.lit(base)
        if frac > 0:
            copies = copies + F.when(
                hash_uniform("doc_id") < F.lit(frac), 1
            ).otherwise(0)
        branch = (F.col("lang") == lang, copies)
        expr = F.when(*branch) if expr is None else expr.when(*branch)
    n_copies = expr.otherwise(F.lit(0)).cast("int")
    base = docs.select("doc_id", "lang", n_copies.alias("n_copies")).where(
        F.col("n_copies") >= 1
    )
    return base.select(
        "doc_id",
        "lang",
        F.explode(F.sequence(F.lit(1), F.col("n_copies"))).alias("__ci"),
    ).select("doc_id", "lang", F.col("__ci").cast("bigint").alias("copy_idx"))


def contam_q1_benchmark_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: for every document of the
    `BENCH_SOURCE` corpus, the fraction of its word-3-gram shingles that
    appear anywhere in the rest of the corpus (the 'training set'), with
    the contamination flag at 0.5 — per-document rows, oracle-checked
    value by value."""
    docs = widen(table(spark, sf_dir, "documents"))
    # ONE scan+tokenize+explode pass over the whole corpus, tagged with
    # the bench flag and persisted — the report reads it twice (flag
    # agg + bench join side), which previously cost a full
    # tokenize pass per read (VERDICT r3 item 5). At 100 TB this
    # intermediate is exactly the stage a pipeline checkpoints to
    # parquet; persist() is the fixture-scale stand-in (cache lifetime:
    # see the convention note on jaccard_pairs).
    sh = doc_shingles(
        docs, carry=((F.col("source") == BENCH_SOURCE).alias("is_bench"),)
    ).persist()
    # ONE-PASS report over the tagged expansion (r17, VERDICT r16 #3 —
    # measured −15%: 2.04 → 1.73 s min-of-5 same-window): the two-sided
    # contamination_report re-read the cache three times and paid a
    # full distinct exchange over the corpus-sized train expansion; the
    # tagged form folds the train-hit flag into one keyed aggregation
    # and joins the small-by-construction bench side onto it, the
    # build side left to the planner's size stats. (A broadcast
    # bench-key PREFILTER of the train side — VERDICT's literal
    # suggestion — was measured and rejected: 2.28 vs 2.04 s, the two
    # extra broadcast builds cost more than the distinct they saved.)
    rep = contamination_report_tagged(sh, CONTAM_MIN_OVERLAP)
    from distributed_mapreduce_spark.caching import attach_caches

    return attach_caches(
        rep.select(
            F.col("id").alias("doc_id"),
            "n_shingles",
            "n_hit",
            "overlap",
            F.col("contaminated").cast("int").alias("contaminated"),
        ),
        sh,
    )


PACK_BUDGET = 2048  # chars per packed bin (stand-in for a token budget)


def pack_q1_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing of each source shard into 2048-char
    bins — per-document bin assignment, value-checked against a DuckDB
    recursive CTE running the identical sequential fold."""
    docs = widen(table(spark, sf_dir, "documents"))
    return pack_greedy(docs, PACK_BUDGET)


_BUCKET = hash_bucket_sql("doc_id")

_RATE_CASE = "CASE lang " + " ".join(
    f"WHEN '{lang}' THEN {rate}" for lang, rate in MIX_RATES.items()
) + " ELSE 0.0 END"

# DuckDB mirror of functions.text.tokens() — same as the dedup oracles.
_TOKS_SQL = "list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> '')"


def _shingle_cte(pred: str) -> str:
    return f"""
        SELECT DISTINCT doc_id AS id,
               unnest(list_transform(range(1, greatest(len(ts) - 1, 1)),
                                     i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS shingle
        FROM (SELECT doc_id, {_TOKS_SQL} AS ts FROM documents WHERE {pred})
    """


ORACLES = {
    "pack_q1_greedy": f"""
        WITH RECURSIVE d AS (
            SELECT source, doc_id, n_chars,
                   row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
            FROM documents
        ),
        p AS (
            SELECT source, doc_id, n_chars, rn,
                   CAST(0 AS BIGINT) AS bin_idx,
                   CAST(n_chars AS BIGINT) AS bin_fill
            FROM d WHERE rn = 1
            UNION ALL
            SELECT d.source, d.doc_id, d.n_chars, d.rn,
                   CASE WHEN p.bin_fill + d.n_chars > {PACK_BUDGET}
                        THEN p.bin_idx + 1 ELSE p.bin_idx END,
                   CASE WHEN p.bin_fill + d.n_chars > {PACK_BUDGET}
                        THEN CAST(d.n_chars AS BIGINT)
                        ELSE p.bin_fill + d.n_chars END
            FROM d JOIN p ON d.source = p.source AND d.rn = p.rn + 1
        )
        SELECT source, doc_id, bin_idx, bin_fill FROM p
    """,
    "mix_q1_stratified_sample": f"""
        SELECT lang, source, count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM documents
        WHERE {_BUCKET} < ({_RATE_CASE}) * 100
        GROUP BY lang, source
    """,
    "mix_q3_k_per_stratum": f"""
        WITH ranked AS (
            SELECT lang, doc_id, source,
                   row_number() OVER (
                       PARTITION BY lang
                       ORDER BY {hash_bucket_sql("doc_id", 2**31)} ASC, doc_id ASC
                   ) AS rk
            FROM documents
        )
        SELECT lang, doc_id, source, CAST(rk AS BIGINT) AS rk
        FROM ranked WHERE rk <= {K_PER_STRATUM}
    """,
    "contam_q1_benchmark_overlap": f"""
        WITH bench_sh AS ({_shingle_cte(f"source = '{BENCH_SOURCE}'")}),
        train_sh AS (
            SELECT DISTINCT shingle FROM ({_shingle_cte(f"source <> '{BENCH_SOURCE}'")})
        ),
        sizes AS (SELECT id, count(*) AS n_shingles FROM bench_sh GROUP BY id),
        hits AS (
            SELECT id, count(*) AS n_hit
            FROM bench_sh SEMI JOIN train_sh USING (shingle)
            GROUP BY id
        )
        SELECT sizes.id AS doc_id,
               n_shingles,
               coalesce(n_hit, 0) AS n_hit,
               round(coalesce(n_hit, 0) / n_shingles, 6) AS overlap,
               CAST(round(coalesce(n_hit, 0) / n_shingles, 6) >= {CONTAM_MIN_OVERLAP} AS INT)
                   AS contaminated
        FROM sizes LEFT JOIN hits ON sizes.id = hits.id
    """,
}

QUERIES = {
    "pack_q1_greedy": pack_q1_greedy,
    "mix_q1_stratified_sample": mix_q1_stratified_sample,
    "mix_q3_k_per_stratum": mix_q3_k_per_stratum,
    "contam_q1_benchmark_overlap": contam_q1_benchmark_overlap,
}

def pipe_q1_training_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END training-data pipeline in one plan: quality gate →
    near-dup removal (keep one representative per cluster) → mixture
    sampling — the composition every cleaning run executes, graded on
    the EXACT final manifest row set. Stages reuse the individually
    graded operators (text_q6's filter predicate, dedup_q3/q7's pair
    graph + components, mix_q1's hash-bucket sampler), so this query
    certifies that the pieces compose without semantic drift.

    Scale shape = the sum of its parts, all previously audited: the
    quality gate is a scan-speed map; the pair graph is df-bounded
    inverted-index machinery whose output is O(#near-dups); the
    anti-join's right side is the (tiny) duplicate list, AQE
    broadcasts it; sampling is a map predicate. One corpus scan for
    quality + one for shingles — a production run would share one
    persisted scan (the jaccard_pairs convention note)."""
    from distributed_mapreduce_spark.functions.text import (
        avg_token_len,
        stopword_ratio,
        token_count,
        tokens,
    )
    from distributed_mapreduce_spark.operators.components import connected_components
    from distributed_mapreduce_spark.operators.dedup import jaccard_pairs
    from distributed_mapreduce_spark.queries.textops import (
        MAX_SHINGLE_DF,
        NEAR_DUP_JACCARD,
        QF_MAX_TOK_LEN,
        QF_MAX_TOKENS,
        QF_MIN_SW_RATIO,
        QF_MIN_TOK_LEN,
        QF_MIN_TOKENS,
    )

    docs = widen(table(spark, sf_dir, "documents"))
    toks = tokens("text")
    scored = docs.select(
        "doc_id",
        "lang",
        "source",
        token_count("text").alias("n_tok"),
        stopword_ratio(toks, "en").alias("swr"),
        avg_token_len(toks).alias("atl"),
    )
    passing = scored.where(
        F.col("n_tok").between(QF_MIN_TOKENS, QF_MAX_TOKENS)
        & (F.col("swr") >= QF_MIN_SW_RATIO)
        & F.col("atl").between(QF_MIN_TOK_LEN, QF_MAX_TOK_LEN)
    )
    pairs = jaccard_pairs(doc_shingles(docs, max_df=MAX_SHINGLE_DF), NEAR_DUP_JACCARD)
    comp = connected_components(pairs)
    drop = comp.where(F.col("id") != F.col("component")).select(
        F.col("id").alias("doc_id")
    )
    manifest = passing.join(drop, "doc_id", "left_anti")
    return stratified_sample(manifest, "lang", MIX_RATES, key_col="doc_id").select(
        "doc_id", "lang", "source", F.col("n_tok").cast("bigint").alias("n_tok")
    )


def _manifest_sql() -> str:
    """DuckDB replay of the composed pipeline, built FROM the same SQL
    fragments the stage oracles use (textops._Q3_PAIRS_SQL, the
    text_q6 quality CTE shape, mix_q1's bucket predicate) — one
    definition per stage, so the composition oracle cannot drift from
    the stage oracles."""
    from distributed_mapreduce_spark.queries.textops import (
        _Q3_PAIRS_SQL,
        _SW_EN,
        _TOKS_SQL,
        QF_MAX_TOK_LEN,
        QF_MAX_TOKENS,
        QF_MIN_SW_RATIO,
        QF_MIN_TOK_LEN,
        QF_MIN_TOKENS,
    )

    return f"""
        WITH RECURSIVE t AS (
            SELECT doc_id, lang, source, {_TOKS_SQL} AS ts FROM documents
        ),
        per_doc AS (
            SELECT doc_id, lang, source,
                   CAST(len(ts) AS BIGINT) AS n_tok,
                   CASE WHEN len(ts) > 0
                        THEN len(list_filter(ts, x -> list_contains([{_SW_EN}], x))) / len(ts)
                        ELSE 0.0 END AS swr,
                   CASE WHEN len(ts) > 0
                        THEN list_sum(list_transform(ts, x -> length(x))) / len(ts)
                        ELSE 0.0 END AS atl
            FROM t
        ),
        passing AS (
            SELECT doc_id, lang, source, n_tok FROM per_doc
            WHERE n_tok BETWEEN {QF_MIN_TOKENS} AND {QF_MAX_TOKENS}
              AND swr >= {QF_MIN_SW_RATIO}
              AND atl BETWEEN {QF_MIN_TOK_LEN} AND {QF_MAX_TOK_LEN}
        ),
        pairs AS ({_Q3_PAIRS_SQL}),
        edges AS (
            SELECT id_i AS a, id_j AS b FROM pairs
            UNION
            SELECT id_j AS a, id_i AS b FROM pairs
        ),
        reach AS (
            SELECT a, b FROM edges
            UNION
            SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
        ),
        comp AS (
            SELECT a AS id, least(a, min(b)) AS component FROM reach GROUP BY a
        ),
        dropped AS (SELECT id AS doc_id FROM comp WHERE id <> component),
        manifest AS (
            SELECT doc_id, lang, source, n_tok
            FROM passing ANTI JOIN dropped USING (doc_id)
        )
        SELECT doc_id, lang, source, n_tok
        FROM manifest
        WHERE {_BUCKET} < ({_RATE_CASE}) * 100
    """


def contam_q2_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decontamination REMOVAL step (contam_q1 flags; this one
    scrubs): drop every TRAINING document whose word-3-gram shingles
    overlap the benchmark corpus at ≥ the contamination threshold, and
    return the surviving training manifest — the roles of contam_q1
    reversed (there bench docs are scored against train shingles; a
    real pipeline must ALSO delete leaking train docs). Graded on the
    exact surviving row set.

    Scale shape identical to contam_q1: one tagged shingle pass, a
    DISTINCT bench-shingle set, a semi-join membership probe — never a
    pair join; removal is an anti-join of the flag set."""
    docs = widen(table(spark, sf_dir, "documents"))
    sh = doc_shingles(
        docs, carry=((F.col("source") == BENCH_SOURCE).alias("is_bench"),)
    ).persist()
    bench_sh = sh.where(F.col("is_bench")).select("id", "shingle")
    train_sh = sh.where(~F.col("is_bench")).select("id", "shingle")
    # score TRAIN docs against BENCH shingles (the reverse probe)
    rep = contamination_report(train_sh, bench_sh, CONTAM_MIN_OVERLAP)
    dirty = rep.where(F.col("contaminated")).select("id")
    from distributed_mapreduce_spark.caching import attach_caches

    return attach_caches(
        docs.where(F.col("source") != BENCH_SOURCE)
        .join(dirty, docs.doc_id == dirty.id, "left_anti")
        .select("doc_id", "source", "lang", "n_chars"),
        sh,
    )


def ml_q1_scaling_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded distributed model training: fit chars ≈ f(tokens) by 3
    full-batch gradient-descent steps (operators/regression.linreg_gd)
    on scaled corpus features — the corpus-statistics regression step
    of a data pipeline (length modeling, scaling-law fits), and the
    third engine-deterministic iterative loop next to sim_q6 (k-means)
    and dedup_q13 (PageRank). The oracle replays every descent step;
    the 1-row result (w0, w1, mse, n) matches bit-for-bit."""
    from distributed_mapreduce_spark.functions.text import token_count
    from distributed_mapreduce_spark.operators.regression import linreg_gd

    docs = widen(table(spark, sf_dir, "documents"))
    xy = docs.select(
        (token_count("text").cast("double") / F.lit(100.0)).alias("x"),
        (F.col("n_chars").cast("double") / F.lit(1000.0)).alias("y"),
    )
    return linreg_gd(xy)


def _ml_q1_sql() -> str:
    from distributed_mapreduce_spark.operators.regression import linreg_gd_sql
    from distributed_mapreduce_spark.queries.textops import _TOKS_SQL

    return linreg_gd_sql(
        f"""SELECT CAST(len({_TOKS_SQL}) AS DOUBLE) / 100.0 AS x,
                   CAST(n_chars AS DOUBLE) / 1000.0 AS y
            FROM documents"""
    )


def ml_q2_svm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded classifier training: a linear quality classifier
    (hinge-loss subgradient descent, operators/regression.linsvm_gd)
    fit to reproduce the rule-based text_q6 quality gate from two
    features (scaled token count, en-stopword ratio) — the
    train-a-cheap-filter-from-a-teacher step of a data pipeline.
    Hinge (not logistic) because exp() is not bit-identical across
    engines; every hinge descent step is, so the oracle replays the
    full 3-step loop and the 1-row (weights, hinge, accuracy, n)
    result matches bit-for-bit."""
    from distributed_mapreduce_spark.functions.text import (
        stopword_ratio,
        token_count,
        tokens,
    )
    from distributed_mapreduce_spark.operators.regression import linsvm_gd
    from distributed_mapreduce_spark.queries.textops import (
        QF_MAX_TOKENS,
        QF_MIN_SW_RATIO,
        QF_MIN_TOKENS,
    )

    docs = widen(table(spark, sf_dir, "documents"))
    toks = tokens("text")
    feats = docs.select(
        (token_count("text").cast("double") / F.lit(100.0)).alias("x1"),
        stopword_ratio(toks, "en").alias("x2"),
        # teacher label: the two feature-aligned conditions of the
        # text_q6 gate (token-count range + stopword ratio)
        F.when(
            token_count("text").between(QF_MIN_TOKENS, QF_MAX_TOKENS)
            & (stopword_ratio(toks, "en") >= QF_MIN_SW_RATIO),
            F.lit(1.0),
        )
        .otherwise(F.lit(-1.0))
        .alias("y"),
    )
    return linsvm_gd(feats, ["x1", "x2"])


def _ml_q2_sql() -> str:
    from distributed_mapreduce_spark.operators.regression import linsvm_gd_sql
    from distributed_mapreduce_spark.queries.textops import (
        _SW_EN,
        _TOKS_SQL,
        QF_MAX_TOKENS,
        QF_MIN_SW_RATIO,
        QF_MIN_TOKENS,
    )

    return linsvm_gd_sql(
        f"""SELECT CAST(len(ts) AS DOUBLE) / 100.0 AS x1,
                   swr AS x2,
                   CASE WHEN n_tok BETWEEN {QF_MIN_TOKENS} AND {QF_MAX_TOKENS}
                             AND swr >= {QF_MIN_SW_RATIO}
                        THEN 1.0 ELSE -1.0 END AS y
            FROM (
                SELECT ts,
                       CAST(len(ts) AS BIGINT) AS n_tok,
                       CASE WHEN len(ts) > 0
                            THEN len(list_filter(ts, x -> list_contains([{_SW_EN}], x))) / len(ts)
                            ELSE 0.0 END AS swr
                FROM (SELECT {_TOKS_SQL} AS ts FROM documents)
            )""",
        ["x1", "x2"],
    )


# Train/holdout is the 2-bucket special case of mix_q1's hash-bucket
# stratified sampling — shadow tier (registry.py grading cap).
SHUFFLE_SEED = "42"


def pipe_q2_shuffle_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-shuffle position for every document
    (operators/sampling.global_shuffle_index): a dense 0..N−1 global
    permutation in content-addressed pseudo-random order — the step
    that turns a curated corpus into a training order, reproducible
    across cluster widths and re-runs, re-seedable per epoch.

    The graded point is the PLAN, not just the values: the oracle is
    the naive `row_number() OVER (ORDER BY md5(...))` — a
    single-partition sort Spark must never run at 100 TB — while the
    query computes the identical permutation with the two-phase
    bucket-offset ranking (one distributed window over 256 hash-prefix
    buckets + a 256-row driver cumsum)."""
    from distributed_mapreduce_spark.operators.sampling import global_shuffle_index

    docs = table(spark, sf_dir, "documents").select("doc_id")
    return global_shuffle_index(docs, "doc_id", seed=SHUFFLE_SEED).select(
        "doc_id", "pos"
    )


def contam_q3_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUZZY decontamination — the near-dup tier exact n-gram overlap
    (contam_q1) misses: flag every (benchmark doc, training doc) pair
    whose exact word-3-gram jaccard ≥ NEAR_DUP_JACCARD, catching
    paraphrased / partially-edited benchmark leakage (the GPT-3 /
    Dolma-style fuzzy-dedup decontamination pass). Returns
    (bench_id, train_id, jaccard), sorted-free (hash-graded).

    Plan: ONE shared scan+tokenize+shingle pass over the corpus tagged
    with the bench flag (contam_q1's discipline) under the same
    MAX_SHINGLE_DF skew guard as the dedup tiers (df counted over the
    COMBINED corpus — the guard is shared semantics with the oracle,
    not a shortcut); candidates from a CROSS-CORPUS MinHash-LSH band
    join — bench band-rows ⋈ train band-rows on (band, bucket), the
    incremental_minhash_pairs batch↔store probe with bench as the
    batch — then exact-jaccard verification of candidates only. The
    pair space never materializes; at 100 TB the train side is the
    maintained write_lsh_band_index artifact and this query is one
    probe_lsh_band_index call per benchmark shard. Oracle: the exact
    cross-corpus jaccard join (dedup_q4's calibration argument — at
    fixture scale the (32, 16) banding's recall is exhaustive above
    the threshold, so the LSH plan IS the exact answer, cheaper)."""
    from distributed_mapreduce_spark.operators.dedup import (
        _band_bucket_join,
        band_rows,
        doc_shingles,
        minhash_signatures,
        verify_jaccard_pairs,
    )
    from distributed_mapreduce_spark.queries.textops import (
        MAX_SHINGLE_DF,
        MINHASH_BANDS,
        NEAR_DUP_JACCARD,
    )

    docs = widen(table(spark, sf_dir, "documents"))
    sh = doc_shingles(
        docs,
        max_df=MAX_SHINGLE_DF,
        carry=((F.col("source") == BENCH_SOURCE).alias("is_bench"),),
    ).persist()
    sig_b = minhash_signatures(sh.where(F.col("is_bench")).select("id", "shingle"))
    sig_t = minhash_signatures(sh.where(~F.col("is_bench")).select("id", "shingle"))
    cands = (
        _band_bucket_join(
            band_rows(sig_b, bands=MINHASH_BANDS),
            band_rows(sig_t, bands=MINHASH_BANDS),
        )
        .select(F.col("a.id").alias("id_i"), F.col("b.id").alias("id_j"))
        .distinct()
    )
    pairs = verify_jaccard_pairs(sh.select("id", "shingle"), cands, NEAR_DUP_JACCARD)
    from distributed_mapreduce_spark.caching import attach_caches

    return attach_caches(
        pairs.select(
            F.col("id_i").alias("bench_id"),
            F.col("id_j").alias("train_id"),
            "jaccard",
        ),
        sh,
        pairs,
    )


SHADOW_QUERIES = {
    "contam_q2_scrub": contam_q2_scrub,
    "contam_q3_fuzzy": contam_q3_fuzzy,
    "pipe_q2_shuffle_index": pipe_q2_shuffle_index,
    "ml_q1_scaling_fit": ml_q1_scaling_fit,
    "ml_q2_svm_quality": ml_q2_svm_quality,
    "mix_q2_train_holdout": mix_q2_train_holdout,
    "mix_q5_weighted_sample": mix_q5_weighted_sample,
    "mix_q6_token_budget_mix": mix_q6_token_budget_mix,
    "mix_q7_epoch_upsample": mix_q7_epoch_upsample,
    "pipe_q1_training_manifest": pipe_q1_training_manifest,
    "pipe_q3_jsonl_roundtrip": pipe_q3_jsonl_roundtrip,
}


def _epoch_upsample_sql() -> str:
    """DuckDB mirror of mix_q7_epoch_upsample, generated FROM the same
    MIX_EPOCHS dict (single source — the _pii_redact_sql discipline):
    the identical integer CASE over the md5-prefix uniform, then
    generate_series expansion (empty below 1, matching the Spark
    side's n_copies >= 1 guard on sequence())."""
    import math

    u = hash_uniform_sql("doc_id")
    branches = []
    for lang, e in MIX_EPOCHS.items():
        base, frac = int(math.floor(e)), round(e - math.floor(e), 6)
        expr = str(base)
        if frac > 0:
            expr = f"{base} + CASE WHEN {u} < {frac!r} THEN 1 ELSE 0 END"
        branches.append(f"WHEN '{lang}' THEN {expr}")
    case = "CASE lang " + " ".join(branches) + " ELSE 0 END"
    return f"""
        WITH base AS (
            SELECT doc_id, lang, CAST({case} AS INTEGER) AS n_copies
            FROM documents
        )
        SELECT doc_id, lang,
               CAST(unnest(generate_series(1, n_copies)) AS BIGINT) AS copy_idx
        FROM base
        WHERE n_copies >= 1
    """

SHADOW_ORACLES = {
    # The roundtrip is an identity transport: the oracle is the parquet
    # original itself, so ANY encoder/decoder divergence (quoting,
    # escaping, integer widths, null handling) fails value-by-value.
    "pipe_q3_jsonl_roundtrip": """
        SELECT doc_id, text, lang, source, n_chars FROM documents
    """,
    "mix_q7_epoch_upsample": _epoch_upsample_sql(),
    # Mirrors mix_q6_token_budget_mix stage by stage: per-language
    # char totals, sqrt weight staged through round-6 DECIMAL(28,6)
    # (exact order-free sum — DuckDB's sum(n_chars) is HUGEINT, cast
    # back), the identical fixed-order double budget expression
    # floor'd to BIGINT, and the same unique (hash, doc_id)-ordered
    # rank + exact running integer sum.
    "mix_q6_token_budget_mix": f"""
        WITH tot AS (
            SELECT lang, CAST(sum(n_chars) AS BIGINT) AS tot
            FROM documents GROUP BY 1
        ),
        s AS (
            SELECT lang, tot,
                   CAST(round(sqrt(CAST(tot AS DOUBLE)), 6)
                        AS DECIMAL(28,6)) AS s
            FROM tot
        ),
        d AS (
            SELECT sum(s) AS denom, CAST(sum(tot) AS BIGINT) AS t_chars
            FROM s
        ),
        b AS (
            SELECT lang,
                   CAST(floor({MIX_BUDGET_FRAC}
                              * CAST(t_chars AS DOUBLE)
                              * CAST(s AS DOUBLE)
                              / CAST(denom AS DOUBLE)) AS BIGINT)
                       AS budget_chars
            FROM s CROSS JOIN d
        ),
        ranked AS (
            SELECT lang, doc_id, n_chars,
                   row_number() OVER (
                       PARTITION BY lang
                       ORDER BY {hash_bucket_sql("doc_id", 2**31)} ASC,
                                doc_id ASC
                   ) AS rk,
                   sum(n_chars) OVER (
                       PARTITION BY lang
                       ORDER BY {hash_bucket_sql("doc_id", 2**31)} ASC,
                                doc_id ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS cum_chars
            FROM documents
        )
        SELECT lang, doc_id, n_chars,
               CAST(rk AS BIGINT) AS rk,
               CAST(cum_chars AS BIGINT) AS cum_chars,
               budget_chars
        FROM ranked JOIN b USING (lang)
        WHERE cum_chars <= budget_chars
    """,
    # Exact cross-corpus jaccard — the fuzzy-decontamination ground
    # truth (quadratic, feasible at grading scale): same tokenization,
    # same combined-corpus MAX_SHINGLE_DF guard (HAVING form), same
    # round-6-then-threshold as the Spark verifier. The Spark side's
    # LSH candidates equal this exactly at fixture scale — dedup_q4's
    # calibration argument applied cross-corpus.
    "contam_q3_fuzzy": f"""
        WITH sh_all AS (
            SELECT DISTINCT doc_id AS id,
                   source = '{BENCH_SOURCE}' AS is_bench,
                   unnest(list_transform(range(1, greatest(len(ts) - 1, 1)),
                                         i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS shingle
            FROM (SELECT doc_id, source, {_TOKS_SQL} AS ts FROM documents)
        ),
        rare AS (
            SELECT shingle FROM sh_all GROUP BY shingle HAVING count(*) <= {MAX_SHINGLE_DF}
        ),
        sh AS (SELECT id, is_bench, shingle FROM sh_all SEMI JOIN rare USING (shingle)),
        sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
        inter AS (
            SELECT b.id AS bench_id, t.id AS train_id, count(*) AS c
            FROM sh b JOIN sh t
              ON b.shingle = t.shingle AND b.is_bench AND NOT t.is_bench
            GROUP BY 1, 2
        )
        SELECT bench_id, train_id,
               round(c / (sb.sz + st.sz - c), 6) AS jaccard
        FROM inter
        JOIN sizes sb ON sb.id = bench_id
        JOIN sizes st ON st.id = train_id
        WHERE round(c / (sb.sz + st.sz - c), 6) >= {NEAR_DUP_JACCARD}
    """,
    # The naive single-sort form of the same permutation: md5 hex
    # compares identically in both engines; the doc_id tiebreak makes
    # the order total even under (astronomically unlikely) collisions.
    "pipe_q2_shuffle_index": f"""
        SELECT doc_id,
               CAST(row_number() OVER (
                   ORDER BY md5('{SHUFFLE_SEED}:' || CAST(doc_id AS VARCHAR)),
                            doc_id
               ) - 1 AS BIGINT) AS pos
        FROM documents
    """,
    # contam_q1's roles reversed: train docs scored against the
    # DISTINCT bench shingle set; shingle-less train docs have no
    # score row and survive (mirrored by the anti join).
    "contam_q2_scrub": f"""
        WITH train_sh AS ({_shingle_cte(f"source <> '{BENCH_SOURCE}'")}),
        bench AS (
            SELECT DISTINCT shingle FROM ({_shingle_cte(f"source = '{BENCH_SOURCE}'")})
        ),
        sizes AS (SELECT id, count(*) AS n FROM train_sh GROUP BY id),
        hits AS (
            SELECT id, count(*) AS h
            FROM train_sh SEMI JOIN bench USING (shingle)
            GROUP BY id
        ),
        dirty AS (
            SELECT sizes.id FROM sizes LEFT JOIN hits ON sizes.id = hits.id
            WHERE round(coalesce(h, 0) / n, 6) >= {CONTAM_MIN_OVERLAP}
        )
        SELECT doc_id, source, lang, n_chars
        FROM documents ANTI JOIN dirty ON doc_id = dirty.id
        WHERE source <> '{BENCH_SOURCE}'
    """,
    "pipe_q1_training_manifest": _manifest_sql(),
    "ml_q1_scaling_fit": _ml_q1_sql(),
    "ml_q2_svm_quality": _ml_q2_sql(),
    # Same A-ES score, same 12-dec round, same tiebreak.
    "mix_q5_weighted_sample": f"""
        WITH scored AS (
            SELECT lang, doc_id, n_chars,
                   row_number() OVER (
                       PARTITION BY lang
                       ORDER BY round(ln({hash_uniform_sql("doc_id")})
                                      / CAST(n_chars AS DOUBLE), 12) DESC,
                                doc_id ASC
                   ) AS rk
            FROM documents
            WHERE CAST(n_chars AS DOUBLE) > 0
        )
        SELECT lang, doc_id, n_chars, CAST(rk AS BIGINT) AS rk
        FROM scored WHERE rk <= {WEIGHTED_K}
    """,
    "mix_q2_train_holdout": f"""
        SELECT CASE WHEN {_BUCKET} < {HOLDOUT_PCT} THEN 'holdout' ELSE 'train' END AS split,
               count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM documents
        GROUP BY 1
    """,
}
