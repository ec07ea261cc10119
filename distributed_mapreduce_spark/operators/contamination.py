"""Benchmark-contamination check ([EXT] north star — the train/eval
overlap audit every training-data pipeline runs before a model sees
the corpus).

Semantics: for each document of a *benchmark* corpus, the fraction of
its word n-gram shingles that appear anywhere in the *training*
corpus; a document is contaminated when that overlap reaches a
threshold. This is the n-gram-overlap decontamination rule from the
GPT-3/PaLM appendices, expressed relationally:

    bench_shingles ⋉ distinct(train_shingles)   -- semi join on shingle
    → per-doc hit count / shingle count

Scale notes: the semi join shuffles both sides on `shingle` — a plain
hash semi join, no pair blowup (contrast the dedup self-join, which is
quadratic in per-shingle document frequency). The benchmark side is
tiny by construction (eval sets are ~10^3..10^5 docs), so at 100 TB
Spark's AQE turns it into the *build* side of a broadcast / shuffled
hash join; the train side streams through once with only the shingle
column read (column pruning). Hot shingles need no skew guard here —
duplicates on the train side are collapsed by distinct() before the
join, so each shingle joins at most once per benchmark doc.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_MIN_OVERLAP = 0.5


def contamination_report_tagged(
    sh: DataFrame,
    min_overlap: float = DEFAULT_MIN_OVERLAP,
    is_bench_col: str = "is_bench",
) -> DataFrame:
    """One-pass contamination report over a TAGGED distinct
    (id, shingle, is_bench) expansion (doc_shingles with a carry flag)
    — same rows/values as contamination_report(bench, train) split from
    the same expansion, restructured for the case where the PER-DOC
    side is the small one (r17, guide §2.4/§3.1):

      1. per-shingle train-hit flag in ONE keyed aggregation over the
         whole expansion — replaces the full distinct exchange over the
         corpus-sized train side (the flag agg shuffles the same rows
         once, and partial aggregation collapses duplicates map-side);
      2. the bench rows (small by construction: eval sets are
         ~10^3..10^5 docs) joined onto the flag table with no join
         hint: the planner broadcasts whichever side its size stats
         put under autoBroadcastJoinThreshold (at fixture scale the
         flag table, BuildLeft) and falls back to a shuffle join when
         neither is — a forced broadcast of a 10^7..10^8-row bench
         expansion would bypass that threshold;
      3. one groupBy(id) computes n_shingles and n_hit together —
         replaces the separate sizes agg + hits agg + outer join.

    Equivalence: hit = max(any train row per shingle) ⟺ shingle ∈
    distinct(train); every bench (id, shingle) row joins exactly one
    flag row, so count(*) = n_shingles and sum(hit) = n_hit; rounding
    and types match the two-sided form (oracle-verified). Use the
    two-sided contamination_report when the per-doc side is the BIG one
    (contam_q2's reverse probe): there the reference side's distinct is
    small and this shape would shuffle the big side instead."""
    flags = sh.groupBy("shingle").agg(
        F.max(F.when(~F.col(is_bench_col), 1).otherwise(0)).alias("hit")
    )
    bench_sh = sh.where(F.col(is_bench_col)).select("id", "shingle")
    per = flags.join(bench_sh, "shingle")
    overlap = F.round(F.col("n_hit") / F.col("n_shingles"), 6)
    return (
        per.groupBy("id")
        .agg(F.count("*").alias("n_shingles"), F.sum("hit").alias("n_hit"))
        .select("id", "n_shingles", "n_hit", overlap.alias("overlap"))
        .withColumn("contaminated", F.col("overlap") >= F.lit(min_overlap))
    )


def contamination_report(
    bench_sh: DataFrame,
    train_sh: DataFrame,
    min_overlap: float = DEFAULT_MIN_OVERLAP,
) -> DataFrame:
    """Per-benchmark-document contamination: inputs are distinct
    (id, shingle) tables (operators/dedup.py::doc_shingles). Returns
    (id, n_shingles, n_hit, overlap, contaminated) — one row per
    benchmark document that has at least one shingle."""
    train = train_sh.select("shingle").distinct()
    sizes = bench_sh.groupBy("id").agg(F.count("*").alias("n_shingles"))
    hits = (
        bench_sh.join(train, "shingle", "left_semi")
        .groupBy("id")
        .agg(F.count("*").alias("n_hit"))
    )
    overlap = F.round(F.col("n_hit") / F.col("n_shingles"), 6)
    return (
        sizes.join(hits, "id", "left")
        .select(
            "id",
            "n_shingles",
            F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
            F.coalesce(overlap, F.lit(0.0)).alias("overlap"),
        )
        .withColumn("contaminated", F.col("overlap") >= F.lit(min_overlap))
    )
