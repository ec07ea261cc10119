"""Training-pipeline operators: deterministic sampling and
benchmark-contamination semantics (operators/sampling.py,
operators/contamination.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from distributed_mapreduce_spark.operators.contamination import contamination_report
from distributed_mapreduce_spark.operators.dedup import doc_shingles
from distributed_mapreduce_spark.operators.sampling import (
    hash_bucket,
    split_train_holdout,
    stratified_sample,
)
from distributed_mapreduce_spark.sources import table

RATES = {"en": 0.5, "de": 0.2}


def _ids(df):
    return sorted(r["doc_id"] for r in df.select("doc_id").collect())


def test_stratified_sample_is_layout_independent(spark, sf_dir):
    """The kept row SET must not depend on physical partitioning — the
    property df.sample() lacks and training reproducibility needs."""
    docs = table(spark, sf_dir, "documents")
    a = stratified_sample(docs, "lang", RATES, "doc_id")
    b = stratified_sample(docs.repartition(7, "source"), "lang", RATES, "doc_id")
    assert _ids(a) == _ids(b)
    assert len(_ids(a)) > 0


def test_stratified_sample_honors_rate_zero_default(spark, sf_dir):
    """Strata missing from the rates dict are dropped entirely."""
    docs = table(spark, sf_dir, "documents")
    kept = stratified_sample(docs, "lang", {"en": 1.0}, "doc_id")
    langs = {r["lang"] for r in kept.select("lang").distinct().collect()}
    assert langs == {"en"}
    n_en = docs.where(F.col("lang") == "en").count()
    assert kept.count() == n_en  # rate 1.0 keeps every row of the stratum


def test_stratified_sample_rate_is_roughly_honored(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    n = docs.count()
    kept = stratified_sample(docs, "lang", dict.fromkeys(["en", "de", "fr", "es", "zh"], 0.3), "doc_id")
    frac = kept.count() / n
    assert 0.15 < frac < 0.45  # md5 buckets ≈ uniform; loose band at sf0.001


def test_split_train_holdout_disjoint_exhaustive(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    train, hold = split_train_holdout(docs, "doc_id", 10)
    ti, hi = set(_ids(train)), set(_ids(hold))
    assert ti.isdisjoint(hi)
    assert len(ti) + len(hi) == docs.count()
    assert 0 < len(hi) < len(ti)  # 10% side is the smaller one


def test_hash_bucket_matches_duckdb(spark):
    """Engine-portability of the sampling hash: same bucket per key in
    Spark and DuckDB (the property the mix_q* oracles rest on)."""
    import duckdb

    keys = [str(i) for i in range(50)]
    sdf = spark.createDataFrame([(k,) for k in keys], "k string")
    got = {
        r["k"]: r["b"]
        for r in sdf.select("k", hash_bucket("k").alias("b")).collect()
    }
    want = {
        k: duckdb.sql(
            f"SELECT ('0x' || substr(md5('{k}'), 1, 8))::BIGINT % 100"
        ).fetchone()[0]
        for k in keys
    }
    assert got == want


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_contamination_exact_copy_and_disjoint(spark):
    """A benchmark doc copied verbatim into train → overlap 1.0 and
    flagged; a doc sharing no 3-gram → overlap 0.0 and clean."""
    train = _docs(
        spark,
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely unrelated training material here"),
        ],
    )
    bench = _docs(
        spark,
        [
            (100, "the quick brown fox jumps over the lazy dog"),  # verbatim dup
            (101, "zebra xylophone quartz vortex blitz jackdaw"),  # disjoint
        ],
    )
    rep = contamination_report(doc_shingles(bench), doc_shingles(train), 0.5)
    rows = {r["id"]: r.asDict() for r in rep.collect()}
    assert set(rows) == {100, 101}
    assert rows[100]["overlap"] == 1.0 and rows[100]["contaminated"]
    assert rows[101]["overlap"] == 0.0 and not rows[101]["contaminated"]


def test_contamination_partial_overlap(spark):
    """Half-overlapping doc: shared prefix contributes its shingles,
    novel suffix does not — overlap strictly between 0 and 1."""
    train = _docs(spark, [(1, "alpha beta gamma delta epsilon")])
    bench = _docs(spark, [(200, "alpha beta gamma delta qux quux corge grault")])
    rep = contamination_report(doc_shingles(bench), doc_shingles(train), 0.9)
    row = rep.collect()[0]
    # bench has 6 shingles; the 2 fully inside the shared prefix hit.
    assert row["n_shingles"] == 6
    assert row["n_hit"] == 2
    assert 0.0 < row["overlap"] < 1.0
    assert not row["contaminated"]


def test_pack_greedy_properties(spark, sf_dir):
    """Packing invariants: every doc placed exactly once; bin fill never
    exceeds the budget unless the bin holds a single oversized doc; bin
    indices are contiguous from 0 per group; assignment is independent
    of input partitioning."""
    from distributed_mapreduce_spark.operators.packing import pack_greedy

    docs = table(spark, sf_dir, "documents")
    budget = 1000
    packed = pack_greedy(docs, budget).collect()
    assert len(packed) == docs.count()

    by_group: dict[str, list] = {}
    for r in packed:
        by_group.setdefault(r["source"], []).append(r)
    lengths = {r["doc_id"]: r["n_chars"] for r in docs.select("doc_id", "n_chars").collect()}
    for src, rows in by_group.items():
        rows.sort(key=lambda r: r["doc_id"])
        bins: dict[int, list] = {}
        for r in rows:
            bins.setdefault(r["bin_idx"], []).append(r)
        assert sorted(bins) == list(range(len(bins)))  # contiguous from 0
        prev_max = -1
        for b in sorted(bins):
            members = bins[b]
            total = sum(lengths[r["doc_id"]] for r in members)
            assert total <= budget or len(members) == 1  # oversized doc alone
            assert members[-1]["bin_fill"] == total  # last row carries final fill
            assert all(r["doc_id"] > prev_max for r in members)  # order preserved
            prev_max = max(r["doc_id"] for r in members)

    repart = pack_greedy(docs.repartition(13), budget).collect()
    assert sorted(map(tuple, packed)) == sorted(map(tuple, repart))


def test_pack_greedy_oversized_doc_gets_own_bin(spark):
    from distributed_mapreduce_spark.operators.packing import pack_greedy

    rows = [("s", 1, 10), ("s", 2, 99), ("s", 3, 10), ("s", 4, 15)]
    docs = spark.createDataFrame(rows, "source string, doc_id bigint, n_chars bigint")
    got = {r["doc_id"]: (r["bin_idx"], r["bin_fill"]) for r in pack_greedy(docs, 30).collect()}
    # doc1 → bin0(10); doc2 (99>30) → bin1 alone; doc3 → bin2(10); doc4 → bin2(25)
    assert got == {1: (0, 10), 2: (1, 99), 3: (2, 10), 4: (2, 25)}


def test_chunk_fixed_boundaries_and_overlap(spark):
    """chunk_fixed (operators/packing.py): starts at 0, s, 2s…; every
    full chunk carries chunk_tokens tokens; consecutive chunks share
    exactly `overlap` tokens; the final chunk is the remainder; empty
    docs vanish; overlap ≥ chunk_tokens is rejected."""
    import hashlib

    import pytest as _pytest

    from distributed_mapreduce_spark.operators.packing import chunk_fixed

    # letter-only tokens (the letter-run tokenizer drops digits)
    toks = [
        "w" + chr(ord("a") + i // 26) + chr(ord("a") + i % 26) for i in range(50)
    ]
    rows = [
        (1, " ".join(toks)),   # 50 tokens: chunks at 0/24/48 → 32, 26, 2 tokens
        (2, "a b c"),          # shorter than one chunk → single chunk of 3
        (3, ""),               # empty → no rows
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = chunk_fixed(docs, chunk_tokens=32, overlap=8)
    got = {(r.id, r.chunk_idx): r for r in out.collect()}

    assert set(got) == {(1, 0), (1, 1), (1, 2), (2, 0)}
    assert got[(1, 0)].n_chunk_tokens == 32
    assert got[(1, 1)].n_chunk_tokens == 26
    assert got[(1, 2)].n_chunk_tokens == 2
    assert got[(2, 0)].n_chunk_tokens == 3

    def md5_of(sl):
        return hashlib.md5(" ".join(sl).encode()).hexdigest()

    # boundary exactness: chunk k covers tokens [k·24, k·24+32)
    assert got[(1, 0)].chunk_md5 == md5_of(toks[0:32])
    assert got[(1, 1)].chunk_md5 == md5_of(toks[24:56])  # clamps to 50
    assert got[(1, 2)].chunk_md5 == md5_of(toks[48:50])
    # The overlap property (chunk k's last `overlap` tokens == chunk
    # k+1's first `overlap`) is pinned by the three exact-slice md5
    # assertions above: chunk 1 starting at 24 = 32 − 8 IS the overlap.

    with _pytest.raises(ValueError):
        chunk_fixed(docs, chunk_tokens=8, overlap=8)


def test_weighted_sample_k_properties(spark):
    """weighted_sample_k (A-ES over the content-addressed uniform):
    exactly k rows per stratum, non-positive weights excluded, the
    selected ROW SET is layout-independent, and selection is
    weight-monotone in aggregate (a 100×-weight row group wins far
    more slots than its count share)."""
    from distributed_mapreduce_spark.operators.sampling import weighted_sample_k

    rows = [(i, "s", 1000 if i < 20 else 10) for i in range(200)]
    rows += [(1000 + i, "t", 50) for i in range(10)]
    rows += [(2000, "t", 0), (2001, "t", -5)]  # excluded: w <= 0
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_chars long")

    kept = weighted_sample_k(df, "lang", "n_chars", "doc_id", 10)
    by_stratum = {}
    for r in kept.collect():
        by_stratum.setdefault(r.lang, []).append(r)
    assert len(by_stratum["s"]) == 10
    # stratum t has 10 positive-weight rows: all kept, w<=0 never
    assert sorted(r.doc_id for r in by_stratum["t"]) == [1000 + i for i in range(10)]
    # heavy rows are 10% of stratum s but ~100x the weight: they must
    # take well over their count share of the 10 slots (deterministic
    # given the md5 uniform; observed 7/10 at these parameters)
    heavy = sum(1 for r in by_stratum["s"] if r.doc_id < 20)
    assert heavy >= 5, f"only {heavy}/10 heavy rows selected"

    # layout-independence: same rows after an adversarial repartition
    re_kept = weighted_sample_k(
        df.repartition(7, "doc_id"), "lang", "n_chars", "doc_id", 10
    )
    assert {(r.lang, r.doc_id) for r in re_kept.collect()} == {
        (r.lang, r.doc_id) for r in kept.collect()
    }


def test_linreg_gd_reduces_loss(spark):
    """GD from (0,0) must strictly reduce mse on a noisy linear
    relation (parity proves engines agree; this proves it LEARNS)."""
    import numpy as np

    from distributed_mapreduce_spark.operators.regression import linreg_gd

    rng = np.random.default_rng(5)
    x = rng.uniform(0, 1, 300)
    y = 0.7 * x + 0.2 + rng.normal(0, 0.05, 300)
    xy = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(x, y)], "x double, y double"
    )
    base_mse = float(np.mean(y**2))
    row = linreg_gd(xy).collect()[0]
    assert row["n"] == 300
    assert row["mse"] < base_mse * 0.5, (row["mse"], base_mse)
    # and the fitted line points the right way
    assert row["w1"] > 0.1 and row["w0"] > 0.0


def test_cdc_merge_semantics(spark):
    """merge_changes edge cases: passthrough, update, insert, delete of
    existing, delete of absent (no-op), last-writer-wins within the
    batch, and a winning upsert carrying a NULL payload value (must
    overwrite with NULL, not fall back to base)."""
    from distributed_mapreduce_spark.operators.cdc import merge_changes

    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k bigint, v string"
    )
    changes = spark.createDataFrame(
        [
            (2, 10, 0, "b2"),     # update
            (2, 11, 0, "b3"),     # later update wins
            (3, 12, 1, None),     # delete existing
            (4, 13, 0, "d"),      # insert
            (5, 14, 1, None),     # delete absent -> no-op
            (6, 15, 0, None),     # insert with NULL payload
            (1, 9, 1, "x"),       # deleted then...
            (1, 16, 0, None),     # ...re-upserted with NULL (wins)
        ],
        "k bigint, ord bigint, is_delete int, v string",
    )
    got = {
        r.k: r.v for r in merge_changes(base, changes, "k").collect()
    }
    assert got == {1: None, 2: "b3", 4: "d", 6: None}


def test_cdc_merge_schema_evolution(spark):
    """Delta-mergeSchema on both merge operators (VERDICT r13 #3):
    an ADDED change column becomes typed NULL in untouched base rows
    and carries its value on applied winners; rename/drop (a stored
    column missing from the batch) and type changes refuse loudly,
    never silently cast; default mode is unchanged (extra change
    columns ignored, output keeps base's schema)."""
    import pytest

    from distributed_mapreduce_spark.operators.cdc import (
        merge_changes,
        merge_changes_ordered,
    )

    base = spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, v string")
    changes = spark.createDataFrame(
        [(2, 10, 0, "b2", 9.5), (3, 11, 0, "c", None)],
        "k bigint, ord bigint, is_delete int, v string, x double",
    )
    out = merge_changes(base, changes, "k", merge_schema=True)
    assert out.schema["x"].dataType.simpleString() == "double"
    assert sorted((r.k, r.v, r.x) for r in out.collect()) == [
        (1, "a", None),  # untouched base row: typed NULL
        (2, "b2", 9.5),  # applied winner carries the new column
        (3, "c", None),
    ]
    # default mode: unchanged contract — extra change columns ignored
    legacy = merge_changes(base, changes, "k")
    assert legacy.columns == ["k", "v"]

    # ordered layout: evolution including surviving tombstones
    obase = spark.createDataFrame(
        [(1, "a", 5, 0), (9, None, 7, 1)],
        "k bigint, v string, ord bigint, is_delete int",
    )
    oout = merge_changes_ordered(obase, changes, "k", merge_schema=True)
    assert sorted(
        (r.k, r.v, r.x, r.is_delete) for r in oout.collect()
    ) == [(1, "a", None, 0), (2, "b2", 9.5, 0), (3, "c", None, 0), (9, None, None, 1)]

    # rename/drop refusal: stored column missing from the batch
    dropped = spark.createDataFrame(
        [(2, 10, 0, 1.0)], "k bigint, ord bigint, is_delete int, x double"
    )
    with pytest.raises(ValueError, match="rename or drop"):
        merge_changes(base, dropped, "k", merge_schema=True)
    # type-change refusal: never silently cast
    retyped = spark.createDataFrame(
        [(2, 10, 0, 7)], "k bigint, ord bigint, is_delete int, v bigint"
    )
    with pytest.raises(ValueError, match="change type"):
        merge_changes(base, retyped, "k", merge_schema=True)
    with pytest.raises(ValueError, match="change type"):
        merge_changes_ordered(obase, retyped, "k", merge_schema=True)


def test_cdc_merge_null_payload_matches_duckdb_oracle(spark):
    """Cross-engine NULL discipline (ADVICE r5): DuckDB's per-column
    arg_max SKIPS null values while Spark's max_by returns them, so a
    winning upsert whose payload is NULL is exactly where column-wise
    winner reconstruction diverges. Both sides now pick the winning row
    atomically (struct max_by / row_number-over-ord-desc); this fixture
    plants NULL payloads on winning AND losing change rows and asserts
    the engines agree. (`ord` ties are excluded by the operator's
    documented total-order precondition — tie winners are
    engine-nondeterministic by design.)"""
    import duckdb

    from distributed_mapreduce_spark.operators.cdc import merge_changes

    base_rows = [(1, "a", 10.0), (2, "b", None), (3, None, 30.0)]
    change_rows = [
        (1, 100, 0, None, None),    # winning upsert, all-NULL payload
        (1, 99, 0, "x", 1.0),       # losing upsert with values
        (2, 101, 0, None, 2.5),     # winning upsert, one NULL column
        (3, 102, 1, "z", None),     # delete with stray payload
        (4, 103, 0, "new", None),   # insert with NULL column
    ]
    base = spark.createDataFrame(base_rows, "k bigint, v string, x double")
    changes = spark.createDataFrame(
        change_rows, "k bigint, ord bigint, is_delete int, v string, x double"
    )
    got = sorted(
        (r.k, r.v, r.x) for r in merge_changes(base, changes, "k").collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE base(k BIGINT, v VARCHAR, x DOUBLE);"
        "CREATE TABLE ch(k BIGINT, ord BIGINT, is_delete INT, v VARCHAR, x DOUBLE)"
    )
    con.executemany("INSERT INTO base VALUES (?,?,?)", base_rows)
    con.executemany("INSERT INTO ch VALUES (?,?,?,?,?)", change_rows)
    want = sorted(
        tuple(r)
        for r in con.execute(
            """
            WITH w AS (
                SELECT k, v, x, is_delete FROM (
                    SELECT ch.*, row_number() OVER (
                        PARTITION BY k ORDER BY ord DESC) AS rn
                    FROM ch
                ) WHERE rn = 1
            )
            SELECT b.k, b.v, b.x FROM base b ANTI JOIN w USING (k)
            UNION ALL
            SELECT k, v, x FROM w WHERE is_delete IS NULL OR is_delete = 0
            """
        ).fetchall()
    )
    assert got == want
    assert got == [(1, None, None), (2, None, 2.5), (4, "new", None)]


def test_ewma_closed_forms(spark):
    """EWMA sanity: constant series stays constant; a unit step from 0
    reaches alpha after one step; ordering respected (stable tiebreak)."""
    from distributed_mapreduce_spark.operators.timeseries import (
        EWMA_ALPHA,
        ewma_last,
    )

    rows = [
        (1, 1, 5.0), (1, 2, 5.0), (1, 3, 5.0),   # constant
        (2, 1, 0.0), (2, 2, 1.0),                 # step: y = alpha
        (3, 2, 1.0), (3, 1, 0.0),                 # same, shuffled input
    ]
    df = spark.createDataFrame(rows, "k bigint, t bigint, v double")
    got = {r.k: (r.n_obs, r.ewma) for r in ewma_last(df, "k", ["t"], "v").collect()}
    assert got[1] == (3, 5.0)
    assert got[2] == (2, EWMA_ALPHA * 1.0 + (1.0 - EWMA_ALPHA) * 0.0)
    assert got[3] == got[2]

    # key type follows the input schema (ADVICE r5): string keys work
    sdf = spark.createDataFrame(
        [("a", 1, 5.0), ("a", 2, 5.0), ("b", 1, 0.0), ("b", 2, 1.0)],
        "k string, t bigint, v double",
    )
    sgot = {
        r.k: (r.n_obs, r.ewma)
        for r in ewma_last(sdf, "k", ["t"], "v").collect()
    }
    assert sgot["a"] == (2, 5.0)
    assert sgot["b"] == (2, EWMA_ALPHA * 1.0 + (1.0 - EWMA_ALPHA) * 0.0)


def test_ewma_crash_retry_matches_unkilled(spark, sf_dir):
    """Fault injection on the Arrow/applyInPandas path: kill every
    FIRST task attempt inside the per-group fold — Spark must rerun
    the task and the result must equal the unkilled run (the MR
    crash-retry contract extended to the pandas-UDF lane; conftest
    session runs local[4, 2] so maxFailures=2)."""
    import pandas as pd
    from pyspark import TaskContext

    from distributed_mapreduce_spark.operators.timeseries import ewma_last
    from distributed_mapreduce_spark.sources import table

    ev = table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")
    want = {r.user_id: r.ewma for r in ewma_last(ev, "user_id", ["ts", "event_id"], "value").collect()}

    # same fold, crash-wrapped: per-group pandas functions run inside a
    # task; raising on attempt 0 kills the whole task once.
    from distributed_mapreduce_spark.operators import timeseries

    alpha = timeseries.EWMA_ALPHA

    def crashing_fold(pdf: "pd.DataFrame") -> "pd.DataFrame":
        if TaskContext.get().attemptNumber() == 0:
            raise RuntimeError("injected crash (first attempt)")
        pdf = pdf.sort_values(["ts", "event_id"], kind="stable")
        y = None
        for x in pdf["value"]:
            x = float(x)
            y = x if y is None else alpha * x + (1.0 - alpha) * y
        return pd.DataFrame(
            {"user_id": [pdf["user_id"].iloc[0]], "n_obs": [len(pdf)],
             "last_value": [float(pdf["value"].iloc[-1])], "ewma": [y]}
        )

    got_df = (
        ev.select("user_id", "ts", "event_id", "value")
        .groupBy("user_id")
        .applyInPandas(
            crashing_fold,
            "user_id bigint, n_obs bigint, last_value double, ewma double",
        )
    )
    got = {r.user_id: r.ewma for r in got_df.collect()}
    assert got == want


def test_linsvm_gd_learns_separable_data(spark):
    """Hinge GD must find a separating direction on linearly separable
    data (accuracy >> majority baseline)."""
    import numpy as np

    from distributed_mapreduce_spark.operators.regression import linsvm_gd

    rng = np.random.default_rng(9)
    xs = rng.uniform(-1, 1, (400, 2))
    ys = np.where(xs[:, 0] + 0.5 * xs[:, 1] > 0.1, 1.0, -1.0)
    df = spark.createDataFrame(
        [(float(a), float(b), float(y)) for (a, b), y in zip(xs, ys)],
        "x1 double, x2 double, y double",
    )
    row = linsvm_gd(df, ["x1", "x2"]).collect()[0]
    assert row["n"] == 400
    assert row["accuracy"] >= 0.8, row["accuracy"]
    assert row["w1"] > 0  # aligned with the separating normal


def test_global_shuffle_index_permutation_and_null_guard(spark):
    """global_shuffle_index: dense 0..N−1 permutation, layout-
    independent (re-run under a different partitioning yields the
    SAME position per key), and a NULL key fails with a clear
    ValueError instead of the opaque driver-side TypeError a None
    bucket used to cause (ADVICE r7)."""
    import pytest

    from distributed_mapreduce_spark.operators.sampling import global_shuffle_index

    df = spark.range(500).selectExpr("CAST(id AS STRING) AS k", "id AS v")
    out = global_shuffle_index(df, "k", seed="7", buckets=8)
    rows = out.collect()
    assert sorted(r.pos for r in rows) == list(range(500))
    m2 = {
        r.k: r.pos
        for r in global_shuffle_index(
            df.repartition(13), "k", seed="7", buckets=8
        ).collect()
    }
    assert {r.k: r.pos for r in rows} == m2

    with_null = df.unionByName(
        spark.sql("SELECT CAST(NULL AS STRING) AS k, 999 AS v")
    )
    with pytest.raises(ValueError, match="NULL"):
        global_shuffle_index(with_null, "k", buckets=8)


def test_global_shuffle_index_blocks_have_release_path(spark):
    """The scanned-once intermediate must be releasable (ADVICE r9):
    persist — not localCheckpoint — so spark.catalog.clearCache() frees
    its blocks (checkpoint RDD blocks are invisible to the
    CacheManager and leaked across repeated library calls). Lineage is
    retained, so the released result still collects correctly."""
    from distributed_mapreduce_spark.operators.sampling import global_shuffle_index

    def live_rdd_blocks():
        return sum(
            1
            for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values()
        )

    spark.catalog.clearCache()
    for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        jrdd.unpersist(False)
    base = live_rdd_blocks()

    df = spark.range(300).selectExpr("CAST(id AS STRING) AS k", "id AS v")
    out = global_shuffle_index(df, "k", seed="3", buckets=8)
    first = {r.k: r.pos for r in out.collect()}

    spark.catalog.clearCache()
    assert live_rdd_blocks() <= base, (
        "global_shuffle_index's intermediate survived clearCache — "
        "no release path (the localCheckpoint leak, ADVICE r9)"
    )
    # post-release the plan recomputes from lineage, same permutation
    assert {r.k: r.pos for r in out.collect()} == first


def test_token_budget_mix_invariants(spark, sf_dir):
    """mix_q6 invariants on the real fixture: (a) every admitted
    prefix is rank-contiguous from 1 (admission is a prefix of the
    deterministic hash order, never a subset with holes); (b) each
    stratum's budget equals the sqrt-flattened formula exactly and the
    running total never exceeds it (maximality of the admitted prefix
    is covered by the oracle's exact row-set comparison); (c) sqrt
    flattening strictly upweights the smallest stratum's budget share
    over its corpus share and downweights the largest's (the
    temperature-mixing contract)."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from distributed_mapreduce_spark.queries.pipeline_queries import (
        MIX_BUDGET_FRAC,
        mix_q6_token_budget_mix,
    )
    from distributed_mapreduce_spark.sources import table

    out = mix_q6_token_budget_mix(spark, sf_dir).collect()
    assert out, "budget fill admitted nothing"
    by_lang: dict = {}
    for r in out:
        by_lang.setdefault(r.lang, []).append(r)
    docs = table(spark, sf_dir, "documents")
    tots = {
        r.lang: r.tot
        for r in docs.groupBy("lang").agg(F.sum("n_chars").alias("tot")).collect()
    }
    t_all = sum(tots.values())
    # Re-derive the budgets along the ENGINE's exact arithmetic path —
    # HALF_UP quantize of the binary-exact sqrt (Spark F.round's
    # rounding mode, not Python's half-even round()), an exact DECIMAL
    # sum, one cast to double — so the comparison cannot flip on a
    # float-summation ulp after a fixture regen.
    q6 = Decimal("0.000001")
    s_dec = {
        lang: Decimal(math.sqrt(float(t))).quantize(q6, ROUND_HALF_UP)
        for lang, t in tots.items()
    }
    denom = float(sum(s_dec.values()))
    for lang, rows in by_lang.items():
        rows.sort(key=lambda r: r.rk)
        assert [r.rk for r in rows] == list(range(1, len(rows) + 1)), lang
        budget = rows[0].budget_chars
        expected = math.floor(
            MIX_BUDGET_FRAC * float(t_all) * float(s_dec[lang]) / denom
        )
        assert budget == expected, (lang, budget, expected)
        assert rows[-1].cum_chars <= budget, lang
    # flattening: smallest stratum's budget share > its corpus share
    budgets = {lang: rows[0].budget_chars for lang, rows in by_lang.items()}
    b_all = sum(budgets.values())
    lo = min(tots, key=tots.get)
    hi = max(tots, key=tots.get)
    assert budgets[lo] / b_all > tots[lo] / t_all
    assert budgets[hi] / b_all < tots[hi] / t_all


def test_epoch_upsample_copy_contracts(spark, sf_dir):
    """Fractional-epoch upsampling through the real graded query:
    copy indices are contiguous 1..n per document, every document of a
    stratum at epoch e appears floor(e) or ceil(e) times, integer-
    epoch strata appear EXACTLY e times, and truly fractional strata
    realize BOTH copy counts (the hash-selected extra-copy share is
    neither empty nor total)."""
    import math
    from collections import Counter

    from distributed_mapreduce_spark.queries.pipeline_queries import (
        MIX_EPOCHS,
        mix_q7_epoch_upsample,
    )

    rows = mix_q7_epoch_upsample(spark, str(sf_dir)).collect()
    per_doc: dict[int, list[int]] = {}
    for r in rows:
        per_doc.setdefault(r.doc_id, []).append(r.copy_idx)
    for d, idxs in per_doc.items():
        assert sorted(idxs) == list(range(1, len(idxs) + 1)), d

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang"
    ).collect()
    for lang, e in MIX_EPOCHS.items():
        base = math.floor(e)
        counts = Counter(
            len(per_doc.get(r.doc_id, ())) for r in docs if r.lang == lang
        )
        stratum_n = sum(counts.values())
        assert stratum_n > 0, f"fixture lost stratum {lang}"
        if e == base:
            assert set(counts) == {base}, (lang, counts)
        else:
            assert set(counts) <= {base, base + 1}, (lang, counts)
            if stratum_n >= 20:
                assert len(counts) == 2, (lang, counts)
