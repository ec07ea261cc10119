"""Dedup-family tests: exact tiers against synthetic duplicates, and
the approximate tiers (MinHash-LSH, SimHash) against the exact jaccard
oracle tier — recall on the corpus's planted near-duplicates."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from distributed_mapreduce_spark.operators.dedup import (
    doc_shingles,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_near_dup_pairs,
    minhash_signatures,
    simhash_near_dup_pairs,
)
from distributed_mapreduce_spark.sources import table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return table(spark, sf_dir, "documents")


def test_exact_jaccard_finds_planted_near_dups(spark, docs):
    """The fixture corpus plants near-duplicate pairs (jaccard ≥ 0.9
    with a gap to ~0.07) — the exact tier must surface them."""
    pairs = jaccard_pairs(doc_shingles(docs), 0.5).collect()
    assert len(pairs) > 0
    assert all(r.jaccard >= 0.5 for r in pairs)
    assert all(r.id_i < r.id_j for r in pairs)


def test_minhash_lsh_recall_vs_exact(spark, docs):
    """LSH candidates + exact verification must recover ≥90% of the
    exact tier's pairs (k=32, b=8 s-curve is steep above 0.6)."""
    exact = {(r.id_i, r.id_j) for r in jaccard_pairs(doc_shingles(docs), 0.5).collect()}
    approx = {(r.id_i, r.id_j) for r in minhash_near_dup_pairs(docs, 0.5).collect()}
    assert approx <= exact, "verified LSH pairs must be a subset of exact pairs"
    assert len(approx) >= 0.9 * len(exact), f"recall too low: {len(approx)}/{len(exact)}"


def test_incremental_lsh_equals_full_restricted_to_batch(spark, docs):
    """Incremental ingest probe: batch-vs-store + batch-internal LSH
    candidates, exact-verified, must equal the FULL minhash pair set
    restricted to pairs touching the batch — and never contain a
    store-internal pair (those were found when their docs arrived)."""
    from distributed_mapreduce_spark.operators.dedup import (
        incremental_minhash_pairs,
    )

    sh = doc_shingles(
        docs, carry=((F.pmod("doc_id", F.lit(5)) == 0).alias("is_new"),)
    ).persist()
    inc = {
        (r.id_i, r.id_j, r.jaccard)
        for r in incremental_minhash_pairs(sh, "is_new", 0.5).collect()
    }
    full = {
        (r.id_i, r.id_j, r.jaccard)
        for r in minhash_near_dup_pairs(docs, 0.5).collect()
    }
    touching = {p for p in full if p[0] % 5 == 0 or p[1] % 5 == 0}
    assert inc == touching
    assert all(i % 5 == 0 or j % 5 == 0 for i, j, _ in inc)
    assert inc < full, "fixture must also contain store-internal pairs"


def test_incremental_lsh_synthetic_store_pairs_excluded(spark):
    """Hand fixture: identical docs 1≡2 (store), 5≡10 (batch),
    15 (batch) ≡ 3 (store); only the pairs touching the batch come
    back, the store-internal (1,2) does not."""
    from distributed_mapreduce_spark.operators.dedup import (
        incremental_minhash_pairs,
    )

    text = "alpha beta gamma delta epsilon zeta eta theta"
    other = "one two three four five six seven eight"
    rows = [(1, text), (2, text), (5, other), (10, other), (15, text), (3, text)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sh = doc_shingles(df, carry=((F.pmod("doc_id", F.lit(5)) == 0).alias("is_new"),))
    got = {
        (r.id_i, r.id_j) for r in incremental_minhash_pairs(sh, "is_new", 0.9).collect()
    }
    assert got == {(5, 10), (1, 15), (2, 15), (3, 15)}


def test_lsh_candidates_bounded(spark, docs):
    """LSH must prune: candidate count ≪ full pair space (n·(n−1)/2)."""
    n = docs.count()
    cands = lsh_candidate_pairs(minhash_signatures(doc_shingles(docs))).count()
    assert cands < 0.05 * n * (n - 1) / 2, f"{cands} candidates of {n * (n - 1) // 2}"


def test_simhash_finds_planted_near_dups(spark, docs):
    exact = {(r.id_i, r.id_j) for r in jaccard_pairs(doc_shingles(docs), 0.9).collect()}
    sim = {(r.id_i, r.id_j) for r in simhash_near_dup_pairs(docs, max_hamming=6).collect()}
    # simhash hamming≤6 should recover most ≥0.9-jaccard planted pairs
    assert len(sim & exact) >= 0.8 * len(exact), f"{len(sim & exact)}/{len(exact)}"


def test_minhash_signature_shape(spark, docs):
    sig = minhash_signatures(doc_shingles(docs.limit(20)), num_hashes=16)
    row = sig.select(F.size("sig").alias("k")).distinct().collect()
    assert [r.k for r in row] == [16]


def test_dup_span_coverage_semantics(spark):
    """The exact-substring signal (operators/dedup.dup_span_coverage):
    corpus-wide duplicated 8-grams count as dup spans — across
    documents AND within one document — while unique text scores 0;
    sub-span_n documents produce no row."""
    from distributed_mapreduce_spark.operators.dedup import dup_span_coverage

    dup = "alpha beta gamma delta epsilon zeta eta theta"  # exactly 8 tokens
    uniq = "one two three four five six seven eight nine ten"
    rows = [
        (1, dup),                     # duplicated verbatim by doc 2
        (2, dup),
        (3, uniq),                    # 10 unique tokens → 3 unique 8-grams
        (4, f"{dup} filler {dup}"),   # internal repeat: its copy of the
                                      # dup 8-gram repeats within the corpus
        (5, "too short to have any spans"),  # 6 tokens < 8 → no row
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.id: r for r in dup_span_coverage(docs, span_n=8).collect()}

    assert set(out) == {1, 2, 3, 4}
    # exact duplicates: every span duplicated
    assert out[1].n_spans == 1 and out[1].dup_frac == 1.0
    assert out[2].n_spans == 1 and out[2].dup_frac == 1.0
    # unique doc: no span appears twice anywhere
    assert out[3].n_spans == 3 and out[3].n_dup_spans == 0 and out[3].dup_frac == 0.0
    # doc 4 contains the dup phrase twice (plus bridging spans through
    # 'filler' that exist nowhere else): 17 tokens → 10 spans, of which
    # the two pure-dup spans are duplicated (also matching docs 1/2)
    assert out[4].n_spans == 10 and out[4].n_dup_spans == 2
    # invariants
    for r in out.values():
        assert 0 <= r.n_dup_spans <= r.n_spans
        assert 0.0 <= r.dup_frac <= 1.0


def test_dup_span_internal_repeat_counts_without_cross_doc_match(spark):
    """A document repeating its own 8-gram is flagged even when no
    OTHER document shares it — the 'anywhere in the corpus' predicate
    (suffix-array semantics), not a cross-document-only one."""
    from distributed_mapreduce_spark.operators.dedup import dup_span_coverage

    phrase = "q w e r t y u i"
    rows = [(1, f"{phrase} {phrase}"), (2, "totally unrelated words here live nine ten eleven")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.id: r for r in dup_span_coverage(docs, span_n=8).collect()}
    # 16 tokens → 9 spans; spans 0 and 8 are the repeated phrase
    assert out[1].n_spans == 9 and out[1].n_dup_spans == 2
    assert out[2].n_dup_spans == 0


def test_unigram_entropy_bounds_and_known_values(spark):
    """Entropy core: 0 for a constant stream, ln(k) for a uniform
    stream over k tokens, and always within [0, ln(n_distinct)]."""
    import math

    from distributed_mapreduce_spark.functions.text import unigram_entropy

    rows = [
        (1, "same same same same"),             # constant → 0
        (2, "a b c d a b c d"),                 # uniform over 4 → ln 4
        (3, "x x x y"),                         # skewed: known closed form
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.id: r for r in unigram_entropy(docs).collect()}

    assert out[1].entropy == 0.0
    assert abs(out[2].entropy - math.log(4)) < 1e-6
    h3 = -(0.75 * math.log(0.75) + 0.25 * math.log(0.25))
    assert abs(out[3].entropy - h3) < 1e-6
    for r in out.values():
        assert 0.0 <= r.entropy <= math.log(max(r.n_distinct, 1)) + 1e-9


def test_dup_span_hash_grams_equivalent(spark, docs):
    """The hash_grams=True scale form (64-bit gram keys instead of
    ~50-byte strings in the shuffle) produces the identical coverage
    table on the fixture corpus — collisions are the only way the two
    can diverge."""
    from distributed_mapreduce_spark.operators.dedup import dup_span_coverage

    plain = {tuple(r) for r in dup_span_coverage(docs, span_n=8).collect()}
    hashed = {
        tuple(r) for r in dup_span_coverage(docs, span_n=8, hash_grams=True).collect()
    }
    assert plain == hashed and plain


def test_lsh_band_index_store_probe(spark, docs):
    """The materialized LSH band index (write_lsh_band_index →
    probe_lsh_band_index): candidates equal the same join against an
    unbucketed band table, and the plan exchanges ONLY the batch side
    — between the store's bucketed scan and the join there is no
    Exchange (the store's bucketing IS the join distribution; the
    distinct above the join shuffles candidate pairs, which is fine
    and batch-sized)."""
    from distributed_mapreduce_spark import plans
    from distributed_mapreduce_spark.operators.dedup import (
        band_rows,
        probe_lsh_band_index,
        write_lsh_band_index,
    )

    sig = minhash_signatures(doc_shingles(docs))
    store_sig = sig.where(F.col("id") % 2 == 0)
    batch_sig = sig.where(F.col("id") % 2 == 1)
    spark.sql("DROP TABLE IF EXISTS lsh_idx")
    try:
        write_lsh_band_index(store_sig, "lsh_idx", n_buckets=8)
        got = probe_lsh_band_index(spark, "lsh_idx", batch_sig)

        # reference: identical join against the unbucketed band rows
        a = band_rows(batch_sig).alias("a")
        b = band_rows(store_sig).alias("b")
        want = (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.id") != F.col("b.id")),
            )
            .select(F.col("a.id").alias("id_i"), F.col("b.id").alias("id_j"))
            .distinct()
        )
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
        assert got.count() > 0

        # plan: walking up from the store scan, no Exchange may appear
        # BELOW the join — the store is consumed as bucketed on disk.
        # Disable broadcast for the shape assertion: at fixture scale
        # both sides fit under the threshold and the planner would
        # broadcast ONE of them (no bucketing exercised at all) — at
        # index scale neither side broadcasts, which is the plan this
        # layout exists for.
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            shaped = probe_lsh_band_index(spark, "lsh_idx", batch_sig)
            plan = plans.physical_plan(shaped, "simple")
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        lines = [
            l for l in plan.splitlines() if l.strip() and not l.startswith("==")
        ]

        def depth(line):
            i = 0
            while i < len(line) and line[i] in " :+-":
                i += 1
            return i // 3

        target = next(
            i for i, l in enumerate(lines) if "lsh_idx" in l and "Scan" in l
        )
        d = depth(lines[target])
        for i in range(target - 1, -1, -1):
            dd = depth(lines[i])
            if dd < d:
                if "Join" in lines[i]:
                    break  # reached the join: store side was exchange-free
                assert "Exchange" not in lines[i], plan
                d = dd
        else:
            raise AssertionError(f"no join above the store scan:\n{plan}")
        # and the batch side DOES shuffle into the store's
        # distribution — anchored on the BAND columns so the distinct's
        # (id_i, id_j) exchange cannot satisfy this vacuously
        import re as _re

        assert _re.search(r"Exchange hashpartitioning\(band#", plan), plan
    finally:
        spark.sql("DROP TABLE IF EXISTS lsh_idx")


def test_lsh_band_index_rmtree_ownership_guard(spark, docs, tmp_path):
    """write_lsh_band_index may reclaim ONLY a directory it wrote (the
    orphan a dead in-memory catalog leaves behind, identified by the
    marker file). A foreign directory at the managed location — an
    EXTERNAL table's data, another tenant's files — must refuse, not
    silently rmtree (ADVICE r7)."""
    import os
    from urllib.parse import urlparse

    import pytest

    from distributed_mapreduce_spark.operators.dedup import write_lsh_band_index

    sig = minhash_signatures(doc_shingles(docs))
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path

    # foreign dir at the managed location → loud refusal, data intact
    foreign = os.path.join(wh, "lsh_guard_foreign")
    os.makedirs(foreign, exist_ok=True)
    with open(os.path.join(foreign, "precious.txt"), "w") as fh:
        fh.write("not yours\n")
    try:
        with pytest.raises(ValueError, match="marker"):
            write_lsh_band_index(sig, "lsh_guard_foreign", n_buckets=4)
        assert os.path.exists(os.path.join(foreign, "precious.txt"))
    finally:
        import shutil

        shutil.rmtree(foreign, ignore_errors=True)

    # marker-carrying orphan (catalog entry gone, dir remains) → reclaimed
    try:
        write_lsh_band_index(sig, "lsh_guard_orphan", n_buckets=4)
        loc = os.path.join(wh, "lsh_guard_orphan")
        spark.sql("DROP TABLE lsh_guard_orphan")  # managed drop deletes the dir...
        os.makedirs(loc)  # ...recreate an orphan shell with the marker
        with open(os.path.join(loc, "_dmr_lsh_band_index"), "w") as fh:
            fh.write("orphan\n")
        write_lsh_band_index(sig, "lsh_guard_orphan", n_buckets=4)
        assert spark.table("lsh_guard_orphan").count() > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS lsh_guard_orphan")


def test_lsh_band_index_append_equals_full_build(spark, docs):
    """append_lsh_band_index (VERDICT r7 #1): an index seeded from one
    third of the corpus and maintained with two appended batches must
    probe identically to a fresh full build; each append adds at most
    one file per bucket (the repartition-to-bucket alignment), the
    probe plan keeps the store side exchange-free across appends, and
    compact_lsh_band_index squashes the chain back without changing a
    single candidate."""
    import os
    from urllib.parse import urlparse

    from distributed_mapreduce_spark import plans
    from distributed_mapreduce_spark.operators.dedup import (
        append_lsh_band_index,
        compact_lsh_band_index,
        probe_lsh_band_index,
        write_lsh_band_index,
    )

    sig = minhash_signatures(doc_shingles(docs)).persist()
    probe_sig = sig.where(F.col("id") % 7 == 3)
    parts = [sig.where(F.col("id") % 3 == i) for i in range(3)]
    try:
        write_lsh_band_index(sig, "lsh_full", n_buckets=8)
        write_lsh_band_index(parts[0], "lsh_inc", n_buckets=8)
        append_lsh_band_index(parts[1], "lsh_inc", n_buckets=8)
        append_lsh_band_index(parts[2], "lsh_inc", n_buckets=8)

        want = sorted(
            map(tuple, probe_lsh_band_index(spark, "lsh_full", probe_sig).collect())
        )
        got = sorted(
            map(tuple, probe_lsh_band_index(spark, "lsh_inc", probe_sig).collect())
        )
        assert got == want and want

        # file accounting: 3 write jobs x <=1 file per bucket per job
        wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        files = [
            f
            for f in os.listdir(os.path.join(wh, "lsh_inc"))
            if f.endswith(".parquet") or ("part-" in f and not f.startswith("."))
        ]
        assert len(files) <= 3 * 8, files

        # the probe against the APPENDED index still consumes the store
        # bucketed (no Exchange between its scan and the join)
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            plan = plans.physical_plan(
                probe_lsh_band_index(spark, "lsh_inc", probe_sig), "simple"
            )
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        lines = [l for l in plan.splitlines() if l.strip() and not l.startswith("==")]

        def depth(line):
            i = 0
            while i < len(line) and line[i] in " :+-":
                i += 1
            return i // 3

        target = next(i for i, l in enumerate(lines) if "lsh_inc" in l and "Scan" in l)
        d = depth(lines[target])
        for i in range(target - 1, -1, -1):
            dd = depth(lines[i])
            if dd < d:
                if "Join" in lines[i]:
                    break
                assert "Exchange" not in lines[i], plan
                d = dd
        else:
            raise AssertionError(f"no join above the store scan:\n{plan}")

        # compaction: one file per bucket again, candidates unchanged
        n_before = spark.table("lsh_inc").count()
        assert compact_lsh_band_index(spark, "lsh_inc", n_buckets=8) == n_before
        files2 = [
            f
            for f in os.listdir(os.path.join(wh, "lsh_inc"))
            if "part-" in f and not f.startswith(".")
        ]
        assert len(files2) <= 8, files2
        after = sorted(
            map(tuple, probe_lsh_band_index(spark, "lsh_inc", probe_sig).collect())
        )
        assert after == want
        # append requires an existing table
        import pytest

        with pytest.raises(ValueError, match="does not exist"):
            append_lsh_band_index(parts[0], "lsh_nonexistent", n_buckets=8)
    finally:
        sig.unpersist()
        spark.sql("DROP TABLE IF EXISTS lsh_full")
        spark.sql("DROP TABLE IF EXISTS lsh_inc")


def test_greedy_reject_keep_first_chain_semantics(spark):
    """Keep-first-by-id resolution: chains A~B, B~C with A≁C keep A
    AND C (B's rejection un-rejects C) — the property that
    distinguishes greedy ingest dedup from component-collapse."""
    from distributed_mapreduce_spark.operators.dedup import greedy_reject_ids

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (1, 6)], "id_i bigint, id_j bigint"
    )
    # 1 kept; 2 rejected (dups 1); 3 kept (its only smaller dup, 2, was
    # rejected); 5 kept; 6 rejected (dups kept 1 even though 5 also dups it)
    assert greedy_reject_ids(pairs) == {2, 6}


def test_greedy_reject_enforces_driver_bound(spark):
    """The driver-side pair-list bound is ENFORCED, not assumed
    (VERDICT r13 #4): an all-duplicates corpus — every doc near-dups
    every other, the O(N²) pathological case — refuses loudly before
    collecting, and the refusal points at the distributed CC
    resolution. Exercised through the real pipeline (identical texts →
    identical minhash signatures → every pair LSH-candidate and
    exact-verified), not a hand-built pair list."""
    import pytest

    from distributed_mapreduce_spark.operators.dedup import (
        greedy_reject_ids,
        minhash_near_dup_pairs,
    )

    docs = spark.createDataFrame(
        [(i, "the same document text repeated verbatim") for i in range(30)],
        "doc_id bigint, text string",
    )
    pairs = minhash_near_dup_pairs(docs, 0.5)
    with pytest.raises(ValueError, match="exceed the driver-side bound"):
        greedy_reject_ids(pairs, max_pairs=100)
    # under the bound the same list resolves: keep-first keeps doc 0
    assert greedy_reject_ids(pairs) == set(range(1, 30))


def test_compact_lsh_band_index_crash_exactness(spark, docs, monkeypatch):
    """compact_lsh_band_index's fresh-name swap (VERDICT r10 #2): a
    failure at ANY step leaves a complete, recoverable copy of the
    index. (a) A rebuild failure — saveAsTable throws — leaves the
    ORIGINAL table untouched and a plain retry succeeds (the old
    stage-out design rmtree'd the staging copy in a finally after its
    DROP, so any transient rebuild error was permanent data loss).
    (b) A crash between the DROP and the RENAME leaves the complete
    copy under `<table>__compact`; the next compact call SELF-HEALS by
    renaming it into place. Probe results are unchanged throughout."""
    from pyspark.sql.readwriter import DataFrameWriter

    from distributed_mapreduce_spark.operators.dedup import (
        append_lsh_band_index,
        compact_lsh_band_index,
        probe_lsh_band_index,
        write_lsh_band_index,
    )

    sig = minhash_signatures(doc_shingles(docs.where(F.col("doc_id") < 200)))
    probe_sig = sig.where(F.col("id") % 7 == 3)
    tbl = "lsh_crash_idx"
    try:
        write_lsh_band_index(sig.where(F.col("id") % 2 == 0), tbl, n_buckets=4)
        append_lsh_band_index(sig.where(F.col("id") % 2 == 1), tbl, n_buckets=4)
        want = sorted(map(tuple, probe_lsh_band_index(spark, tbl, probe_sig).collect()))
        n_want = spark.table(tbl).count()
        assert want and n_want

        # (a) rebuild failure: original untouched, retry succeeds
        real_save = DataFrameWriter.saveAsTable

        def boom(self, name, *a, **kw):
            raise RuntimeError("injected crash: rebuild failed")

        monkeypatch.setattr(DataFrameWriter, "saveAsTable", boom)
        with pytest.raises(RuntimeError, match="injected crash"):
            compact_lsh_band_index(spark, tbl, n_buckets=4)
        monkeypatch.setattr(DataFrameWriter, "saveAsTable", real_save)

        assert spark.catalog.tableExists(tbl), "original index must survive"
        assert spark.table(tbl).count() == n_want
        assert compact_lsh_band_index(spark, tbl, n_buckets=4) == n_want
        assert not spark.catalog.tableExists(f"{tbl}__compact")
        got = sorted(map(tuple, probe_lsh_band_index(spark, tbl, probe_sig).collect()))
        assert got == want

        # (b) crash between DROP and RENAME: reconstruct that exact
        # state (complete staging copy, original gone) and self-heal
        (
            spark.table(tbl)
            .repartition(4, "band", "bucket")
            .write.bucketBy(4, "band", "bucket")
            .sortBy("band", "bucket")
            .saveAsTable(f"{tbl}__compact")
        )
        spark.sql(f"DROP TABLE {tbl}")
        assert not spark.catalog.tableExists(tbl)

        assert compact_lsh_band_index(spark, tbl, n_buckets=4) == n_want
        assert spark.catalog.tableExists(tbl)
        assert not spark.catalog.tableExists(f"{tbl}__compact")
        healed = sorted(
            map(tuple, probe_lsh_band_index(spark, tbl, probe_sig).collect())
        )
        assert healed == want

        # nothing to compact and nothing to recover: loud error
        spark.sql(f"DROP TABLE {tbl}")
        with pytest.raises(ValueError, match="does not exist"):
            compact_lsh_band_index(spark, tbl, n_buckets=4)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        spark.sql(f"DROP TABLE IF EXISTS {tbl}__compact")


def test_span_scrub_keeps_canonical_drops_later(spark):
    """The rewrite pass: the lexicographically-first occurrence of a
    duplicated span survives verbatim; every token covered by a later
    occurrence is stripped; unique text and sub-span_n documents pass
    through untouched."""
    from distributed_mapreduce_spark.operators.dedup import span_scrub

    rows = [
        (1, "a b c d e"),  # canonical "a b c" at (1, 0) — untouched
        (2, "x a b c y"),  # duplicate "a b c" covers tokens 1-3 → "x y"
        (3, "p q r"),  # unique gram — untouched
        (4, "s t"),  # shorter than span_n: no spans — untouched
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.id: r for r in span_scrub(df, span_n=3).collect()}
    assert out[1].scrubbed == "a b c d e" and out[1].n_kept == 5
    assert out[2].scrubbed == "x y" and out[2].n_kept == 2
    assert out[2].n_tokens == 5 and out[2].kept_frac == 0.4
    assert out[3].scrubbed == "p q r"
    assert out[4].scrubbed == "s t" and out[4].n_kept == 2
    assert set(out) == {1, 2, 3, 4}


def test_span_scrub_within_document_repeat(spark):
    """Self-repetition collapses: the duplicated gram's first in-doc
    occurrence is canonical, later ones are stripped — including the
    overlap-window tokens between them."""
    from distributed_mapreduce_spark.operators.dedup import span_scrub

    df = spark.createDataFrame(
        [(7, "m n o m n o")], "doc_id long, text string"
    )
    out = span_scrub(df, span_n=3).collect()[0]
    # grams: "m n o"(0) canonical, "n o m"(1), "o m n"(2), "m n o"(3)
    # dropped — coverage = positions 3..5
    assert out.scrubbed == "m n o"
    assert out.n_tokens == 6 and out.n_kept == 3


def test_span_scrub_overlapping_drops_merge_coverage(spark):
    """Two overlapping non-canonical spans cover the union of their
    token windows, not double-count it; a fully-duplicated document
    scrubs to the empty string but still returns its row."""
    from distributed_mapreduce_spark.operators.dedup import span_scrub

    rows = [
        (1, "a b c d"),  # canonical "a b c"(0) and "b c d"(1)
        (2, "a b c d"),  # both grams duplicated → every token covered
        (3, "1234 5678 ..."),  # zero letter-run tokens: membership kept
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.id: r for r in span_scrub(df, span_n=3).collect()}
    assert out[1].scrubbed == "a b c d"
    assert out[2].scrubbed == "" and out[2].n_kept == 0
    assert out[2].kept_frac == 0.0
    # a rewrite pass preserves corpus membership: the token-free doc
    # keeps its row, untouched (r13 review finding)
    assert set(out) == {1, 2, 3}
    assert out[3].n_tokens == 0 and out[3].n_kept == 0
    assert out[3].kept_frac == 1.0 and out[3].scrubbed == ""


def test_span_scrub_hash_grams_equivalent(spark, docs):
    """span_scrub's hash_grams=True scale form (8-byte xxhash64 gram
    keys in the agg/join shuffle) rewrites the fixture corpus
    identically to the string form — gram collisions are the only way
    the two can diverge."""
    from distributed_mapreduce_spark.operators.dedup import span_scrub

    plain = {tuple(r) for r in span_scrub(docs, span_n=8).collect()}
    hashed = {
        tuple(r) for r in span_scrub(docs, span_n=8, hash_grams=True).collect()
    }
    assert plain == hashed and plain


def test_keep_best_picks_quality_argmax_not_min_id(spark, sf_dir):
    """dedup_q18's policy on a hand corpus: within a near-dup cluster
    the HIGHEST-stopword-ratio member wins even when it has the
    largest doc_id (keep-best ≠ keep-first); singletons keep
    themselves; cluster sizes are exact."""
    import duckdb

    from distributed_mapreduce_spark.queries.textops import (
        SHADOW_ORACLES,
        dedup_q18_keep_best,
    )

    out = {r.doc_id: r for r in dedup_q18_keep_best(spark, sf_dir).collect()}
    assert out, "no representatives"
    # cross-check totals: representatives partition the corpus
    from distributed_mapreduce_spark.sources import table

    n_docs = table(spark, sf_dir, "documents").count()
    assert sum(r.n_members for r in out.values()) == n_docs
    # at least one multi-member cluster exists in the fixture and its
    # winner is the quality argmax under the declared total order
    multi = [r for r in out.values() if r.n_members > 1]
    assert multi, "fixture has planted near-dups; expected clusters"
    # independent DuckDB replay of the winner rule (the oracle) agrees
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    oracle = {
        row[1]: row
        for row in con.sql(SHADOW_ORACLES["dedup_q18_keep_best"]).fetchall()
    }
    assert set(oracle) == set(out)


def test_keep_best_synthetic_winner_by_stopword_ratio(spark):
    """Synthetic cluster THROUGH THE REAL OPERATOR
    (operators/dedup.keep_best_by_quality — the same code path
    dedup_q18 runs): docs 1 and 9 are near-dups; doc 9 has the higher
    stopword ratio and must win despite the larger id. Doc 5 is a
    singleton and keeps itself."""
    from distributed_mapreduce_spark.operators.dedup import (
        doc_shingles,
        jaccard_pairs,
        keep_best_by_quality,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, base),  # sw ratio 0
        (9, f"the {base}"),  # near-dup of 1 (high jaccard), sw ratio > 0
        (5, "completely different words live here entirely"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = jaccard_pairs(doc_shingles(df), 0.5)
    got = {(r.id_i, r.id_j) for r in pairs.collect()}
    assert got == {(1, 9)}, got
    kept = {r.doc_id: r for r in keep_best_by_quality(df, pairs).collect()}
    assert set(kept) == {9, 5}, kept
    assert kept[9].n_members == 2 and kept[9].component == 1
    assert kept[5].n_members == 1 and kept[5].component == 5
