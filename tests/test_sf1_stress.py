"""Opt-in sf1 stress smoke (VERDICT r2 item 8 / r3 item 3, widened
r7 per VERDICT r6 #3): runs the scale-critical queries at 10× the
bench scale under recorded wall-clock budgets — catches
scaling-constant and complexity-class regressions before a real 100×
corpus would. The matrix:

- `dedup_q3_ngram_jaccard` — df-bounded quadratic shingle self-join
- `dedup_q6_embedding_cosine` — grid-scheduled exact all-pairs
- `dedup_q4_minhash_lsh` — banded LSH bucket join (the 100 TB dedup
  shape; must stay ~linear, never degrade to all-pairs)
- `dedup_q7_clusters` / `dedup_q13_pagerank` — iterative connected
  components / PageRank (lineage localCheckpointed since r6: rounds
  must scale with data, not re-execute upstream pair-gen per
  iteration)
- `sim_q6_kmeans_census` — Lloyd iterations over a persisted
  training set
- `pack_q1_greedy` — per-stratum sequential packing fold on the
  Arrow lane
- `dedup_q15_incremental_lsh` — incremental batch probe of the LSH
  band index (must stay ~linear in batch+collisions)

Not part of the default suite (minutes of wall-clock): run with

    DMR_SF1_STRESS=1 python -m pytest tests/test_sf1_stress.py -v -s

The sf1 fixture is synthesized on the fly (the driver ships sf≤0.1):

- documents: the sf0.1 corpus tiled 10×, every token salted with a
  per-replica letter so replica shingle-sets are DISJOINT — the
  near-dup pair structure of the original corpus replicates linearly
  (10× pairs for 10× docs) instead of every doc gaining 9 artificial
  twins (which would make the workload quadratically denser than any
  real corpus and measure the wrong thing).
- embeddings: 10× rows of fresh seeded Gaussian vectors (same dim /
  dtype as the fixture). The grid's quadratic pair-scoring cost
  depends only on N, which is the scaling axis under test; the output
  pair count at τ=0.4 is the random-cosine tail (~1e5 rows at N=20k,
  d=64), comfortably materializable.

Budgets are deliberately loose (~10× the measured time on this host,
local[32] — 300 s vs 23.8 s, 600 s vs 52.2 s): they fail on
complexity-class regressions (an unbounded self-join or a lost grid
cell constraint turns minutes into hours), not on host noise. Measured
times land in SCALE.md.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

pytestmark = pytest.mark.skipif(
    os.environ.get("DMR_SF1_STRESS") != "1",
    reason="sf1 stress smoke is opt-in: set DMR_SF1_STRESS=1",
)

# The ingest-scaling tests assert on the sinks' per-batch gate_bytes
# manifest stamps, which are opt-in instrumentation (r11 ADVICE — a
# recursive stat walk the production hot path shouldn't pay): turn
# them on for this suite only. foreachBatch callbacks run driver-side
# in this process, so the env is visible to the sinks. Scoped to an
# autouse fixture (r12 ADVICE) — a module-level set would execute at
# pytest collection even when the suite is skipped, re-enabling the
# gate_bytes stat walk process-wide for later-collected suites and
# leaving the production-default no-gate_bytes path never exercised.
@pytest.fixture(scope="module", autouse=True)
def _sink_evidence_env():
    prev = os.environ.get("DMR_SINK_EVIDENCE")
    os.environ["DMR_SINK_EVIDENCE"] = "1"
    yield
    if prev is None:
        os.environ.pop("DMR_SINK_EVIDENCE", None)
    else:
        os.environ["DMR_SINK_EVIDENCE"] = prev

SF01 = "/root/testdata/sf0.1"
REPLICAS = 10

# Wall-clock budgets (seconds) on this host at local[32]. Measured r4:
# dedup_q3 = 23.8 s (3.8× its sf0.1 time for 10× docs — the df-bounded
# join scales linearly and fixed overheads amortize), dedup_q6 =
# 52.2 s (9× for 100× pairs — grid pair-scoring is still a minority of
# the sf0.1 cost). Budgets sit ~10× above measured: they fail on
# complexity-class regressions, not host noise.
BUDGET_Q3_S = 300
BUDGET_Q6_S = 600
# r7 additions — measured on this host (quiet, local[32]); budgets
# ~10× the worst measurement across run orderings (the first test in
# a session absorbs engine warm-up, so each query's worst includes a
# first-position run): dedup_q4 9.4–26.8 s, dedup_q7 8.5–21.6 s,
# dedup_q13 11.8–14.6 s, sim_q6 9.0 s (array-native kmeans),
# pack_q1 1.9 s. Scaling reads in SCALE.md's stress table.
BUDGET_Q4_S = 300
BUDGET_Q7_S = 220
BUDGET_Q13_S = 150
BUDGET_SIMQ6_S = 100
BUDGET_PACK_S = 60
BUDGET_Q15_S = 300  # measured r7: 31.0 s (~5-6x for 10x docs, linear)
# r13: span_scrub (dedup_q17) measured 2.1 s at sf0.1 — the keyed gram
# agg + join-back + per-doc window are all ∝ corpus tokens, so sf1
# should land ~10-25 s; budget ~10× that upper read.
BUDGET_Q17_S = 240
# r13: semdedup (dedup_q19) = kmeans (~sim_q6's cost) + a cell-keyed
# pair join of Σ|cell|² ≈ N²/k pairs (at N=20k, k=8: ~25M flat-column
# dots ≈ 1/8 of dedup_q6's grid volume) + CC on the surviving pairs.
# Expect tens of seconds; budget ~10× the expected read.
BUDGET_Q19_S = 400
# r13: PCA power iteration (ml_q3) = iters+2 scans with dim-sized
# decimal partials — the narrow-plan iterative shape; expect seconds
# at N=20k.
BUDGET_MLQ3_S = 120
BUDGET_Q20_S = 120


@pytest.fixture(scope="module")
def sf1_dir():
    import duckdb

    workdir = tempfile.mkdtemp(prefix="dmr_sf1_")
    # documents: 10 token-salted replicas (see module docstring).
    duckdb.sql(
        f"""
        COPY (
            SELECT d.doc_id + r.k * 1000000 AS doc_id,
                   regexp_replace(d.text, '([a-z]+)', '\\1' || chr(CAST(97 + r.k AS INTEGER)), 'g') AS text,
                   d.lang, d.source, d.n_chars
            FROM read_parquet('{SF01}/documents.parquet') d, range({REPLICAS}) r(k)
        ) TO '{workdir}/documents.parquet' (FORMAT PARQUET)
        """
    )
    # embeddings: 10× fresh seeded Gaussian rows, fixture schema.
    n_src = pq.read_metadata(f"{SF01}/embeddings.parquet").num_rows
    n = n_src * REPLICAS
    rng = np.random.RandomState(42)
    vecs = rng.standard_normal((n, 64)).astype(np.float32)
    tbl = pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(vecs.reshape(-1)), 64
            ).cast(pa.list_(pa.float32())),
            "label": pa.array(rng.randint(0, 10, size=n), pa.int32()),
        }
    )
    pq.write_table(tbl, f"{workdir}/embeddings.parquet")
    yield workdir
    shutil.rmtree(workdir, ignore_errors=True)


@pytest.fixture(scope="module")
def stress_spark():
    from pyspark.sql import SparkSession

    from distributed_mapreduce_spark.session import get_spark

    # Full-width session (the conftest `spark` fixture pins local[4]
    # for the fault-injection test; the stress smoke wants bench
    # parallelism). getOrCreate would silently reuse — and our teardown
    # would stop — any session another test module already created, so
    # refuse to run alongside one: the smoke is standalone-only.
    if SparkSession.getActiveSession() is not None:
        pytest.skip(
            "sf1 stress needs its own full-width SparkSession — run "
            "tests/test_sf1_stress.py standalone, not inside the full suite"
        )
    spark = get_spark(app_name="dmr-sf1-stress")
    yield spark
    spark.stop()


def _timed(name: str, make_df) -> float:
    """Time construction AND execution: iterative operators (CC,
    PageRank, k-means, BPE) do their work EAGERLY inside the query
    call (localCheckpoint / driver folds), so timing only the final
    action of a pre-built DataFrame would miss almost all of it."""
    t0 = time.perf_counter()
    make_df().write.format("noop").mode("overwrite").save()
    dt = time.perf_counter() - t0
    print(f"\n  [sf1 stress] {name}: {dt:.1f}s")
    return dt


def test_sf1_dedup_q3_ngram_jaccard(stress_spark, sf1_dir):
    from distributed_mapreduce_spark.queries.textops import dedup_q3_ngram_jaccard

    dt = _timed("dedup_q3_ngram_jaccard", lambda: dedup_q3_ngram_jaccard(stress_spark, sf1_dir))
    assert dt < BUDGET_Q3_S, (
        f"dedup_q3 took {dt:.0f}s at sf1 (budget {BUDGET_Q3_S}s) — "
        "check the MAX_SHINGLE_DF skew guard still bounds the self-join"
    )


def test_sf1_dedup_q6_embedding_cosine(stress_spark, sf1_dir):
    from distributed_mapreduce_spark.queries.simops import dedup_q6_embedding_cosine

    dt = _timed(
        "dedup_q6_embedding_cosine",
        lambda: dedup_q6_embedding_cosine(stress_spark, sf1_dir),
    )
    assert dt < BUDGET_Q6_S, (
        f"dedup_q6 took {dt:.0f}s at sf1 (budget {BUDGET_Q6_S}s) — "
        "check the upper-triangle grid still scores each pair exactly once"
    )


def test_sf1_dedup_q17_span_scrub(stress_spark, sf1_dir):
    from distributed_mapreduce_spark.queries.textops import dedup_q17_span_scrub

    dt = _timed(
        "dedup_q17_span_scrub", lambda: dedup_q17_span_scrub(stress_spark, sf1_dir)
    )
    assert dt < BUDGET_Q17_S, (
        f"dedup_q17 took {dt:.0f}s at sf1 (budget {BUDGET_Q17_S}s) — "
        "check the gram agg/join-back stayed keyed (no all-pairs) and "
        "the coverage window still partitions per document"
    )


def test_sf1_dedup_q20_paragraph_dedup(stress_spark, sf1_dir):
    """CCNet paragraph dedup at 10× — the hot-paragraph skew case the
    operator's agg+join design exists for: the spliced rights-notice
    paragraph duplicates across ALL ~50k sf1 pages, so a window over
    the paragraph key would put the whole corpus in one task; the
    min(struct) partial agg must combine it map-side and keep the run
    ~linear in pages."""
    from distributed_mapreduce_spark.queries.textops import dedup_q20_paragraph_dedup

    dt = _timed(
        "dedup_q20_paragraph_dedup",
        lambda: dedup_q20_paragraph_dedup(stress_spark, sf1_dir),
    )
    assert dt < BUDGET_Q20_S, (
        f"dedup_q20 took {dt:.0f}s at sf1 (budget {BUDGET_Q20_S}s) — "
        "check first-occurrence winners are still a partial-agg "
        "min(struct), never a window over the paragraph key"
    )


def test_sf1_dedup_q19_semdedup(stress_spark, sf1_dir):
    from distributed_mapreduce_spark.queries.simops import dedup_q19_semdedup

    dt = _timed("dedup_q19_semdedup", lambda: dedup_q19_semdedup(stress_spark, sf1_dir))
    assert dt < BUDGET_Q19_S, (
        f"dedup_q19 took {dt:.0f}s at sf1 (budget {BUDGET_Q19_S}s) — "
        "check the pair join is still keyed on cell (Σ|cell|² pairs, "
        "never the full N² cross)"
    )


def test_sf1_ml_q3_pca_power(stress_spark, sf1_dir):
    from distributed_mapreduce_spark.queries.simops import ml_q3_pca_power

    dt = _timed("ml_q3_pca_power", lambda: ml_q3_pca_power(stress_spark, sf1_dir))
    assert dt < BUDGET_MLQ3_S, (
        f"ml_q3 took {dt:.0f}s at sf1 (budget {BUDGET_MLQ3_S}s) — "
        "check each iteration is ONE scan with dim-sized decimal "
        "partials (training set persisted, plans narrow)"
    )


def test_sf1_dedup_q4_minhash_lsh(stress_spark, sf1_dir):
    from distributed_mapreduce_spark.queries.textops import dedup_q4_minhash_lsh

    dt = _timed("dedup_q4_minhash_lsh", lambda: dedup_q4_minhash_lsh(stress_spark, sf1_dir))
    assert dt < BUDGET_Q4_S, (
        f"dedup_q4 took {dt:.0f}s at sf1 (budget {BUDGET_Q4_S}s) — "
        "check banding still bounds the bucket join (never all-pairs)"
    )


def test_sf1_dedup_q7_clusters(stress_spark, sf1_dir):
    from distributed_mapreduce_spark.queries.textops import dedup_q7_clusters

    dt = _timed("dedup_q7_clusters", lambda: dedup_q7_clusters(stress_spark, sf1_dir))
    assert dt < BUDGET_Q7_S, (
        f"dedup_q7 took {dt:.0f}s at sf1 (budget {BUDGET_Q7_S}s) — "
        "check CC iterations aren't re-executing pair generation "
        "(edge list must stay localCheckpointed before the loop)"
    )


def test_sf1_dedup_q13_pagerank(stress_spark, sf1_dir):
    from distributed_mapreduce_spark.queries.textops import dedup_q13_pagerank

    dt = _timed("dedup_q13_pagerank", lambda: dedup_q13_pagerank(stress_spark, sf1_dir))
    assert dt < BUDGET_Q13_S, (
        f"dedup_q13 took {dt:.0f}s at sf1 (budget {BUDGET_Q13_S}s) — "
        "check the symmetrized edge list is checkpointed before iterating"
    )


def test_sf1_sim_q6_kmeans(stress_spark, sf1_dir):
    from distributed_mapreduce_spark.queries.simops import sim_q6_kmeans_census

    dt = _timed("sim_q6_kmeans_census", lambda: sim_q6_kmeans_census(stress_spark, sf1_dir))
    assert dt < BUDGET_SIMQ6_S, (
        f"sim_q6 took {dt:.0f}s at sf1 (budget {BUDGET_SIMQ6_S}s) — "
        "check the flattened training set stays persisted across Lloyd steps"
    )


def test_sf1_dedup_q15_incremental_lsh(stress_spark, sf1_dir):
    from distributed_mapreduce_spark.queries.textops import dedup_q15_incremental_lsh

    dt = _timed(
        "dedup_q15_incremental_lsh",
        lambda: dedup_q15_incremental_lsh(stress_spark, sf1_dir),
    )
    assert dt < BUDGET_Q15_S, (
        f"dedup_q15 took {dt:.0f}s at sf1 (budget {BUDGET_Q15_S}s) — "
        "check the batch probe still joins band buckets, never all-pairs"
    )


def test_sf1_pack_q1_greedy(stress_spark, sf1_dir):
    from distributed_mapreduce_spark.queries.pipeline_queries import pack_q1_greedy

    dt = _timed("pack_q1_greedy", lambda: pack_q1_greedy(stress_spark, sf1_dir))
    assert dt < BUDGET_PACK_S, (
        f"pack_q1 took {dt:.0f}s at sf1 (budget {BUDGET_PACK_S}s) — "
        "check packing is still one Arrow-lane pass per stratum"
    )


# r8 additions (VERDICT r7 #4): the r7 layout/ingest newcomers at 10×.
# Measured r8 (quiet host, local[32]): write_zordered 6.6 s (vs
# ~1.5 s inside rel_q20 at sf0.1 — linear in rows through the one
# range shuffle), global_shuffle_index 2.6 s over 10× rows,
# compact_store replay 93.6 s for 24+4 micro-batches (cost is
# per-batch stream overhead, not data volume). Budgets ~10× worst
# measurement; scaling reads in SCALE.md's stress table.
BUDGET_ZORDER_S = 90
BUDGET_SHUFFLE_IDX_S = 45
BUDGET_COMPACT_REPLAY_S = 420


def test_sf1_write_zordered(stress_spark, sf1_dir):
    """write_zordered at 10× documents, string + numeric z-columns:
    the boundary sample (TakeOrdered, no count job) + ONE
    repartitionByRange shuffle must scale ~linearly, rows must
    survive exactly, and the zone manifest must actually prune a
    point-range read (the property the layout exists for)."""
    from distributed_mapreduce_spark.sources.layout import write_zordered
    from distributed_mapreduce_spark.sources.manifest import read_pruned_multi

    docs = stress_spark.read.parquet(f"{sf1_dir}/documents.parquet").select(
        "doc_id", "lang", "n_chars", "source"
    )
    out = os.path.join(sf1_dir, "zordered")
    t0 = time.perf_counter()
    manifest = write_zordered(docs, out, ["lang", "n_chars"], bits=5, n_files=32)
    dt = time.perf_counter() - t0
    print(f"\n  [sf1 stress] write_zordered: {dt:.1f}s")
    assert dt < BUDGET_ZORDER_S, (
        f"write_zordered took {dt:.0f}s at sf1 (budget {BUDGET_ZORDER_S}s) — "
        "check the boundary sample is still TakeOrdered and the write "
        "still pays exactly one range shuffle"
    )
    assert manifest, "zone manifest missing"
    back = stress_spark.read.parquet(out)
    assert back.count() == docs.count()
    pruned, n_read, n_total = read_pruned_multi(
        stress_spark,
        out,
        {"lang": ("de", "de"), "n_chars": (0, 300)},
    )
    assert n_read < n_total, "zone pruning read every file on a point-range probe"
    print(f"  [sf1 stress] zorder probe read {n_read}/{n_total} files")


def test_sf1_global_shuffle_index(stress_spark, sf1_dir):
    """global_shuffle_index at 10× rows: the permutation must stay the
    two-phase bucket-offset plan (NO single-partition window — plan-
    asserted with the r8 guard), produce a dense 0..N−1 index, and
    scale ~linearly (one checkpointed scan + one bucket-partitioned
    window)."""
    from distributed_mapreduce_spark import plans
    from distributed_mapreduce_spark.operators.sampling import global_shuffle_index

    docs = stress_spark.read.parquet(f"{sf1_dir}/documents.parquet").select(
        "doc_id"
    )
    n = docs.count()
    t0 = time.perf_counter()
    out = global_shuffle_index(docs, "doc_id", seed="sf1", buckets=256)
    assert not plans.global_window_nodes(out), "single-partition window sneaked in"
    from pyspark.sql import functions as F

    agg = out.agg(
        F.count("*").alias("n"),
        F.countDistinct("pos").alias("d"),
        F.min("pos").alias("lo"),
        F.max("pos").alias("hi"),
    ).collect()[0]
    dt = time.perf_counter() - t0
    print(f"\n  [sf1 stress] global_shuffle_index: {dt:.1f}s over {n} rows")
    assert (agg.n, agg.d, agg.lo, agg.hi) == (n, n, 0, n - 1)
    assert dt < BUDGET_SHUFFLE_IDX_S, (
        f"global_shuffle_index took {dt:.0f}s at sf1 "
        f"(budget {BUDGET_SHUFFLE_IDX_S}s)"
    )


def test_sf1_compact_store_replay_10x_batches(stress_spark, tmp_path):
    """compact_store_partitioned replay convergence at 10× the batch
    count of the unit test (24 micro-batches → compact → fresh-
    checkpoint resume over the full feed + 4 new batches): the
    manifest chain resets 24 → 1, the replayed feed converges onto
    the compacted snapshot, and the result equals a straight
    uncompacted run."""
    import pyarrow as pa2
    import pyarrow.parquet as pq2

    from distributed_mapreduce_spark.streaming import event_stream
    from distributed_mapreduce_spark.streaming.commitlog import VersionManifests
    from distributed_mapreduce_spark.streaming.sinks import (
        compact_store_partitioned,
        foreach_batch_cdc_merge_partitioned,
        read_current_partitioned,
    )
    from pyspark.sql import functions as F

    def chunk(path, rows, mtime):
        tbl = pa2.table(
            {
                "event_id": pa2.array([r[0] for r in rows], pa2.int64()),
                "ts": pa2.array(
                    [r[0] * 1_000_000 for r in rows], pa2.timestamp("us")
                ),
                "user_id": pa2.array([r[1] for r in rows], pa2.int64()),
                "event_type": pa2.array([r[2] for r in rows]),
                "value": pa2.array([float(r[3]) for r in rows], pa2.float64()),
                "props": pa2.array(["{}"] * len(rows)),
            }
        )
        pq2.write_table(tbl, path)
        os.utime(path, (mtime, mtime))

    def to_changes(ev):
        return ev.select(
            F.col("user_id").alias("k"),
            F.col("event_id").alias("ord"),
            (F.col("event_type") == "del").cast("int").alias("is_delete"),
            F.col("value").alias("v"),
        )

    src = tmp_path / "src"
    src.mkdir()
    base = time.time()
    # 24 batches over 60 keys: updates with rising ord, every 5th
    # batch deletes a key — a realistic upsert/delete mix
    n_batches, keys = 24, 60
    for b in range(n_batches):
        rows = [
            (b * 1000 + k, k, ("del" if (b % 5 == 4 and k % 7 == b % 7) else "up"), b + k / 100)
            for k in range(b % 3, keys, 3)
        ]
        chunk(str(src / f"c{b:03d}.parquet"), rows, base + b)

    def run(store, ckpt):
        q = foreach_batch_cdc_merge_partitioned(
            to_changes(event_stream(stress_spark, str(src))),
            store,
            ckpt,
            "k",
            n_buckets=8,
            ordered=True,
        )
        q.awaitTermination()

    t0 = time.perf_counter()
    s1 = str(tmp_path / "s1")
    run(s1, str(tmp_path / "ckpt1"))
    assert len(VersionManifests(s1).committed()) == n_batches

    s2 = str(tmp_path / "s2")
    compact_store_partitioned(stress_spark, s1, s2, "k")
    assert len(VersionManifests(s2).committed()) == 1

    for b in range(n_batches, n_batches + 4):
        rows = [(b * 1000 + k, k, "up", -b - k) for k in range(0, keys, 2)]
        chunk(str(src / f"c{b:03d}.parquet"), rows, base + b)
    run(s2, str(tmp_path / "ckpt2"))  # fresh checkpoint: full replay + new
    s3 = str(tmp_path / "s3")
    run(s3, str(tmp_path / "ckpt3"))  # straight run oracle
    dt = time.perf_counter() - t0
    print(f"\n  [sf1 stress] compact_store replay @ {n_batches}+4 batches: {dt:.1f}s")

    live = lambda s: sorted(
        (r.k, r.v, r.ord)
        for r in read_current_partitioned(
            stress_spark, s, live_only=True
        ).collect()
    )
    assert live(s2) == live(s3)
    assert dt < BUDGET_COMPACT_REPLAY_S, (
        f"compact+replay took {dt:.0f}s (budget {BUDGET_COMPACT_REPLAY_S}s)"
    )


# r11 additions (VERDICT r8 #4 / r10 #3): the streaming ingest sinks at
# 10× feed volume over ≥12 micro-batches. These are the tests that turn
# the r9 bucket-pruning DESIGN into measured evidence: every batch's
# manifest carries its wall time (elapsed_s) and the bytes of committed
# store data its pruned reads listed (gate_bytes), so the assertions
# read the sink's own per-batch records. What must hold as committed
# batches grow, what must hold: s/batch ~flat (dominant cost ∝ batch,
# not store) and the gate reads bounded by ONE listing of the
# SIDECARS (int ids + shingle hashes — index-scale artifacts), never a
# scan of the accepted documents or a multiple of the sidecars.
#
# What the bytes do and don't prove — MEASURED on this fixture, both
# regimes, recorded in SCALE.md's stress table:
# * At the unit default id_buckets=64 every ~3k-id batch touches all
#   64 buckets, so the "pruned" read lists the entire (small) sidecar
#   each batch: gate bytes grow by exactly the per-batch sidecar
#   increment (~1.5 MB/batch), s/batch flat (~10 s).
# * Following the sizing rule literally (id_buckets=2048 ≈ batch
#   cardinality) made things WORSE here: s/batch TRIPLED to ~44 s —
#   each batch writes ~1900 partition dirs per sidecar — and gate
#   bytes still grew, because this corpus's planted-dup candidate set
#   touches most buckets anyway. The rule's win needs batch ≪ buckets
#   AND low candidate density; at fixture scale neither holds, so the
#   defaults are both faster and the honest configuration.
# The store-size-independence that DOES hold at any parameterization
# (and that r8's verdict flagged as the real hazard): per-batch reads
# are sidecar-scale, the accepted/ document store and the band index
# are never re-scanned, and the row-bounding semi-join keeps executor
# work ∝ candidates regardless of listed bytes.
#
# Budgets bound the FIRST-phase (16-batch) manifest-summed wall time;
# measured r11: dedup 187 s, ann 93 s — budgets sit ~5-10× above, the
# complexity-class-not-host-noise convention of this module.
BUDGET_DEDUP_INGEST_S = 900
BUDGET_ANN_INGEST_S = 500
N_INGEST_BATCHES = 16


def _write_feed_chunks(src_dir, tbl, n_chunks, cols):
    """Split an arrow table into n ascending-mtime parquet chunks —
    one file per micro-batch under maxFilesPerTrigger=1."""
    base = time.time()
    n = tbl.num_rows
    step = -(-n // n_chunks)
    for i in range(n_chunks):
        part = tbl.select(cols).slice(i * step, step)
        p = os.path.join(src_dir, f"c{i:03d}.parquet")
        pq.write_table(part, p)
        os.utime(p, (base + i, base + i))


def _batch_records(store):
    from distributed_mapreduce_spark.streaming.commitlog import ManifestStore

    return [p for _, p in ManifestStore(store).manifests()]


def _assert_flat(records, budget_total, label):
    import statistics

    els = [p["elapsed_s"] for p in records]
    gbs = [p["gate_bytes"] for p in records]
    total = sum(els)
    # skip the first two batches (session warm-up + index creation);
    # compare an early window to the final one. MEDIANS for the
    # wall-clock windows (r11 ADVICE): a single GC pause or IO stall
    # in one late batch on a noisy host must not fail the flatness
    # assertion — the claim under test is the trend, not the outlier.
    # Gate bytes stay means: they are deterministic listing volumes.
    early_t, late_t = statistics.median(els[2:6]), statistics.median(els[-4:])
    early_g, late_g = sum(gbs[2:6]) / 4, sum(gbs[-4:]) / 4
    print(
        f"\n  [sf1 stress] {label}: {len(els)} batches, total {total:.1f}s; "
        f"s/batch early {early_t:.2f} late {late_t:.2f}; "
        f"gate KB/batch early {early_g/1e3:.0f} late {late_g/1e3:.0f}"
    )
    print(f"  [sf1 stress] {label} per-batch s: {[round(e,2) for e in els]}")
    print(f"  [sf1 stress] {label} per-batch gate KB: {[round(g/1e3) for g in gbs]}")
    assert total < budget_total, f"{label}: {total:.0f}s (budget {budget_total}s)"
    assert late_t <= max(2.5 * early_t, early_t + 2.0), (
        f"{label}: s/batch grew {early_t:.2f} -> {late_t:.2f} as committed "
        "batches accumulated — a store-side read is scaling with the store"
    )
    return {"early_t": early_t, "late_t": late_t, "early_g": early_g,
            "late_g": late_g, "gbs": gbs}


def test_sf1_dedup_ingest_scaling(stress_spark, sf1_dir, tmp_path):
    """foreach_batch_dedup_ingest at 10× corpus over 16 micro-batches:
    s/batch and per-batch gate bytes must stay ~flat as the committed
    store grows — the store-size-independence contract of the r9
    bucket-pruned gates (known-id anti-join + candidate shingle fetch
    read ONLY the batch's/candidates' id buckets, manifests-`touched`
    pruned, never the whole store)."""
    from distributed_mapreduce_spark.streaming.sinks import (
        _dir_bytes,
        foreach_batch_dedup_ingest,
        read_ingest_accepted,
    )

    docs = pq.read_table(f"{sf1_dir}/documents.parquet", columns=["doc_id", "text"])
    docs = docs.sort_by("doc_id")
    src = tmp_path / "feed"
    src.mkdir()
    _write_feed_chunks(str(src), docs, N_INGEST_BATCHES, ["doc_id", "text"])

    store = str(tmp_path / "store")
    tbl_name = "sf1_dedup_ingest_idx"
    try:
        q = foreach_batch_dedup_ingest(
            (
                stress_spark.readStream.schema("doc_id bigint, text string")
                .option("maxFilesPerTrigger", 1)
                .parquet(str(src))
            ),
            store,
            str(tmp_path / "ckpt"),
            tbl_name,
            min_jaccard=0.5,
            bands=16,
        )
        q.awaitTermination()

        recs = _batch_records(store)
        assert len(recs) == N_INGEST_BATCHES
        stats = _assert_flat(recs, BUDGET_DEDUP_INGEST_S, "dedup_ingest")
        early_g, late_g, gbs = stats["early_g"], stats["late_g"], stats["gbs"]
        # the anti-scan property: a batch's store-side reads are
        # bounded by ONE listing of the committed SIDECARS (ids +
        # shingle hashes); the accepted/ document store and the band
        # index are never re-read per batch (gate ≥ accepted bytes
        # would be the r8 regression's signature)
        sidecar_total = _dir_bytes([f"{store}/ids", f"{store}/shingles"])
        accepted_total = _dir_bytes([f"{store}/accepted"])
        print(
            f"  [sf1 stress] dedup_ingest sidecar total "
            f"{sidecar_total/1e6:.1f} MB, accepted total "
            f"{accepted_total/1e6:.1f} MB; last gate read {gbs[-1]/1e6:.2f} MB"
        )
        assert gbs[-1] <= 1.2 * sidecar_total, (
            "final batch's gate read exceeds one listing of the committed "
            "sidecars — a store-side read is being repeated or has grown "
            "beyond the sidecar artifacts"
        )
        # slope: per-batch growth must track the per-batch sidecar
        # increment (~linear, small constant), not the store size
        per_batch_sidecar = sidecar_total / len(gbs)
        slope = (late_g - early_g) / 10.0  # window centers are 10 batches apart
        print(f"  [sf1 stress] dedup_ingest gate slope {slope/1e3:.0f} KB/batch "
              f"vs sidecar increment {per_batch_sidecar/1e3:.0f} KB/batch")
        assert slope <= 2.0 * per_batch_sidecar, (
            "gate bytes grow faster than the sidecar itself — superlinear "
            "re-reading of committed batches"
        )
        n_acc = read_ingest_accepted(stress_spark, store).count()
        assert 0 < n_acc <= docs.num_rows
        print(f"  [sf1 stress] dedup_ingest accepted {n_acc}/{docs.num_rows}")

        # ── compaction + fresh-checkpoint resume at stress scale ─────
        # (the ANN stress's reset phase, on the dedup sink): fold the
        # 16-batch chain into one seed, squash the index append chain,
        # replay the whole feed on a fresh checkpoint — every batch is
        # emptied by the known-id gate BEFORE shingling, so replayed
        # batches are cheap — then 4 chunks of re-crawled (duplicate
        # text, new ids) docs, which must mostly REJECT against the
        # compacted store, at the original per-batch cost.
        from distributed_mapreduce_spark.operators.dedup import (
            compact_lsh_band_index,
        )
        from distributed_mapreduce_spark.streaming.sinks import (
            compact_dedup_ingest_store,
        )

        store2 = str(tmp_path / "store2")
        assert compact_dedup_ingest_store(stress_spark, store, store2) == n_acc
        compact_lsh_band_index(stress_spark, tbl_name)

        base2 = time.time()
        redup = docs.slice(0, 4 * (-(-docs.num_rows // N_INGEST_BATCHES)))
        import pyarrow.compute as pc

        redup = redup.set_column(
            redup.schema.get_field_index("doc_id"),
            "doc_id",
            pc.add(redup["doc_id"], 10_000_000),
        )
        step = -(-redup.num_rows // 4)
        for i in range(4):
            part = redup.select(["doc_id", "text"]).slice(i * step, step)
            p = os.path.join(str(src), f"d{i:03d}.parquet")
            pq.write_table(part, p)
            os.utime(p, (base2 + i, base2 + i))

        q2 = foreach_batch_dedup_ingest(
            (
                stress_spark.readStream.schema("doc_id bigint, text string")
                .option("maxFilesPerTrigger", 1)
                .parquet(str(src))
            ),
            store2,
            str(tmp_path / "ckpt2"),
            tbl_name,
            min_jaccard=0.5,
            bands=16,
        )
        q2.awaitTermination()

        recs2 = _batch_records(store2)
        new = [
            p for p in recs2 if p["batch"] >= N_INGEST_BATCHES
        ]
        gated = [
            p for p in recs2 if 0 <= p["batch"] < N_INGEST_BATCHES
        ]
        assert len(new) == 4 and len(gated) == N_INGEST_BATCHES
        import statistics

        new_t = statistics.median(p["elapsed_s"] for p in new)
        gated_t = statistics.median(p["elapsed_s"] for p in gated)
        print(
            f"  [sf1 stress] dedup_ingest post-compaction: gated-replay "
            f"{gated_t:.2f} s/batch, new-batch {new_t:.2f} s/batch vs "
            f"pre-compaction early {stats['early_t']:.2f} / late {stats['late_t']:.2f}"
        )
        assert new_t <= max(2.5 * stats["early_t"], stats["early_t"] + 2.0), (
            "post-compaction batches did not return to the early-window cost"
        )
        # convergence at stress scale: every originally-accepted doc
        # survives (the gate skipped it), nothing duplicates, and the
        # re-crawled duplicate chunks mostly reject
        acc2 = read_ingest_accepted(stress_spark, store2).select("doc_id").collect()
        ids2 = [r.doc_id for r in acc2]
        assert len(ids2) == len(set(ids2)), "replay duplicated accepted rows"
        n_new_acc = sum(1 for i in ids2 if i >= 10_000_000)
        assert len(ids2) - n_new_acc == n_acc, "replay changed the original survivors"
        assert n_new_acc < redup.num_rows / 2, (
            "re-crawled duplicate chunks were mostly accepted — the "
            "known-id gate or the probe lost the compacted store"
        )
        print(
            f"  [sf1 stress] dedup_ingest re-crawl: {n_new_acc}/{redup.num_rows} "
            "new-id duplicates accepted (rest rejected against the store)"
        )
    finally:
        stress_spark.sql(f"DROP TABLE IF EXISTS {tbl_name}")


def test_sf1_ann_ingest_scaling(stress_spark, sf1_dir, tmp_path):
    """foreach_batch_ann_ingest at 10× vectors over 16 micro-batches:
    same contract as the dedup sink — s/batch ~flat, known-id gate
    reads bucket-pruned, exactly-once across the whole feed (no
    duplicate ids in the committed store)."""
    from distributed_mapreduce_spark.operators.similarity import train_centroids
    from distributed_mapreduce_spark.streaming.sinks import (
        _dir_bytes,
        foreach_batch_ann_ingest,
    )

    vecs = pq.read_table(f"{sf1_dir}/embeddings.parquet").sort_by("vec_id")
    src = tmp_path / "feed"
    src.mkdir()
    _write_feed_chunks(str(src), vecs, N_INGEST_BATCHES, ["vec_id", "embedding"])

    emb = stress_spark.read.parquet(f"{sf1_dir}/embeddings.parquet")
    cents = train_centroids(emb, 16)

    store = str(tmp_path / "store")
    q = foreach_batch_ann_ingest(
        (
            stress_spark.readStream.schema(
                "vec_id bigint, embedding array<float>"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        ),
        store,
        str(tmp_path / "ckpt"),
        cents,
    )
    q.awaitTermination()

    recs = _batch_records(store)
    assert len(recs) == N_INGEST_BATCHES
    stats = _assert_flat(recs, BUDGET_ANN_INGEST_S, "ann_ingest")
    gbs = stats["gbs"]
    sidecar_total = _dir_bytes([f"{store}/ids"])
    print(
        f"  [sf1 stress] ann_ingest id sidecar total {sidecar_total/1e3:.0f} KB; "
        f"last gate read {gbs[-1]/1e3:.0f} KB"
    )
    import pathlib

    back = stress_spark.read.option("basePath", store).parquet(
        *[str(p) for p in pathlib.Path(store).glob("batch=*")]
    )
    ids = [r.vec_id for r in back.select("vec_id").collect()]
    assert len(ids) == len(set(ids)) == vecs.num_rows, "ingest duplicated vectors"

    # ── compaction resets the chain-growth term ──────────────────────
    # The mild s/batch upward trend above is Spark FILE LISTING over
    # the growing batch×bucket dir count — the cost
    # compact_ann_ingest_store exists to fold away. Demonstrate it:
    # fold the 16-dir chain into one batch=-1 seed, resume with a
    # fresh checkpoint (full-feed replay converges via the known-id
    # gate), feed 4 genuinely NEW chunks, and require the new batches'
    # s/batch back at the original early-window level.
    from distributed_mapreduce_spark.streaming.sinks import compact_ann_ingest_store

    store2 = str(tmp_path / "store2")
    n = compact_ann_ingest_store(stress_spark, store, store2)
    assert n == vecs.num_rows

    import pyarrow.compute as pc

    fresh = vecs.slice(0, 4 * (-(-vecs.num_rows // N_INGEST_BATCHES)))
    fresh = fresh.set_column(
        fresh.schema.get_field_index("vec_id"),
        "vec_id",
        pc.add(fresh["vec_id"], 10_000_000),
    )
    base2 = time.time()
    step = -(-fresh.num_rows // 4)
    for i in range(4):
        part = fresh.select(["vec_id", "embedding"]).slice(i * step, step)
        p = os.path.join(str(src), f"d{i:03d}.parquet")
        pq.write_table(part, p)
        os.utime(p, (base2 + i, base2 + i))

    q2 = foreach_batch_ann_ingest(
        (
            stress_spark.readStream.schema("vec_id bigint, embedding array<float>")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        ),
        store2,
        str(tmp_path / "ckpt2"),
        cents,
    )
    q2.awaitTermination()

    recs2 = _batch_records(store2)
    new = [p for p in recs2 if p.get("vectors", 0) > 0 and p["batch"] >= N_INGEST_BATCHES]
    assert len(new) == 4, recs2
    import statistics

    new_t = statistics.median(p["elapsed_s"] for p in new)
    print(
        f"  [sf1 stress] ann_ingest post-compaction: new-batch s/batch "
        f"{new_t:.2f} vs pre-compaction early {stats['early_t']:.2f} / "
        f"late {stats['late_t']:.2f}"
    )
    assert new_t <= max(2.5 * stats["early_t"], stats["early_t"] + 2.0), (
        "post-compaction batches did not return to the early-window cost — "
        "compaction failed to fold the chain-growth term"
    )
    back2 = stress_spark.read.option("basePath", store2).parquet(
        *[str(p) for p in pathlib.Path(store2).glob("batch=*")]
    )
    n2 = back2.count()
    ids2 = back2.select("vec_id").distinct().count()
    assert n2 == ids2 == vecs.num_rows + fresh.num_rows, "replay duplicated vectors"


def test_sf1_knn_join_ivf_crossover_vs_exact_grid(stress_spark, sf1_dir):
    """The IVF kNN-join tier's reason to exist (VERDICT r11 #2): at
    N = 20k the approximate tier must be FASTER than the exact grid on
    wall clock while keeping recall above a stated floor — the
    crossover the fixture scale (N = 2000, where the wide-plan fixed
    costs dominate and the grid wins) cannot show. Measured r12 on
    this host: grid 113.6 s, ivf(C=64, nprobe=16) 56.2 s (0.49×) at
    recall 0.656 over structureless Gaussians — the IVF worst case;
    clustered real corpora do better at equal nprobe/C. The margin
    asserted is loose (ivf ≤ 0.8 × grid, recall ≥ 0.55): it fails on a
    lost asymptotic (a full pair-space join or a broken probe pruning
    turns the ratio > 1), not host noise."""
    import time as _time

    from distributed_mapreduce_spark.operators.similarity import (
        knn_join_ivf,
        train_centroids,
    )
    from distributed_mapreduce_spark.queries.simops import sim_q10_knn_join

    t0 = _time.perf_counter()
    exact = sim_q10_knn_join(stress_spark, sf1_dir).collect()
    t_grid = _time.perf_counter() - t0
    stress_spark.catalog.clearCache()
    for jr in list(
        stress_spark.sparkContext._jsc.getPersistentRDDs().values()
    ):
        jr.unpersist(False)

    emb = stress_spark.read.parquet(f"{sf1_dir}/embeddings.parquet")
    t0 = _time.perf_counter()
    cents = train_centroids(emb, 64)
    got = knn_join_ivf(emb, cents, 5, nprobe=16).collect()
    t_ivf = _time.perf_counter() - t0

    e, a = {}, {}
    for r in exact:
        e.setdefault(r.id, set()).add(r.nb)
    for r in got:
        a.setdefault(r.id, set()).add(r.nb)
    recall = sum(len(a.get(i, set()) & nbs) / len(nbs) for i, nbs in e.items()) / len(e)
    print(
        f"\n  [sf1 stress] knn join N=20k: grid {t_grid:.1f}s, "
        f"ivf(C=64,nprobe=16) {t_ivf:.1f}s ({t_ivf/t_grid:.2f}x), recall {recall:.3f}"
    )
    assert recall >= 0.55, f"recall {recall:.3f} under the stated sf1 floor"
    assert t_ivf <= 0.8 * t_grid, (
        f"ivf tier ({t_ivf:.0f}s) did not beat the exact grid ({t_grid:.0f}s) "
        "at N=20k — the approximate tier lost its asymptotic advantage"
    )


# SemDeDup ingest cost law: the id GATE must stay flat (bucket-pruned,
# the other sinks' contract), but the member PROBE is cell-pruned and
# grows with store density in the batch's cells — the Σ|cell|² trade
# SemDeDup buys its linearity with (at fixed k the per-batch member
# read grows ~linearly with the committed store; at 100 TB k scales
# with N so avg_cell — and therefore per-batch verify COMPUTE, batch ×
# avg_cell — stays bounded). The assertion below encodes that law:
# flat gate, member growth bounded by the store-growth ratio, total
# within budget. Measured r14: 16 batches, see the printed profile.
BUDGET_SEMDEDUP_INGEST_S = 900


def test_sf1_semdedup_ingest_scaling(stress_spark, sf1_dir, tmp_path):
    from distributed_mapreduce_spark.operators.similarity import train_centroids
    from distributed_mapreduce_spark.streaming.sinks import (
        foreach_batch_semdedup_ingest,
        read_semdedup_representatives,
    )

    vecs = pq.read_table(f"{sf1_dir}/embeddings.parquet").sort_by("vec_id")
    src = tmp_path / "feed"
    src.mkdir()
    _write_feed_chunks(str(src), vecs, N_INGEST_BATCHES, ["vec_id", "embedding"])

    emb = stress_spark.read.parquet(f"{sf1_dir}/embeddings.parquet")
    # k ∝ N (the SemDeDup contract): 64 cells at 20k vectors keeps
    # avg_cell ~300; the pyspark.ml trainer (production path) builds
    # the frozen list — the sink only needs SOME frozen centroids
    cents = [v for _, v in train_centroids(emb, 64)]

    store = str(tmp_path / "store")
    q = foreach_batch_semdedup_ingest(
        (
            stress_spark.readStream.schema(
                "vec_id bigint, embedding array<float>"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        ),
        store,
        str(tmp_path / "ckpt"),
        cents,
        64,
        tau=0.9,
    )
    q.awaitTermination()

    recs = _batch_records(store)
    assert len(recs) == N_INGEST_BATCHES
    import statistics

    els = [p["elapsed_s"] for p in recs]
    gbs = [p["gate_bytes"] for p in recs]
    mbs = [p["member_bytes"] for p in recs]
    total = sum(els)
    early_t, late_t = statistics.median(els[2:6]), statistics.median(els[-4:])
    early_g, late_g = sum(gbs[2:6]) / 4, sum(gbs[-4:]) / 4
    early_m, late_m = sum(mbs[2:6]) / 4, sum(mbs[-4:]) / 4
    print(
        f"\n  [sf1 stress] semdedup_ingest: {len(els)} batches, total "
        f"{total:.1f}s; s/batch early {early_t:.2f} late {late_t:.2f}; "
        f"gate KB early {early_g/1e3:.0f} late {late_g/1e3:.0f}; "
        f"member KB early {early_m/1e3:.0f} late {late_m/1e3:.0f}"
    )
    print(f"  [sf1 stress] semdedup per-batch s: {[round(e,2) for e in els]}")
    assert total < BUDGET_SEMDEDUP_INGEST_S
    # Cost law, asserted per surface. The id GATE reads id-only
    # sidecar bytes of the batch's buckets across committed batches —
    # it accumulates ∝ ids ever committed (same as the dedup/ann
    # sinks, whose sf1 tests print but do not bound it), so it is
    # bounded here by the store-growth ratio, not flatness. The member
    # PROBE likewise grows with store density in the touched cells
    # (the documented Σ|cell|² trade — at fixed k it is ~linear in the
    # committed store; k ∝ N is the 100 TB mitigation). Neither may be
    # SUPER-linear — that would mean pruning is broken. Wall time per
    # batch is dominated by fixed plan overhead + the linear member
    # scan; bound it by the same ratio.
    store_ratio = 14 / 4
    for label, early, late in (
        ("gate bytes", early_g, late_g),
        ("member bytes", early_m, late_m),
    ):
        assert late <= 2.0 * store_ratio * max(early, 1), (
            f"{label} grew {early:.0f} -> {late:.0f}: super-linear in the "
            "committed store — pruning is broken"
        )
    assert late_t <= max(store_ratio * early_t, early_t + 5.0), (
        f"s/batch grew {early_t:.2f} -> {late_t:.2f}: super-linear in the "
        "committed store"
    )
    # end-to-end: every vector accounted for exactly once
    reps = read_semdedup_representatives(stress_spark, store)
    assert reps.groupBy().sum("n_members").collect()[0][0] == vecs.num_rows


BUDGET_DECONTAM_INGEST_S = 600


def test_sf1_decontam_ingest_scaling(stress_spark, sf1_dir, tmp_path):
    """foreach_batch_decontam_ingest at 10× corpus over 16
    micro-batches: the benchmark index is FIXED, so s/batch must stay
    flat as the accepted store grows, and the only store-dependent
    read — the known-id gate — must stay bounded by one listing of the
    id sidecar (this sink maintains no other store-side artifact; the
    exact/fuzzy probes hit the static index every batch)."""
    import pyarrow.compute as pc

    from pyspark.sql import functions as F

    from distributed_mapreduce_spark.queries.pipeline_queries import BENCH_SOURCE
    from distributed_mapreduce_spark.streaming.sinks import (
        _dir_bytes,
        build_decontam_index,
        foreach_batch_decontam_ingest,
        read_ingest_accepted,
    )

    bench = stress_spark.read.parquet(f"{sf1_dir}/documents.parquet").where(
        F.col("source") == BENCH_SOURCE
    )
    index = str(tmp_path / "index")
    build_decontam_index(
        bench, index, "sf1_decontam_bench_bands", max_bench_df=50
    )

    docs = pq.read_table(f"{sf1_dir}/documents.parquet")
    train = docs.filter(pc.not_equal(docs["source"], BENCH_SOURCE)).sort_by(
        "doc_id"
    )
    src = tmp_path / "feed"
    src.mkdir()
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    _write_feed_chunks(str(src), train, N_INGEST_BATCHES, cols)

    store = str(tmp_path / "store")
    try:
        foreach_batch_decontam_ingest(
            (
                stress_spark.readStream.schema(
                    "doc_id bigint, text string, lang string, "
                    "source string, n_chars bigint"
                )
                .option("maxFilesPerTrigger", 1)
                .parquet(str(src))
            ),
            store,
            str(tmp_path / "ckpt"),
            index,
        ).awaitTermination()

        recs = _batch_records(store)
        assert len(recs) == N_INGEST_BATCHES
        stats = _assert_flat(recs, BUDGET_DECONTAM_INGEST_S, "decontam_ingest")
        sidecar_total = _dir_bytes([f"{store}/ids"])
        print(
            f"  [sf1 stress] decontam_ingest id sidecar total "
            f"{sidecar_total/1e6:.2f} MB; last gate read "
            f"{stats['gbs'][-1]/1e6:.2f} MB"
        )
        assert stats["gbs"][-1] <= 1.2 * sidecar_total, (
            "final batch's gate read exceeds one listing of the id "
            "sidecar — the decontam sink has no other store-side read "
            "to blame"
        )
        n_acc = read_ingest_accepted(stress_spark, store).count()
        assert 0 < n_acc <= train.num_rows
        print(
            f"  [sf1 stress] decontam_ingest accepted {n_acc}/{train.num_rows}"
        )
    finally:
        stress_spark.sql("DROP TABLE IF EXISTS sf1_decontam_bench_bands")


BUDGET_CLEAN_INGEST_S = 900


def test_sf1_clean_ingest_scaling(stress_spark, sf1_dir, tmp_path):
    """foreach_batch_clean_ingest at 10× corpus over 16 micro-batches:
    the composed four-gate pass must keep s/batch flat as the store
    grows (the dedup-ingest cost model with two map-shaped pure gates
    in front), with per-batch store-side reads bounded by one listing
    of the committed sidecars (ids + fingerprints + shingles)."""
    import pyarrow.compute as pc

    from pyspark.sql import functions as F

    from distributed_mapreduce_spark.queries.pipeline_queries import BENCH_SOURCE
    from distributed_mapreduce_spark.streaming.sinks import (
        _dir_bytes,
        build_decontam_index,
        foreach_batch_clean_ingest,
        read_ingest_accepted,
    )

    bench = stress_spark.read.parquet(f"{sf1_dir}/documents.parquet").where(
        F.col("source") == BENCH_SOURCE
    )
    index = str(tmp_path / "index")
    build_decontam_index(bench, index, "sf1_clean_bench_bands", max_bench_df=50)

    docs = pq.read_table(f"{sf1_dir}/documents.parquet")
    train = docs.filter(pc.not_equal(docs["source"], BENCH_SOURCE)).sort_by(
        "doc_id"
    )
    src = tmp_path / "feed"
    src.mkdir()
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    _write_feed_chunks(str(src), train, N_INGEST_BATCHES, cols)

    store = str(tmp_path / "store")
    try:
        foreach_batch_clean_ingest(
            (
                stress_spark.readStream.schema(
                    "doc_id bigint, text string, lang string, "
                    "source string, n_chars bigint"
                )
                .option("maxFilesPerTrigger", 1)
                .parquet(str(src))
            ),
            store,
            str(tmp_path / "ckpt"),
            "sf1_clean_corpus_bands",
            index,
        ).awaitTermination()

        recs = _batch_records(store)
        assert len(recs) == N_INGEST_BATCHES
        stats = _assert_flat(recs, BUDGET_CLEAN_INGEST_S, "clean_ingest")
        sidecar_total = _dir_bytes(
            [f"{store}/ids", f"{store}/hashes", f"{store}/shingles"]
        )
        print(
            f"  [sf1 stress] clean_ingest sidecar total "
            f"{sidecar_total/1e6:.2f} MB; last gate read "
            f"{stats['gbs'][-1]/1e6:.2f} MB"
        )
        assert stats["gbs"][-1] <= 1.2 * sidecar_total, (
            "final batch's store-side reads exceed one listing of the "
            "committed sidecars — something re-reads beyond the id/fp "
            "gates and the candidate shingle fetch"
        )
        # per-tier reject evidence is present and self-consistent
        tot_rej = sum(
            p["rejected_quality"] + p["rejected_exact_dup"] + p["rejected_near_dup"]
            for p in recs
        )
        n_acc = read_ingest_accepted(stress_spark, store).count()
        assert 0 < n_acc <= train.num_rows - tot_rej
        print(f"  [sf1 stress] clean_ingest accepted {n_acc}/{train.num_rows}")
    finally:
        stress_spark.sql("DROP TABLE IF EXISTS sf1_clean_bench_bands")
        stress_spark.sql("DROP TABLE IF EXISTS sf1_clean_corpus_bands")


# r16: the KV serving sink's honest cost law differs from the ingest
# sinks' flatness claims. Its state is a keyspace-bounded SNAPSHOT —
# every batch rewrites the shards it touches WHOLESALE (the versioned
# partitioned layout), so with a fixture-faithful NSHARDS=10 and a feed
# spanning the whole keyspace, s/batch legitimately grows with the
# accumulated state bytes of the touched shards (new keys accumulate).
# What must NOT appear is any term scaling with the VERSION-CHAIN
# length (the manifest fold is metadata-only) or with total ops ever
# folded. Asserted: per-batch wall time grows no faster than touched
# state bytes (ratio-to-ratio bound), and a served point get costs the
# same against a 16-version chain as against a 4-version one.
BUDGET_KV_SERVING_S = 600


def test_sf1_kv_serving_scaling(stress_spark, tmp_path):
    import numpy as np

    from pyspark.sql import functions as F

    from distributed_mapreduce_spark.streaming.kv_serving import (
        foreach_batch_kv_serving,
        kv_served_get,
        read_kv_state,
    )

    rng = np.random.default_rng(16)
    n_ops, n_keys = 1_200_000, 120_000
    seqs = np.arange(1, n_ops + 1)
    keys = rng.integers(0, n_keys, n_ops)
    kinds = rng.integers(0, 10, n_ops)  # 0-6 put, 7-8 append, 9 get
    op = np.where(kinds < 7, "put", np.where(kinds < 9, "append", "get"))
    tbl = pa.table(
        {
            "key": pa.array([str(k) for k in keys]),
            "seq": pa.array(seqs, pa.int64()),
            "op": pa.array(op),
            "value": pa.array([f"v{s}" for s in seqs]),
        }
    )
    src = tmp_path / "oplog"
    src.mkdir()
    _write_feed_chunks(str(src), tbl, N_INGEST_BATCHES, ["key", "seq", "op", "value"])

    store = str(tmp_path / "store")
    t0 = time.monotonic()
    q = foreach_batch_kv_serving(
        (
            stress_spark.readStream.schema(
                "key string, seq long, op string, value string"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        ),
        store,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    total = time.monotonic() - t0
    prog = [
        (int(p.batchId), p.batchDuration / 1e3)
        for p in (q.recentProgress or [])
        if p.numInputRows > 0
    ]
    assert len(prog) >= N_INGEST_BATCHES - 1, prog

    # touched-state bytes per version dir (what batch k actually wrote
    # = the post-batch state of the shards it touched)
    import pathlib as _pl

    vbytes = {
        int(d.name.split("=")[1]): sum(
            f.stat().st_size for f in d.rglob("*.parquet")
        )
        for d in _pl.Path(store).glob("v=*")
    }
    durs = dict(prog)
    print(
        f"\n  [sf1 stress] kv_serving: {len(prog)} batches, total {total:.1f}s"
    )
    print(f"  [sf1 stress] kv_serving s/batch: "
          f"{[round(durs.get(b, float('nan')), 2) for b in range(N_INGEST_BATCHES)]}")
    print(f"  [sf1 stress] kv_serving state MB/version: "
          f"{[round(vbytes.get(b, 0)/1e6, 2) for b in range(N_INGEST_BATCHES)]}")
    assert total < BUDGET_KV_SERVING_S, f"{total:.0f}s (budget {BUDGET_KV_SERVING_S}s)"

    import statistics

    early_t = statistics.median(durs.get(b, 0.0) for b in range(2, 6))
    late_t = statistics.median(durs.get(b, 0.0) for b in range(12, 16))
    early_b = statistics.median(vbytes.get(b, 0) for b in range(2, 6))
    late_b = statistics.median(vbytes.get(b, 0) for b in range(12, 16))
    growth_t, growth_b = late_t / early_t, late_b / early_b
    print(
        f"  [sf1 stress] kv_serving growth: time {growth_t:.2f}x vs "
        f"touched-state bytes {growth_b:.2f}x"
    )
    # wall time may grow only as fast as the state it rewrites (slack
    # 1.5x + 1s absolute for scheduler noise); a chain-length or
    # total-ops term would blow past this
    assert late_t <= 1.5 * early_t * growth_b + 1.0, (
        f"kv_serving s/batch grew {growth_t:.2f}x while touched state "
        f"grew {growth_b:.2f}x — a non-state-bound cost is scaling"
    )

    # served point get: one shard dir regardless of chain length —
    # time it against the head (16 versions) and a 4-version prefix
    key = str(int(keys[0]))
    for as_of, label in [(3, "4-version"), (None, "head")]:
        t1 = time.monotonic()
        kv_served_get(stress_spark, store, key, as_of=as_of).collect()
        dt = time.monotonic() - t1
        print(f"  [sf1 stress] kv_serving point get ({label}): {dt:.2f}s")
        assert dt < 30, f"point get ({label}) took {dt:.1f}s"

    n_state = read_kv_state(stress_spark, store).count()
    assert 0 < n_state <= n_keys
    print(f"  [sf1 stress] kv_serving final state rows: {n_state}")
