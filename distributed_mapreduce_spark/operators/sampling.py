"""Deterministic sampling operators ([EXT] north star — the
training-mixture step of an LLM-data pipeline: downsample each stratum
of a corpus to a target rate, reproducibly).

Why not `df.sample()`: Bernoulli sampling is seeded per-partition, so
the selected *rows* change whenever partitioning changes — a re-run
after a repartition (or at a different cluster width) yields a
different corpus. A training pipeline needs content-addressed
sampling: whether a row is kept depends only on the row's key, never
on physical layout. The standard trick is a hash bucket —
`bucket(key) = int(md5(key)[:8], 16) % buckets` — and keep the row iff
`bucket < rate · buckets`. Same property Hive/Iceberg bucket
partitioning relies on.

md5 (not xxhash64) so the DuckDB oracle computes the *identical*
bucket: both engines agree on md5 hex; xxhash64 is Spark-only.

Scale notes: the filter is a pure map expression — no shuffle, no
driver involvement, pushes through joins — and composes with column
pruning (only the key column is hashed). Per-stratum rates arrive as a
broadcast-joined tiny dim table, so the plan stays a single scan +
BroadcastHashJoin + filter at any corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from distributed_mapreduce_spark.sources.catalog import local_frame

BUCKETS = 100


def hash_bucket(key, buckets: int = BUCKETS) -> F.Column:
    """Content-addressed bucket in [0, buckets): layout-independent,
    identical in Spark and DuckDB (md5 hex prefix → int)."""
    c = F.col(key) if isinstance(key, str) else key
    return (
        F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10).cast("bigint")
        % buckets
    )


def hash_bucket_sql(key_sql: str, buckets: int = BUCKETS) -> str:
    """The DuckDB mirror of hash_bucket() — same md5 prefix, same
    arithmetic, so SAMPLED ROW SETS are engine-identical."""
    return (
        f"(('0x' || substr(md5(CAST({key_sql} AS VARCHAR)), 1, 8))::BIGINT"
        f" % {buckets})"
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    rates: dict[str, float],
    key_col: str,
    default_rate: float = 0.0,
    buckets: int = BUCKETS,
) -> DataFrame:
    """Keep a deterministic `rates[stratum]` fraction of each stratum
    (languages, sources, domains). Rows whose stratum has no entry get
    `default_rate`. The rates ride in as a broadcast dim table — the
    mixture config is data, not code, exactly how a pipeline would load
    it from a config store."""
    spark = df.sparkSession
    rate_rows = [(k, float(v)) for k, v in rates.items()]
    dim = local_frame(spark, rate_rows, f"{strata_col} string, __rate double")
    joined = df.join(F.broadcast(dim), strata_col, "left")
    rate = F.coalesce(F.col("__rate"), F.lit(float(default_rate)))
    return joined.where(hash_bucket(key_col, buckets) < rate * buckets).drop("__rate")


def split_train_holdout(
    df: DataFrame, key_col: str, holdout_pct: int, buckets: int = BUCKETS
) -> tuple[DataFrame, DataFrame]:
    """Disjoint, exhaustive, deterministic train/holdout split by key
    hash — the leakage-safe alternative to randomSplit() (same
    layout-independence argument as stratified_sample)."""
    b = hash_bucket(key_col, buckets)
    return df.where(b >= holdout_pct), df.where(b < holdout_pct)


# 12 md5 hex digits: 48 bits of uniformity, exact in a double (< 2^53)
# on both engines.
_U_DENOM = float(16**12 + 1)


def hash_uniform(key) -> F.Column:
    """Deterministic uniform in (0, 1): 12-hex-digit md5 prefix mapped
    to (h+1)/(16¹²+1) — never 0 (safe under ln) and never 1.
    Layout-independent for the same reason as hash_bucket, and
    bit-identical in DuckDB (hash_uniform_sql)."""
    c = F.col(key) if isinstance(key, str) else key
    h = F.conv(F.substring(F.md5(c.cast("string")), 1, 12), 16, 10).cast("double")
    return (h + F.lit(1.0)) / F.lit(_U_DENOM)


def hash_uniform_sql(key_sql: str) -> str:
    return (
        f"((('0x' || substr(md5(CAST({key_sql} AS VARCHAR)), 1, 12))::BIGINT"
        f" + 1.0) / {_U_DENOM!r})"
    )


def weighted_sample_k(
    df: DataFrame, strata_col: str, weight_col: str, key_col: str, k: int
) -> DataFrame:
    """Weight-proportional sample WITHOUT replacement, k per stratum —
    Efraimidis–Spirakis A-ES with the randomness replaced by the
    content-addressed uniform: keep the k rows maximizing ln(u)/w
    (⟺ maximizing u^(1/w); ln u < 0, w > 0 required). This is the
    temperature-mixing step of corpus curation (sample long/valuable
    documents proportionally more) with the same reproducibility
    contract as stratified_sample: the selected ROWS depend only on
    content, never on layout, cluster width, or run count.

    The score is rounded to 12 decimals before ranking (with a key
    tiebreak) so both engines rank identically even at float-ulp
    score gaps. Scale shape: one window shuffle on the stratum key —
    same plan as mix_q3's uniform k-per-stratum cousin.

    Rows with weight ≤ 0 are excluded (their u^(1/w) is undefined)."""
    from pyspark.sql import Window

    w = F.col(weight_col).cast("double")
    score = F.round(F.log(hash_uniform(key_col)) / w, 12)
    win = Window.partitionBy(strata_col).orderBy(
        score.desc(), F.col(key_col).asc()
    )
    return (
        df.where(w > 0)
        .withColumn("__rk", F.row_number().over(win))
        .where(F.col("__rk") <= k)
        .withColumn("rk", F.col("__rk").cast("bigint"))
        .drop("__rk")
    )


def global_shuffle_index(
    df: DataFrame, key_col: str, seed: str = "0", buckets: int = 256
) -> DataFrame:
    """Deterministic GLOBAL permutation index — the epoch-shuffle
    operator of a training pipeline: every row gets a dense position
    0..N−1 in content-addressed pseudo-random order (md5 of
    seed:key — change the seed string, get an independent shuffle;
    re-run at any cluster width, get the same one).

    The naive plan — row_number() over a global ORDER BY — is a
    single-partition window: one task sorts the entire corpus. This
    implements the scalable two-phase ranking instead:
      1. bucket by the md5 PREFIX (so bucket order ≡ global hash
         order), count rows per bucket, cumulative-sum the counts on
         the driver (`buckets` rows — the bounded kind of collect);
      2. rank WITHIN each bucket (a window partitioned on the bucket —
         distributed) and add the bucket's broadcast offset.
    global_pos = offset[bucket] + local_rank − 1, dense and
    collision-free because the within-bucket order (full hash, then
    key) extends the cross-bucket prefix order to a total order.

    Scale shape: one shuffle (the bucket window) + one `buckets`-row
    aggregate; no global sort, no single-task stage. At 100 TB raise
    `buckets` so each bucket's window partition fits an executor
    (65536 prefix buckets ≈ corpus/65536 rows per sort)."""
    if not (2 <= buckets <= 65536) or buckets & (buckets - 1):
        raise ValueError("buckets must be a power of two in [2, 65536]")
    # enough hex prefix to carry log2(buckets) bits; bucket = the top
    # log2(buckets) bits of the prefix value. Lowercase hex sorts
    # numerically ('0'-'9' < 'a'-'f'), so bucket order ≡ md5 string
    # order and the two-level (bucket, full-hash) order is total.
    hex_digits = -(-(buckets - 1).bit_length() // 4)
    k = (16**hex_digits) // buckets
    h = F.md5(F.concat(F.lit(f"{seed}:"), F.col(key_col).cast("string")))
    v = F.conv(F.substring("__h", 1, hex_digits), 16, 10).cast("bigint")
    withh = df.withColumn("__h", h).withColumn(
        "__b", F.floor(v / F.lit(k)).cast("bigint")
    )
    # Persist the hashed projection so the corpus is scanned (and
    # md5'd) ONCE: the counts collect below materializes the cache and
    # the rank pass reads the same blocks (ADVICE r7). persist — NOT
    # localCheckpoint — on purpose (ADVICE r9): checkpoint blocks are
    # invisible to the CacheManager, so repeated library calls leaked
    # executor blocks with no release path short of hunting orphan
    # RDDs. Persisted blocks are released by `spark.catalog.clearCache()`
    # (or unpersist on any equivalent plan), and the retained lineage
    # makes release safe at ANY point — a post-release action just
    # recomputes the deterministic scan+md5. Callers running many
    # epochs should clearCache between them; the bench harness already
    # does this per query.
    withh = withh.persist()
    counts = {
        r["__b"]: r["c"]
        for r in withh.groupBy("__b").agg(F.count("*").alias("c")).collect()
    }
    if None in counts:
        # md5(concat(seed, NULL)) is NULL → NULL bucket. Without this
        # check the sorted() below dies with an opaque TypeError.
        withh.unpersist()
        raise ValueError(
            f"global_shuffle_index: key_col {key_col!r} contains NULLs; "
            "a permutation position is content-addressed off the key, so "
            "every row needs a non-null key (filter or coalesce first)"
        )
    if not counts:
        withh.unpersist()  # empty cache: nothing left to read it
        return df.select(*df.columns, F.lit(None).cast("bigint").alias("pos"))
    offsets, acc = {}, 0
    for b in sorted(counts):
        offsets[b] = acc
        acc += counts[b]
    off_map = F.create_map(
        *[x for b in sorted(offsets) for x in (F.lit(b), F.lit(offsets[b]))]
    )
    from pyspark.sql import Window

    win = Window.partitionBy("__b").orderBy(F.col("__h").asc(), F.col(key_col).asc())
    from distributed_mapreduce_spark.caching import attach_caches

    return attach_caches(
        withh.withColumn("__rk", F.row_number().over(win)).select(
            *df.columns,
            (off_map[F.col("__b")] + F.col("__rk") - 1).cast("bigint").alias("pos"),
        ),
        withh,
    )
