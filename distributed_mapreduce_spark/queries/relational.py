"""Relational query layer over the star schema (SURVEY.md §7.1 step 4).

The reference has no relational operators at all (§2.4's explicit gap
list: no joins, windows, set ops, grouping sets, limits, scalar
functions, SQL). This layer is the generalization of its scan→map→
shuffle→reduce pipeline (O1-O7) into the full idiomatic Catalyst
surface, graded query-by-query against DuckDB.

Engine-parity discipline (applies to every query here):
- Raw double *columns* pass through untouched (fixture doubles are
  2-decimal clean, so stored bits agree across engines).
- Double *aggregates* are computed in DECIMAL(18,4) — exact, engine
  order-independent — then rounded and cast back to double, which is
  bit-identical in Spark and DuckDB (verified empirically). Plain
  double sums would drift by accumulation order at scale.
- Computed integers are cast to BIGINT on both sides.

Scale notes per query are inline; the common ones: dimension joins
broadcast (region/nation/supplier/part/customer stay small or bounded
at 100 TB — see sources.BROADCAST_TABLES), fact-fact joins shuffle on
the join key with AQE skew handling, aggregations are partial-agg
eligible, and every filter is expressed on base columns so Catalyst
pushes it into the parquet scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from distributed_mapreduce_spark.sources import load, table, widen


def dec(col: str | Column) -> Column:
    """Exact-arithmetic staging for double aggregates (see module doc)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("decimal(18,4)")


def money(agg: Column, scale: int = 2) -> Column:
    """Finalize an exact decimal aggregate back to a stable double."""
    return F.round(agg, scale).cast("double")


# --- q1: TPC-H Q1-style pricing summary (scan→filter→agg) -------------------


def rel_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide aggregate with 8 simultaneous measures; the filter is a raw
    column predicate so it pushes into the parquet scan. Partial agg
    (map-side combine) keeps the shuffle at group-cardinality — the
    optimization the reference's wc lacks entirely (wc.go:29-33).

    widen() after project (r16, measured): the fixture fact files are
    single-row-group, so the scan AND the 8-measure decimal partial agg
    ran on ONE task; projecting to the 6 needed columns and widening
    moves the partial agg onto every core for one narrow round-robin
    exchange (1.96 -> 1.20 s at sf0.1; decimal sums/avgs are exact, so
    repartitioning cannot change a bit). No-op on a real multi-split
    table — the same contract as every other widen() call site."""
    li = widen(
        table(spark, sf_dir, "lineitem")
        .where(F.col("l_shipdate") <= F.lit("2000-12-01"))
        .select(
            "l_quantity", "l_extendedprice", "l_discount", "l_tax",
            "l_returnflag", "l_linestatus",
        )
    )
    disc_price = dec("l_extendedprice") * (1 - dec("l_discount"))
    charge = disc_price.cast("decimal(18,4)") * (1 + dec("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            money(F.sum(dec("l_quantity"))).alias("sum_qty"),
            money(F.sum(dec("l_extendedprice"))).alias("sum_base_price"),
            money(F.sum(disc_price)).alias("sum_disc_price"),
            money(F.sum(charge)).alias("sum_charge"),
            money(F.avg(dec("l_quantity"))).alias("avg_qty"),
            money(F.avg(dec("l_extendedprice"))).alias("avg_price"),
            money(F.avg(dec("l_discount")), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# --- q2: multi-way dimension join (TPC-H Q5 shape) --------------------------


def rel_q2_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem ⋈ orders ⋈ customer ⋈ nation ⋈ region. The dimension
    chain is broadcast (no shuffle on the probe side); the only shuffle
    is lineitem⋈orders on orderkey + the final group-by. At 100 TB the
    orders join is the skew-sensitive one — AQE skew-join splits it."""
    t = load(spark, sf_dir, "lineitem", "orders", "customer", "nation", "region")
    orders = t["orders"].where(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    return (
        t["lineitem"]
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey")
        )
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
            money(F.sum(dec("l_extendedprice") * (1 - dec("l_discount")))).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


# --- q3: top-k with deterministic order (limit) -----------------------------


def rel_q3_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-10 by revenue. Order on the *rounded* aggregate with
    a key tiebreak so ordering is engine-stable. Spark executes this as
    TakeOrderedAndProject — no global sort of the full aggregate."""
    t = load(spark, sf_dir, "lineitem", "orders", "customer")
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "c_name")
        .agg(money(F.sum(dec("l_extendedprice") * (1 - dec("l_discount")))).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(10)
    )


# --- q4: existential semi-join with a non-equi condition --------------------


def rel_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders with at least one line shipped >60 days after the order
    date, counted by priority — EXISTS as a left-semi join (equi key +
    range predicate)."""
    t = load(spark, sf_dir, "lineitem", "orders")
    late = t["lineitem"].select("l_orderkey", "l_shipdate")
    return (
        t["orders"]
        .join(
            late,
            (F.col("o_orderkey") == F.col("l_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


# --- q5: window ranking (top-k per group) -----------------------------------


def rel_q5_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer by price: one shuffle on the partition
    key, ranking inside the partition, no self-join."""
    orders = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .where(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "rn", "o_totalprice")
    )


# --- q6: running aggregate window -------------------------------------------


def rel_q6_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer running revenue in order-date order. The window sum
    runs over decimals, so the running accumulation is exact and
    order-stable across engines."""
    orders = table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        money(F.sum(dec("o_totalprice")).over(w)).alias("running_total"),
    )


# --- q7: set operators ------------------------------------------------------


def rel_q7_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT and EXCEPT over nation membership, union-tagged into
    one result. Spark plans both as hash semi/anti joins over the
    distinct sets — broadcastable here."""
    t = load(spark, sf_dir, "customer", "supplier", "nation")
    cust_nations = (
        t["customer"]
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("n_name")
    )
    supp_nations = (
        t["supplier"]
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("n_name")
    )
    both = cust_nations.intersect(supp_nations).select(F.lit("both").alias("tag"), "n_name")
    # subtract = set EXCEPT; exceptAll would be multiset subtraction and
    # leak nations whose customer-count exceeds their supplier-count.
    cust_only = cust_nations.subtract(supp_nations).select(
        F.lit("cust_only").alias("tag"), "n_name"
    )
    return both.unionByName(cust_only)


# --- q8: rollup (grouping sets) ---------------------------------------------


def rel_q8_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (returnflag, linestatus) with subtotal levels
    rendered as 'ALL' so the grouping-null convention is engine-neutral.
    widen() after project: the Expand (3 grouping levels) and its
    partial agg otherwise run on the single-row-group scan's one task
    (see rel_q1)."""
    li = widen(
        table(spark, sf_dir, "lineitem").select(
            "l_returnflag", "l_linestatus", "l_quantity"
        )
    )
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n_items"),
            money(F.sum(dec("l_quantity"))).alias("sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n_items",
            "sum_qty",
        )
    )


# --- q9: conditional aggregation + HAVING -----------------------------------


def rel_q9_segment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    return (
        cust.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_customers"),
            F.count(F.when(F.col("c_acctbal") < 0, 1)).alias("n_debt"),
            money(F.avg(dec("c_acctbal"))).alias("avg_bal"),
            money(F.max(dec("c_acctbal"))).alias("max_bal"),
        )
        .where(F.col("n_customers") > 10)
    )


# --- q10: date/time scalar functions ----------------------------------------


def rel_q10_orders_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.year("o_orderdate").cast("bigint").alias("o_year"),
            F.quarter("o_orderdate").cast("bigint").alias("o_quarter"),
            F.month("o_orderdate").cast("bigint").alias("o_month"),
        )
        .agg(
            F.count("*").alias("n_orders"),
            money(F.sum(dec("o_totalprice"))).alias("total"),
        )
    )


# --- q11: string scalar functions + distinct agg ----------------------------


def rel_q11_brand_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = table(spark, sf_dir, "part")
    return (
        part.withColumn(
            "brand_num",
            F.regexp_extract("p_brand", "#([0-9]+)", 1).cast("bigint"),
        )
        .groupBy("brand_num")
        .agg(
            F.count("*").alias("n_parts"),
            F.countDistinct("p_type").alias("n_types"),
            F.min("p_size").cast("bigint").alias("min_size"),
            F.max("p_size").cast("bigint").alias("max_size"),
            money(F.avg(dec("p_retailprice"))).alias("avg_price"),
        )
    )


# --- q12: anti join ---------------------------------------------------------


def rel_q12_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS as a left-anti join, aggregated per nation: customers
    with no order since 2000-01-01 (every customer has *some* order in
    the fixtures, so the recency predicate keeps the result non-trivial)."""
    t = load(spark, sf_dir, "customer", "orders", "nation")
    recent = t["orders"].where(F.col("o_orderdate") >= F.lit("2000-01-01"))
    return (
        t["customer"]
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.count("*").alias("n_idle_customers"))
    )


# --- q13/q14: cube + grouping sets ------------------------------------------


def rel_q13_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (order year, priority): all 4 grouping levels in one
    pass — Catalyst expands then partial-aggregates, so the shuffle
    carries group-cardinality rows per level, not the fact table.
    widen() after project: see rel_q1 (single-row-group fixture scan;
    the 4-level Expand runs on every core)."""
    orders = widen(
        table(spark, sf_dir, "orders").select(
            "o_orderdate", "o_orderpriority", "o_totalprice"
        )
    )
    return (
        orders.withColumn("o_year", F.year("o_orderdate").cast("bigint"))
        .cube("o_year", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            money(F.sum(dec("o_totalprice"))).alias("total"),
        )
        .select(
            F.coalesce(F.col("o_year").cast("string"), F.lit("ALL")).alias("o_year"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("o_priority"),
            "n_orders",
            "total",
        )
    )


def rel_q8_grouping_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP + CUBE + GROUPING SETS in one graded row: the three
    multi-level aggregation APIs (rel_q8/q13/q14, kept as shadow
    queries) normalized to a common (gset_op, key1, key2, n_rows,
    agg_val) schema and unioned. One Catalyst Expand per branch — each
    scans its fact table once and partial-aggregates every grouping
    level in that single pass; the union is plan-level concatenation,
    no extra shuffle beyond the three aggregations themselves."""
    r = rel_q8_rollup(spark, sf_dir).select(
        F.lit("rollup").alias("gset_op"),
        F.col("returnflag").alias("key1"),
        F.col("linestatus").alias("key2"),
        F.col("n_items").alias("n_rows"),
        F.col("sum_qty").alias("agg_val"),
    )
    c = rel_q13_cube(spark, sf_dir).select(
        F.lit("cube").alias("gset_op"),
        F.col("o_year").alias("key1"),
        F.col("o_priority").alias("key2"),
        F.col("n_orders").alias("n_rows"),
        F.col("total").alias("agg_val"),
    )
    g = rel_q14_grouping_sets(spark, sf_dir).select(
        F.lit("gsets").alias("gset_op"),
        F.col("nation").alias("key1"),
        F.col("segment").alias("key2"),
        F.col("n_customers").alias("n_rows"),
        F.col("total_bal").alias("agg_val"),
    )
    return r.unionByName(c).unionByName(g)


def rel_q14_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS ((nation), (segment)): two independent rollups of
    customer balances in one scan instead of a self-union of two
    aggregations."""
    t = load(spark, sf_dir, "customer", "nation")
    cust = t["customer"].join(
        F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey")
    )
    return (
        cust.groupingSets(
            [["n_name"], ["c_mktsegment"]], "n_name", "c_mktsegment"
        )
        .agg(
            F.count("*").alias("n_customers"),
            money(F.sum(dec("c_acctbal"))).alias("total_bal"),
        )
        .select(
            F.coalesce("n_name", F.lit("ALL")).alias("nation"),
            F.coalesce("c_mktsegment", F.lit("ALL")).alias("segment"),
            "n_customers",
            "total_bal",
        )
    )


def rel_q15_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group percentiles (p50/p90, linear interpolation) —
    the distribution profile an ETL sanity check computes per
    partition of a fact table. F.percentile is the exact sort-based
    aggregate (both engines interpolate at rank p·(n−1)); at 100 TB
    the approx_percentile sketch replaces it at 100× less memory, same
    query shape.

    widen() after project: single-row-group fixture scan, see rel_q1 —
    the exact percentile buffers build on every core (2.22 -> 1.83 s
    at sf0.1); percentile is a value-count fold, so row order cannot
    change a bit."""
    li = widen(
        table(spark, sf_dir, "lineitem").select(
            "l_returnflag", "l_extendedprice", "l_quantity"
        )
    )
    price = F.col("l_extendedprice").cast("double")
    qty = F.col("l_quantity").cast("double")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.percentile(price, F.lit(0.5)), 6).alias("p50_price"),
            F.round(F.percentile(price, F.lit(0.9)), 6).alias("p90_price"),
            F.round(F.percentile(qty, F.lit(0.5)), 6).alias("p50_qty"),
            F.count("*").alias("n_rows"),
        )
    )


def rel_q16_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment balance deciles: ntile(10) over a UNIQUE order
    (c_acctbal, c_custkey) — the tiebreak makes tile assignment
    engine-deterministic — then per-(segment, decile) count and
    decimal-staged min/avg/max. The equal-frequency binning behind
    quantile feature bucketing and monotonicity checks.

    Scale shape: one shuffle+sort on the segment key for the window,
    then a group-cardinality agg. At 100 TB the exact per-partition
    sort is the cost; an approx_percentile cut-point pass replaces
    ntile at the same output shape."""
    cust = table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").asc(), F.col("c_custkey").asc()
    )
    return (
        cust.withColumn("decile", F.ntile(10).over(w).cast("bigint"))
        .groupBy("c_mktsegment", "decile")
        .agg(
            F.count("*").alias("n_customers"),
            money(F.min(dec("c_acctbal"))).alias("min_bal"),
            money(F.avg(dec("c_acctbal")), 4).alias("avg_bal"),
            money(F.max(dec("c_acctbal"))).alias("max_bal"),
        )
    )


HIST_STEP, HIST_BUCKETS = 30_000, 20


def rel_q17_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order totals: bucket = floor(x/step)
    clamped to the last bin — the one-pass distribution profile of an
    ETL data-quality check. floor of an IEEE double division is
    bit-deterministic on both engines, so bucket assignment is exact
    (no width_bucket needed).

    Scale shape: single groupBy on a 20-value derived key with
    map-side partial agg — the shuffle carries ≤ 20 rows per task
    regardless of input size; pure scan-bound."""
    orders = table(spark, sf_dir, "orders")
    b = F.least(
        F.floor(F.col("o_totalprice") / F.lit(float(HIST_STEP))),
        F.lit(HIST_BUCKETS - 1),
    ).cast("bigint")
    return orders.groupBy(b.alias("bucket")).agg(
        F.count("*").alias("n_orders"),
        money(F.sum(dec("o_totalprice"))).alias("total"),
    )


def rel_q18_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC MERGE (the Delta/Iceberg MERGE INTO shape,
    operators/cdc.py::merge_changes): a change batch derived from the
    events stream — upserts keyed on user_id→custkey, `error` events
    as delete tombstones, last-writer-wins by event_id — applied onto
    a customer projection. Graded on the exact merged row set:
    untouched rows pass through, matched rows take the winning
    change's full payload, new keys insert, deleted keys vanish.

    Scale shape: one max_by agg over the batch (atomic whole-row
    winner via a struct), then base LEFT ANTI broadcast-join against
    the winner keys, unioned with the winning upserts — the base never
    shuffles (LEFT ANTI broadcasts; a FULL OUTER join could not —
    plan-asserted in tests/test_plans.py::test_cdc_merge_base_unshuffled)."""
    from distributed_mapreduce_spark.operators.cdc import merge_changes

    base = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    ev = table(spark, sf_dir, "events")
    changes = ev.select(
        (F.col("user_id") + 1).alias("c_custkey"),
        F.col("event_id").alias("ord"),
        (F.col("event_type") == "error").cast("int").alias("is_delete"),
        F.upper("event_type").alias("c_mktsegment"),
        F.col("value").alias("c_acctbal"),
    )
    return merge_changes(base, changes, "c_custkey")


def rel_q19_above_nation_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery: customers whose balance exceeds
    their NATION's average — written as a genuine correlated subquery
    on BOTH engines so the graded plan is Catalyst's decorrelation (it
    rewrites the per-row subquery into an aggregate + join; a manual
    join would test nothing). Output per nation: qualifying customers
    + their decimal-staged balance total.

    Scale shape (post-decorrelation): one nation-keyed aggregate over
    customer (25 groups) broadcast back, then a map-side filter — the
    optimizer turns O(N) subquery probes into one pass + broadcast."""
    cust = table(spark, sf_dir, "customer")
    nat = table(spark, sf_dir, "nation")
    cust.createOrReplaceTempView("__c")
    nat.createOrReplaceTempView("__n")
    return spark.sql(
        """
        SELECT n.n_name AS nation,
               count(*) AS n_above,
               CAST(round(sum(CAST(c.c_acctbal AS DECIMAL(18,4))), 2) AS DOUBLE)
                   AS total_bal
        FROM __c c JOIN __n n ON c.c_nationkey = n.n_nationkey
        WHERE c.c_acctbal > (
            SELECT avg(CAST(c2.c_acctbal AS DECIMAL(18,4)))
            FROM __c c2 WHERE c2.c_nationkey = c.c_nationkey
        )
        GROUP BY n.n_name
        """
    )


_SQL = {
    "rel_q20_zorder_scan": """
        SELECT l_returnflag,
               count(*) AS n_rows,
               CAST(round(sum(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_qty,
               CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_price
        FROM lineitem
        WHERE l_partkey BETWEEN 1 AND 100 AND l_quantity BETWEEN 10 AND 19
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
    "rel_q19_above_nation_avg": """
        SELECT n.n_name AS nation,
               count(*) AS n_above,
               CAST(round(sum(CAST(c.c_acctbal AS DECIMAL(18,4))), 2) AS DOUBLE)
                   AS total_bal
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE c.c_acctbal > (
            SELECT avg(CAST(c2.c_acctbal AS DECIMAL(18,4)))
            FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey
        )
        GROUP BY n.n_name
    """,
    "rel_q18_cdc_merge": """
        WITH base AS (
            SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
        ),
        ch AS (
            SELECT user_id + 1 AS c_custkey,
                   event_id AS ord,
                   CAST(event_type = 'error' AS INT) AS is_delete,
                   upper(event_type) AS c_mktsegment,
                   value AS c_acctbal
            FROM events
        ),
        w AS (
            -- atomic whole-row winner (mirrors the operator's single
            -- max_by over a struct): per-column arg_max would mix rows
            -- on ord ties and skip NULL payload values (DuckDB arg_max
            -- ignores NULLs; Spark max_by keeps them).
            SELECT c_custkey, c_mktsegment, c_acctbal, is_delete
            FROM (
                SELECT ch.*, row_number() OVER (
                           PARTITION BY c_custkey ORDER BY ord DESC
                       ) AS rn
                FROM ch
            ) WHERE rn = 1
        )
        SELECT b.c_custkey, b.c_mktsegment, b.c_acctbal
        FROM base b ANTI JOIN w USING (c_custkey)
        UNION ALL
        SELECT c_custkey, c_mktsegment, c_acctbal
        FROM w WHERE is_delete IS NULL OR is_delete = 0
    """,
    "rel_q16_deciles": """
        SELECT c_mktsegment,
               CAST(decile AS BIGINT) AS decile,
               count(*) AS n_customers,
               CAST(round(min(CAST(c_acctbal AS DECIMAL(18,4))), 2) AS DOUBLE) AS min_bal,
               CAST(round(avg(CAST(c_acctbal AS DECIMAL(18,4))), 4) AS DOUBLE) AS avg_bal,
               CAST(round(max(CAST(c_acctbal AS DECIMAL(18,4))), 2) AS DOUBLE) AS max_bal
        FROM (
            SELECT c_mktsegment, c_acctbal,
                   ntile(10) OVER (
                       PARTITION BY c_mktsegment
                       ORDER BY c_acctbal ASC, c_custkey ASC
                   ) AS decile
            FROM customer
        )
        GROUP BY 1, 2
    """,
    "rel_q17_histogram": f"""
        SELECT CAST(least(floor(o_totalprice / {float(HIST_STEP)}),
                          {HIST_BUCKETS - 1}) AS BIGINT) AS bucket,
               count(*) AS n_orders,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS total
        FROM orders
        GROUP BY 1
    """,
    "rel_q15_percentiles": """
        SELECT l_returnflag,
               round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5), 6) AS p50_price,
               round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.9), 6) AS p90_price,
               round(quantile_cont(CAST(l_quantity AS DOUBLE), 0.5), 6) AS p50_qty,
               count(*) AS n_rows
        FROM lineitem
        GROUP BY l_returnflag
    """,
    "rel_q13_cube": """
        SELECT coalesce(CAST(CAST(year(o_orderdate) AS BIGINT) AS VARCHAR), 'ALL') AS o_year,
               coalesce(o_orderpriority, 'ALL') AS o_priority,
               count(*) AS n_orders,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS total
        FROM orders
        GROUP BY CUBE (year(o_orderdate), o_orderpriority)
    """,
    "rel_q14_grouping_sets": """
        SELECT coalesce(n_name, 'ALL') AS nation,
               coalesce(c_mktsegment, 'ALL') AS segment,
               count(*) AS n_customers,
               CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_bal
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY GROUPING SETS ((n_name), (c_mktsegment))
    """,
    "rel_q1_pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               CAST(round(sum(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_qty,
               CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_base_price,
               CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS sum_disc_price,
               CAST(round(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4))) AS DECIMAL(18,4)) * (1 + CAST(l_tax AS DECIMAL(18,4)))), 2) AS DOUBLE) AS sum_charge,
               CAST(round(avg(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS avg_qty,
               CAST(round(avg(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS avg_price,
               CAST(round(avg(CAST(l_discount AS DECIMAL(18,4))), 4) AS DOUBLE) AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
    "rel_q2_region_revenue": """
        SELECT r_name, n_name,
               CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS revenue,
               count(*) AS n_items
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY r_name, n_name
    """,
    "rel_q3_top_customers": """
        SELECT c_custkey, c_name,
               CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        GROUP BY c_custkey, c_name
        ORDER BY revenue DESC, c_custkey ASC
        LIMIT 10
    """,
    "rel_q4_order_priority": """
        SELECT o_orderpriority, count(*) AS n_orders
        FROM orders
        WHERE EXISTS (
            SELECT 1 FROM lineitem
            WHERE l_orderkey = o_orderkey
              AND l_shipdate > o_orderdate + INTERVAL 60 DAY
        )
        GROUP BY o_orderpriority
    """,
    "rel_q5_window_topk": """
        SELECT o_custkey, o_orderkey, rn, o_totalprice FROM (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   CAST(row_number() OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_totalprice DESC, o_orderkey ASC
                   ) AS BIGINT) AS rn
            FROM orders
        )
        WHERE rn <= 3
    """,
    "rel_q6_running_total": """
        SELECT o_custkey, o_orderkey,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ), 2) AS DOUBLE) AS running_total
        FROM orders
    """,
    "rel_q7_setops": """
        WITH cust_nations AS (
            SELECT n_name FROM customer JOIN nation ON c_nationkey = n_nationkey
        ),
        supp_nations AS (
            SELECT n_name FROM supplier JOIN nation ON s_nationkey = n_nationkey
        )
        SELECT 'both' AS tag, n_name FROM (
            SELECT n_name FROM cust_nations INTERSECT SELECT n_name FROM supp_nations
        )
        UNION ALL
        SELECT 'cust_only' AS tag, n_name FROM (
            SELECT n_name FROM cust_nations EXCEPT SELECT n_name FROM supp_nations
        )
    """,
    "rel_q8_rollup": """
        SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
               coalesce(l_linestatus, 'ALL') AS linestatus,
               count(*) AS n_items,
               CAST(round(sum(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_qty
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    "rel_q9_segment_stats": """
        SELECT c_mktsegment,
               count(*) AS n_customers,
               count(CASE WHEN c_acctbal < 0 THEN 1 END) AS n_debt,
               CAST(round(avg(CAST(c_acctbal AS DECIMAL(18,4))), 2) AS DOUBLE) AS avg_bal,
               CAST(round(max(CAST(c_acctbal AS DECIMAL(18,4))), 2) AS DOUBLE) AS max_bal
        FROM customer
        GROUP BY c_mktsegment
        HAVING count(*) > 10
    """,
    "rel_q10_orders_by_month": """
        SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
               CAST(quarter(o_orderdate) AS BIGINT) AS o_quarter,
               CAST(month(o_orderdate) AS BIGINT) AS o_month,
               count(*) AS n_orders,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS total
        FROM orders
        GROUP BY 1, 2, 3
    """,
    "rel_q11_brand_stats": """
        SELECT CAST(regexp_extract(p_brand, '#([0-9]+)', 1) AS BIGINT) AS brand_num,
               count(*) AS n_parts,
               count(DISTINCT p_type) AS n_types,
               CAST(min(p_size) AS BIGINT) AS min_size,
               CAST(max(p_size) AS BIGINT) AS max_size,
               CAST(round(avg(CAST(p_retailprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS avg_price
        FROM part
        GROUP BY 1
    """,
    "rel_q12_customers_without_orders": """
        SELECT n_name, count(*) AS n_idle_customers
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        WHERE NOT EXISTS (
            SELECT 1 FROM orders
            WHERE o_custkey = c_custkey
              AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
        )
        GROUP BY n_name
    """,
}

# The merged grouping query's oracle: the three single-API oracles,
# normalized to the union schema (column names must match the Spark
# side exactly — driver sorts columns by name before hashing).
_SQL["rel_q8_grouping_multi"] = f"""
    SELECT 'rollup' AS gset_op, returnflag AS key1, linestatus AS key2,
           n_items AS n_rows, sum_qty AS agg_val
    FROM ({_SQL["rel_q8_rollup"]})
    UNION ALL
    SELECT 'cube' AS gset_op, o_year AS key1, o_priority AS key2,
           n_orders AS n_rows, total AS agg_val
    FROM ({_SQL["rel_q13_cube"]})
    UNION ALL
    SELECT 'gsets' AS gset_op, nation AS key1, segment AS key2,
           n_customers AS n_rows, total_bal AS agg_val
    FROM ({_SQL["rel_q14_grouping_sets"]})
"""

def rel_q20_zorder_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate over a conjunctive range predicate served from a
    Z-ORDERED layout (sources/layout.write_zordered → manifest.
    read_pruned_multi): lineitem is rewritten clustered on the
    space-filling curve over (l_partkey, l_quantity) — two columns a
    LINEAR sort can't serve simultaneously — and the read prunes files
    whose zone hyper-rectangle misses either range before any IO.
    At 100 TB this is the Delta/Iceberg OPTIMIZE ZORDER pattern: the
    rewrite costs one range-partition shuffle (a compaction pass the
    dataset needs anyway) and buys file-level skipping on every
    z-column for every reader after it. The layout can only change
    WHICH files are read, never the rows — so the graded oracle is the
    plain filtered aggregate, and the query hard-fails if the pruner
    ever reads a superset it shouldn't (parity does that implicitly).
    """
    import os as _os

    from distributed_mapreduce_spark.sources.layout import write_zordered
    from distributed_mapreduce_spark.sources.manifest import read_pruned_multi
    from distributed_mapreduce_spark.streaming.replay import ephemeral_dir

    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_returnflag", "l_extendedprice"
    )
    src = _os.path.getsize(_os.path.join(sf_dir, "lineitem.parquet"))
    store = ephemeral_dir("dmr_zorder_", need_bytes=3 * src)
    write_zordered(li, f"{store}/t", ["l_partkey", "l_quantity"], bits=5, n_files=16)
    pruned, _read, _total = read_pruned_multi(
        spark, f"{store}/t", {"l_partkey": (1, 100), "l_quantity": (10, 19)}
    )
    return (
        pruned.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            money(F.sum(dec("l_quantity"))).alias("sum_qty"),
            money(F.sum(dec("l_extendedprice"))).alias("sum_price"),
        )
        .orderBy("l_returnflag")
    )


QUERIES = {
    "rel_q15_percentiles": rel_q15_percentiles,
    "rel_q1_pricing_summary": rel_q1_pricing_summary,
    "rel_q2_region_revenue": rel_q2_region_revenue,
    "rel_q3_top_customers": rel_q3_top_customers,
    "rel_q4_order_priority": rel_q4_order_priority,
    "rel_q5_window_topk": rel_q5_window_topk,
    "rel_q7_setops": rel_q7_setops,
    "rel_q8_grouping_multi": rel_q8_grouping_multi,
    "rel_q12_customers_without_orders": rel_q12_customers_without_orders,
}

# Near-twin variants behind the merged/representative graded queries:
# full DuckDB parity in pytest, no driver registration (grading cap —
# see registry.py docstring).
SHADOW_QUERIES = {
    "rel_q6_running_total": rel_q6_running_total,
    "rel_q8_rollup": rel_q8_rollup,
    "rel_q13_cube": rel_q13_cube,
    "rel_q14_grouping_sets": rel_q14_grouping_sets,
    "rel_q9_segment_stats": rel_q9_segment_stats,
    "rel_q10_orders_by_month": rel_q10_orders_by_month,
    "rel_q11_brand_stats": rel_q11_brand_stats,
    "rel_q16_deciles": rel_q16_deciles,
    "rel_q17_histogram": rel_q17_histogram,
    "rel_q18_cdc_merge": rel_q18_cdc_merge,
    "rel_q19_above_nation_avg": rel_q19_above_nation_avg,
    "rel_q20_zorder_scan": rel_q20_zorder_scan,
}

ORACLES = {name: _SQL[name] for name in QUERIES}
SHADOW_ORACLES = {name: _SQL[name] for name in SHADOW_QUERIES}
