"""Core relational operators over the star schema.

Covers the SURVEY.md §2 inventory rows: scans (S1), projections/filters
(P2,P7,P8), casts (P4), literal columns (P3), unions (U1), joins
(J1-J3 generalized to real equi/semi/anti/outer joins), aggregations
(A1-A5,A13), sorts/limits/top-k (T1-T3), scalar functions (§2.8), and
the grouping-set extensions called out at the end of §2.5.

Scale notes (these run against ~100 TB in production):
- Dimension joins (region/nation/supplier) are explicitly
  ``broadcast()`` — no shuffle of the fact table for those.
- Fact-fact joins (orders-lineitem) shuffle on the join key; both
  sides are largest-first so AQE can pick shuffle-hash where one side
  is small after filters.
- Filters are applied before joins so Catalyst pushes them into the
  parquet scan (verified via ``explain`` in tests/test_plans.py).
- Top-k uses orderBy+limit which Spark plans as TakeOrderedAndProject
  (per-partition heap + driver merge, no global sort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from workshop3_etl_spark.functions import metrics as M
from workshop3_etl_spark.functions.joins import broadcast_if_small
from workshop3_etl_spark.plans.registry import register
from workshop3_etl_spark.sources.tables import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --------------------------------------------------------------------
# Q1: pricing summary (scan → filter → groupBy agg → orderBy).
# Exercises A1 count, A2-style averages, P8 predicate, T2 ordering —
# the same operator set as the reference's KPI-by-year query
# (`Reporte_Tecnico.md:507-524`), on the lineitem fact table.
def _rev() -> F.Column:
    """The discounted-revenue money canon shared by every TPC-H-shaped
    query: price * (1 - discount), summed as exact decimal(27,4) and
    surfaced as double. Single-sourced so a precision change cannot
    silently diverge between queries (driver hash-checks the canon)."""
    return (
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    ).cast("decimal(27,4)")


def _rev_sql(p: str = "") -> str:
    """DuckDB twin of :func:`_rev`; ``p`` is the lineitem alias prefix
    (e.g. ``"l."``)."""
    return (
        f"CAST(CAST({p}l_extendedprice AS DOUBLE)"
        f" * (1.0 - CAST({p}l_discount AS DOUBLE)) AS decimal(27,4))"
    )


# --------------------------------------------------------------------

_Q1_ORACLE = f"""
SELECT
  l_returnflag,
  l_linestatus,
  {M.oracle_dsum('l_quantity', 'sum_qty')},
  {M.oracle_dsum('l_extendedprice', 'sum_base_price')},
  {M.oracle_dsum('CAST(l_extendedprice AS DOUBLE) * (1.0 - CAST(l_discount AS DOUBLE))', 'sum_disc_price', 4)},
  {M.oracle_dsum('CAST(l_extendedprice AS DOUBLE) * (1.0 - CAST(l_discount AS DOUBLE)) * (1.0 + CAST(l_tax AS DOUBLE))', 'sum_charge', 6)},
  {M.oracle_davg('l_quantity', 'avg_qty')},
  {M.oracle_davg('l_extendedprice', 'avg_price')},
  {M.oracle_davg('l_discount', 'avg_disc', 4)},
  CAST(COUNT(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@register("q1_pricing_summary", oracle=_Q1_ORACLE)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary report (TPC-H Q1 shape) on lineitem.

    scan_parallel: Q1's per-row work is decimal(>18) moment sums —
    BigDecimal arithmetic that dwarfs the scan; the one-row-group
    layout would serialize the whole partial-agg pass (guide §2.5;
    self-disabling on healthy layouts, where the scan's own splits
    parallelize the partial agg and no repartition fires). The
    shipdate filter still pushes through the exchange to the scan
    (tests/test_plans.py::test_q6_filter_pushdown)."""
    from workshop3_etl_spark.sources.tables import scan_parallel

    li = scan_parallel(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    charge = disc_price * (F.lit(1.0) + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            M.dsum("l_quantity", "sum_qty"),
            M.dsum("l_extendedprice", "sum_base_price"),
            M.dsum(disc_price, "sum_disc_price", 4),
            M.dsum(charge, "sum_charge", 6),
            M.davg("l_quantity", "avg_qty"),
            M.davg("l_extendedprice", "avg_price"),
            M.davg("l_discount", "avg_disc", 4),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# --------------------------------------------------------------------
# Q6: forecast revenue change (pure scan-filter-agg; tests predicate
# pushdown of a conjunctive range filter — P8/P10 shape).
# --------------------------------------------------------------------

_Q6_ORACLE = f"""
SELECT
  {M.oracle_dsum_prod('l_extendedprice', 'l_discount', 'revenue')},
  CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.03 AND 0.07
  AND l_quantity < 24
"""


@register("q6_forecast_revenue", oracle=_Q6_ORACLE)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-predicate revenue aggregate (TPC-H Q6 shape)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount").between(0.03, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            M.dsum_prod("l_extendedprice", "l_discount", "revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# --------------------------------------------------------------------
# Q3: shipping priority (fact-fact join + broadcast-able dim filter,
# groupBy, top-k). First real join surface (SURVEY §2.4 notes the
# reference has none; this is the §7 build-plan extension).
# --------------------------------------------------------------------

_Q3_ORACLE = f"""
SELECT
  l.l_orderkey,
  CAST(SUM({_rev_sql('l.')}) AS DOUBLE) AS revenue,
  o.o_orderdate,
  o.o_orderpriority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
  AND l.l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, l.l_orderkey
LIMIT 10
"""


@register("q3_shipping_priority", oracle=_Q3_ORACLE)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unshipped-order revenue top-10 (TPC-H Q3 shape).

    customer is small relative to the fact tables → broadcast; the
    orders↔lineitem join shuffles on orderkey (co-partitioned by AQE).
    """
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15 00:00:00").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15 00:00:00").cast("timestamp")
    )
    revenue = _rev()
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(broadcast_if_small(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


# --------------------------------------------------------------------
# Q5: regional revenue (multi-way star join: 2 broadcast dims + 2
# facts + supplier co-location condition).
# --------------------------------------------------------------------

_Q5_ORACLE = f"""
SELECT
  n.n_name,
  CAST(SUM({_rev_sql('l.')}) AS DOUBLE) AS revenue
FROM region r
JOIN nation n ON n.n_regionkey = r.r_regionkey
JOIN customer c ON c.c_nationkey = n.n_nationkey
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
WHERE r.r_name = 'ASIA'
GROUP BY n.n_name
ORDER BY revenue DESC, n.n_name
"""


@register("q5_regional_revenue", oracle=_Q5_ORACLE)
def q5_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by nation for one region (TPC-H Q5 shape).

    region/nation/supplier broadcast (5/25/small rows at any SF);
    customer-orders-lineitem chain shuffles on its keys.
    """
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    revenue = _rev()
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            broadcast_if_small(supp),
            (supp.s_suppkey == li.l_suppkey) & (supp.s_nationkey == cust.c_nationkey),
        )
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


# --------------------------------------------------------------------
# Semi/anti joins (J1's key-match semantics generalized): customers
# with vs without orders.
# --------------------------------------------------------------------

_SEMI_ANTI_ORACLE = """
SELECT
  c.c_mktsegment,
  CAST(COUNT(*) AS BIGINT) AS n_customers,
  CAST(SUM(CASE WHEN o.o_custkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_with_orders,
  CAST(SUM(CASE WHEN o.o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_without_orders
FROM customer c
LEFT JOIN (SELECT DISTINCT o_custkey FROM orders) o
  ON c.c_custkey = o.o_custkey
GROUP BY c.c_mktsegment
ORDER BY c.c_mktsegment
"""


@register("join_semi_anti_customers", oracle=_SEMI_ANTI_ORACLE)
def join_semi_anti_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment customer counts split by order existence.

    Implemented with left_semi/left_anti joins (Spark's EXISTS /
    NOT EXISTS physical forms — no row duplication, no shuffle of the
    payload columns), then unioned; the oracle uses the equivalent
    LEFT JOIN + CASE formulation.
    """
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").select("o_custkey").distinct()
    with_orders = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_with_orders"))
    )
    without_orders = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_without_orders"))
    )
    totals = cust.groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("n_customers"))
    return (
        totals.join(with_orders, "c_mktsegment", "left")
        .join(without_orders, "c_mktsegment", "left")
        .select(
            "c_mktsegment",
            "n_customers",
            F.coalesce("n_with_orders", F.lit(0)).alias("n_with_orders"),
            F.coalesce("n_without_orders", F.lit(0)).alias("n_without_orders"),
        )
        .orderBy("c_mktsegment")
    )


# --------------------------------------------------------------------
# Outer join with null handling (P4's coerce-to-null + coalesce
# semantics): parts and their sales, including never-sold parts.
# --------------------------------------------------------------------

_OUTER_ORACLE = f"""
SELECT
  p.p_brand,
  CAST(COUNT(DISTINCT p.p_partkey) AS BIGINT) AS n_parts,
  CAST(COUNT(l.l_partkey) AS BIGINT) AS n_lineitems,
  {M.oracle_dsum('COALESCE(l.l_quantity, 0.0)', 'total_qty')}
FROM part p
LEFT JOIN lineitem l ON p.p_partkey = l.l_partkey
GROUP BY p.p_brand
ORDER BY p.p_brand
"""


@register("join_outer_part_sales", oracle=_OUTER_ORACLE)
def join_outer_part_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-outer part→lineitem with COALESCE over the null side."""
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity")
    return (
        part.join(li, part.p_partkey == li.l_partkey, "left")
        .groupBy("p_brand")
        .agg(
            F.countDistinct("p_partkey").alias("n_parts"),
            F.count("l_partkey").alias("n_lineitems"),
            M.dsum(F.coalesce(F.col("l_quantity"), F.lit(0.0)), "total_qty"),
        )
        .orderBy("p_brand")
    )


# --------------------------------------------------------------------
# Scalar subquery (J2: every row compared against a global aggregate —
# the reference's R² CTE shape, `Reporte_Tecnico.md:487-503`).
# --------------------------------------------------------------------

_SCALAR_SUBQ_ORACLE = f"""
WITH stats AS (
  SELECT CAST(SUM(CAST(o_totalprice AS decimal(27,2))) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS avg_price
  FROM orders
)
SELECT
  o.o_orderpriority,
  CAST(COUNT(*) AS BIGINT) AS n_above_avg,
  {M.oracle_dsum('o.o_totalprice', 'sum_above_avg')}
FROM orders o, stats
WHERE CAST(o.o_totalprice AS DOUBLE) > stats.avg_price
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority
"""


@register("scalar_subquery_above_avg", oracle=_SCALAR_SUBQ_ORACLE)
def scalar_subquery_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders above the global average price, grouped by priority.

    The global mean is an exact-decimal aggregate broadcast back
    against the fact table (agg → crossJoin(broadcast) — the
    at-scale-safe form of an unpartitioned window, SURVEY §2.6).
    """
    orders = _t(spark, sf_dir, "orders")
    stats = orders.agg(M.davg("o_totalprice", "avg_price"))
    return (
        orders.crossJoin(F.broadcast(stats))
        .filter(F.col("o_totalprice") > F.col("avg_price"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_above_avg"),
            M.dsum("o_totalprice", "sum_above_avg"),
        )
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------
# Top-k (T1: ORDER BY … DESC LIMIT k — `Reporte_Tecnico.md:529-538`).
# --------------------------------------------------------------------

_TOPK_ORACLE = """
SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 10
"""


@register("topk_orders_by_price", oracle=_TOPK_ORACLE)
def topk_orders_by_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 orders by price (TakeOrderedAndProject — per-partition
    heaps, no global sort; deterministic via orderkey tie-break)."""
    return (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
    )


# --------------------------------------------------------------------
# Union / distinct (U1: the reference's 5-way concat,
# `src/etl.py:103-107`, generalized to heterogeneous-source union).
# --------------------------------------------------------------------

_UNION_ORACLE = f"""
WITH balances AS (
  SELECT 'customer' AS side, c_nationkey AS nationkey, c_acctbal AS acctbal
  FROM customer
  UNION ALL
  SELECT 'supplier' AS side, s_nationkey AS nationkey, s_acctbal AS acctbal
  FROM supplier
)
SELECT
  side,
  nationkey,
  CAST(COUNT(*) AS BIGINT) AS n_accounts,
  {M.oracle_dsum('acctbal', 'total_balance')}
FROM balances
GROUP BY side, nationkey
ORDER BY side, nationkey
"""


@register("union_account_balances", oracle=_UNION_ORACLE)
def union_account_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unionByName of two differently-shaped sources harmonized to one
    schema — the Spark form of the reference's pd.concat ETL union."""
    cust = (
        _t(spark, sf_dir, "customer")
        .select(
            F.lit("customer").alias("side"),
            F.col("c_nationkey").alias("nationkey"),
            F.col("c_acctbal").alias("acctbal"),
        )
    )
    supp = (
        _t(spark, sf_dir, "supplier")
        .select(
            F.lit("supplier").alias("side"),
            F.col("s_nationkey").alias("nationkey"),
            F.col("s_acctbal").alias("acctbal"),
        )
    )
    return (
        cust.unionByName(supp)
        .groupBy("side", "nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_accounts"),
            M.dsum("acctbal", "total_balance"),
        )
        .orderBy("side", "nationkey")
    )


# --------------------------------------------------------------------
# Rollup / cube (cheap Spark built-ins flagged in SURVEY §2.5 as the
# natural extension beyond the reference's plain GROUP BY).
# --------------------------------------------------------------------

_ROLLUP_ORACLE = f"""
SELECT
  l_returnflag,
  l_linestatus,
  CAST(COUNT(*) AS BIGINT) AS n_items,
  {M.oracle_dsum('l_quantity', 'sum_qty')}
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
"""


@register("rollup_lineitem_status", oracle=_ROLLUP_ORACLE)
def rollup_lineitem_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical totals via ROLLUP (subtotal + grand-total rows)."""
    return (
        _t(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            M.dsum("l_quantity", "sum_qty"),
        )
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


_CUBE_ORACLE = f"""
SELECT
  o_orderstatus,
  o_orderpriority,
  CAST(COUNT(*) AS BIGINT) AS n_orders,
  {M.oracle_dsum('o_totalprice', 'sum_price')}
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
"""


@register("cube_order_status_priority", oracle=_CUBE_ORACLE)
def cube_order_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All grouping-set combinations via CUBE."""
    return (
        _t(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            M.dsum("o_totalprice", "sum_price"),
        )
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


# --------------------------------------------------------------------
# CASE bucketing + distinct counting (P9 clip-shape conditionals, A6's
# countDistinct).
# --------------------------------------------------------------------

_BUCKET_ORACLE = """
SELECT
  CASE
    WHEN o_totalprice < 50000 THEN 'small'
    WHEN o_totalprice < 150000 THEN 'medium'
    WHEN o_totalprice < 300000 THEN 'large'
    ELSE 'jumbo'
  END AS price_band,
  CAST(COUNT(*) AS BIGINT) AS n_orders,
  CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
FROM orders
GROUP BY 1
ORDER BY price_band
"""


@register("bucket_orders_price_band", oracle=_BUCKET_ORACLE)
def bucket_orders_price_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE-WHEN banding + exact distinct count per band."""
    band = (
        F.when(F.col("o_totalprice") < 50000, "small")
        .when(F.col("o_totalprice") < 150000, "medium")
        .when(F.col("o_totalprice") < 300000, "large")
        .otherwise("jumbo")
    )
    return (
        _t(spark, sf_dir, "orders")
        .groupBy(band.alias("price_band"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
        )
        .orderBy("price_band")
    )


# --------------------------------------------------------------------
# Train/test-flag cardinalities (A13/M1/P6: the reference's
# deterministic split protocol re-expressed as a salted-hash split —
# `src/train_model.py:26-28`, `kafka/producer.py:67-73`; SURVEY §7
# "hard parts" decision). The hash is an md5-hex-prefix threshold
# (first byte < 0xb3 ≈ 69.9% train) — md5 is the portable hash both
# engines share, so the split itself is oracle-checkable.
# --------------------------------------------------------------------

_SPLIT_ORACLE = """
SELECT
  CAST(CASE WHEN substr(md5(CAST(o_orderkey AS VARCHAR) || ':42'), 1, 2) < 'b3'
       THEN 1 ELSE 0 END AS INT) AS is_train,
  CAST(CASE WHEN substr(md5(CAST(o_orderkey AS VARCHAR) || ':42'), 1, 2) < 'b3'
       THEN 0 ELSE 1 END AS INT) AS is_test,
  CAST(COUNT(*) AS BIGINT) AS n_rows
FROM orders
GROUP BY 1, 2
ORDER BY is_train
"""


@register("split_train_test_counts", oracle=_SPLIT_ORACLE)
def split_train_test_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic, reproducible ~70/30 split via salted key hash.

    Protocol parity with the reference (same rows flagged across
    independent runs/processes) without sklearn's permutation —
    at 100 TB a permutation split is a full shuffle; a key hash is a
    map-only expression.
    """
    is_train = (
        F.substring(
            F.md5(F.concat(F.col("o_orderkey").cast("string"), F.lit(":42"))), 1, 2
        )
        < "b3"
    )
    return (
        _t(spark, sf_dir, "orders")
        .select(
            is_train.cast("int").alias("is_train"),
            (~is_train).cast("int").alias("is_test"),
        )
        .groupBy("is_train", "is_test")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .orderBy("is_train")
    )


# --------------------------------------------------------------------
# Salted (skew-resistant) aggregation — same result as a plain
# groupBy, bit-for-bit, which is exactly what the oracle asserts.
# The skew scenario: revenue per returnflag (3 hot keys over the
# whole fact table — the degenerate-cardinality case where one
# reducer would otherwise absorb a third of the table).
# --------------------------------------------------------------------

_SALTED_ORACLE = f"""
SELECT
  l_returnflag,
  {M.oracle_dsum('l_extendedprice', 'sum_value')},
  CAST(COUNT(*) AS BIGINT) AS n_rows
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@register("salted_agg_returnflag_revenue", oracle=_SALTED_ORACLE)
def salted_agg_returnflag_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted sum/count over a 3-key (maximally skewed)
    aggregation — functions/skew.py; decimal partials make the salted
    result identical to the direct groupBy."""
    from workshop3_etl_spark.functions.skew import salted_sum_count

    li = _t(spark, sf_dir, "lineitem")
    return (
        salted_sum_count(li, ["l_returnflag"], "l_extendedprice", n_salts=8)
        .select("l_returnflag", "sum_value", "n_rows")
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------
# Q4-shape: order-priority counts with correlated EXISTS over a date
# range — the count-distinct-by-existence pattern.
# --------------------------------------------------------------------

# The TPC-H spec quarter (1993-Q3) predates this testdata's order
# calendar (1995-01-01..2001-08-01), which made the query VACUOUS —
# 0 rows at every SF, a hash check that can never fail. Re-anchored
# to a full year inside the data calendar (same deviation-for-signal
# rationale as range_join_orders_events_7d's calendar alignment).
_Q4_ORACLE = """
SELECT
  o.o_orderpriority,
  CAST(COUNT(*) AS BIGINT) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
  )
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority
"""


@register("q4_priority_late_ship", oracle=_Q4_ORACLE)
def q4_priority_late_ship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders (by priority) with at least one lineitem shipped after
    the order date (TPC-H Q4 shape). Spark side uses an explicit
    left-semi join with a non-equi condition — the decorrelated form
    Catalyst would produce from EXISTS."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey)
            & (li.l_shipdate > orders.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------
# Q12-shape: conditional (CASE) aggregation over a join — counts per
# bucket from one pass.
# --------------------------------------------------------------------

_Q12_ORACLE = """
SELECT
  l.l_linestatus,
  CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
       THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
  CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
       THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders o
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND l.l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
GROUP BY l.l_linestatus
ORDER BY l.l_linestatus
"""


@register("q12_priority_by_linestatus", oracle=_Q12_ORACLE)
def q12_priority_by_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-count aggregation over the orders-lineitem join
    (TPC-H Q12 shape) — one pass, two CASE counters."""
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-01-01 00:00:00").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(high.cast("int")).cast("long").alias("high_line_count"),
            F.sum((~high).cast("int")).cast("long").alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


# --------------------------------------------------------------------
# Q14-shape: conditional-revenue ratio (promo share) — a ratio of two
# exact-decimal conditional sums.
# --------------------------------------------------------------------

_Q14_ORACLE = f"""
SELECT
  CAST(SUM(CASE WHEN p.p_type LIKE 'PROMO%'
       THEN {_rev_sql('l.')}
       ELSE CAST(0 AS decimal(27,4)) END) AS DOUBLE)
  / CAST(SUM({_rev_sql('l.')}) AS DOUBLE)
  AS promo_share,
  CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1995-09-01 00:00:00'
  AND l.l_shipdate < TIMESTAMP '1995-10-01 00:00:00'
"""


@register("q14_promo_revenue_share", oracle=_Q14_ORACLE)
def q14_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promo revenue share (TPC-H Q14 shape): broadcast part dim,
    conditional decimal sums, double ratio."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-09-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1995-10-01 00:00:00").cast("timestamp"))
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    revenue = _rev()
    promo = F.when(
        F.col("p_type").like("PROMO%"), revenue
    ).otherwise(F.lit(0).cast("decimal(27,4)"))
    return (
        li.join(broadcast_if_small(part), li.l_partkey == part.p_partkey)
        .agg(
            (F.sum(promo).cast("double") / F.sum(revenue).cast("double"))
            .alias("promo_share"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# --------------------------------------------------------------------
# Q7: cross-nation trade volume (disjunctive nation-pair filter over a
# 5-way join, grouped by both nations and ship year).
# --------------------------------------------------------------------

_Q7_ORACLE = f"""
SELECT
  n1.n_name AS supp_nation,
  n2.n_name AS cust_nation,
  CAST(year(l.l_shipdate) AS INT) AS ship_year,
  CAST(SUM({_rev_sql('l.')}) AS DOUBLE)
    AS volume
FROM supplier s
JOIN lineitem l ON s.s_suppkey = l.l_suppkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
GROUP BY n1.n_name, n2.n_name, year(l.l_shipdate)
ORDER BY supp_nation, cust_nation, ship_year
"""


@register("q7_nation_volume", oracle=_Q7_ORACLE)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trade volume between a nation pair by ship year (TPC-H Q7
    shape).

    Plan shape: both nation dims broadcast; the disjunctive pair
    predicate is applied AFTER the cheap broadcast joins attach the
    names, so the fact-fact joins shuffle on their natural keys only
    once. At scale the nation filter could also be pushed into
    supplier/customer before the join (semi-join reduction) — at 25
    dim rows the broadcast form is strictly cheaper.
    """
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    revenue = _rev()
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    return (
        li.join(broadcast_if_small(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("ship_year"),
        )
        .agg(F.sum(revenue.cast("decimal(27,4)")).cast("double").alias("volume"))
        .orderBy("supp_nation", "cust_nation", "ship_year")
    )


# --------------------------------------------------------------------
# Q13: customer order-count distribution (left outer join + two-level
# aggregation — the histogram-of-group-sizes physical shape).
# --------------------------------------------------------------------

_Q13_ORACLE = """
SELECT
  c_count,
  CAST(COUNT(*) AS BIGINT) AS custdist
FROM (
  SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
  FROM customer c
  LEFT JOIN orders o ON c.c_custkey = o.o_custkey
  GROUP BY c.c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


@register("q13_customer_distribution", oracle=_Q13_ORACLE)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of orders-per-customer (TPC-H Q13 shape): left outer
    join preserves zero-order customers, COUNT(o_orderkey) ignores
    the null-extended rows, then a second aggregation buckets the
    counts.

    Scale notes: stage 1 shuffles on c_custkey (high cardinality,
    well-distributed); stage 2's key space is tiny (distinct order
    counts) so AQE coalesces it to a handful of partitions. Both
    aggregations are map-side combinable.
    """
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


# --------------------------------------------------------------------
# Q17: small-quantity-order revenue (correlated AVG subquery,
# decorrelated into a per-part aggregate + join).
# --------------------------------------------------------------------

_Q17_ORACLE = """
WITH part_avg AS (
  SELECT l_partkey AS pk,
         0.2 * (CAST(SUM(CAST(l_quantity AS decimal(27,2))) AS DOUBLE)
                / CAST(COUNT(*) AS DOUBLE)) AS qty_threshold
  FROM lineitem
  GROUP BY l_partkey
)
SELECT
  CAST(SUM(CAST(l.l_extendedprice AS decimal(27,2))) AS DOUBLE) / 7.0
    AS avg_yearly,
  CAST(COUNT(*) AS BIGINT) AS n_small_orders
FROM lineitem l
JOIN part_avg pa ON l.l_partkey = pa.pk
WHERE CAST(l.l_quantity AS DOUBLE) < pa.qty_threshold
"""


@register("q17_small_quantity_revenue", oracle=_Q17_ORACLE)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue locked in small-quantity orders (TPC-H Q17 shape).

    The correlated ``l_quantity < 0.2 * AVG(...) per part`` subquery
    is decorrelated into one per-part aggregate joined back on
    l_partkey — both sides shuffle on the same key, so AQE co-
    partitions them; the per-part frame carries two columns only.
    Threshold math follows the decimal-boundary rules: exact decimal
    sums, one double division per side, identical in both engines.
    """
    li = _t(spark, sf_dir, "lineitem")
    part_avg = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (
            F.lit(0.2)
            * (
                F.sum(F.col("l_quantity").cast("decimal(27,2)")).cast("double")
                / F.count(F.lit(1)).cast("double")
            )
        ).alias("qty_threshold")
    )
    return (
        li.join(part_avg, li.l_partkey == part_avg.pk)
        .filter(F.col("l_quantity").cast("double") < F.col("qty_threshold"))
        .agg(
            (
                F.sum(F.col("l_extendedprice").cast("decimal(27,2)"))
                .cast("double")
                / F.lit(7.0)
            ).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_small_orders"),
        )
    )


# --------------------------------------------------------------------
# Deterministic k-fold cross-validation assignment: the k-way
# generalization of the 70/30 hash split above. Fold = salted-hash
# integer mod k — map-only, reproducible across runs, engines, and
# partitionings (no permutation, no shuffle). The balance check per
# fold (count + mean of the target) is what a CV harness reads before
# trusting the folds.
# --------------------------------------------------------------------

_KFOLD = 5

_KFOLD_ORACLE = f"""
SELECT
  CAST(CAST(concat('0x',
       substr(md5(CAST(o_orderkey AS VARCHAR) || ':cv42'), 1, 15))
       AS BIGINT) % {_KFOLD} AS INT) AS fold,
  CAST(COUNT(*) AS BIGINT) AS n_rows,
  {M.oracle_dsum('o_totalprice', 'price_sum')},
  {M.oracle_davg('o_totalprice', 'price_mean')}
FROM orders
GROUP BY 1
ORDER BY fold
"""


@register("ml_kfold_assignment", oracle=_KFOLD_ORACLE)
def ml_kfold_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-fold CV assignment by salted key hash (60-bit md5 prefix mod
    k — same hex→int pairing as dq_table_checksums: Spark conv(),
    DuckDB 0x-cast) with per-fold row count and target sum/mean.

    Map-only fold tagging + one map-side-combinable aggregate; the
    mean is an exact-decimal-sum → double division, bit-identical in
    both engines.
    """
    fold = F.expr(
        "cast(cast(conv(substring(md5(concat(cast(o_orderkey as string),"
        f" ':cv42')), 1, 15), 16, 10) as bigint) % {_KFOLD} as int)"
    )
    return (
        _t(spark, sf_dir, "orders")
        .select(fold.alias("fold"), "o_totalprice")
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            M.dsum("o_totalprice", "price_sum"),
            M.davg("o_totalprice", "price_mean"),
        )
        .orderBy("fold")
    )


# --------------------------------------------------------------------
# Bitmask membership profile: per-customer set of order priorities
# compressed to one integer via bit_or — the small-domain bitmap-index
# idiom (set-valued attribute in O(1) bytes, set algebra as bitwise
# ops). The profile histogram answers "which priority COMBINATIONS
# occur, how often" without any array/explode machinery.
# --------------------------------------------------------------------

_BITMASK_ORACLE = """
WITH m AS (
  SELECT o_custkey,
         bit_or(1 << (CAST(substr(o_orderpriority, 1, 1) AS INT) - 1))
           AS mask
  FROM orders
  GROUP BY o_custkey
)
SELECT CAST(mask AS INT) AS priority_mask,
       CAST(bit_count(CAST(mask AS BIGINT)) AS INT) AS n_priorities,
       CAST(COUNT(*) AS BIGINT) AS n_customers
FROM m
GROUP BY mask
ORDER BY priority_mask
"""


@register("bitmask_priority_profiles", oracle=_BITMASK_ORACLE)
def bitmask_priority_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of per-customer order-priority bitmasks: each
    customer's priorities-ever-used set packed into 5 bits (bit_or
    aggregate), then counted per combination.

    Two map-side-combinable aggregates, integer-only — bit_or is the
    distributive set-union for small domains, the same trick bitmap
    indexes and segment-membership stores use at scale instead of
    collect_set (O(1) state per group, mergeable in any order).
    """
    # shiftleft()'s python wrapper only takes a literal shift; the SQL
    # function accepts a column expression.
    pr_bit = F.expr(
        "shiftleft(1, cast(substring(o_orderpriority, 1, 1) as int) - 1)"
    )
    m = (
        _t(spark, sf_dir, "orders")
        .select("o_custkey", pr_bit.alias("b"))
        .groupBy("o_custkey")
        .agg(F.bit_or("b").alias("mask"))
    )
    return (
        m.groupBy(F.col("mask").cast("int").alias("priority_mask"))
        .agg(
            F.bit_count(F.col("priority_mask").cast("long"))
            .cast("int")
            .alias("n_priorities"),
            F.count(F.lit(1)).alias("n_customers"),
        )
        .orderBy("priority_mask")
    )


# --------------------------------------------------------------------
# Q8: national market share — a two-level conditional-share aggregate
# over the full 7-table star (the widest join in the TPC-H set that
# this testdata's schema supports).
# --------------------------------------------------------------------

_Q8_ORACLE = f"""
SELECT
  CAST(year(o.o_orderdate) AS INT) AS o_year,
  CAST(SUM(CASE WHEN s.s_nationkey = 9
       THEN {_rev_sql('l.')}
       ELSE CAST(0 AS decimal(27,4)) END) AS DOUBLE)
  / CAST(SUM({_rev_sql('l.')}) AS DOUBLE)
    AS mkt_share,
  CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN part p ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey
WHERE r.r_name = 'AMERICA' AND p.p_type = 'ECONOMY'
  AND o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY year(o.o_orderdate)
ORDER BY o_year
"""


@register("q8_market_share", oracle=_Q8_ORACLE)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """National market share per year (TPC-H Q8 shape; share nation =
    nationkey 9, market = region AMERICA, part type ECONOMY).

    Plan shape: the region->nation->customer chain attaches the
    market filter to orders via one custkey join; part (type-filtered)
    and supplier broadcast onto lineitem map-side; the only
    corpus-scale shuffle is lineitem<->orders on orderkey. The share
    is a conditional/total pair of exact decimal sums and ONE double
    division per year row (the Q14 discipline).
    """
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    nat_am = (
        _t(spark, sf_dir, "nation")
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("n_nationkey")
    )
    cust = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(nat_am), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey")
    )
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate")
             >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
            & (F.col("o_orderdate")
               < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        )
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "o_orderdate")
    )
    part = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_type") == "ECONOMY")
        .select("p_partkey")
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    revenue = _rev()
    nation_rev = F.when(F.col("s_nationkey") == 9, revenue).otherwise(
        F.lit(0).cast("decimal(27,4)")
    )
    return (
        _t(spark, sf_dir, "lineitem")
        .join(broadcast_if_small(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(broadcast_if_small(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            (F.sum(nation_rev).cast("double")
             / F.sum(revenue).cast("double")).alias("mkt_share"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("o_year")
    )


# --------------------------------------------------------------------
# Q10: returned-item reporting — aggregate-then-enrich top-k.
# --------------------------------------------------------------------

_Q10_ORACLE = f"""
SELECT
  c.c_custkey, c.c_name,
  CAST(SUM({_rev_sql('l.')}) AS DOUBLE)
    AS revenue,
  c.c_acctbal, n.n_name
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1995-10-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
  AND l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
ORDER BY revenue DESC, c.c_custkey
LIMIT 20
"""


@register("q10_returned_items", oracle=_Q10_ORACLE)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 customers by returned-item revenue in a quarter (TPC-H
    Q10 shape).

    Plan shape: aggregate FIRST (per-custkey revenue from the
    orders<->lineitem join — the only corpus-scale shuffle), THEN
    enrich the ~|custkey| aggregate with customer attributes and the
    broadcast nation name; TakeOrderedAndProject caps the result at
    20. Joining customer after the aggregation keeps the wide name/
    acctbal columns off the fact shuffle.
    """
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-10-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01 00:00:00").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    revenue = _rev()
    per_cust = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
    )
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey"
    )
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        per_cust.join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


# --------------------------------------------------------------------
# Q15: top supplier — a revenue view + scalar-subquery max filter.
# --------------------------------------------------------------------

_Q15_ORACLE = f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         CAST(SUM({_rev_sql('')})
              AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, r.total_revenue
FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
ORDER BY s.s_suppkey
"""


@register("q15_top_supplier", oracle=_Q15_ORACLE)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier(s) with the maximum quarterly revenue (TPC-H Q15
    shape: view + scalar-subquery equality, ties preserved).

    The revenue view is persisted and read twice (max + filter) so
    the corpus is scanned once; the max rides a broadcast 1-row
    aggregate (the scalar_subquery_above_avg protocol). Equality on
    the double revenue is sound because both sides derive from the
    same exact decimal sum.
    """
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    revenue_col = _rev()
    rev = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(revenue_col).cast("double").alias("total_revenue"))
        .persist()
    )
    try:
        mx = rev.agg(F.max("total_revenue").alias("mx"))
        supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
        out = (
            rev.crossJoin(F.broadcast(mx))
            .filter(F.col("total_revenue") == F.col("mx"))
            .join(broadcast_if_small(supp),
                  F.col("supplier_no") == F.col("s_suppkey"))
            .select("s_suppkey", "s_name", "total_revenue")
            .orderBy("s_suppkey")
        )
        from workshop3_etl_spark.functions.cache import (
            materialize_and_release,
        )

        out = materialize_and_release(out, rev)
    except Exception:
        rev.unpersist()
        raise
    return out


# --------------------------------------------------------------------
# Q18: large-volume customers — HAVING-filtered fact aggregate joined
# back to both parents.
# --------------------------------------------------------------------

_Q18_QTY = 300

_Q18_ORACLE = f"""
WITH big AS (
  SELECT l_orderkey,
         CAST(SUM(CAST(l_quantity AS decimal(27,2))) AS DOUBLE) AS sum_qty
  FROM lineitem
  GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS decimal(27,2))) > {_Q18_QTY}
)
SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate,
       o.o_totalprice, big.sum_qty
FROM big
JOIN orders o ON o.o_orderkey = big.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
ORDER BY o.o_totalprice DESC, o.o_orderdate, o.o_orderkey
LIMIT 100
"""


@register("q18_large_volume_customers", oracle=_Q18_ORACLE)
def q18_large_volume_customers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Customers behind orders totalling > 300 units (TPC-H Q18
    shape).

    Plan shape: the HAVING aggregate runs on lineitem alone
    (map-side-combinable, two columns on the shuffle) and survives as
    a tiny frame; orders joins it on orderkey and customer enriches
    the survivors. No corpus-scale row ever carries customer
    attributes. Quantity sums are exact decimals surfaced as doubles.
    """
    big = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(27,2)")).alias("q"))
        .filter(F.col("q") > _Q18_QTY)
        .select("l_orderkey", F.col("q").cast("double").alias("sum_qty"))
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey", "c_name", "o_orderkey", "o_orderdate",
            "o_totalprice", "sum_qty",
        )
        .orderBy(F.desc("o_totalprice"), "o_orderdate", "o_orderkey")
        .limit(100)
    )


# --------------------------------------------------------------------
# Q19: disjunctive-predicate revenue (adapted: this testdata's part
# has no p_container and lineitem no l_shipmode/l_shipinstruct, so
# the three conjunct arms pair brand with size/quantity bands).
# --------------------------------------------------------------------

_Q19_ORACLE = f"""
SELECT
  CAST(SUM({_rev_sql('l.')}) AS DOUBLE)
    AS revenue,
  CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE
  (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
   AND l.l_quantity BETWEEN 1 AND 11)
  OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 10 AND 30
      AND l.l_quantity BETWEEN 10 AND 20)
  OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 20 AND 50
      AND l.l_quantity BETWEEN 20 AND 30)
"""


@register("q19_disjunctive_revenue", oracle=_Q19_ORACLE)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discounted revenue under a 3-arm disjunction of brand x size x
    quantity conjuncts (TPC-H Q19 shape, adapted to this schema —
    docstring note in the module header).

    Plan shape: the common superset predicate (brand IN the 3 values)
    prunes the broadcast part side BEFORE the join, and the residual
    disjunction evaluates post-join inside the same stage — the
    pushdown decomposition Catalyst applies to OR-of-AND predicates.
    One scan each side, no shuffle beyond the final 1-row aggregate.
    """
    part = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_brand").isin("Brand#12", "Brand#23", "Brand#34"))
        .select("p_partkey", "p_brand", "p_size")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    arm = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(20, 50)
            & F.col("l_quantity").between(20, 30)
        )
    )
    revenue = _rev()
    return (
        li.join(broadcast_if_small(part), F.col("l_partkey") == F.col("p_partkey"))
        .filter(arm)
        .agg(
            F.sum(revenue).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# --------------------------------------------------------------------
# Q22: dormant high-balance customers (adapted: this testdata has no
# c_phone and every customer has SOME order, so the anti-join targets
# orders SINCE a cutoff and the country grouping is the nationkey).
# --------------------------------------------------------------------

_Q22_NATIONS = (1, 6, 11, 16, 21)  # the AMERICA nations
_Q22_CUTOFF = "2000-01-01 00:00:00"

_Q22_ORACLE = f"""
WITH sel AS (
  SELECT c_custkey, c_nationkey,
         CAST(c_acctbal AS decimal(27,2)) AS bal
  FROM customer
  WHERE c_nationkey IN {_Q22_NATIONS}
),
avg_bal AS (
  SELECT CAST(SUM(bal) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS ab
  FROM sel WHERE bal > 0
),
dormant AS (
  SELECT s.c_nationkey, s.bal
  FROM sel s CROSS JOIN avg_bal
  WHERE CAST(s.bal AS DOUBLE) > avg_bal.ab
    AND NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = s.c_custkey
        AND o.o_orderdate >= TIMESTAMP '{_Q22_CUTOFF}'
    )
)
SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS numcust,
       CAST(SUM(bal) AS DOUBLE) AS totacctbal
FROM dormant
GROUP BY c_nationkey
ORDER BY c_nationkey
"""


@register("q22_sales_opportunity", oracle=_Q22_ORACLE)
def q22_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dormant above-average-balance customers per nation (TPC-H Q22
    shape: scalar subquery + NOT EXISTS anti-join, adapted — see the
    section comment).

    Plan shape: the scalar average rides a broadcast 1-row aggregate;
    the NOT EXISTS decorrelates to a LEFT ANTI join against the
    cutoff-filtered DISTINCT order custkeys (aggregated before the
    join so the anti probe is key-only). Balances are exact decimals;
    the average is one double division.
    """
    sel = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_nationkey").isin(*_Q22_NATIONS))
        .select(
            "c_custkey",
            "c_nationkey",
            F.col("c_acctbal").cast("decimal(27,2)").alias("bal"),
        )
    )
    avg_bal = sel.filter(F.col("bal") > 0).agg(
        (F.sum("bal").cast("double") / F.count(F.lit(1)).cast("double"))
        .alias("ab")
    )
    recent = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit(_Q22_CUTOFF).cast("timestamp"))
        .select("o_custkey")
        .distinct()
    )
    dormant = (
        sel.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("bal").cast("double") > F.col("ab"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
    )
    return (
        dormant.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum("bal").cast("double").alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )
