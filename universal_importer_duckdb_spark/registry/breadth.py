"""Registry sections: function breadth (percentiles, analytic
windows, string functions), rule-engine breadth, temporal joins
(as-of / interval range), and corpus assembly. Chained after
``registry.core`` (shared helpers and the base REGISTRY dict come
from there via the sectioned star-import, see package docstring).
"""

from __future__ import annotations

from universal_importer_duckdb_spark.registry.core import *  # noqa: F401,F403



# ======================================================================
# TPC-H breadth batch 2: q4/q6/q7/q9/q10/q14/q15/q16/q18/q19/q22
# shapes (adapted to the synthetic tables: no partsupp, no
# l_commitdate/l_receiptdate), plus CUBE and pivot
# ======================================================================

def q4_order_priority(spark, sf_dir):
    """EXISTS with a cross-side inequality (q4 shape, adapted: lineitem
    shipped after its order date stands in for commit/receipt lag)."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01 00:00:00").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    cond = (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate)
    return (
        orders.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


Q4_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-07-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
GROUP BY o_orderpriority
"""


def q6_forecast_revenue(spark, sf_dir):
    """Single-scan filtered aggregate (q6): the shape where predicate
    pushdown to the parquet reader is the whole game at scale."""
    li = _t(spark, sf_dir, "lineitem")
    flt = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & F.col("l_discount").between(0.02, 0.06)
        & (F.col("l_quantity") < 24)
    )
    return fixed_point_agg(
        flt,
        [],
        sums=[FixedSum("revenue", _fx_ext2() * scaled("l_discount", 4, 5), 6)],
        count_alias="n_rows",
    )


Q6_SQL = """
SELECT CAST(round(SUM(l_extendedprice::DECIMAL(15,2)*l_discount::DECIMAL(9,4)), 2) AS DOUBLE) AS revenue,
       COUNT(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.02 AND 0.06 AND l_quantity < 24
"""


def q7_volume_shipping(spark, sf_dir):
    """Two-nation shipping volume by year (q7): the same dimension
    table broadcast twice under different roles."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    ext, disc = _dec("l_extendedprice"), F.col("l_discount").cast("decimal(9,4)")
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
        )
        .agg(_msum(ext * (_one() - disc), "revenue"))
    )


Q7_SQL = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       date_part('year', l_shipdate) AS l_year,
       CAST(round(SUM(l_extendedprice::DECIMAL(15,2)*(1::DECIMAL(5,4)-l_discount::DECIMAL(9,4))), 2) AS DOUBLE) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
GROUP BY 1, 2, 3
"""


def q9_profit_by_nation_year(spark, sf_dir):
    """Profit rollup (q9 shape; p_retailprice*quantity stands in for
    the absent partsupp supplycost).

    r15 rewrite — slim the fact BEFORE the join tree. The old shape
    dragged raw l_shipdate/l_quantity/l_extendedprice/l_discount
    through both dimension joins and evaluated the measures after
    them; at test scale AQE broadcasts part and supplier so only the
    probe order changes, but at production scale NEITHER dim is
    broadcastable (part and supplier are data-proportional in TPC-H)
    and both joins shuffle the fact — so the payload width of the
    fact stream is the at-scale cost. This shape:

      * projects the fact to five int64s at the scan — (l_partkey,
        l_suppkey, o_year, scaled revenue k=6, scaled quantity k=2),
        40 B/row vs the raw timestamp+3 doubles the old shape
        shuffled — and evaluates year()/scaled() exactly once per
        fact row, before any join;
      * joins part pre-projected to (p_partkey, scaled retail k=2),
        so the profit expression after the join is pure int64.

    r16 revision: the r15 shape ALSO moved the nation lookup off the
    fact (supplier joined broadcast-nation dim-side, the fact probed
    the combined map). That nested broadcast costs two extra driver
    jobs per run — nation's broadcast build, then the supp⨝nation
    join materialized as a second broadcast build — and the r16
    interleaved 3-way A/B at sf0.1 (old | r15 | this shape, 10
    passes ABBA) isolated it as the whole of the r15 sf0.1
    regression the verdict flagged: old 0.760 s med / 5 jobs, r15
    1.135 s med / 7 jobs, this shape 0.810 s med / 5 jobs. At scale
    the nesting bought nothing measurable: x64 medians 2.471 / 2.525
    / 2.474 and x128 4.628 / 4.651 / 4.523 (old / r15 / this) — a
    25-row broadcast hash probe per fact row is effectively free, so
    "two probes instead of three" never shows above noise. The fact
    therefore probes part, supplier, and broadcast nation directly
    (3 probes), keeping the r15 slimming — the actual at-scale win —
    and none of the nested-build fixed cost. Value-identical to the
    old shape at sf0.1/x64/x128 (exact int64 fixed-point both ways)
    and to the oracle.

    A (l_suppkey, o_year) pre-aggregation below the supplier join
    was measured and REJECTED in r15 (2.94 s at x64): the cell
    domain is |supplier| x years, so map-side combine reduces little
    (the q18 random-key lesson) and the extra hash-agg pass costs
    more than the slimmer second shuffle saves. A SHUFFLE_HASH hint
    on part/supplier was likewise measured and REJECTED (r15): AQE
    broadcasts both dims at every testable scale, so the hint would
    only FORCE two fact exchanges that do not exist today — 2.05 ->
    4.47 s at x64; at true 100 TB, where the dims stop broadcasting,
    the SMJ-vs-SHJ choice is AQE's to make per partition, not a
    planning-time pin."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        F.year("l_shipdate").cast("bigint").alias("o_year"),
        _fx_revenue().alias("__rev6"),
        scaled("l_quantity", 2).alias("__qty2"),
    )
    part = _t(spark, sf_dir, "part").select(
        "p_partkey", scaled("p_retailprice", 2).alias("__retail2")
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = _t(spark, sf_dir, "nation")
    joined = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .withColumn("nation", F.col("n_name"))
    )
    # cost = retail(2dp) * quantity(2dp): k=4, lifted to k=6 so the
    # subtraction shares the revenue scale
    profit6 = (
        F.col("__rev6")
        - F.col("__retail2") * F.col("__qty2") * F.lit(100).cast("bigint")
    )
    return fixed_point_agg(
        joined,
        ["nation", "o_year"],
        sums=[FixedSum("sum_profit", profit6, 6)],
    )


Q9_SQL = """
SELECT n_name AS nation, date_part('year', l_shipdate) AS o_year,
  CAST(round(SUM(l_extendedprice::DECIMAL(15,2)*(1::DECIMAL(5,4)-l_discount::DECIMAL(9,4))
              - p_retailprice::DECIMAL(15,2)*l_quantity::DECIMAL(15,2)), 2) AS DOUBLE) AS sum_profit
FROM lineitem JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
GROUP BY 1, 2
"""


def q10_returned_items(spark, sf_dir):
    """Top-20 customers by returned-item revenue (q10)."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    ext, disc = _dec("l_extendedprice"), F.col("l_discount").cast("decimal(9,4)")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(_msum(ext * (_one() - disc), "revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


Q10_SQL = """
SELECT c_custkey, c_name, c_acctbal, n_name,
  CAST(round(SUM(l_extendedprice::DECIMAL(15,2)*(1::DECIMAL(5,4)-l_discount::DECIMAL(9,4))), 2) AS DOUBLE) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY 1, 2, 3, 4
ORDER BY revenue DESC, c_custkey LIMIT 20
"""


def q14_promo_revenue(spark, sf_dir):
    """Promotion revenue share (q14): conditional sum over a broadcast
    part join; double division of two exact decimals is bit-stable."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    part = _t(spark, sf_dir, "part")
    ext, disc = _dec("l_extendedprice"), F.col("l_discount").cast("decimal(9,4)")
    rev = ext * (_one() - disc)
    promo = F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast("decimal(5,4)"))).cast("double")
    total = F.sum(rev).cast("double")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg((F.lit(100.0) * promo / total).alias("promo_revenue_pct"))
    )


Q14_SQL = """
SELECT 100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
    THEN l_extendedprice::DECIMAL(15,2)*(1::DECIMAL(5,4)-l_discount::DECIMAL(9,4))
    ELSE 0::DECIMAL(5,4) END) AS DOUBLE)
  / CAST(SUM(l_extendedprice::DECIMAL(15,2)*(1::DECIMAL(5,4)-l_discount::DECIMAL(9,4))) AS DOUBLE) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
"""


def q15_top_supplier(spark, sf_dir):
    """Suppliers achieving the maximum quarterly revenue (q15): scalar
    MAX subquery joined back on exact equality (exact because both
    sides derive from the same exact-decimal rounding)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    supp = _t(spark, sf_dir, "supplier")
    ext, disc = _dec("l_extendedprice"), F.col("l_discount").cast("decimal(9,4)")
    rev = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(_msum(ext * (_one() - disc), "total_revenue"))
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    return (
        rev.join(F.broadcast(mx), rev.total_revenue == mx.mx)
        .join(supp, F.col("supplier_no") == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


Q15_SQL = """
WITH rev AS (
  SELECT l_suppkey AS supplier_no,
    CAST(round(SUM(l_extendedprice::DECIMAL(15,2)*(1::DECIMAL(5,4)-l_discount::DECIMAL(9,4))), 2) AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY 1)
SELECT s_suppkey, s_name, total_revenue
FROM rev JOIN supplier ON supplier_no = s_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
"""


def q16_supplier_part_count(spark, sf_dir):
    """COUNT(DISTINCT) per part attribute (q16 shape, supplier keys
    taken from lineitem in lieu of partsupp)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1") & (F.col("p_type") != "PROMO")
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


Q16_SQL = """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
GROUP BY 1, 2, 3
"""


def q18_large_orders(spark, sf_dir):
    """Large-volume orders (q18): HAVING on a grouped sum, joined back
    to orders and customers."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    # direct int64 sum: the group key is the ORDER — <= 7 lineitems,
    # qty2 <= 1e4 per row, so the per-group total is <= 7e4, nowhere
    # near int64 — and at 2.4M+ groups the chunked path's per-group
    # DECIMAL(38) reconstruction dominates the entry (r13 decompose)
    big = fixed_point_agg(
        li.select(F.col("l_orderkey").alias("big_okey"), "l_quantity"),
        ["big_okey"],
        sums=[FixedSum("sum_qty", scaled("l_quantity", 2), 2, direct=True)],
    ).filter(F.col("sum_qty") > 250)
    return (
        orders.join(big, orders.o_orderkey == F.col("big_okey"))
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select("c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice", "sum_qty")
        .withColumn("o_orderdate", F.col("o_orderdate").cast("date"))
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


Q18_SQL = """
SELECT c_custkey, c_name, o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate, o_totalprice, sum_qty
FROM orders
JOIN (SELECT l_orderkey AS big_okey,
        CAST(round(SUM(l_quantity::DECIMAL(15,2)), 2) AS DOUBLE) AS sum_qty
      FROM lineitem GROUP BY 1 HAVING sum_qty > 250) ON o_orderkey = big_okey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
"""


def q19_disjunctive_revenue(spark, sf_dir):
    """Disjunction of conjunctive brand/size/quantity ranges (q19):
    the OR-of-ANDs predicate Catalyst must not lose under pushdown."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    ext, disc = _dec("l_extendedprice"), F.col("l_discount").cast("decimal(9,4)")
    pred = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15) & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#13") & F.col("p_size").between(10, 30) & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#20") & F.col("p_size").between(20, 50) & F.col("l_quantity").between(20, 30))
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .filter(pred)
        .agg(_msum(ext * (_one() - disc), "revenue"), F.count(F.lit(1)).alias("n_rows"))
    )


Q19_SQL = """
SELECT CAST(round(SUM(l_extendedprice::DECIMAL(15,2)*(1::DECIMAL(5,4)-l_discount::DECIMAL(9,4))), 2) AS DOUBLE) AS revenue,
       COUNT(*) AS n_rows
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#13' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#20' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 30)
"""


def q22_idle_rich_customers(spark, sf_dir):
    """Customers above the global positive-balance average with no
    orders (q22 shape): scalar-average subquery + anti join, grouped
    by market segment. The average routes through an exact decimal sum
    so the threshold is bit-identical across engines."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    avg_bal = (
        cust.filter(F.col("c_acctbal") > 0)
        .agg(
            (F.sum(_dec("c_acctbal")).cast("double") / F.count(F.lit(1))).alias("avg_bal")
        )
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            _msum(_dec("c_acctbal"), "totacctbal"),
        )
    )


Q22_SQL = """
SELECT c_mktsegment, COUNT(*) AS numcust,
  CAST(round(SUM(c_acctbal::DECIMAL(15,2)), 2) AS DOUBLE) AS totacctbal
FROM customer c
WHERE c_acctbal > (SELECT CAST(SUM(c_acctbal::DECIMAL(15,2)) AS DOUBLE)/COUNT(*)
                   FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
GROUP BY c_mktsegment
"""


def cheapest_supplier_per_part(spark, sf_dir):
    """Per-group argmin (q2 shape, lineitem unit price in lieu of
    partsupp supplycost): window min with full-row tiebreak."""
    li = _t(spark, sf_dir, "lineitem")
    unit = (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price")
    w = Window.partitionBy("l_partkey").orderBy(
        "unit_price", "l_suppkey", "l_orderkey", "l_linenumber"
    )
    return (
        li.select("l_partkey", "l_suppkey", "l_orderkey", "l_linenumber", unit)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("l_partkey", "l_suppkey", "unit_price")
    )


CHEAPEST_SQL = """
SELECT l_partkey, l_suppkey, unit_price FROM (
  SELECT l_partkey, l_suppkey, l_extendedprice/l_quantity AS unit_price,
    row_number() OVER (PARTITION BY l_partkey
      ORDER BY l_extendedprice/l_quantity, l_suppkey, l_orderkey, l_linenumber) AS rn
  FROM lineitem
) WHERE rn = 1
"""


def cube_revenue(spark, sf_dir):
    """CUBE over (region, nation): all grouping-set combinations
    (complements rollup_revenue)."""
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .cube("r_name", "n_name")
        .agg(
            _msum(_dec("o_totalprice"), "revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


CUBE_SQL = """
SELECT r_name, n_name,
  CAST(round(SUM(o_totalprice::DECIMAL(15,2)), 2) AS DOUBLE) AS revenue,
  COUNT(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY CUBE (r_name, n_name)
"""


def pivot_status_by_segment(spark, sf_dir):
    """Pivot order statuses into columns per market segment — Spark's
    pivot() surfaced with a CASE-sum oracle."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
        .na.fill(0)
        .select(
            "c_mktsegment",
            F.col("F").alias("n_f"),
            F.col("O").alias("n_o"),
            F.col("P").alias("n_p"),
        )
    )


PIVOT_SQL = """
SELECT c_mktsegment,
  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
  CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
  CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


# ======================================================================
# Function breadth: percentiles, analytic windows, string functions
# ======================================================================

def percentile_order_value(spark, sf_dir):
    """Exact interpolated percentiles per order status — Spark
    percentile() and DuckDB quantile_cont() share the
    (1-d)*lower + d*upper definition and are bit-identical on these
    inputs (verified empirically)."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.expr("percentile(o_totalprice, 0.5)").alias("median_price"),
            F.expr("percentile(o_totalprice, 0.9)").alias("p90_price"),
            F.expr("percentile(o_totalprice, 0.99)").alias("p99_price"),
        )
    )


PERCENTILE_SQL = """
SELECT o_orderstatus,
  quantile_cont(o_totalprice, 0.5) AS median_price,
  quantile_cont(o_totalprice, 0.9) AS p90_price,
  quantile_cont(o_totalprice, 0.99) AS p99_price
FROM orders GROUP BY 1
"""


def window_analytics_orders(spark, sf_dir):
    """Analytic-function breadth in one pass: lag/lead/first_value/
    dense_rank/ntile over the per-customer order timeline (the
    reference's only window function is ROW_NUMBER — SURVEY.md §2.6)."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.first("o_totalprice").over(w).alias("first_price"),
        F.dense_rank().over(w).cast("bigint").alias("order_seq"),
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
    )


WINDOW_ANALYTICS_SQL = """
SELECT o_custkey, o_orderkey,
  lag(o_totalprice) OVER w AS prev_price,
  lead(o_totalprice) OVER w AS next_price,
  first_value(o_totalprice) OVER w AS first_price,
  dense_rank() OVER w AS order_seq,
  ntile(4) OVER w AS quartile
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


def string_functions_customers(spark, sf_dir):
    """Scalar string-function breadth (upper/substr/levenshtein/
    reverse/translate/concat_ws) — the reference's only string ops are
    regex match and error-message concat (SURVEY.md §2.8)."""
    cust = _t(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.upper("c_name").alias("upper_name"),
        F.substring("c_name", 10, 9).alias("id_digits"),
        F.levenshtein(F.col("c_name"), F.lit("Customer#000000000")).cast("bigint").alias("lev_dist"),
        F.reverse(F.col("c_name")).alias("rev_name"),
        F.translate(F.col("c_name"), "#0", "_x").alias("translated"),
        F.concat_ws("-", F.col("c_mktsegment"), F.col("c_custkey").cast("string")).alias("seg_key"),
    )


STRING_FUNCS_SQL = """
SELECT c_custkey,
  upper(c_name) AS upper_name,
  substr(c_name, 10, 9) AS id_digits,
  levenshtein(c_name, 'Customer#000000000') AS lev_dist,
  reverse(c_name) AS rev_name,
  translate(c_name, '#0', '_x') AS translated,
  concat_ws('-', c_mktsegment, CAST(c_custkey AS VARCHAR)) AS seg_key
FROM customer
"""


REGISTRY.update({
    "percentile_order_value": (percentile_order_value, PERCENTILE_SQL),
    "window_analytics_orders": (window_analytics_orders, WINDOW_ANALYTICS_SQL),
    "string_functions_customers": (string_functions_customers, STRING_FUNCS_SQL),
})


# ======================================================================
# Rule-engine breadth (range/regex/set rules), referential integrity,
# and skew-safe aggregation
# ======================================================================

MULTI_RULES = [
    {"field": "o_totalprice", "validation": "range_between",
     "params": {"min": 1000, "max": 500000}},
    {"field": "o_orderpriority", "validation": "regex_match",
     "params": {"pattern": "^[1-3]-"}},
    {"field": "o_orderstatus", "validation": "value_in_set",
     "params": {"allowed": ["F", "O"]}},
]


def rule_multi_skip_orders(spark, sf_dir):
    """Three rule types applied sequentially in skip mode — the
    pluggable-registry generalization of the reference's single
    age_gte rule (SURVEY.md §2.4)."""
    from universal_importer_duckdb_spark.operators.rules import execute_custom_validations

    orders = _t(spark, sf_dir, "orders")
    kept, _ = execute_custom_validations(orders, MULTI_RULES, mode="skip")
    return kept


RULE_MULTI_SQL = """
SELECT * FROM orders
WHERE NOT coalesce(o_totalprice < 1000 OR o_totalprice > 500000, FALSE)
  AND NOT coalesce(NOT regexp_matches(o_orderpriority, '^[1-3]-'), FALSE)
  AND NOT coalesce(o_orderstatus NOT IN ('F', 'O'), FALSE)
"""


def fk_orphan_orders(spark, sf_dir):
    """Referential-integrity check as data: orders whose o_custkey has
    no matching customer. customer scales with SF, so the lookup is
    NOT hint-broadcast — AQE picks broadcast while it fits and falls
    back to a shuffled anti join at scale."""
    from universal_importer_duckdb_spark.operators.rules import referential_check

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    _, orphans = referential_check(
        orders, cust, ["o_custkey"], ["c_custkey"], broadcast_lookup=False
    )
    return orphans.select("o_orderkey", "o_custkey")


FK_ORPHAN_SQL = """
SELECT o_orderkey, o_custkey FROM orders o
WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
"""


def salted_distinct_suppliers(spark, sf_dir):
    """count(DISTINCT) via two-stage salted partial aggregation — the
    skew-safe formulation (functions/skew.py) proven equivalent to the
    plain COUNT(DISTINCT) oracle."""
    from universal_importer_duckdb_spark.functions.skew import salted_count_distinct

    li = _t(spark, sf_dir, "lineitem")
    return salted_count_distinct(li, "l_returnflag", "l_suppkey", salt=8)


SALTED_DISTINCT_SQL = """
SELECT l_returnflag, COUNT(DISTINCT l_suppkey) AS n_distinct_l_suppkey
FROM lineitem GROUP BY l_returnflag
"""


REGISTRY.update({
    "rule_multi_skip_orders": (rule_multi_skip_orders, RULE_MULTI_SQL),
    "fk_orphan_orders": (fk_orphan_orders, FK_ORPHAN_SQL),
    "salted_distinct_suppliers": (salted_distinct_suppliers, SALTED_DISTINCT_SQL),
})


# ======================================================================
# Temporal joins: as-of and interval range join (operators/temporal.py)
# ======================================================================

def events_asof_last_click(spark, sf_dir):
    """For each purchase, the user's most recent click at-or-before it
    (as-of backward join) — one shuffle on user_id via the
    union+window formulation, matching DuckDB ASOF JOIN semantics."""
    from universal_importer_duckdb_spark.operators.temporal import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", "value"
    )
    joined = asof_join(
        purchases, clicks, on="user_id", ts_col="ts",
        right_value_cols=["event_id", "ts", "value"],
    )
    return joined.select(
        "event_id",
        "user_id",
        F.expr("ts DIV 1000").alias("ts_us"),
        F.col("asof_event_id").alias("click_event_id"),
        F.expr("asof_ts DIV 1000").alias("click_ts_us"),
        F.col("asof_value").alias("click_value"),
    )


ASOF_SQL = """
SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
       c.event_id AS click_event_id, epoch_us(c.ts) AS click_ts_us,
       c.value AS click_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts >= c.ts
"""

_NS_5MIN = 300_000_000_000


def events_range_join_error_windows(spark, sf_dir):
    """Clicks falling inside the 5-minute window after each error
    event, counted per incident (interval range join bucketized to an
    equi shuffle join — fan-out <= 2 bucket copies per interval)."""
    from universal_importer_duckdb_spark.operators.temporal import range_join_pairs

    ev = _t(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("incident_id"), "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    pairs = range_join_pairs(
        clicks, errors, on="user_id", point_ts="ts",
        interval_start="ts", interval_len=_NS_5MIN,
    )
    counts = pairs.groupBy("incident_id").agg(
        F.count(F.lit(1)).alias("n_clicks")
    )
    return (
        errors.select("incident_id")
        .join(counts, "incident_id", "left")
        .na.fill({"n_clicks": 0})
    )


RANGE_JOIN_SQL = """
SELECT e.event_id AS incident_id, count(c.event_id) AS n_clicks
FROM (SELECT * FROM events WHERE event_type = 'error') e
LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON c.user_id = e.user_id AND c.ts >= e.ts AND c.ts < e.ts + INTERVAL 5 MINUTE
GROUP BY 1
"""


REGISTRY.update({
    "events_asof_last_click": (events_asof_last_click, ASOF_SQL),
    "events_range_join_error_windows": (events_range_join_error_windows, RANGE_JOIN_SQL),
    "q4_order_priority": (q4_order_priority, Q4_SQL),
    "q6_forecast_revenue": (q6_forecast_revenue, Q6_SQL),
    "q7_volume_shipping": (q7_volume_shipping, Q7_SQL),
    "q9_profit_by_nation_year": (q9_profit_by_nation_year, Q9_SQL),
    "q10_returned_items": (q10_returned_items, Q10_SQL),
    "q14_promo_revenue": (q14_promo_revenue, Q14_SQL),
    "q15_top_supplier": (q15_top_supplier, Q15_SQL),
    "q16_supplier_part_count": (q16_supplier_part_count, Q16_SQL),
    "q18_large_orders": (q18_large_orders, Q18_SQL),
    "q19_disjunctive_revenue": (q19_disjunctive_revenue, Q19_SQL),
    "q22_idle_rich_customers": (q22_idle_rich_customers, Q22_SQL),
    "cheapest_supplier_per_part": (cheapest_supplier_per_part, CHEAPEST_SQL),
    "cube_revenue": (cube_revenue, CUBE_SQL),
    "pivot_status_by_segment": (pivot_status_by_segment, PIVOT_SQL),
})


# --- TPC-H breadth batch 3: q8 / q11 / q20 / q21 analogs --------------
# The synthetic schema has no partsupp table and no commit/receipt
# dates, so q11/q20/q21 are re-expressed on the available columns with
# the same query SHAPE (scalar-subquery threshold, grouped-HAVING
# semi-join, correlated EXISTS/NOT-EXISTS).


def q8_market_share(spark, sf_dir):
    """National market share (q8): share of NATION_3-supplied revenue
    among PROMO parts sold to ASIA customers, by order year. Numerator
    and denominator are exact decimal sums cast to double; their
    division is then bit-stable across engines."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    part = _t(spark, sf_dir, "part")
    ext, disc = _dec("l_extendedprice"), F.col("l_discount").cast("decimal(9,4)")
    vol = ext * (_one() - disc)
    n_s = nation.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    n_c = nation.select(F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("c_rkey"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(part.filter(F.col("p_type") == "PROMO"), li.l_partkey == F.col("p_partkey"))
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n_s), F.col("s_nationkey") == F.col("sn_key"))
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n_c), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(region.filter(F.col("r_name") == "ASIA")), F.col("c_rkey") == F.col("r_regionkey"))
        .groupBy(F.year("o_orderdate").cast("bigint").alias("o_year"))
        .agg(
            (
                F.sum(F.when(F.col("supp_nation") == "NATION_3", vol)).cast("double")
                / F.sum(vol).cast("double")
            ).alias("mkt_share")
        )
    )


Q8_SQL = """
SELECT date_part('year', o_orderdate) AS o_year,
       CAST(SUM(CASE WHEN n_s.n_name = 'NATION_3'
           THEN l_extendedprice::DECIMAL(15,2)*(1::DECIMAL(5,4)-l_discount::DECIMAL(9,4)) END) AS DOUBLE)
     / CAST(SUM(l_extendedprice::DECIMAL(15,2)*(1::DECIMAL(5,4)-l_discount::DECIMAL(9,4))) AS DOUBLE) AS mkt_share
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n_s ON s_nationkey = n_s.n_nationkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n_c ON c_nationkey = n_c.n_nationkey
JOIN region ON n_c.n_regionkey = r_regionkey AND r_name = 'ASIA'
GROUP BY 1
"""


def q11_important_parts(spark, sf_dir):
    """Important-stock analog (q11, lineitem as the partsupp
    surrogate): parts whose NATION_5-supplied revenue exceeds 0.1% of
    the national total. The threshold comparison runs entirely in
    exact decimal (value*1000 > total) — a double comparison would be
    at the mercy of summation order on a borderline part."""
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    ext, disc = _dec("l_extendedprice"), F.col("l_discount").cast("decimal(9,4)")
    src = (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation.filter(F.col("n_name") == "NATION_5")),
              F.col("s_nationkey") == F.col("n_nationkey"))
    )
    v = src.groupBy("l_partkey").agg(
        F.sum(ext * (_one() - disc)).cast("decimal(18,6)").alias("__vdec")
    )
    total = v.agg(F.sum("__vdec").cast("decimal(22,6)").alias("__total"))
    return (
        v.crossJoin(F.broadcast(total))
        .filter(F.col("__vdec") * F.lit(1000).cast("decimal(4,0)") > F.col("__total"))
        .select("l_partkey", F.round(F.col("__vdec"), 2).cast("double").alias("part_value"))
    )


Q11_SQL = """
WITH v AS (
  SELECT l_partkey,
         CAST(SUM(l_extendedprice::DECIMAL(15,2)*(1::DECIMAL(5,4)-l_discount::DECIMAL(9,4))) AS DECIMAL(18,6)) AS vdec
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_5'
  GROUP BY l_partkey
)
SELECT l_partkey, CAST(round(vdec, 2) AS DOUBLE) AS part_value
FROM v
WHERE vdec * 1000::DECIMAL(4,0) > (SELECT CAST(SUM(vdec) AS DECIMAL(22,6)) FROM v)
"""


def q20_heavy_shippers(spark, sf_dir):
    """Heavy-shipper analog (q20 shape): suppliers whose 1998 shipped
    quantity of SMALL-type parts exceeds 50 — grouped-HAVING subquery
    consumed via left-semi join. HAVING compares exact decimal sums."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    supp = _t(spark, sf_dir, "supplier")
    heavy = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1999-01-01 00:00:00").cast("timestamp"))
        )
        .join(part.filter(F.col("p_type") == "SMALL"), li.l_partkey == F.col("p_partkey"))
        .groupBy("l_suppkey")
        .agg(F.sum(_dec("l_quantity")).alias("__q"))
        .filter(F.col("__q") > F.lit(50).cast("decimal(15,2)"))
    )
    # heavy is post-aggregation keyed by supplier — at most |supplier|
    # rows at any scale, so the semi join is always broadcastable
    return supp.join(heavy, supp.s_suppkey == heavy.l_suppkey, "left_semi").select(
        "s_suppkey", "s_name"
    )


Q20_SQL = """
SELECT s_suppkey, s_name FROM supplier WHERE s_suppkey IN (
  SELECT l_suppkey FROM lineitem
  JOIN part ON l_partkey = p_partkey AND p_type = 'SMALL'
  WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_shipdate < TIMESTAMP '1999-01-01'
  GROUP BY l_suppkey
  HAVING SUM(l_quantity::DECIMAL(15,2)) > 50::DECIMAL(15,2)
)
"""


def q21_waiting_suppliers(spark, sf_dir):
    """Sole-blame analog (q21 shape, no receipt/commit dates in the
    synthetic schema): per supplier, count returned lines ('R') on
    finalized multi-supplier orders where no OTHER supplier had a
    return. The correlated EXISTS / NOT EXISTS pair is evaluated as
    ONE per-order aggregate (distinct suppliers, distinct R-suppliers)
    joined back — one shuffle of (orderkey, suppkey) instead of two
    self-join shuffles of the full table; 'no other R supplier' ⇔ the
    order's distinct-R-supplier count is exactly 1 (it includes me)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    supp = _t(spark, sf_dir, "supplier")
    per_order = li.groupBy("l_orderkey").agg(
        F.size(F.collect_set("l_suppkey")).alias("__n_supp"),
        F.size(
            F.collect_set(F.when(F.col("l_returnflag") == "R", F.col("l_suppkey")))
        ).alias("__n_r_supp"),
    )
    cand = (
        li.filter(F.col("l_returnflag") == "R")
        .join(orders.filter(F.col("o_orderstatus") == "F"),
              li.l_orderkey == F.col("o_orderkey"))
        .join(per_order, "l_orderkey")
        .filter((F.col("__n_supp") >= 2) & (F.col("__n_r_supp") == 1))
    )
    return (
        cand.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


Q21_SQL = """
SELECT s_name, count(*) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey AND l1.l_returnflag = 'R'
JOIN orders ON o_orderkey = l1.l_orderkey AND o_orderstatus = 'F'
WHERE EXISTS (
  SELECT 1 FROM lineitem l2
  WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
) AND NOT EXISTS (
  SELECT 1 FROM lineitem l3
  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
    AND l3.l_returnflag = 'R'
)
GROUP BY s_name
"""


def q2_min_cost_supplier(spark, sf_dir):
    """Min-cost supplier per part (q2 shape; lineitem supply totals
    stand in for the absent partsupp supplycost): for every LARGE
    part, the supplier(s) whose exact-decimal total supplied value is
    the part's minimum, with supplier/nation detail. The correlated
    scalar-min subquery is a window min over the per-(part, supplier)
    aggregate — the agg output (|parts|×|suppliers| rows max) is tiny
    relative to lineitem, so the second shuffle repartitions an
    already-reduced frame; ties all surface, matching SQL semantics."""
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    ext, disc = _dec("l_extendedprice"), F.col("l_discount").cast("decimal(9,4)")
    per = (
        li.join(part.filter(F.col("p_type") == "LARGE"),
                li.l_partkey == F.col("p_partkey"))
        .groupBy("p_partkey", "p_brand", "l_suppkey")
        .agg(F.sum(ext * (_one() - disc)).cast("decimal(22,6)").alias("__cost"))
    )
    w = Window.partitionBy("p_partkey")
    return (
        per.withColumn("__min", F.min("__cost").over(w))
        .filter(F.col("__cost") == F.col("__min"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            "p_partkey", "p_brand", "s_name",
            F.col("n_name").alias("supp_nation"),
            F.round(F.col("__cost"), 2).cast("double").alias("supply_value"),
        )
    )


Q2_SQL = """
WITH per AS (
  SELECT p_partkey, p_brand, l_suppkey,
         CAST(SUM(l_extendedprice::DECIMAL(15,2)*(1::DECIMAL(5,4)-l_discount::DECIMAL(9,4))) AS DECIMAL(22,6)) AS cost
  FROM lineitem JOIN part ON l_partkey = p_partkey AND p_type = 'LARGE'
  GROUP BY 1, 2, 3
)
SELECT p_partkey, p_brand, s_name, n_name AS supp_nation,
       CAST(round(cost, 2) AS DOUBLE) AS supply_value
FROM per
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE cost = (SELECT MIN(cost) FROM per p2 WHERE p2.p_partkey = per.p_partkey)
"""


REGISTRY.update({
    "q2_min_cost_supplier": (q2_min_cost_supplier, Q2_SQL),
    "q8_market_share": (q8_market_share, Q8_SQL),
    "q11_important_parts": (q11_important_parts, Q11_SQL),
    "q20_heavy_shippers": (q20_heavy_shippers, Q20_SQL),
    "q21_waiting_suppliers": (q21_waiting_suppliers, Q21_SQL),
})


# ======================================================================
# Corpus assembly (operators/corpus.py): split / mixing /
# decontamination / sequence packing — round-5 additions
# ======================================================================

def docs_hash_split(spark, sf_dir):
    """Deterministic train/val/test assignment by salted md5 of the
    doc id (the only split rule stable under re-runs and incremental
    ingest). Returns per-split counts — the whole assignment feeds the
    aggregate, so the oracle certifies every row's bucket."""
    from universal_importer_duckdb_spark.operators.corpus import hash_split

    return (
        hash_split(_t(spark, sf_dir, "documents"))
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("split")
    )


_SPLIT_B1 = int((1 << 28) * 0.98)
_SPLIT_B2 = int((1 << 28) * 0.99)

HASH_SPLIT_SQL = f"""
WITH h AS (
  SELECT ('0x'||substr(md5('split-v1:'||doc_id), 1, 7))::BIGINT AS hv
  FROM documents)
SELECT CASE WHEN hv < {_SPLIT_B1} THEN 'train'
            WHEN hv < {_SPLIT_B2} THEN 'val' ELSE 'test' END AS split,
       COUNT(*) AS n_docs
FROM h GROUP BY 1 ORDER BY 1
"""


def docs_source_mixture(spark, sf_dir):
    """Domain mixing: per-source hash-threshold downsampling (web
    half-rate, synthetic 30%, everything else kept). Output is kept
    docs per source — certifies the per-row keep decision via the
    counts."""
    from universal_importer_duckdb_spark.operators.corpus import (
        source_mixture_sample,
    )

    kept = source_mixture_sample(
        _t(spark, sf_dir, "documents"),
        rates={"web": 0.5, "synthetic": 0.3},
        default_rate=1.0,
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept")
    ).orderBy("source")


_MIX_WEB = int((1 << 28) * 0.5)
_MIX_SYN = int((1 << 28) * 0.3)
_MIX_DEF = 1 << 28

SOURCE_MIXTURE_SQL = f"""
WITH h AS (
  SELECT source,
         ('0x'||substr(md5('mix-v1:'||doc_id), 1, 7))::BIGINT AS hv
  FROM documents)
SELECT source, COUNT(*) AS n_kept
FROM h
WHERE hv < CASE source WHEN 'web' THEN {_MIX_WEB}
                       WHEN 'synthetic' THEN {_MIX_SYN}
                       ELSE {_MIX_DEF} END
GROUP BY source ORDER BY source
"""


def docs_benchmark_contamination(spark, sf_dir):
    """Decontamination screening (the GPT-3/Pile procedure): flag
    training docs sharing any word 8-gram with the held-out benchmark
    set. The synthetic stand-in benchmark is every 97th doc, so
    contamination is non-vacuous (benchmark members flag themselves,
    plus any true n-gram collisions). Per-doc overlap counts +
    flags — full hash check."""
    from universal_importer_duckdb_spark.operators.corpus import (
        benchmark_ngram_overlap,
    )
    from universal_importer_duckdb_spark.operators.dedup_text import (
        spread_for_compute,
    )

    # per-gram md5 hashing is the CPU; spread the single-split local
    # file across cores (no-op on wide inputs at real scale)
    docs = spread_for_compute(_t(spark, sf_dir, "documents"), "doc_id")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    return benchmark_ngram_overlap(docs, bench, n=8)


BENCHMARK_CONTAMINATION_SQL = """
WITH g AS (
  SELECT doc_id, toks, len(toks) AS nt
  FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents)),
dg AS (
  SELECT doc_id, unnest(list_distinct(CASE WHEN nt >= 8 THEN
    list_transform(range(1, nt - 6),
      i -> ('0x'||substr(md5(array_to_string(list_slice(toks, i, i + 7), ' ')), 1, 7))::BIGINT)
    ELSE [] END)) AS gram
  FROM g),
bg AS (SELECT DISTINCT gram FROM dg WHERE doc_id % 97 = 0),
ov AS (
  SELECT dg.doc_id, COUNT(*) AS n_overlap_ngrams
  FROM dg JOIN bg USING (gram) GROUP BY dg.doc_id)
SELECT d.doc_id,
       COALESCE(ov.n_overlap_ngrams, 0) AS n_overlap_ngrams,
       COALESCE(ov.n_overlap_ngrams, 0) > 0 AS contaminated
FROM documents d LEFT JOIN ov ON d.doc_id = ov.doc_id
"""


def docs_pack_sequences(spark, sf_dir):
    """GPT-style sequence packing over the chunker's output: global
    concat-and-split at 512 tokens via the two-level prefix sum
    (operators/corpus.pack_token_sequences). Every chunk's
    tokens_before/seq_id/seq_offset is hash-checked against the
    oracle's one-level global window cumsum — certifying that the
    scale-safe bucketed sum equals the textbook definition."""
    from universal_importer_duckdb_spark.operators.corpus import (
        pack_token_sequences,
    )
    from universal_importer_duckdb_spark.operators.text_analysis import (
        chunk_documents,
    )

    chunks = chunk_documents(
        _t(spark, sf_dir, "documents"), chunk_size=32, stride=24,
        with_text=False,
    )
    return pack_token_sequences(chunks, seq_len=512, bucket_width=64)


PACK_SEQUENCES_SQL = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
c AS (SELECT doc_id, len(toks) AS n,
             1 + (greatest(len(toks) - 32, 0) + 23) // 24 AS k FROM t),
ch AS (
  SELECT doc_id, CAST(u AS BIGINT) AS chunk_idx,
         CAST(least(32, n - u * 24) AS BIGINT) AS chunk_tokens
  FROM c, unnest(range(0, k)) AS t2(u)),
s AS (
  SELECT doc_id, chunk_idx, chunk_tokens,
         CAST(COALESCE(SUM(chunk_tokens) OVER (
           ORDER BY doc_id, chunk_idx
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS tokens_before
  FROM ch)
SELECT doc_id, chunk_idx, chunk_tokens, tokens_before,
       CAST(tokens_before // 512 AS BIGINT) AS seq_id,
       CAST(tokens_before % 512 AS BIGINT) AS seq_offset
FROM s
"""


def docs_source_token_stats_udaf(spark, sf_dir):
    """True UDAF exemplar (SURVEY §2.9): a grouped-aggregate Arrow
    pandas UDF computing per-source token-count statistics. The kernel
    accumulates EXACT int64 sums (count, sum, sum of squares) in
    numpy and derives mean and population variance each with ONE
    double division of exact integers — the fixed-point discipline
    that makes a Python aggregate bit-identical to the SQL oracle
    regardless of summation order. Arrow moves each group once; the
    aggregation state is three ints per group."""
    import numpy as np

    # grouped-agg pandas UDFs cannot mix with JVM aggregates in one
    # agg() — the count is a pandas aggregate too
    @F.pandas_udf("bigint")
    def n_docs(n: pd.Series) -> int:
        return len(n)

    @F.pandas_udf("double")
    def mean_tokens(n: pd.Series) -> float:
        v = n.to_numpy(dtype=np.int64)
        return float(int(v.sum()) / len(v))

    @F.pandas_udf("double")
    def var_tokens(n: pd.Series) -> float:
        v = n.to_numpy(dtype=np.int64)
        s = int(v.sum())
        ssq = int(v @ v)
        c = len(v)
        return float((ssq * c - s * s) / (c * c))

    docs = _t(spark, sf_dir, "documents").select(
        "source", F.size(F.split("text", " ")).cast("bigint").alias("n_tok")
    )
    return (
        docs.groupBy("source")
        .agg(
            n_docs("n_tok").alias("n_docs"),
            mean_tokens("n_tok").alias("mean_tokens"),
            var_tokens("n_tok").alias("var_tokens"),
        )
        .orderBy("source")
    )


SOURCE_TOKEN_STATS_SQL = """
WITH t AS (
  SELECT source, len(string_split(text, ' ')) AS n_tok FROM documents),
a AS (
  SELECT source, COUNT(*) AS c,
         CAST(SUM(n_tok) AS BIGINT) AS s,
         CAST(SUM(n_tok * n_tok) AS BIGINT) AS ssq
  FROM t GROUP BY source)
SELECT source, c AS n_docs,
       s / c AS mean_tokens,
       (ssq * c - s * s) / (c * c) AS var_tokens
FROM a ORDER BY source
"""


def docs_repetition_signals(spark, sf_dir):
    """Gopher/MassiveText repetition filters: top-bigram fraction +
    adjacent-token repeat count per doc, with the repetitive flag.
    Explode → two hash-aggs; exact-integer division once per doc."""
    from universal_importer_duckdb_spark.operators.text_analysis import (
        repetition_signals,
    )

    return repetition_signals(_t(spark, sf_dir, "documents"))


REPETITION_SQL = """
WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
b AS (
  SELECT doc_id,
         list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) AS bgs,
         len(list_filter(range(1, len(toks)), i -> toks[i] = toks[i+1])) AS adj
  FROM t),
e AS (SELECT doc_id, adj, unnest(bgs) AS bg FROM b),
pb AS (SELECT doc_id, bg, COUNT(*) AS n, any_value(adj) AS adj
       FROM e GROUP BY doc_id, bg),
pd AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_bigrams,
              CAST(MAX(n) AS BIGINT) AS top_bigram_n,
              CAST(any_value(adj) AS BIGINT) AS n_adjacent_repeats
       FROM pb GROUP BY doc_id)
SELECT b.doc_id,
       COALESCE(pd.n_bigrams, 0) AS n_bigrams,
       COALESCE(pd.top_bigram_n, 0) AS top_bigram_n,
       CASE WHEN COALESCE(pd.n_bigrams, 0) > 0
            THEN pd.top_bigram_n / pd.n_bigrams ELSE 0.0 END AS top_bigram_frac,
       COALESCE(pd.n_adjacent_repeats, b.adj) AS n_adjacent_repeats,
       ((CASE WHEN COALESCE(pd.n_bigrams, 0) > 0
              THEN pd.top_bigram_n / pd.n_bigrams ELSE 0.0 END) > 0.2
         AND COALESCE(pd.n_bigrams, 0) >= 10)
         OR COALESCE(pd.n_adjacent_repeats, b.adj) >= 3 AS repetitive
FROM b LEFT JOIN pd ON b.doc_id = pd.doc_id
"""


def docs_cross_doc_ngram_dup(spark, sf_dir):
    """Cross-document duplicated 13-gram fraction per doc (Gopher's
    memorized-span constant) — the inverted-index diagnostic that
    measures whether dedup is done. Exact copies score 1.0."""
    from universal_importer_duckdb_spark.operators.corpus import (
        cross_doc_ngram_dup,
    )
    from universal_importer_duckdb_spark.operators.dedup_text import (
        spread_for_compute,
    )

    docs = spread_for_compute(_t(spark, sf_dir, "documents"), "doc_id")
    return cross_doc_ngram_dup(docs, n=13)


CROSS_DOC_DUP_SQL = """
WITH g AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
dg AS (
  SELECT doc_id, unnest(list_distinct(CASE WHEN len(toks) >= 13 THEN
    list_transform(range(1, len(toks) - 11),
      i -> ('0x'||substr(md5(array_to_string(list_slice(toks, i, i + 12), ' ')), 1, 7))::BIGINT)
    ELSE [] END)) AS gram
  FROM g),
fr AS (SELECT gram, COUNT(*) AS dfc FROM dg GROUP BY gram),
pd AS (
  SELECT dg.doc_id, COUNT(*) AS n_grams,
         CAST(SUM(CASE WHEN fr.dfc >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_grams
  FROM dg JOIN fr USING (gram) GROUP BY dg.doc_id)
SELECT d.doc_id,
       CAST(COALESCE(pd.n_grams, 0) AS BIGINT) AS n_grams,
       CAST(COALESCE(pd.n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
       CASE WHEN COALESCE(pd.n_grams, 0) > 0
            THEN pd.n_dup_grams / pd.n_grams ELSE 0.0 END AS dup_gram_frac
FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id
"""


def docs_corpus_assembly_pipeline(spark, sf_dir):
    """The COMPLETE corpus-assembly pipeline, every round-5 tier
    composed end-to-end: source mixture sampling → quality filter →
    exact content dedup → near-dup CLUSTER dedup → benchmark
    decontamination (drop docs sharing an 8-gram with the held-out
    set) → deterministic hash split → token chunking of the train
    split → sequence packing at 512 tokens. One funnel row; every
    count depends on every upstream stage being exactly right, so the
    single oracle row certifies the whole composition. n_sequences
    comes from the PACKED frame — ceil(max chunk END offset / 512),
    where the end offset is tokens_before + chunk_tokens from the
    two-level prefix sum — which the oracle checks against the closed
    form ceil(total_tokens/512). The END offset (not max seq_id: a
    boundary-straddling last chunk SPILLS into a sequence no chunk
    starts in, so max(seq_id)+1 undercounts exactly then) is the
    correct count, and equals the closed form iff the prefix sum is
    exactly the dense global cumsum."""
    from universal_importer_duckdb_spark.operators.corpus import (
        benchmark_ngram_overlap,
        hash_split,
        pack_token_sequences,
        source_mixture_sample,
    )
    from universal_importer_duckdb_spark.operators.dedup_text import (
        minhash_lsh_pairs,
        neardup_clusters,
    )
    from universal_importer_duckdb_spark.operators.text_analysis import (
        chunk_documents,
        quality_filter,
    )

    docs = _t(spark, sf_dir, "documents")
    mixed = source_mixture_sample(docs, rates={"web": 0.7}, default_rate=1.0)
    kept, _ = quality_filter(mixed, min_tokens=10, min_alpha_ratio=0.5,
                             max_digit_ratio=0.3, min_unique_token_ratio=0.1)
    exact = _scoped_cache(
        kept.withColumn("__fp", F.md5(F.lower("text")))
        .groupBy("__fp")
        .agg(F.min("doc_id").alias("doc_id"),
             F.min_by("text", "doc_id").alias("text"))
        .drop("__fp")
    )
    pairs = minhash_lsh_pairs(exact, num_perm=32, bands=8, shingle_n=5,
                              jaccard_threshold=0.4, sample_mod=4)
    clusters = neardup_clusters(pairs, exact.select("doc_id"))
    surv = _scoped_cache(exact.join(
        clusters.filter("is_kept").select("doc_id"), "doc_id", "left_semi"
    ))
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    overlap = benchmark_ngram_overlap(surv, bench, n=8)
    clean = _scoped_cache(surv.join(
        overlap.filter("contaminated").select("doc_id"), "doc_id", "left_anti"
    ))
    split = _scoped_cache(hash_split(clean))
    train = split.filter(F.col("split") == "train")
    chunks = _scoped_cache(
        chunk_documents(train, chunk_size=32, stride=24, with_text=False)
    )
    packed = pack_token_sequences(chunks, seq_len=512, bucket_width=64)

    def one(df, *aggs):
        return F.broadcast(df.agg(*aggs))

    return (
        one(docs, F.count(F.lit(1)).alias("n_docs_in"))
        .crossJoin(one(mixed, F.count(F.lit(1)).alias("n_after_mixture")))
        .crossJoin(one(kept, F.count(F.lit(1)).alias("n_after_quality")))
        .crossJoin(one(exact, F.count(F.lit(1)).alias("n_after_exact")))
        .crossJoin(one(surv, F.count(F.lit(1)).alias("n_after_neardup")))
        .crossJoin(one(clean, F.count(F.lit(1)).alias("n_after_decontam")))
        .crossJoin(one(
            split,
            F.sum(F.when(F.col("split") == "train", 1).otherwise(0))
            .cast("bigint").alias("n_train"),
            F.sum(F.when(F.col("split") == "val", 1).otherwise(0))
            .cast("bigint").alias("n_val"),
            F.sum(F.when(F.col("split") == "test", 1).otherwise(0))
            .cast("bigint").alias("n_test"),
        ))
        .crossJoin(one(
            chunks,
            F.count(F.lit(1)).alias("total_chunks"),
            F.sum("chunk_tokens").cast("bigint").alias("total_chunk_tokens"),
        ))
        .crossJoin(one(
            packed,
            F.floor(
                (F.coalesce(
                    F.max(F.col("tokens_before") + F.col("chunk_tokens")),
                    F.lit(0),
                ) + F.lit(511)) / F.lit(512)
            ).cast("bigint").alias("n_sequences"),
        ))
    )


# split boundaries are the SAME 98/99% thresholds as docs_hash_split
# (_SPLIT_B1/_SPLIT_B2 above) — one definition, or the two oracles
# silently desynchronize
_ASM_MIX_WEB = int((1 << 28) * 0.7)

CORPUS_ASSEMBLY_SQL = f"""
WITH RECURSIVE
mix AS (
  SELECT doc_id, text FROM documents
  WHERE ('0x'||substr(md5('mix-v1:'||doc_id), 1, 7))::BIGINT
        < CASE source WHEN 'web' THEN {_ASM_MIX_WEB} ELSE {1 << 28} END),
sigq AS (
  SELECT doc_id, text,
    len(string_split(text, ' ')) AS n_tokens,
    length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) / length(text) AS alpha_ratio,
    length(regexp_replace(text, '[^0-9]', '', 'g')) / length(text) AS digit_ratio,
    len(list_distinct(string_split(text, ' '))) / len(string_split(text, ' ')) AS uniq_ratio
  FROM mix),
q AS (
  SELECT doc_id, text FROM sigq
  WHERE n_tokens >= 10 AND alpha_ratio >= 0.5 AND digit_ratio <= 0.3 AND uniq_ratio >= 0.1),
d AS (
  SELECT MIN(doc_id) AS doc_id, arg_min(text, doc_id) AS text
  FROM q GROUP BY md5(lower(text))),
p AS (SELECT id_a, id_b FROM ({_minhash_lsh_sql(src="d")}) mh),
e AS (SELECT id_a AS s, id_b AS dd FROM p UNION SELECT id_b, id_a FROM p),
reach(n, m) AS (
  SELECT doc_id, doc_id FROM d
  UNION
  SELECT r.n, e.dd FROM reach r JOIN e ON e.s = r.m),
lab AS (SELECT n, MIN(m) AS cluster_id FROM reach GROUP BY n),
surv AS (
  SELECT d.doc_id, d.text FROM d JOIN lab ON d.doc_id = lab.n
  WHERE lab.cluster_id = d.doc_id),
sg AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM surv),
sgr AS (
  SELECT doc_id, unnest(list_distinct(CASE WHEN len(toks) >= 8 THEN
    list_transform(range(1, len(toks) - 6),
      i -> ('0x'||substr(md5(array_to_string(list_slice(toks, i, i + 7), ' ')), 1, 7))::BIGINT)
    ELSE [] END)) AS gram
  FROM sg),
bg AS (
  SELECT DISTINCT unnest(CASE WHEN len(toks) >= 8 THEN
    list_transform(range(1, len(toks) - 6),
      i -> ('0x'||substr(md5(array_to_string(list_slice(toks, i, i + 7), ' ')), 1, 7))::BIGINT)
    ELSE [] END) AS gram
  FROM (SELECT string_split(lower(text), ' ') AS toks
        FROM documents WHERE doc_id % 97 = 0)),
contaminated AS (SELECT DISTINCT sgr.doc_id FROM sgr JOIN bg USING (gram)),
clean AS (
  SELECT surv.doc_id, surv.text FROM surv
  LEFT JOIN contaminated c ON surv.doc_id = c.doc_id
  WHERE c.doc_id IS NULL),
sp AS (
  SELECT doc_id, text,
    CASE WHEN ('0x'||substr(md5('split-v1:'||doc_id), 1, 7))::BIGINT < {_SPLIT_B1}
         THEN 'train'
         WHEN ('0x'||substr(md5('split-v1:'||doc_id), 1, 7))::BIGINT < {_SPLIT_B2}
         THEN 'val' ELSE 'test' END AS split
  FROM clean),
ct AS (SELECT doc_id, len(string_split(text, ' ')) AS n
       FROM sp WHERE split = 'train'),
ck AS (SELECT doc_id, n, 1 + (greatest(n - 32, 0) + 23) // 24 AS k FROM ct),
ch AS (SELECT doc_id, least(32, n - u * 24) AS chunk_tokens
       FROM ck, unnest(range(0, k)) AS t2(u))
SELECT
  (SELECT COUNT(*) FROM documents) AS n_docs_in,
  (SELECT COUNT(*) FROM mix) AS n_after_mixture,
  (SELECT COUNT(*) FROM q) AS n_after_quality,
  (SELECT COUNT(*) FROM d) AS n_after_exact,
  (SELECT COUNT(*) FROM surv) AS n_after_neardup,
  (SELECT COUNT(*) FROM clean) AS n_after_decontam,
  (SELECT COUNT(*) FROM sp WHERE split = 'train') AS n_train,
  (SELECT COUNT(*) FROM sp WHERE split = 'val') AS n_val,
  (SELECT COUNT(*) FROM sp WHERE split = 'test') AS n_test,
  (SELECT COUNT(*) FROM ch) AS total_chunks,
  (SELECT CAST(SUM(chunk_tokens) AS BIGINT) FROM ch) AS total_chunk_tokens,
  (SELECT CAST((SUM(chunk_tokens) + 511) // 512 AS BIGINT) FROM ch) AS n_sequences
"""


def docs_domain_cap(spark, sf_dir):
    """Domain balancing: at most 10 docs per source, in doc_id order —
    the web-corpus cap that stops one crawl domain from dominating the
    mix. Runs the skew-safe two-stage top-k (operators/corpus.
    cap_per_key: salted pre-sift bounds any hot key's final-window
    input at k*salts); the oracle is the textbook one-stage window,
    certifying the two-stage form computes the identical set."""
    from universal_importer_duckdb_spark.operators.corpus import cap_per_key

    return cap_per_key(
        _t(spark, sf_dir, "documents"), "source", 10, ["doc_id"]
    ).select("doc_id", "source", "rn")


DOMAIN_CAP_SQL = """
SELECT doc_id, source, rn FROM (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM documents) t
WHERE rn <= 10
"""


def docs_stratified_sample(spark, sf_dir):
    """Eval-set carving: a deterministic 15-doc uniform sample per
    language, ranked by seeded md5 of the doc id (stable across
    re-runs, repartitioning, and corpus growth — a new doc displaces
    at most one sample member per stratum). The md5 order replays
    exactly in the oracle's window."""
    from universal_importer_duckdb_spark.operators.corpus import (
        stratified_hash_sample,
    )

    return stratified_hash_sample(
        _t(spark, sf_dir, "documents"), "lang", 15
    ).select("doc_id", "lang", "rn")


STRATIFIED_SAMPLE_SQL = """
SELECT doc_id, lang, rn FROM (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (PARTITION BY lang
           ORDER BY ('0x'||substr(md5('sample-v1:'||doc_id), 1, 7))::BIGINT,
                    doc_id) AS rn
  FROM documents) t
WHERE rn <= 15
"""


def docs_char_trigram_familiarity(spark, sf_dir):
    """Corpus-statistical gibberish scoring: mean document-frequency
    ratio of each doc's distinct char trigrams (operators/
    text_analysis.char_ngram_familiarity) — the model-free analog of
    the CCNet LM-perplexity filter. Exact-integer inverted index; the
    single final division is IEEE-identical cross-engine, so the
    score is hash-checked, not approximated."""
    from universal_importer_duckdb_spark.operators.dedup_text import (
        spread_for_compute,
    )
    from universal_importer_duckdb_spark.operators.text_analysis import (
        char_ngram_familiarity,
    )

    docs = spread_for_compute(_t(spark, sf_dir, "documents"), "doc_id")
    return char_ngram_familiarity(docs)


CHAR_TRIGRAM_FAMILIARITY_SQL = """
WITH dg AS (
  SELECT doc_id, unnest(list_distinct(
    list_transform(range(1, length(lower(text)) - 1),
                   i -> substr(lower(text), i, 3)))) AS g
  FROM documents),
gdf AS (SELECT g, COUNT(*) AS df FROM dg GROUP BY g),
pd AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_distinct_grams,
         CAST(SUM(df) AS BIGINT) AS df_sum
  FROM dg JOIN gdf USING (g) GROUP BY doc_id),
nd AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT d.doc_id,
       CAST(COALESCE(pd.n_distinct_grams, 0) AS BIGINT) AS n_distinct_grams,
       CASE WHEN pd.n_distinct_grams > 0
            THEN pd.df_sum / (pd.n_distinct_grams * nd.n_docs)
            ELSE 0.0 END AS familiarity
FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id CROSS JOIN nd
"""


REGISTRY.update({
    "docs_corpus_assembly_pipeline": (
        docs_corpus_assembly_pipeline, CORPUS_ASSEMBLY_SQL,
    ),
    "docs_cross_doc_ngram_dup": (docs_cross_doc_ngram_dup, CROSS_DOC_DUP_SQL),
    "docs_repetition_signals": (docs_repetition_signals, REPETITION_SQL),
    "docs_source_token_stats_udaf": (
        docs_source_token_stats_udaf, SOURCE_TOKEN_STATS_SQL,
    ),
    "docs_hash_split": (docs_hash_split, HASH_SPLIT_SQL),
    "docs_source_mixture": (docs_source_mixture, SOURCE_MIXTURE_SQL),
    "docs_benchmark_contamination": (
        docs_benchmark_contamination, BENCHMARK_CONTAMINATION_SQL,
    ),
    "docs_pack_sequences": (docs_pack_sequences, PACK_SEQUENCES_SQL),
    "docs_domain_cap": (docs_domain_cap, DOMAIN_CAP_SQL),
    "docs_stratified_sample": (docs_stratified_sample, STRATIFIED_SAMPLE_SQL),
    "docs_char_trigram_familiarity": (
        docs_char_trigram_familiarity, CHAR_TRIGRAM_FAMILIARITY_SQL,
    ),
})


# Chained-section export: star-import carries every module-level
# name (including the underscore-prefixed shared helpers) to the
# next registry section / the entry_queries spine.
__all__ = [_n for _n in globals() if not _n.startswith("__")]
