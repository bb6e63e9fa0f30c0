"""The driver-contract query registry: every operator from SURVEY.md §2
plus the LLM-data-pipeline extensions, each as a (spark_fn, oracle_sql)
pair. spark_fn(spark, sf_dir) -> DataFrame; oracle_sql is equivalent
DuckDB SQL over the same parquet views (None → rows-only check).

Cross-engine determinism rules (established empirically against
DuckDB; see tests/test_oracle_parity.py):
- float SUMs route through exact DECIMAL arithmetic: cast source
  doubles to a small-scale decimal (they are 2/4-decimal values),
  multiply in decimal (exact), SUM (exact), then round(sum, 2) and
  cast to double. DuckDB's decimal->decimal CAST truncates while
  Spark's rounds, so the only safe scale reduction is round(), which
  both engines implement half-away-from-zero.
- a decimal->double cast is bit-exact on both engines only while the
  unscaled integer fits in 2^53 — keep scale*magnitude under that.
- element-wise vector math: cast float arrays to double and use
  ORDER-DEFINED left folds (Spark F.aggregate == DuckDB list_reduce)
  — the former DECIMAL(33,13) product-cast idiom hit engine-divergent
  round-half behavior on boundary values (r6 finding, see
  operators/similarity.py strategy note).
- Spark size()/row_number() are INT, DuckDB's are BIGINT — cast the
  Spark side up.
- events.parquet uses TIMESTAMP(NANOS): Spark needs
  spark.sql.legacy.parquet.nanosAsLong=true and sees bigint nanos;
  DuckDB sees TIMESTAMP_NS, bridged via epoch_ns().
"""

from __future__ import annotations

from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from universal_importer_duckdb_spark.caching import scoped_cache as _scoped_cache
from universal_importer_duckdb_spark.functions.fixed_point import (
    FixedSum,
    fixed_point_agg,
    scaled,
)

TODAY = "2026-08-13"  # injected "today" for age_gte determinism

LINEITEM_COLS = [
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
    "l_linestatus", "l_shipdate",
]


_SCAN_MEMO: dict[tuple[int, str], DataFrame] = {}
_TUNED_SESSIONS: set[int] = set()


def _tune_once(spark: SparkSession) -> None:
    """Apply the session confs every registry query depends on, once
    per session — three py4j round-trips per table access otherwise
    add fixed driver latency to precisely the sub-second queries."""
    if id(spark) in _TUNED_SESSIONS:
        return
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # wide validation predicates blow up constraint propagation
    # (see session.py); guard any externally-built session too
    spark.conf.set("spark.sql.constraintPropagation.enabled", "false")
    # if events.parquet ever carries TIMESTAMP(NANOS) (older testdata
    # generations did), read it as bigint nanos instead of erroring;
    # harmless for µs-typed columns (the current generation), and must
    # be set before the events scan is memoized
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # local-data split sizing (see session.py for the 100 TB guidance)
    import os as _os

    mpb = int(_os.environ.get("SPARK_GRAFT_MAX_PARTITION_MB", "16")) * 1024 * 1024
    adv = int(_os.environ.get("SPARK_GRAFT_ADVISORY_PARTITION_MB", "16")) * 1024 * 1024
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(mpb))
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", str(adv))
    _TUNED_SESSIONS.add(id(spark))


def _footer_rows(sf_dir: str, name: str) -> int | None:
    """Row count straight from the parquet footer — pure metadata
    read, no Spark job. Used as a size hint to gate plan shape (e.g.
    skip the two-phase cosine's selection stage on tiny corpora);
    ``None`` (multi-file dirs, missing footer) means \"unknown\", and
    callers fall back to the scale-safe plan."""
    try:
        import pyarrow.parquet as pq

        return pq.ParquetFile(f"{sf_dir}/{name}.parquet").metadata.num_rows
    except Exception:
        return None


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _tune_once(spark)
    # memoize the scan per (session, path): repeated file-listing +
    # footer schema reads otherwise tax every query with fixed driver
    # latency (DataFrames are immutable plans, so sharing is safe)
    key = (id(spark), f"{sf_dir}/{name}.parquet")
    df = _SCAN_MEMO.get(key)
    if df is None:
        df = spark.read.parquet(key[1])
        if name == "events":
            # Normalize ts to bigint epoch-nanos regardless of how the
            # parquet stores it: timestamp[us] (current testdata) reads
            # as TIMESTAMP_NTZ and is converted here; TIMESTAMP(NANOS)
            # (older generations) already arrives as bigint nanos via
            # nanosAsLong and passes through untouched. Every downstream
            # consumer (tumbling/session buckets, as-of/range joins)
            # does integer ns arithmetic on this column.
            ts_type = df.schema["ts"].dataType
            if isinstance(ts_type, (T.TimestampType, T.TimestampNTZType)):
                df = df.withColumn(
                    "ts",
                    (F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000)).cast(
                        "bigint"
                    ),
                )
        _SCAN_MEMO[key] = df
    return df


def _size_parts(df, target_bytes: int = 64 << 20, floor: int = 8) -> int:
    """Partition count from the optimized plan's size estimate (~64 MB
    per partition, bounded [floor, 2048]): planner-time right-sizing of
    an explicit repartition instead of over-shuffling 32 ways and
    relying on AQE to coalesce after the fact. Falls back to `floor`
    when statistics are unavailable (e.g. a plan with no leaf sizes)."""
    try:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        size = int(str(stats.sizeInBytes()))
    except Exception:
        return floor
    return max(floor, min(2048, -(-size // target_bytes)))


# --- deterministic money helpers (see module docstring) ---------------

def _dec(col: str, typ: str = "decimal(15,2)"):
    return F.col(col).cast(typ)


def _one():
    # built lazily: F.lit needs an active SparkContext at call time
    return F.lit(1).cast("decimal(5,4)")


def _msum(expr, alias: str):
    """Exact decimal sum -> round 2 -> double (bit-identical in DuckDB
    as CAST(round(SUM(expr), 2) AS DOUBLE))."""
    return F.round(F.sum(expr), 2).cast("double").alias(alias)


# scaled-int64 forms of the same measures (functions/fixed_point.py):
# identical values, but the hot sum stays in long arithmetic instead
# of BigDecimal. k = implied decimals.

def _fx_ext2():
    return scaled("l_extendedprice", 2)


def _fx_disc_f4():
    # (1 - l_discount) with 4 implied decimals
    return F.lit(10**4).cast("bigint") - scaled("l_discount", 4, 5)


def _fx_tax_f4():
    return F.lit(10**4).cast("bigint") + scaled("l_tax", 4, 5)


def _fx_revenue():
    # l_extendedprice*(1-l_discount), k=6
    return _fx_ext2() * _fx_disc_f4()


# Deterministic "ingest order" for parquet sources: the full row is
# the only total order the data guarantees ((l_orderkey, l_linenumber)
# is NOT unique in the synthetic tables, but complete rows are) —
# ties then can only occur between identical rows, which cannot change
# output content. Scale-safe: no shuffle, the ordering rides the
# dedup window's existing sort (SURVEY.md §7.3).
_LI_COLS_SQL = ", ".join(LINEITEM_COLS)
_LI_ORD_ASC = ", ".join(LINEITEM_COLS)
_LI_ORD_DESC = ", ".join(f"{c} DESC" for c in LINEITEM_COLS)


# ======================================================================
# TPC-H-style analytics (the general SQL surface the reference
# delegates to DuckDB; here delegated to Catalyst — SURVEY.md §4.2)
# ======================================================================

def q1_pricing_summary(spark, sf_dir):
    """Exact fixed-point aggregation (functions/fixed_point.py): the
    measures are scaled int64 per row, chunk-summed long-side in one
    exchange — bit-identical to the decimal oracle, ~3x cheaper than
    BigDecimal sum buffers."""
    li = _t(spark, sf_dir, "lineitem")
    flt = li.filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    )
    qty2 = scaled("l_quantity", 2)
    ext2 = _fx_ext2()
    disc_f4 = _fx_disc_f4()
    tax_f4 = _fx_tax_f4()
    return fixed_point_agg(
        flt,
        ["l_returnflag", "l_linestatus"],
        sums=[
            FixedSum("sum_qty", qty2, 2),
            FixedSum("sum_base_price", ext2, 2),
            FixedSum("sum_disc_price", ext2 * disc_f4, 6),
            FixedSum("sum_charge", ext2 * disc_f4 * tax_f4, 10),
        ],
        avgs=[("avg_qty", "sum_qty"), ("avg_price", "sum_base_price")],
        count_alias="count_order",
    )


Q1_SQL = """
SELECT l_returnflag, l_linestatus,
  CAST(round(SUM(l_quantity::DECIMAL(15,2)), 2) AS DOUBLE) AS sum_qty,
  CAST(round(SUM(l_extendedprice::DECIMAL(15,2)), 2) AS DOUBLE) AS sum_base_price,
  CAST(round(SUM(l_extendedprice::DECIMAL(15,2)*(1::DECIMAL(5,4)-l_discount::DECIMAL(9,4))), 2) AS DOUBLE) AS sum_disc_price,
  CAST(round(SUM(l_extendedprice::DECIMAL(15,2)*(1::DECIMAL(5,4)-l_discount::DECIMAL(9,4))*(1::DECIMAL(5,4)+l_tax::DECIMAL(9,4))), 2) AS DOUBLE) AS sum_charge,
  CAST(SUM(l_quantity::DECIMAL(15,2)) AS DOUBLE)/COUNT(*) AS avg_qty,
  CAST(SUM(l_extendedprice::DECIMAL(15,2)) AS DOUBLE)/COUNT(*) AS avg_price,
  COUNT(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q3_top_unshipped(spark, sf_dir):
    """r14 join-order rewrite: the dimension side is 10x more
    selective than the fact side (date keeps ~49% of orders, BUILDING
    ~20% of customers — ~10% of orders qualify jointly), so the
    pruned orders><customer join builds FIRST and the big lineitem
    side joins against it once, carrying only (l_orderkey, scaled
    revenue int64) through its exchange — 16 B/row instead of the
    full measure columns, and one big-side exchange instead of two.
    When the join plans as a shuffle join (the at-scale shape) the
    group-by rides its l_orderkey hash partitioning
    (HashPartitioning(okey) satisfies ClusteredDistribution(okey,
    date, priority)) — no aggregation exchange; when AQE broadcasts
    the small side at test scale, the one remaining exchange carries
    PARTIALLY-AGGREGATED rows, not the fact stream. Measured x64:
    4.07 s -> 3.55 s median, 3.93 -> 2.96 on clean runs. Computing
    the scaled revenue pre-join is bit-safe: scaled()'s domain bound
    is the decimal(15,2) data model, independent of join survival.

    r15: the qual side carries a SHUFFLE_HASH hint. Without it the
    big join plans as sort-merge (preferSortMergeJoin default), which
    SORTS the filtered fact stream — the largest single component of
    the row's named engine constant; as shuffled-hash the fact
    streams unsorted against a per-partition hash build of qual, and
    the aggregation STILL rides the join's HashPartitioning, now in
    one complete pass (no partial/final split around an exchange).
    Measured (ABBA-ordered interleave, value-identical both scales):
    x256 6.02 -> 4.14 s median with non-overlapping pass
    distributions, sf0.1 0.475 -> 0.354 s. Memory story at 100 TB:
    unlike a broadcast, the SHJ build is |qual|/numShufflePartitions
    per task — qual is the pruned ~10%-of-orders side at ~24 B/row,
    and AQE's advisory sizing splits the build exchange so per-task
    build memory stays at the advisory target regardless of SF; AQE
    skew-join handles SHJ stream-side skew (Spark 3.2+). The same
    hint was measured and REJECTED on q5 (its candidate build side
    is |orders|-proportional at a wider payload — build OOM'd at
    x256 on 32 partitions, the honest boundary) and on q9 (AQE
    broadcasts part/supplier at every testable scale; the hint
    forced two fact exchanges that did not exist: 2.05 -> 4.47 s at
    x64)."""
    cust = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    qual = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < F.lit("1998-03-15 00:00:00").cast("timestamp"))
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .drop("c_custkey", "o_custkey")
        # shuffled-hash build side for the big join: skips the fact
        # sort; per-task build memory = |qual|/numShufflePartitions,
        # which AQE's advisory sizing bounds at any SF (docstring)
        .hint("shuffle_hash")
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") > F.lit("1998-03-15 00:00:00").cast("timestamp"))
        .select("l_orderkey", _fx_revenue().alias("__rev"))
    )
    joined = li.join(qual, F.col("l_orderkey") == qual.o_orderkey)
    return (
        # direct int64 sum: per-ORDER group, <= 7 lineitems at
        # ~1.1e13 max scaled revenue each — total <= 8e13 << int64
        # (the chunked path's DECIMAL(38) per-group reconstruction
        # dominates on high-cardinality groupings; r13 q18 decompose)
        fixed_point_agg(
            joined,
            ["l_orderkey", "o_orderdate", "o_orderpriority"],
            sums=[FixedSum("revenue", F.col("__rev"), 6, direct=True)],
        )
        .select(
            "l_orderkey",
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
            "o_orderpriority",
            "revenue",
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


Q3_SQL = """
SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority,
  CAST(round(SUM(l_extendedprice::DECIMAL(15,2)*(1::DECIMAL(5,4)-l_discount::DECIMAL(9,4))), 2) AS DOUBLE) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-03-15' AND l_shipdate > TIMESTAMP '1998-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey LIMIT 10
"""


def q5_revenue_by_nation(spark, sf_dir):
    """r15 rewrite — aggregate the fact BELOW the join tree. The old
    shape joined the full lineitem stream through orders and customer
    before a single (r_name, n_name) aggregation; at test scale AQE
    broadcasts customer so the fact shuffles once, but at production
    scale customer is NOT broadcastable and the fact stream would
    shuffle a SECOND time on o_custkey. This shape makes that
    impossible by construction:

      * lineitem pre-aggregates per l_orderkey first — a direct int64
        sum (<= 7 lineitems/order at ~1.1e13 max scaled revenue each,
        the q3 bound), with map-side partial combine cutting the one
        fact exchange ~4x (rows = orders, payload 24 B);
      * the o_custkey join moves to the ORDERS side (4x smaller than
        the fact, 16 B payload), so customer's broadcastability only
        ever affects orders traffic;
      * the nation-level re-aggregation uses the chunked decimal
        reconstruction (group row counts unbounded at 100 TB), and
        summing exact per-order int64 partials is bit-identical to
        summing rows (integer associativity) — verified value-equal
        to the previous shape and to the oracle at sf0.01.

    Measured (interleaved A/B, 5 runs each): x128 7.32 -> 6.25 s
    median, x64 a wash (3.73 vs 3.68 — the broadcast hides the
    structural win locally); the at-scale claim is the plan shape,
    not the local delta.

    r15 (second step) — aggregate per CUSTOMER before touching the
    customer table. The first rewrite still streamed |orders| rows
    into the customer join; this one joins the per-order partials to
    BARE orders (16 B payload, just orderkey -> custkey) and reduces
    to one row per customer before any dimension join, so customer
    joins a |customer|-sized aggregate, never an |orders| stream:

      * per-custkey revenue stays a direct int64 sum — bounded by the
        data model (<= ~41 orders/customer x <= 7 lineitems x ~1.1e13
        max scaled revenue ~= 3e15, ~2900x under int64; ANSI pinned,
        so a violated bound raises, never wraps);
      * the 25-cell nation/region rollup keeps the chunked decimal
        reconstruction (customers per nation IS data-proportional).

    Measured (ABBA interleave, value-identical at x64/x256/sf0.01):
    x256 14.28 -> 13.18 s median (customer no longer broadcastable —
    the steady-state regime at 100 TB), x64 2.69 -> 3.10 s (the
    broadcast-hidden regime: AQE still broadcasts customer, so the
    extra per-custkey exchange buys nothing locally). The weak rule
    reads the largest scale, and at production scale customer never
    broadcasts — the x64/sf0.1 delta is the named, bounded local
    cost of a 24 B-payload partial-agg exchange.

    r15: q3's SHUFFLE_HASH hint was measured and REJECTED here,
    twice. On the first-rewrite shape the candidate build (ord_n,
    |orders|-proportional, ~34 B/row) crashed the x256 build; on
    this shape, hinting bare orders (16 B/row) and customer died
    with the exact boundary named: "Can't acquire 67108864 bytes
    memory to build hash relation" — 32 concurrent SHJ builds of a
    full-|orders| side exceed the per-task execution-memory grant.
    SMJ's sort-spill robustness is the right default when the build
    side is full-table-proportional; the hint is reserved for
    provably pruned builds (q3's qual is ~3 MB/task at x256, two
    orders of magnitude under that failure point)."""
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", _fx_revenue().alias("__rev")
    )
    li_ord = li.groupBy("l_orderkey").agg(
        F.sum("__rev").alias("__rev_ord"), F.count(F.lit(1)).alias("__n")
    )
    per_cust = (
        li_ord.join(orders, li_ord.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey")
        .agg(
            F.sum("__rev_ord").alias("__rev_cust"),
            F.sum("__n").alias("__n_cust"),
        )
    )
    enriched = (
        per_cust.join(cust, per_cust.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return fixed_point_agg(
        enriched,
        ["r_name", "n_name"],
        sums=[FixedSum("revenue", F.col("__rev_cust"), 6)],
        extra_aggs=[F.sum("__n_cust").alias("n_lineitems")],
    ).select("r_name", "n_name", "revenue", "n_lineitems")


Q5_SQL = """
SELECT r_name, n_name,
  CAST(round(SUM(l_extendedprice::DECIMAL(15,2)*(1::DECIMAL(5,4)-l_discount::DECIMAL(9,4))), 2) AS DOUBLE) AS revenue,
  COUNT(*) AS n_lineitems
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


def top_customers(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        fixed_point_agg(
            orders.select("o_custkey", "o_totalprice"),
            ["o_custkey"],
            sums=[FixedSum("revenue", scaled("o_totalprice", 2), 2)],
            count_alias="n_orders",
        )
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .select("c_custkey", "c_name", "revenue", "n_orders")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(10)
    )


TOP_CUSTOMERS_SQL = """
SELECT c_custkey, c_name,
  CAST(round(SUM(o_totalprice::DECIMAL(15,2)), 2) AS DOUBLE) AS revenue,
  COUNT(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey, c_name ORDER BY revenue DESC, c_custkey LIMIT 10
"""


def rank_customers_by_segment(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        cust.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= 3)
        .select("c_mktsegment", "rk", "c_custkey", "c_name", "c_acctbal")
    )


RANK_SQL = """
SELECT c_mktsegment, rk, c_custkey, c_name, c_acctbal FROM (
  SELECT *, row_number() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS rk
  FROM customer) WHERE rk <= 3
"""


def distinct_segments(spark, sf_dir):
    return _t(spark, sf_dir, "customer").select("c_mktsegment").distinct()


DISTINCT_SQL = "SELECT DISTINCT c_mktsegment FROM customer"


def except_customers_without_orders(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    ordc = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return cust.subtract(ordc)


EXCEPT_SQL = "SELECT c_custkey FROM customer EXCEPT SELECT o_custkey FROM orders"


def intersect_multi_status_customers(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    b = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return a.intersect(b)


INTERSECT_SQL = """
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
INTERSECT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
"""


def semi_join_open_order_customers(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    open_orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    return cust.join(open_orders, cust.c_custkey == open_orders.o_custkey, "left_semi")


SEMI_SQL = """
SELECT * FROM customer c WHERE EXISTS
  (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
"""


def anti_join_customers_no_orders(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")


ANTI_SQL = """
SELECT * FROM customer c WHERE NOT EXISTS
  (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


# ======================================================================
# Reference pipeline surface (SURVEY.md §2.2-2.4) on the driver tables
# ======================================================================

CUSTOMER_SCHEMA = {
    "c_custkey": {"type": "int", "required": True},
    "c_name": {"type": "str", "required": True},
    "c_nationkey": {"type": "int", "required": True},
    "c_acctbal": {"type": "float", "min": 0},
    "c_mktsegment": {
        "type": "str",
        "pattern": "^(AUTOMOBILE|BUILDING|FURNITURE|HOUSEHOLD|MACHINERY)$",
    },
}


def _validate_customer(spark, sf_dir):
    from universal_importer_duckdb_spark.config.schema_compiler import compile_schema
    from universal_importer_duckdb_spark.operators.validate import validate_dataframe

    cust = _t(spark, sf_dir, "customer")
    schema = compile_schema(CUSTOMER_SCHEMA)
    return validate_dataframe(cust, schema)


def validate_customer_valid(spark, sf_dir):
    valid, _ = _validate_customer(spark, sf_dir)
    return valid


VALIDATE_VALID_SQL = """
SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name,
       CAST(c_nationkey AS BIGINT) AS c_nationkey, c_acctbal, c_mktsegment
FROM customer
WHERE c_custkey IS NOT NULL AND c_name IS NOT NULL AND c_nationkey IS NOT NULL
  AND NOT coalesce(c_acctbal < 0, FALSE)
  AND NOT coalesce(NOT regexp_matches(c_mktsegment, '^(AUTOMOBILE|BUILDING|FURNITURE|HOUSEHOLD|MACHINERY)$'), FALSE)
"""


def validate_customer_errors(spark, sf_dir):
    _, errors = _validate_customer(spark, sf_dir)
    return errors.select("c_custkey", "errors")


VALIDATE_ERRORS_SQL = """
SELECT c_custkey, concat_ws('; ',
  CASE WHEN c_custkey IS NULL THEN 'c_custkey: field required' END,
  CASE WHEN c_name IS NULL THEN 'c_name: field required' END,
  CASE WHEN c_nationkey IS NULL THEN 'c_nationkey: field required' END,
  CASE WHEN c_acctbal < 0 THEN 'c_acctbal: value should be >= 0' END,
  CASE WHEN NOT regexp_matches(c_mktsegment, '^(AUTOMOBILE|BUILDING|FURNITURE|HOUSEHOLD|MACHINERY)$')
       THEN 'c_mktsegment: string should match pattern ''^(AUTOMOBILE|BUILDING|FURNITURE|HOUSEHOLD|MACHINERY)$''' END
  ) AS errors
FROM customer
WHERE c_custkey IS NULL OR c_name IS NULL OR c_nationkey IS NULL
   OR coalesce(c_acctbal < 0, FALSE)
   OR coalesce(NOT regexp_matches(c_mktsegment, '^(AUTOMOBILE|BUILDING|FURNITURE|HOUSEHOLD|MACHINERY)$'), FALSE)
"""


def _dedup(spark, sf_dir, resolution, keys=("l_partkey", "l_suppkey")):
    from universal_importer_duckdb_spark.operators.dedup import dedupe
    from universal_importer_duckdb_spark.operators.dedup_text import (
        spread_for_compute,
    )

    li = spread_for_compute(_t(spark, sf_dir, "lineitem"), *keys)
    kept, dups = dedupe(li, list(keys), resolution, LINEITEM_COLS)
    return kept.select(*LINEITEM_COLS), dups.select(*LINEITEM_COLS)


def _dedup_kept(spark, sf_dir, resolution, keys=("l_partkey", "l_suppkey")):
    # Window form: lineitem's dup rate is low (~12%), where the
    # WindowGroupLimit pre-filter beats min_by(struct) aggregation
    # (measured at sf0.1: first 1.98s vs 2.41s, exclude_all 0.72s vs
    # 2.29s). dedupe_keep_only stays the choice for duplicate-heavy
    # inputs (see operators/dedup.py docstrings).
    # Pre-spread on the dedup keys: testdata parquet is one row group,
    # so the window's own exchange otherwise AQE-coalesces to ~3 tasks
    # (measured 1.22 s -> 0.51 s at sf0.1). Hash-partitioning on the
    # same keys satisfies the window's distribution, so there is still
    # exactly ONE shuffle; no-op once the scan arrives in >= cores
    # splits (cluster scale).
    from universal_importer_duckdb_spark.operators.dedup import dedupe
    from universal_importer_duckdb_spark.operators.dedup_text import (
        spread_for_compute,
    )

    li = spread_for_compute(_t(spark, sf_dir, "lineitem"), *keys)
    kept, _ = dedupe(li, list(keys), resolution, LINEITEM_COLS)
    return kept.select(*LINEITEM_COLS)


def dedup_first_lineitem(spark, sf_dir):
    return _dedup_kept(spark, sf_dir, "first")


DEDUP_FIRST_SQL = f"""
SELECT {_LI_COLS_SQL} FROM (
  SELECT *, row_number() OVER (PARTITION BY l_partkey, l_suppkey ORDER BY {_LI_ORD_ASC}) AS rn FROM lineitem
) WHERE rn = 1
"""


def dedup_last_lineitem(spark, sf_dir):
    return _dedup_kept(spark, sf_dir, "last")


DEDUP_LAST_SQL = f"""
SELECT {_LI_COLS_SQL} FROM (
  SELECT *, row_number() OVER (PARTITION BY l_partkey, l_suppkey ORDER BY {_LI_ORD_DESC}) AS rn FROM lineitem
) WHERE rn = 1
"""


def dedup_exclude_all_lineitem(spark, sf_dir):
    return _dedup_kept(spark, sf_dir, "exclude_all")


DEDUP_EXCLUDE_SQL = f"""
SELECT {_LI_COLS_SQL} FROM (
  SELECT *, COUNT(*) OVER (PARTITION BY l_partkey, l_suppkey) AS c FROM lineitem
) WHERE c = 1
"""


def dedup_duplicates_lineitem(spark, sf_dir):
    return _dedup(spark, sf_dir, "first")[1]


DEDUP_DUPS_SQL = f"""
SELECT {_LI_COLS_SQL} FROM (
  SELECT *, row_number() OVER (PARTITION BY l_partkey, l_suppkey ORDER BY {_LI_ORD_ASC}) AS rn FROM lineitem
) WHERE rn > 1
"""


def dedup_cascade_lineitem(spark, sf_dir):
    from universal_importer_duckdb_spark.operators.dedup import dedupe_cascade_keep_only

    li = _t(spark, sf_dir, "lineitem")
    kept = dedupe_cascade_keep_only(
        li, [["l_partkey", "l_suppkey"], ["l_orderkey"]], "first", LINEITEM_COLS
    )
    return kept.select(*LINEITEM_COLS)


DEDUP_CASCADE_SQL = f"""
WITH k1 AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY l_partkey, l_suppkey ORDER BY {_LI_ORD_ASC}) AS rn FROM lineitem
  ) WHERE rn = 1
)
SELECT {_LI_COLS_SQL} FROM (
  SELECT *, row_number() OVER (PARTITION BY l_orderkey ORDER BY {_LI_ORD_ASC}) AS rn2 FROM k1
) WHERE rn2 = 1
"""


AGE_RULES = [{"field": "o_orderdate", "validation": "age_gte", "params": {"min_age": 28}}]


def rule_age_gte_skip_orders(spark, sf_dir):
    from universal_importer_duckdb_spark.operators.rules import execute_custom_validations

    orders = _t(spark, sf_dir, "orders")
    kept, _ = execute_custom_validations(orders, AGE_RULES, mode="skip", today=TODAY)
    return kept


AGE_SKIP_SQL = f"""
SELECT * FROM orders
WHERE NOT coalesce(date_part('year', age(DATE '{TODAY}', CAST(o_orderdate AS DATE))) < 28, FALSE)
"""


def rule_age_gte_invalid_orders(spark, sf_dir):
    from universal_importer_duckdb_spark.operators.rules import execute_custom_validations

    orders = _t(spark, sf_dir, "orders")
    _, issues = execute_custom_validations(orders, AGE_RULES, mode="skip", today=TODAY)
    return issues[0]["invalid"]


AGE_INVALID_SQL = f"""
SELECT * FROM orders
WHERE date_part('year', age(DATE '{TODAY}', CAST(o_orderdate AS DATE))) < 28
"""


def projection_alias_orders(spark, sf_dir):
    from universal_importer_duckdb_spark.operators.project import create_projections

    orders = _t(spark, sf_dir, "orders")
    projections = [
        {
            "name": "order_totals",
            "type": "view",
            "query": "SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders",
            "aliases": {"o_orderkey": "order_id"},
        }
    ]
    out = create_projections(spark, "orders", orders, projections, orders.columns)
    return out["order_totals"]


PROJECTION_SQL = "SELECT o_orderkey AS order_id, o_totalprice, o_orderpriority FROM orders"


LINEITEM_ENTITY_CONFIG = {
    "transformations_config": {
        "lineitem": {
            "source": "(in-memory)",
            "settings": {
                "duplicate_resolution": "first",
                "custom_validation_mode": "skip",
                "unique_composite": [["l_partkey", "l_suppkey"]],
            },
            "validations": {
                "schema": {
                    "fields": {
                        "l_orderkey": {"type": "int", "required": True},
                        "l_partkey": {"type": "int", "required": True},
                        "l_suppkey": {"type": "int", "required": True},
                        "l_linenumber": {"type": "int"},
                        "l_quantity": {"type": "float", "min": 2},
                        "l_extendedprice": {"type": "float"},
                        "l_discount": {"type": "float"},
                        "l_tax": {"type": "float"},
                        "l_returnflag": {"type": "str", "pattern": "^(A|N|R)$"},
                        "l_linestatus": {"type": "str"},
                        "l_shipdate": {"type": "str"},
                    }
                },
                "custom": {
                    "rules": [
                        {
                            "field": "l_shipdate",
                            "validation": "age_gte",
                            "params": {"min_age": 27},
                        }
                    ]
                },
            },
        }
    }
}


def _run_lineitem_pipeline(spark, sf_dir, compute_summary=True):
    from universal_importer_duckdb_spark.plans.pipeline import run_pipeline

    li = _t(spark, sf_dir, "lineitem")
    return run_pipeline(
        spark, LINEITEM_ENTITY_CONFIG, "lineitem", source_df=li, today=TODAY,
        order_cols=LINEITEM_COLS, compute_summary=compute_summary,
    )


def pipeline_flagship(spark, sf_dir):
    """The full reference pipeline in one lineage (SURVEY.md §7.1).
    compute_summary=False: the stage frame is the only output, so the
    whole pipeline is a single declarative plan — zero count actions."""
    return _run_lineitem_pipeline(spark, sf_dir, compute_summary=False).stage


PIPELINE_VALID_COND = """
  l_orderkey IS NOT NULL AND l_partkey IS NOT NULL AND l_suppkey IS NOT NULL
  AND NOT coalesce(l_quantity < 2, FALSE)
  AND NOT coalesce(NOT regexp_matches(l_returnflag, '^(A|N|R)$'), FALSE)
"""

PIPELINE_FLAGSHIP_SQL = f"""
WITH valid AS (SELECT * FROM lineitem WHERE {PIPELINE_VALID_COND}),
k1 AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY l_partkey, l_suppkey ORDER BY {_LI_ORD_ASC}) AS rn FROM valid
  ) WHERE rn = 1
)
SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey, CAST(l_partkey AS BIGINT) AS l_partkey,
       CAST(l_suppkey AS BIGINT) AS l_suppkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
       l_quantity, l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus,
       CAST(l_shipdate AS VARCHAR) AS l_shipdate
FROM k1
WHERE NOT coalesce(date_part('year', age(DATE '{TODAY}', CAST(l_shipdate AS DATE))) < 27, FALSE)
"""


def pipeline_summary_lineitem(spark, sf_dir):
    res = _run_lineitem_pipeline(spark, sf_dir)
    s = res.summary
    return spark.createDataFrame(
        [
            (
                s.total_records,
                s.schema_errors,
                s.duplicates_removed,
                s.custom_validation_errors,
                s.valid_records,
            )
        ],
        "total_records bigint, schema_errors bigint, duplicates_removed bigint, "
        "custom_errors bigint, final_records bigint",
    )


PIPELINE_SUMMARY_SQL = f"""
WITH src AS (SELECT * FROM lineitem),
valid AS (SELECT * FROM src WHERE {PIPELINE_VALID_COND}),
k1 AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY l_partkey, l_suppkey ORDER BY {_LI_ORD_ASC}) AS rn FROM valid
  ) WHERE rn = 1
),
fin AS (
  SELECT * FROM k1
  WHERE NOT coalesce(date_part('year', age(DATE '{TODAY}', CAST(l_shipdate AS DATE))) < 27, FALSE)
)
SELECT
  (SELECT COUNT(*) FROM src) AS total_records,
  (SELECT COUNT(*) FROM src) - (SELECT COUNT(*) FROM valid) AS schema_errors,
  (SELECT COUNT(*) FROM valid) - (SELECT COUNT(*) FROM k1) AS duplicates_removed,
  (SELECT COUNT(*) FROM k1 WHERE date_part('year', age(DATE '{TODAY}', CAST(l_shipdate AS DATE))) < 27) AS custom_errors,
  (SELECT COUNT(*) FROM fin) AS final_records
"""


# ======================================================================
# Events: time-series / sessionization / JSON (batch forms; streaming
# equivalents live in universal_importer_duckdb_spark.streaming)
# ======================================================================

_NS_PER_HOUR = 3_600_000_000_000
_NS_SESSION_GAP = 1_800_000_000_000  # 30 min


def events_tumbling_hourly(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")  # ts is bigint nanos (nanosAsLong)
    return (
        ev.groupBy(
            F.floor(F.col("ts") / F.lit(_NS_PER_HOUR)).cast("bigint").alias("bucket"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _msum(F.col("value").cast("decimal(15,2)"), "sum_value"),
        )
    )


TUMBLING_SQL = f"""
SELECT CAST(floor(epoch_ns(ts)/{_NS_PER_HOUR}) AS BIGINT) AS bucket, event_type,
  COUNT(*) AS n_events,
  CAST(round(SUM(value::DECIMAL(15,2)), 2) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
"""


def events_sessionization(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    starts = F.when(
        F.lag("ts").over(w).isNull()
        | ((F.col("ts") - F.lag("ts").over(w)) > F.lit(_NS_SESSION_GAP)),
        1,
    ).otherwise(0)
    return (
        ev.withColumn("is_start", starts)
        .groupBy("user_id")
        .agg(F.sum("is_start").alias("n_sessions"), F.count(F.lit(1)).alias("n_events"))
    )


SESSION_SQL = f"""
WITH x AS (
  SELECT user_id, epoch_ns(ts) AS tns,
         lag(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS prev
  FROM events)
SELECT user_id,
  CAST(SUM(CASE WHEN prev IS NULL OR tns - prev > {_NS_SESSION_GAP} THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
  COUNT(*) AS n_events
FROM x GROUP BY user_id
"""


def events_json_extract(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "event_type",
        F.get_json_object("props", "$.k").cast("bigint").alias("k_value"),
    )


JSON_SQL = """
SELECT event_id, event_type, CAST(props->>'$.k' AS BIGINT) AS k_value FROM events
"""


# ======================================================================
# Documents: text analysis + dedup (LLM-data-pipeline extensions)
# ======================================================================

def _tokens(col: str = "text"):
    return F.split(col, " ")


def docs_token_stats(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    toks = _tokens()
    return docs.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.length("text").cast("bigint").alias("n_chars_measured"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_unique_tokens"),
    )


TOKEN_STATS_SQL = """
SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
       CAST(length(text) AS BIGINT) AS n_chars_measured,
       len(list_distinct(string_split(text, ' '))) AS n_unique_tokens
FROM documents
"""


def docs_fingerprint_exact_dedup(spark, sf_dir):
    """Exact dedup by content fingerprint: keep min doc_id per md5."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.withColumn("fingerprint", F.md5(F.lower("text")))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("kept_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


FINGERPRINT_SQL = """
SELECT md5(lower(text)) AS fingerprint, MIN(doc_id) AS kept_doc_id, COUNT(*) AS n_copies
FROM documents GROUP BY 1
"""


def _shingles(col: str):
    return F.array_distinct(
        F.expr(f"transform(sequence(1, greatest(length({col})-2, 1)), i -> substring({col}, i, 3))")
    )


def docs_ngram_topk_similar(spark, sf_dir):
    """Character-3-gram Jaccard top-10 similar to doc 0 — brute-force
    set-similarity baseline for near-dup detection."""
    from universal_importer_duckdb_spark.operators.dedup_text import spread_for_compute

    docs = _t(spark, sf_dir, "documents")
    q = docs.filter(F.col("doc_id") == 0).select(_shingles("text").alias("qs"))
    return (
        spread_for_compute(docs.filter(F.col("doc_id") > 0), "doc_id")
        .crossJoin(F.broadcast(q))
        .select(
            "doc_id",
            (
                F.size(F.array_intersect(_shingles("text"), F.col("qs")))
                / F.size(F.array_union(_shingles("text"), F.col("qs")))
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), "doc_id")
        .limit(10)
    )


NGRAM_TOPK_SQL = """
WITH s AS (
  SELECT doc_id, list_distinct([substr(text, i, 3) for i in range(1, greatest(length(text)-2, 1)+1)]) AS sh
  FROM documents),
q AS (SELECT sh AS qs FROM s WHERE doc_id = 0)
SELECT doc_id, len(list_intersect(sh, qs)) / len(list_distinct(list_concat(sh, qs))) AS jaccard
FROM s, q WHERE doc_id > 0 ORDER BY jaccard DESC, doc_id LIMIT 10
"""


def docs_quality_scores(spark, sf_dir):
    """Heuristic quality signals: alpha/space ratios + mean token
    length. Char-class ratios via translate (value-identical to the
    oracle's regexp_replace; two regexes in one codegen method run
    interpreter-speed — see text_analysis.char_class_count)."""
    from universal_importer_duckdb_spark.operators.text_analysis import (
        char_class_count,
    )

    docs = _t(spark, sf_dir, "documents")
    toks = _tokens()
    return docs.select(
        "doc_id",
        (char_class_count("text", "abcdefghijklmnopqrstuvwxyz") / F.length("text")).alias("alpha_ratio"),
        (char_class_count("text", " ") / F.length("text")).alias("space_ratio"),
        (
            (F.length("text") - (F.size(toks) - F.lit(1))) / F.size(toks)
        ).alias("mean_token_len"),
    )


QUALITY_SQL = """
SELECT doc_id,
  length(regexp_replace(text, '[^a-z]', '', 'g')) / length(text) AS alpha_ratio,
  length(regexp_replace(text, '[^ ]', '', 'g')) / length(text) AS space_ratio,
  (length(text) - (len(string_split(text,' ')) - 1)) / len(string_split(text,' ')) AS mean_token_len
FROM documents
"""


_EN_MARKERS = ("the", "and", "of")
_NON_EN_MARKERS = ("el", "la", "le", "der", "und")


def _eq_lit(value):
    # single-arg lambda factory: a two-param lambda would make PySpark
    # pass the array index as the second argument
    return lambda w: w == F.lit(value)


def _marker_hits(markers):
    toks = _tokens()
    hits = None
    for m in markers:
        h = F.size(F.filter(toks, _eq_lit(m))).cast("bigint")
        hits = h if hits is None else hits + h
    return hits


def docs_language_id(spark, sf_dir):
    """Stopword-marker language heuristic (n-gram-free baseline).

    Counts markers CASE-SENSITIVELY on the raw token stream (the
    entry's certified semantics since r1). docs_corpus_card's
    n_pred_en uses the case-INSENSITIVE variant of this heuristic
    (one shared lowered-token pass, documented there), so the two
    entries can differ on docs with capitalized markers — reconcile
    against the card's definition, not row-for-row against this one.
    The trained upgrade is docs_langid_trigram_rank."""
    docs = _t(spark, sf_dir, "documents")
    en = _marker_hits(_EN_MARKERS)
    non = _marker_hits(_NON_EN_MARKERS)
    return docs.select(
        "doc_id",
        "lang",
        en.alias("en_hits"),
        non.alias("non_en_hits"),
        F.when(en > non, F.lit("en")).otherwise(F.lit("other")).alias("pred_lang"),
    )


def _sql_marker_hits(markers):
    parts = [f"len(list_filter(string_split(text,' '), w -> w = '{m}'))" for m in markers]
    return " + ".join(parts)


LANG_SQL = f"""
SELECT doc_id, lang,
  {_sql_marker_hits(_EN_MARKERS)} AS en_hits,
  {_sql_marker_hits(_NON_EN_MARKERS)} AS non_en_hits,
  CASE WHEN {_sql_marker_hits(_EN_MARKERS)} > {_sql_marker_hits(_NON_EN_MARKERS)}
       THEN 'en' ELSE 'other' END AS pred_lang
FROM documents
"""


# ======================================================================
# Embeddings: similarity search
# ======================================================================

# Exact-score oracles replay Spark's sequential left fold with
# DuckDB's list_reduce (identical association; 0.0 + x1 == x1), so
# every emitted double is bit-identical with NO rounding step. The
# previous DECIMAL(33,13)-cast idiom was dropped after the cast's
# round-half mode was observed to differ between engines on boundary
# values (see operators/similarity.py strategy note).
_SQL_DOT = (
    "list_reduce(list_apply(list_zip({a}, {b}), p -> p[1] * p[2]),"
    " (acc, x) -> acc + x)"
)
_SQL_N2 = "list_reduce(list_apply({a}, x -> x * x), (acc, x) -> acc + x)"


def emb_cosine_topk(spark, sf_dir):
    """Exact cosine top-10 vs the vec_id=0 query vector — the exact
    baseline for ANN. Two-phase: a JVM zip_with/aggregate double fold
    selects 4k candidates (no Arrow round-trip), then the
    order-defined exact fold re-ranks only those — bit-identical
    output to the one-phase exact scan (same oracle), with the
    re-rank cost cut from the corpus to 40 rows
    (see cosine_topk_two_phase)."""
    from universal_importer_duckdb_spark.operators.similarity import (
        cosine_topk_two_phase,
    )

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") > 0)
    return cosine_topk_two_phase(
        emb, _query_vec(spark, sf_dir), k=10, extra_cols=("label",)
    )


COSINE_TOPK_SQL = f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
s AS (SELECT vec_id, label,
        {_SQL_DOT.format(a="embedding::DOUBLE[]", b="qv")} AS dot,
        {_SQL_N2.format(a="embedding::DOUBLE[]")} AS n1,
        {_SQL_N2.format(a="qv")} AS n2
      FROM embeddings, q WHERE vec_id > 0)
SELECT vec_id, label, dot/(sqrt(n1)*sqrt(n2)) AS cosine
FROM s ORDER BY cosine DESC, vec_id LIMIT 10
"""


# ======================================================================
# Registry
# ======================================================================

# name -> (spark_fn, oracle_sql | None)
REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {
    "q1_pricing_summary": (q1_pricing_summary, Q1_SQL),
    "q3_top_unshipped": (q3_top_unshipped, Q3_SQL),
    "q5_revenue_by_nation": (q5_revenue_by_nation, Q5_SQL),
    "top_customers": (top_customers, TOP_CUSTOMERS_SQL),
    "rank_customers_by_segment": (rank_customers_by_segment, RANK_SQL),
    "distinct_segments": (distinct_segments, DISTINCT_SQL),
    "except_customers_without_orders": (except_customers_without_orders, EXCEPT_SQL),
    "intersect_multi_status_customers": (intersect_multi_status_customers, INTERSECT_SQL),
    "semi_join_open_order_customers": (semi_join_open_order_customers, SEMI_SQL),
    "anti_join_customers_no_orders": (anti_join_customers_no_orders, ANTI_SQL),
    "validate_customer_valid": (validate_customer_valid, VALIDATE_VALID_SQL),
    "validate_customer_errors": (validate_customer_errors, VALIDATE_ERRORS_SQL),
    "dedup_first_lineitem": (dedup_first_lineitem, DEDUP_FIRST_SQL),
    "dedup_last_lineitem": (dedup_last_lineitem, DEDUP_LAST_SQL),
    "dedup_exclude_all_lineitem": (dedup_exclude_all_lineitem, DEDUP_EXCLUDE_SQL),
    "dedup_duplicates_lineitem": (dedup_duplicates_lineitem, DEDUP_DUPS_SQL),
    "dedup_cascade_lineitem": (dedup_cascade_lineitem, DEDUP_CASCADE_SQL),
    "rule_age_gte_skip_orders": (rule_age_gte_skip_orders, AGE_SKIP_SQL),
    "rule_age_gte_invalid_orders": (rule_age_gte_invalid_orders, AGE_INVALID_SQL),
    "projection_alias_orders": (projection_alias_orders, PROJECTION_SQL),
    "pipeline_flagship": (pipeline_flagship, PIPELINE_FLAGSHIP_SQL),
    "pipeline_summary_lineitem": (pipeline_summary_lineitem, PIPELINE_SUMMARY_SQL),
    "events_tumbling_hourly": (events_tumbling_hourly, TUMBLING_SQL),
    "events_sessionization": (events_sessionization, SESSION_SQL),
    "events_json_extract": (events_json_extract, JSON_SQL),
    "docs_token_stats": (docs_token_stats, TOKEN_STATS_SQL),
    "docs_fingerprint_exact_dedup": (docs_fingerprint_exact_dedup, FINGERPRINT_SQL),
    "docs_ngram_topk_similar": (docs_ngram_topk_similar, NGRAM_TOPK_SQL),
    "docs_quality_scores": (docs_quality_scores, QUALITY_SQL),
    "docs_language_id": (docs_language_id, LANG_SQL),
    "emb_cosine_topk": (emb_cosine_topk, COSINE_TOPK_SQL),
}


# ======================================================================
# Extension operators: near-dup dedup, ANN, quality filtering,
# streaming (rows-only where the hash function is Spark-native)
# ======================================================================

def docs_quality_filter_ids(spark, sf_dir):
    from universal_importer_duckdb_spark.operators.text_analysis import quality_filter

    # NOT spread: the gate is filter-shaped, and Catalyst pushes
    # filters below Repartition, so a pre-spread buys nothing and
    # costs an exchange (measured r13). Scan parallelism for the
    # CPU-bound bound predicate comes from byte splitting instead —
    # session.py lowers openCostInBytes so multi-row-group files
    # split to the cores.
    docs = _t(spark, sf_dir, "documents")
    kept, _ = quality_filter(docs, min_tokens=10, min_alpha_ratio=0.5,
                             max_digit_ratio=0.3, min_unique_token_ratio=0.1)
    return kept.select("doc_id")


QUALITY_FILTER_SQL = """
WITH sig AS (
  SELECT doc_id,
    len(string_split(text, ' ')) AS n_tokens,
    length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) / length(text) AS alpha_ratio,
    length(regexp_replace(text, '[^0-9]', '', 'g')) / length(text) AS digit_ratio,
    len(list_distinct(string_split(text, ' '))) / len(string_split(text, ' ')) AS uniq_ratio
  FROM documents)
SELECT doc_id FROM sig
WHERE n_tokens >= 10 AND alpha_ratio >= 0.5 AND digit_ratio <= 0.3 AND uniq_ratio >= 0.1
"""


def docs_bpe_token_count(spark, sf_dir):
    from universal_importer_duckdb_spark.operators.text_analysis import bpe_ish_token_count

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", bpe_ish_token_count("text").alias("n_bpe_tokens"))


BPE_SQL = """
SELECT doc_id, CAST(list_sum(list_transform(string_split_regex(text, '[^a-zA-Z0-9]+'),
  w -> CASE WHEN length(w) = 0 THEN 0 ELSE 1 + CAST(floor(length(w)/4) AS BIGINT) END)) AS BIGINT) AS n_bpe_tokens
FROM documents
"""


EVENTS_COLS = ["event_id", "user_id", "event_type", "value", "props"]


def events_dedup_first_by_key(spark, sf_dir):
    """Batch analog of streaming dropDuplicates: earliest event per
    (user_id, event_type)."""
    from universal_importer_duckdb_spark.operators.dedup import dedupe

    ev = _t(spark, sf_dir, "events")
    kept, _ = dedupe(ev, ["user_id", "event_type"], "first", ["ts", "event_id"])
    # microseconds on both sides: DuckDB's parquet reader truncates
    # TIMESTAMP(NANOS) to µs resolution
    # integer DIV: a double division would lose precision at 1e18 ns
    return kept.select(*EVENTS_COLS, F.expr("ts DIV 1000").alias("ts_us"))


EVENTS_DEDUP_SQL = """
SELECT event_id, user_id, event_type, value, props, epoch_us(ts) AS ts_us FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
  FROM events
) WHERE rn = 1
"""


def docs_minhash_lsh_neardup(spark, sf_dir):
    """MinHash+LSH near-dup pairs: shingles hashed with md5_28
    (reproducible in DuckDB, unlike xxhash64) and band buckets keyed
    on raw signature component tuples, so the ENTIRE pipeline —
    shingle→hash→sample→32 permutations→8-band bucketing→bucket-size
    cap→σ-presift→exact-Jaccard verify — is replayed bit-for-bit by
    the SQL oracle below. This is the operator's only path."""
    from universal_importer_duckdb_spark.operators.dedup_text import minhash_lsh_pairs

    docs = _t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs, num_perm=32, bands=8, shingle_n=5,
                             jaccard_threshold=0.4, sample_mod=4)


def _minhash_lsh_sql(num_perm: int = 32, bands: int = 8, shingle_n: int = 5,
                     threshold: float = 0.4, sample_mod: int = 4,
                     max_bucket_size: int = 50,
                     src: str = "documents") -> str:
    """DuckDB replica of minhash_lsh_pairs: identical md5_28 shingle
    hashing, identical seeded permutation params, identical
    banding/cap/presift/verify arithmetic (the presift margin is the
    operator's own PRESIFT_SIGMA). ``src`` names the
    relation/CTE supplying (doc_id, text) — lets composed pipelines
    run the same replay on a filtered subset."""
    import math as _math

    from universal_importer_duckdb_spark.operators.dedup_text import (
        PRESIFT_SIGMA,
        _perm_params,
    )

    r = num_perm // bands
    params = _perm_params(num_perm)
    h28 = lambda s: f"('0x'||substr(md5({s}),1,7))::BIGINT"  # noqa: E731
    sig_terms = ",\n    ".join(
        f"list_min(list_transform(hs, h -> (({a}*h+{b})%2147483647)))"
        for (a, b) in params
    )
    band_selects = "\n  UNION ALL ".join(
        "SELECT doc_id, {b} AS band, {cs} FROM sigs".format(
            b=b,
            cs=", ".join(f"sig[{b * r + j + 1}] AS c{j}" for j in range(r)),
        )
        for b in range(bands)
    )
    ckey = ", ".join(["band"] + [f"c{j}" for j in range(r)])
    cutoff = threshold - PRESIFT_SIGMA * _math.sqrt(
        threshold * (1.0 - threshold) / num_perm
    )
    return f"""
WITH h AS (
  SELECT doc_id,
    list_transform(range(1, greatest(length(text)-{shingle_n - 1}, 1)+1),
                   i -> {h28(f"substr(text, i, {shingle_n})")}) AS hfull
  FROM {src}),
hs AS (
  SELECT doc_id, hfull,
    CASE WHEN len(list_filter(hfull, x -> x % {sample_mod} = 0)) > 0
         THEN list_filter(hfull, x -> x % {sample_mod} = 0) ELSE hfull END AS hs
  FROM h),
sigs AS (
  SELECT doc_id, [
    {sig_terms}
  ] AS sig FROM hs),
bands AS (
  {band_selects}),
grp AS (SELECT {ckey}, COUNT(*) AS cnt FROM bands GROUP BY {ckey}),
ok AS (SELECT {ckey} FROM grp WHERE cnt BETWEEN 2 AND {max_bucket_size}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b USING ({ckey}) JOIN ok USING ({ckey})
  WHERE a.doc_id < b.doc_id),
pres AS (
  SELECT id_a, id_b FROM cand
  JOIN sigs sa ON sa.doc_id = cand.id_a
  JOIN sigs sb ON sb.doc_id = cand.id_b
  WHERE len(list_filter(range(1, {num_perm + 1}), i -> sa.sig[i] = sb.sig[i]))
        / {float(num_perm)!r} >= {cutoff!r}),
shd AS (
  SELECT doc_id, list_distinct(hfull) AS s, len(list_distinct(hfull)) AS n
  FROM h),
ver AS (
  SELECT id_a, id_b, len(list_intersect(va.s, vb.s)) AS inter,
         va.n AS na, vb.n AS nb
  FROM pres JOIN shd va ON va.doc_id = id_a JOIN shd vb ON vb.doc_id = id_b)
SELECT id_a, id_b, inter/(na+nb-inter) AS jaccard
FROM ver WHERE inter/(na+nb-inter) >= {threshold!r}
"""


MINHASH_LSH_SQL = _minhash_lsh_sql()


def docs_corpus_prep(spark, sf_dir):
    """End-to-end training-corpus prep as ONE declarative lineage:
    quality-filter → exact dedup (min doc_id per normalized-content
    md5, map-side partial agg) → corpus-level token totals. The whole
    chain is a single Catalyst plan — narrow quality predicates fused
    into the scan, one shuffle for the dedup agg, one for the final
    global agg — demonstrating that pipeline *composition* adds no
    extra passes over the data."""
    from universal_importer_duckdb_spark.operators.text_analysis import quality_filter

    # NOT spread (r13): the gate pushes below Repartition so a
    # pre-spread only adds an exchange; byte splitting
    # (openCostInBytes, session.py) parallelizes the scan instead
    docs = _t(spark, sf_dir, "documents")
    kept, _ = quality_filter(docs, min_tokens=10, min_alpha_ratio=0.5,
                             max_digit_ratio=0.3, min_unique_token_ratio=0.1)
    deduped = (
        kept.withColumn("__fp", F.md5(F.lower("text")))
        .groupBy("__fp")
        .agg(F.min_by("text", "doc_id").alias("text"))
    )
    # token totals over ONE lambda-bound tokenize per surviving doc,
    # materialized before the aggregate: two sibling agg children
    # referencing split(text) re-split every document (outside
    # subexpression elimination — the r12 probe's re-tokenization
    # class; committed r13 queue item b). The struct column is
    # referenced twice, which blocks CollapseProject from inlining it
    # into the agg.
    from universal_importer_duckdb_spark.operators.text_analysis import _bind

    tsig = _bind(
        F.split(F.col("text"), " "),
        lambda t: F.struct(
            F.size(t).alias("nt"),
            F.size(F.array_distinct(t)).alias("nu"),
        ),
    )
    staged = deduped.select(F.length("text").alias("__nc"), tsig.alias("__t"))
    return staged.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__t.nt").cast("bigint").alias("total_tokens"),
        F.sum("__t.nu").cast("bigint").alias("total_unique_tokens"),
        F.sum("__nc").cast("bigint").alias("total_chars"),
    )


CORPUS_PREP_SQL = """
WITH sig AS (
  SELECT doc_id, text,
    len(string_split(text, ' ')) AS n_tokens,
    length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) / length(text) AS alpha_ratio,
    length(regexp_replace(text, '[^0-9]', '', 'g')) / length(text) AS digit_ratio,
    len(list_distinct(string_split(text, ' '))) / len(string_split(text, ' ')) AS uniq_ratio
  FROM documents),
q AS (
  SELECT doc_id, text FROM sig
  WHERE n_tokens >= 10 AND alpha_ratio >= 0.5 AND digit_ratio <= 0.3 AND uniq_ratio >= 0.1),
d AS (SELECT arg_min(text, doc_id) AS text FROM q GROUP BY md5(lower(text)))
SELECT COUNT(*) AS n_docs,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
       CAST(SUM(len(list_distinct(string_split(text, ' ')))) AS BIGINT) AS total_unique_tokens,
       CAST(SUM(length(text)) AS BIGINT) AS total_chars
FROM d
"""


def docs_simhash_neardup(spark, sf_dir):
    """SimHash near-dup pairs in portable mode (md5-half token hashes,
    fingerprint as two 32-bit ints) so the whole pipeline — token
    hash→64 bit votes→4×16-bit chunk banding→bucket cap→hamming
    verify — replays bit-for-bit in the SQL oracle. This portable
    fingerprint is the operator's only form."""
    from universal_importer_duckdb_spark.operators.dedup_text import (
        simhash_near_pairs_portable,
    )

    docs = _t(spark, sf_dir, "documents")
    return simhash_near_pairs_portable(docs, max_hamming=8)


def _simhash_fp_terms(arr: str) -> str:
    """SQL for one 32-bit SimHash half: majority bit votes over the
    hashed-token list ``arr`` (requires a token count column ``n``)."""
    return "\n     + ".join(
        f"(CASE WHEN 2*len(list_filter({arr}, h -> (h>>{b})&1 = 1)) > n"
        f" THEN {1 << b} ELSE 0 END)"
        for b in range(32)
    )


def _simhash_sql(max_hamming: int = 8, max_bucket_size: int = 200) -> str:
    """DuckDB replica of simhash_near_pairs_portable."""
    fp_terms = _simhash_fp_terms

    chunk_rows = "\n  UNION ALL ".join(
        f"SELECT doc_id, fp_lo, fp_hi, {c} AS chunk, ({src}>>{sh})&65535 AS bkey FROM fp"
        for c, (src, sh) in enumerate(
            [("fp_lo", 0), ("fp_lo", 16), ("fp_hi", 0), ("fp_hi", 16)]
        )
    )
    return f"""
WITH t AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS toks
           FROM documents),
hh AS (
  SELECT doc_id, len(toks) AS n,
    list_transform(toks, t -> ('0x'||substr(md5(t),1,8))::BIGINT) AS hi,
    list_transform(toks, t -> ('0x'||substr(md5(t),9,8))::BIGINT) AS lo
  FROM t),
fp AS (
  SELECT doc_id,
    {fp_terms("lo")} AS fp_lo,
    {fp_terms("hi")} AS fp_hi
  FROM hh),
chunks AS (
  {chunk_rows}),
grp AS (SELECT chunk, bkey, COUNT(*) AS cnt FROM chunks GROUP BY chunk, bkey),
ok AS (SELECT chunk, bkey FROM grp WHERE cnt BETWEEN 2 AND {max_bucket_size}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.fp_lo AS ala, a.fp_hi AS aha, b.fp_lo AS bla, b.fp_hi AS bha
  FROM chunks a JOIN chunks b USING (chunk, bkey) JOIN ok USING (chunk, bkey)
  WHERE a.doc_id < b.doc_id)
SELECT id_a, id_b, hamming FROM (
  SELECT id_a, id_b,
         bit_count(xor(ala, bla)) + bit_count(xor(aha, bha)) AS hamming
  FROM cand)
WHERE hamming <= {max_hamming}
"""


SIMHASH_SQL = _simhash_sql()


def docs_rolling_sketch(spark, sf_dir):
    """Winnowing sketch in portable form: md5 window hashes joined to
    one scalar string per doc — scalar columns only (array outputs
    crash the driver canonicalizer) and bit-reproducible in DuckDB."""
    from universal_importer_duckdb_spark.operators.text_analysis import content_fingerprints

    docs = _t(spark, sf_dir, "documents")
    return content_fingerprints(docs, portable=True)


# Mirrors rolling_fingerprint(window=8, k=4, hasher=md5): hash each
# 8-token rolling window, distinct+sort, keep the 4 smallest, join.
ROLLING_SKETCH_SQL = """
WITH t AS (
  SELECT doc_id, md5(lower(text)) AS md5_fingerprint,
         string_split(text, ' ') AS toks
  FROM documents),
w AS (
  SELECT doc_id, md5_fingerprint,
         list_transform(
           range(0, greatest(len(toks) - 8, 0) + 1),
           i -> md5(array_to_string(toks[i + 1 : i + 8], ' '))) AS hashes
  FROM t)
SELECT doc_id, md5_fingerprint,
       array_to_string(list_sort(list_distinct(hashes))[1:4], ',') AS rolling_sketch
FROM w
"""


_QUERY_VEC_MEMO: dict[tuple[int, str], list[float]] = {}


def _query_vec(spark, sf_dir):
    # memoized per (session, sf): the 1-row collect is bounded but
    # costs a full Spark job, and four registry queries need it
    key = (id(spark), sf_dir)
    qv = _QUERY_VEC_MEMO.get(key)
    if qv is None:
        emb = _t(spark, sf_dir, "embeddings")
        row = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0]
        qv = _QUERY_VEC_MEMO[key] = [float(x) for x in row.embedding]
    return qv


def emb_ann_lsh_topk(spark, sf_dir):
    """LSH-bucketed approximate nearest neighbours (the scale path for
    emb_cosine_topk). Oracle: the SAME seeded hyperplane bucketing is
    replayed in SQL (plane literals generated from the shared seed at
    import), so the driver verifies multi-probe candidate selection +
    exact DECIMAL re-rank end-to-end — the approximation is
    deterministic, not unauditable."""
    from universal_importer_duckdb_spark.operators.similarity import lsh_ann_topk

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") > 0)
    return lsh_ann_topk(emb, _query_vec(spark, sf_dir), k=10, n_planes=6,
                        max_probe_hamming=2)


def _emb_ann_lsh_sql(k: int = 10, n_planes: int = 6, max_probe_hamming: int = 2,
                     dim: int = 64, seed: int = 42) -> str:
    """DuckDB replica of lsh_ann_topk: identical seeded hyperplanes
    (embedded as literals), identical sign-bit signature, identical
    multi-probe hamming filter, identical order-defined cosine
    re-rank."""
    from universal_importer_duckdb_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(n_planes, dim, seed)

    def bits(vec_expr: str) -> str:
        return "\n     + ".join(
            f"(CASE WHEN list_inner_product({vec_expr}, [{', '.join(repr(x) for x in p)}]) > 0"
            f" THEN {1 << i} ELSE 0 END)"
            for i, p in enumerate(planes)
        )

    return f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qv, {bits("embedding::DOUBLE[]")} AS qsig
           FROM embeddings WHERE vec_id = 0),
v AS (SELECT vec_id, embedding::DOUBLE[] AS e, {bits("embedding::DOUBLE[]")} AS sig
      FROM embeddings WHERE vec_id > 0),
cand AS (SELECT vec_id, e, qv FROM v, q
         WHERE bit_count(xor(sig::BIGINT, qsig::BIGINT)) <= {max_probe_hamming}),
s AS (SELECT vec_id,
        {_SQL_DOT.format(a="e", b="qv")} AS dot,
        {_SQL_N2.format(a="e")} AS n1,
        {_SQL_N2.format(a="qv")} AS n2
      FROM cand)
SELECT vec_id, dot/(sqrt(n1)*sqrt(n2)) AS cosine
FROM s ORDER BY cosine DESC, vec_id LIMIT {k}
"""


EMB_ANN_LSH_SQL = _emb_ann_lsh_sql()


def emb_near_dup_pairs(spark, sf_dir):
    """LSH-bucketed near-duplicate embedding pairs. threshold=0.4 /
    n_planes=6 are tuned so the synthetic random-embedding tables
    yield non-empty results at every SF (max pairwise cosine is only
    ~0.5). The oracle replays the SAME seeded hyperplane bucketing in
    SQL (plane literals are generated from the shared seed at import),
    so the driver verifies bucketing + exact-cosine verify end-to-end
    rather than a vacuous empty set."""
    from universal_importer_duckdb_spark.operators.similarity import embedding_near_pairs

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_near_pairs(emb, cosine_threshold=0.4, n_planes=6)


def _emb_near_dup_sql(threshold: float = 0.4, n_planes: int = 6, dim: int = 64,
                      seed: int = 42) -> str:
    """DuckDB replica of embedding_near_pairs: identical seeded
    hyperplanes (embedded as literals), identical sign-bit bucket key,
    identical order-defined cosine folding."""
    from universal_importer_duckdb_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(n_planes, dim, seed)
    bits = "\n     + ".join(
        f"(CASE WHEN list_inner_product(e, [{', '.join(repr(x) for x in p)}]) > 0"
        f" THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    return f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
b AS (SELECT vec_id, e, {bits} AS bucket FROM v),
p AS (SELECT a.vec_id AS id_a, c.vec_id AS id_b, a.e AS ea, c.e AS eb
      FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id),
s AS (SELECT id_a, id_b,
        {_SQL_DOT.format(a="ea", b="eb")} AS dot,
        {_SQL_N2.format(a="ea")} AS na,
        {_SQL_N2.format(a="eb")} AS nb
      FROM p)
SELECT id_a, id_b, dot/(sqrt(na)*sqrt(nb)) AS cosine
FROM s WHERE dot/(sqrt(na)*sqrt(nb)) >= {threshold}
"""


EMB_NEAR_DUP_SQL = _emb_near_dup_sql()


def emb_bucket_audit(spark, sf_dir):
    """Corpus-level accounting for the LSH bucket-size cap
    (operators/similarity.py::lsh_bucket_audit — the r12 verdict's
    "no silent caps" prescription): one row reporting how many
    buckets/rows/candidate pairs a cap of 10 would drop under the
    same seeded 6-plane bucketing the near-dup and hard-negative
    miners use. Cap 10 (vs the miners' 500) so the drop arithmetic is
    non-trivially exercised at every SF — at sf0.01 it drops 15 of 64
    buckets; the production pre-flight runs it with the mining cap."""
    from universal_importer_duckdb_spark.operators.similarity import (
        lsh_bucket_audit,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return lsh_bucket_audit(emb, n_planes=6, max_bucket_size=10)


def _emb_bucket_audit_sql(n_planes: int = 6, dim: int = 64, seed: int = 42,
                          max_bucket_size: int = 10) -> str:
    """DuckDB replica of lsh_bucket_audit: identical seeded plane
    literals, identical bucket key, identical drop arithmetic
    (integer n*(n-1) // 2 — exact past 2^53)."""
    from universal_importer_duckdb_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(n_planes, dim, seed)
    bits = "\n     + ".join(
        f"(CASE WHEN list_inner_product(e, [{', '.join(repr(x) for x in p)}]) > 0"
        f" THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    c = max_bucket_size
    return f"""
WITH v AS (SELECT embedding::DOUBLE[] AS e FROM embeddings),
b AS (SELECT {bits} AS bucket FROM v),
g AS (SELECT bucket, COUNT(*) AS n FROM b GROUP BY bucket)
SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(SUM(n) AS BIGINT) AS n_rows,
       CAST(MAX(n) AS BIGINT) AS max_bucket,
       CAST(SUM(CASE WHEN n > {c} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dropped_buckets,
       CAST(SUM(CASE WHEN n > {c} THEN n ELSE 0 END) AS BIGINT)
         AS n_dropped_rows,
       CAST(SUM(CASE WHEN n > {c} THEN n*(n-1) ELSE 0 END) AS BIGINT) // 2
         AS n_dropped_candidate_pairs
FROM g
"""


EMB_BUCKET_AUDIT_SQL = _emb_bucket_audit_sql()


def emb_quantize_int8(spark, sf_dir):
    """Symmetric int8 vector quantization audit — the storage format
    the 100 TB ANN path actually serves from (4x smaller than
    float32, SIMD-friendly dot products). Per vector: the scale
    (max|x|/127), the worst reconstruction error, and the count of
    zeroed components. Every output is order-independent (max, count)
    or a single deterministic double expression, so the audit
    hash-checks cross-engine — certifying the quantizer before
    anything is written in it. Pure higher-order array expressions; a
    narrow map over the scan."""
    emb = _t(spark, sf_dir, "embeddings")
    vd = F.col("embedding").cast("array<double>")
    emb = emb.select(
        "vec_id",
        vd.alias("__v"),
        # floor at 1e-30 so an all-zero vector quantizes to zeros
        # instead of dividing by zero (ANSI error here, engine-
        # dependent NaN/error in the oracle)
        (
            F.greatest(
                F.array_max(F.transform(vd, lambda x: F.abs(x))),
                F.lit(1e-30),
            )
            / F.lit(127.0)
        ).alias("scale"),
    )
    q = F.transform(
        F.col("__v"), lambda x: F.round(x / F.col("scale")).cast("bigint")
    )
    err = F.zip_with(
        F.col("__v"), q, lambda x, qq: F.abs(x - qq * F.col("scale"))
    )
    return emb.select(
        "vec_id",
        "scale",
        F.array_max(err).alias("max_abs_err"),
        F.size(F.filter(q, lambda v: v == 0)).cast("bigint").alias("n_zero"),
    )


QUANTIZE_INT8_SQL = """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
s AS (SELECT vec_id, e,
             greatest(list_max(list_transform(e, x -> abs(x))), 1e-30)
               / 127.0 AS scale
      FROM v),
q AS (SELECT vec_id, e, scale,
             list_transform(e, x -> CAST(round(x / scale) AS BIGINT)) AS qv
      FROM s)
SELECT vec_id, scale,
       list_max(list_transform(list_zip(e, qv),
                p -> abs(p[1] - p[2] * scale))) AS max_abs_err,
       CAST(len(list_filter(qv, x -> x = 0)) AS BIGINT) AS n_zero
FROM q
"""


def emb_hard_negatives(spark, sf_dir):
    """Hard-negative mining (operators/similarity.py::
    hard_negative_pairs): top-20 different-label pairs by exact cosine
    among seeded-LSH bucket candidates — contrastive training's most
    informative pairs, mined with approximate candidate generation +
    exact scoring. cosine_floor=0.3 is tuned to the synthetic
    near-random embeddings (max cross-label cosine ~0.51)."""
    from universal_importer_duckdb_spark.operators.similarity import (
        hard_negative_pairs,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return hard_negative_pairs(
        emb, cosine_floor=0.3, k=20, n_planes=6
    )


def _emb_hard_negatives_sql(floor: float = 0.3, k: int = 20,
                            n_planes: int = 6, dim: int = 64,
                            seed: int = 42) -> str:
    from universal_importer_duckdb_spark.operators.similarity import (
        _hyperplanes,
    )

    planes = _hyperplanes(n_planes, dim, seed)
    bits = "\n     + ".join(
        f"(CASE WHEN list_inner_product(e, [{', '.join(repr(x) for x in p)}]) > 0"
        f" THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    return f"""
WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
b0 AS (SELECT vec_id, label, e, {bits} AS bucket FROM v),
b AS (SELECT vec_id, label, e, bucket FROM (
        SELECT *, COUNT(*) OVER (PARTITION BY bucket) AS bn FROM b0)
      WHERE bn <= 500),
p AS (SELECT a.vec_id AS id_a, c.vec_id AS id_b,
             a.label AS label_a, c.label AS label_b, a.e AS ea, c.e AS eb
      FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
      WHERE a.label <> c.label),
s AS (SELECT id_a, id_b, label_a, label_b,
        {_SQL_DOT.format(a="ea", b="eb")} AS dot,
        {_SQL_N2.format(a="ea")} AS na,
        {_SQL_N2.format(a="eb")} AS nb
      FROM p)
SELECT id_a, id_b, label_a, label_b, dot/(sqrt(na)*sqrt(nb)) AS cosine
FROM s WHERE dot/(sqrt(na)*sqrt(nb)) >= {floor}
ORDER BY cosine DESC, id_a, id_b LIMIT {k}
"""


EMB_HARD_NEGATIVES_SQL = _emb_hard_negatives_sql()


_STREAM_COUNTER = [0]


def stream_tumbling_hourly(spark, sf_dir):
    """Structured Streaming tumbling-window counts drained with an
    availableNow trigger. The drain is a complete deterministic pass
    over the source, so the batch-SQL oracle applies: window starts
    are epoch-aligned hour floors of the µs event time."""
    from universal_importer_duckdb_spark.streaming import events as se

    _STREAM_COUNTER[0] += 1
    stream = se.stream_events(spark, sf_dir)
    out = se.run_available_now(
        se.tumbling_counts(stream), f"q_stream_tumbling_{_STREAM_COUNTER[0]}",
        output_mode="complete",
    )
    # Post-drain batch projection: timestamps → epoch µs (scalar,
    # engine-portable; see parity rules in the module docstring).
    return out.select(
        F.unix_micros("window_start").alias("window_start_us"),
        F.unix_micros("window_end").alias("window_end_us"),
        "event_type",
        "n_events",
        "sum_value",
    )


STREAM_TUMBLING_SQL = """
WITH e AS (
  SELECT epoch_ns(ts) // 1000 AS us, event_type, value FROM events)
SELECT (us // 3600000000) * 3600000000 AS window_start_us,
       (us // 3600000000) * 3600000000 + 3600000000 AS window_end_us,
       event_type, COUNT(*) AS n_events,
       CAST(round(SUM(value::DECIMAL(15,2)), 2) AS DOUBLE) AS sum_value
FROM e GROUP BY 1, 2, 3
"""


def stream_dedup_within_watermark(spark, sf_dir):
    """Streaming first-wins dedup on event_id. event_id is unique in
    the synthetic events table, so the drained result equals the full
    (non-null) event set — which is exactly what makes the batch
    oracle expressible while still exercising the streaming state
    path."""
    from universal_importer_duckdb_spark.streaming import events as se

    _STREAM_COUNTER[0] += 1
    stream = se.stream_events(spark, sf_dir)
    out = se.run_available_now(
        se.dedup_within_watermark(stream), f"q_stream_dedup_{_STREAM_COUNTER[0]}"
    )
    return out.select(
        "event_id",
        F.unix_micros("event_time").alias("us"),
        "user_id",
        "event_type",
        "value",
        "props",
    )


STREAM_DEDUP_SQL = """
SELECT event_id, epoch_ns(ts) // 1000 AS us, user_id, event_type, value, props
FROM events WHERE event_id IS NOT NULL
"""


def stream_enriched_segment_counts(spark, sf_dir):
    """Stream-static dimension join drained with availableNow: events
    enriched with the broadcast customer segment, tumbling hourly
    counts per segment. The drain is a complete deterministic pass, so
    the batch join+group SQL is the oracle (same epoch-µs projection
    rules as stream_tumbling_hourly)."""
    from universal_importer_duckdb_spark.streaming import events as se

    _STREAM_COUNTER[0] += 1
    stream = se.stream_events(spark, sf_dir)
    customers = _t(spark, sf_dir, "customer")
    out = se.run_available_now(
        se.enriched_segment_counts(stream, customers),
        f"q_stream_enriched_{_STREAM_COUNTER[0]}",
        output_mode="complete",
    )
    return out.select(
        F.unix_micros("window_start").alias("window_start_us"),
        "c_mktsegment",
        "n_events",
    )


STREAM_ENRICHED_SQL = """
WITH e AS (
  SELECT epoch_ns(ts) // 1000 AS us, user_id FROM events
  WHERE event_id IS NOT NULL)
SELECT (us // 3600000000) * 3600000000 AS window_start_us,
       c.c_mktsegment, COUNT(*) AS n_events
FROM e LEFT JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2
"""


def stream_simhash_neardup_dedup(spark, sf_dir):
    """Streaming near-dup dedup: SimHash fingerprint columns on the
    event stream, first-wins within the watermark per fingerprint
    (streaming/events.simhash_neardup_dedup). Which row wins a
    fingerprint within one microbatch is partition-order dependent, so
    the drained result projects to the SURVIVING KEY SPACE — exactly
    one row per distinct fingerprint seen — which is deterministic and
    lets the oracle replay the fingerprint math bit-for-bit over the
    same rows in SQL (same md5-halves majority-vote machinery as
    docs_simhash_neardup)."""
    from universal_importer_duckdb_spark.streaming import events as se

    _STREAM_COUNTER[0] += 1
    stream = se.stream_events(spark, sf_dir)
    out = se.run_available_now(
        se.simhash_neardup_dedup(stream),
        f"q_stream_simhash_{_STREAM_COUNTER[0]}",
    )
    return out.select("fp_lo", "fp_hi").distinct()


STREAM_SIMHASH_DEDUP_SQL = f"""
WITH t AS (
  SELECT string_split(coalesce(props, ''), ' ') AS toks
  FROM events WHERE event_id IS NOT NULL),
hh AS (
  SELECT len(toks) AS n,
    list_transform(toks, t -> ('0x'||substr(md5(t),1,8))::BIGINT) AS hi,
    list_transform(toks, t -> ('0x'||substr(md5(t),9,8))::BIGINT) AS lo
  FROM t)
SELECT DISTINCT
  {_simhash_fp_terms("lo")} AS fp_lo,
  {_simhash_fp_terms("hi")} AS fp_hi
FROM hh
"""


def multimodal_image_features(spark, sf_dir):
    """Multimodal image path end-to-end with REAL decoding: synthesize
    a valid PNG per document (dims and a per-row gray gradient derived
    from doc_id; Up-filtered scanlines, so decode must actually
    unfilter), wrap in the canonical media struct, then Arrow-batched
    mapInPandas decode (signature+IHDR parse, zlib inflate, unfilter,
    exact pixel sum). The oracle recomputes width/height/luma from the
    same doc_id arithmetic — any decoder drift (wrong dims, bad
    unfilter, off-by-one scanline) breaks the hash match."""
    from universal_importer_duckdb_spark.operators.multimodal import (
        attach_media_column,
        encode_png_gray,
        extract_image_features,
    )

    @F.pandas_udf("binary")
    def synth_png(ids: pd.Series) -> pd.Series:
        out = []
        for doc_id in ids:
            w = 8 + int(doc_id) % 32
            h = 8 + (int(doc_id) // 32) % 32
            rows = [[(int(doc_id) + r) % 256] * w for r in range(h)]
            out.append(encode_png_gray(w, h, rows))
        return pd.Series(out)

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    media = attach_media_column(
        docs.withColumn("payload", synth_png("doc_id")),
        "payload", "image/png", "doc_id",
    )
    return extract_image_features(media)


def multimodal_video_features(spark, sf_dir):
    """Multimodal VIDEO path end-to-end with REAL decoding of the
    public uncompressed YUV4MPEG2 container (what `ffmpeg -f
    yuv4mpegpipe` emits): synthesize a mono Y4M stream per document
    (dims/frame-count/per-frame luma gradient derived from doc_id),
    then mapInPandas header parse + FRAME walk with every-2nd-frame
    sampling (skipped frames are seeked over, not decoded). The oracle
    recomputes the sampled-frame luma from the same arithmetic —
    header drift, frame-stride drift, or wrong sampling all break the
    hash. Compressed codecs remain a documented NotImplementedError
    (PyAV swap-point)."""
    from universal_importer_duckdb_spark.operators.multimodal import (
        attach_media_column,
        encode_y4m_mono,
        extract_video_features,
    )

    @F.pandas_udf("binary")
    def synth_y4m(ids: pd.Series) -> pd.Series:
        out = []
        for doc_id in ids:
            i = int(doc_id)
            w = 4 + i % 8
            h = 3 + i % 5
            n_frames = 1 + i % 6
            frames = [
                bytes(((i * 7 + f * 13 + p) % 256) for p in range(w * h))
                for f in range(n_frames)
            ]
            out.append(encode_y4m_mono(w, h, frames))
        return pd.Series(out)

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    media = attach_media_column(
        docs.withColumn("payload", synth_y4m("doc_id")),
        "payload", "video/y4m", "doc_id",
    )
    return extract_video_features(media, sample_every=2)


MULTIMODAL_VIDEO_SQL = """
WITH d AS (
  SELECT doc_id, 4 + doc_id % 8 AS width, 3 + doc_id % 5 AS height,
         1 + doc_id % 6 AS n_frames
  FROM documents WHERE doc_id < 200),
fr AS (
  SELECT doc_id, width, height, n_frames, unnest(range(0, n_frames)) AS f
  FROM d),
sampled AS (SELECT * FROM fr WHERE f % 2 = 0),
px AS (
  SELECT doc_id, width, height, n_frames, f,
         unnest(range(0, width * height)) AS p
  FROM sampled),
s AS (
  SELECT doc_id, width, height, n_frames,
         COUNT(DISTINCT f) AS n_sampled,
         CAST(SUM((doc_id * 7 + f * 13 + p) % 256) AS BIGINT) AS luma_sum
  FROM px GROUP BY doc_id, width, height, n_frames)
SELECT doc_id AS item_id, 'video/y4m' AS media_type, width, height,
       CAST(n_frames AS BIGINT) AS n_frames,
       CAST(n_sampled AS BIGINT) AS n_sampled, luma_sum,
       luma_sum / (width * height * n_sampled * 255) AS mean_luma
FROM s
"""


MULTIMODAL_IMAGE_SQL = """
WITH d AS (
  SELECT doc_id, 8 + doc_id % 32 AS width, 8 + (doc_id // 32) % 32 AS height
  FROM documents WHERE doc_id < 200),
r AS (SELECT doc_id, width, height, unnest(range(0, height)) AS rr FROM d),
s AS (SELECT doc_id, width, height,
             CAST(SUM(((doc_id + rr) % 256) * width) AS BIGINT) AS luma_sum
      FROM r GROUP BY doc_id, width, height)
SELECT doc_id AS item_id, 'image/png' AS media_type, width, height, luma_sum,
       luma_sum / (width * height * 255) AS mean_luma
FROM s
"""


def multimodal_audio_features(spark, sf_dir):
    """Multimodal audio path end-to-end with REAL decoding: synthesize
    a valid PCM16 WAV per document (rate/length/amplitude derived from
    doc_id), then mapInPandas RIFF-chunk decode with an exact integer
    sum of squares for RMS. Constant amplitude A makes rms == A as an
    exact double in both engines (A² and its mean are integers below
    2^53, and IEEE sqrt is correctly rounded)."""
    from universal_importer_duckdb_spark.operators.multimodal import (
        attach_media_column,
        encode_wav_pcm16,
        extract_audio_features,
    )

    @F.pandas_udf("binary")
    def synth_wav(ids: pd.Series) -> pd.Series:
        out = []
        for doc_id in ids:
            i = int(doc_id)
            rate = 8000 * (1 + i % 4)
            n = 64 + i % 128
            amp = 100 + (i % 500) * 50
            out.append(encode_wav_pcm16(rate, 1, [amp] * n))
        return pd.Series(out)

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    media = attach_media_column(
        docs.withColumn("payload", synth_wav("doc_id")),
        "payload", "audio/wav", "doc_id",
    )
    return extract_audio_features(media)


MULTIMODAL_AUDIO_SQL = """
WITH d AS (
  SELECT doc_id, 8000 * (1 + doc_id % 4) AS sample_rate,
         64 + doc_id % 128 AS n, 100 + (doc_id % 500) * 50 AS a
  FROM documents WHERE doc_id < 200)
SELECT doc_id AS item_id, 'audio/wav' AS media_type, sample_rate,
       1 AS n_channels, CAST(n AS BIGINT) AS n_samples,
       n / sample_rate AS duration_s, sqrt((a * a * n) / n) AS rms
FROM d
"""


def stream_sliding_halfhour(spark, sf_dir):
    """Overlapping sliding windows (1h window / 30m slide) over the
    event stream. Each event lands in exactly two windows (starts at
    floor(us/30m) and floor(us/30m)-1 slides) — the oracle unnests
    that pair."""
    from universal_importer_duckdb_spark.streaming import events as se

    _STREAM_COUNTER[0] += 1
    stream = se.stream_events(spark, sf_dir)
    out = se.run_available_now(
        se.sliding_counts(stream), f"q_stream_sliding_{_STREAM_COUNTER[0]}",
        output_mode="complete",
    )
    return out.select(
        F.unix_micros("window_start").alias("window_start_us"),
        "event_type",
        "n_events",
    )


STREAM_SLIDING_SQL = """
WITH e AS (
  SELECT (epoch_ns(ts) // 1000) // 1800000000 AS s0, event_type FROM events),
u AS (
  SELECT unnest([s0, s0 - 1]) AS s, event_type FROM e)
SELECT s * 1800000000 AS window_start_us, event_type, COUNT(*) AS n_events
FROM u GROUP BY s, event_type
"""


def stream_session_windows(spark, sf_dir):
    """Gap-based session_window aggregation per user — the streaming
    analog of events_sessionization. Spark session semantics: a
    session's end is last_event + gap, and an event at >= the current
    end starts a new session; the oracle replays that islands logic
    with window functions."""
    from universal_importer_duckdb_spark.streaming import events as se

    _STREAM_COUNTER[0] += 1
    stream = se.stream_events(spark, sf_dir)
    out = se.run_available_now(
        se.session_counts(stream), f"q_stream_session_{_STREAM_COUNTER[0]}",
        output_mode="complete",
    )
    return out.select(
        F.unix_micros("session_start").alias("session_start_us"),
        F.unix_micros("session_end").alias("session_end_us"),
        "user_id",
        "n_events",
    )


STREAM_SESSION_SQL = """
WITH e AS (
  SELECT user_id, epoch_ns(ts) // 1000 AS us FROM events),
m AS (
  SELECT user_id, us,
         CASE WHEN lag(us) OVER w IS NULL
                OR us - lag(us) OVER w >= 1800000000 THEN 1 ELSE 0 END AS new_s
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
g AS (
  SELECT user_id, us,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY us
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM m)
SELECT MIN(us) AS session_start_us,
       MAX(us) + 1800000000 AS session_end_us,
       user_id, COUNT(*) AS n_events
FROM g GROUP BY user_id, sid
"""


def stream_click_purchase_join(spark, sf_dir):
    """Watermarked stream-stream interval join (click→purchase
    attribution). The availableNow drain processes the single source
    file in one micro-batch, so the inner join emits the complete
    batch-equivalent result — which is why this streaming query CAN
    carry a SQL oracle."""
    from universal_importer_duckdb_spark.streaming import events as se

    _STREAM_COUNTER[0] += 1
    stream = se.stream_events(spark, sf_dir)
    return se.run_available_now(
        se.click_purchase_join(stream), f"q_stream_cpjoin_{_STREAM_COUNTER[0]}"
    )


STREAM_CP_JOIN_SQL = """
SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
       p.value AS purchase_value,
       epoch_us(c.ts) AS click_us, epoch_us(p.ts) AS purchase_us
FROM events c
JOIN events p ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
"""


def emb_ivf_topk(spark, sf_dir):
    """IVF approximate nearest neighbours: integer-k-means lists +
    probe-list pruning + exact re-rank (clustered-index alternative to
    emb_ann_lsh_topk). r8: training is the deterministic scaled-integer
    Lloyd's (operators/int_kmeans.py), so the whole path — sample,
    centroids, assignment, probe, order-defined cosine re-rank — is
    replayed by the SQL oracle (similarity.ivf_topk_sql) and the old
    rows-only exemption is retired. Still self-auditing: each row
    carries ``in_exact_topk`` (membership in the exact top-10 computed
    in the same job) and ``recall_at_k`` (their sum / k). On these
    synthetic i.i.d.-gaussian embeddings the true top-k is spread
    uniformly over lists, so recall ≈ nprobe/n_list by construction —
    the deterministic value is pinned in tests/test_extensions.py."""
    from universal_importer_duckdb_spark.operators.similarity import (
        cosine_topk_two_phase,
        ivf_topk,
    )

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") > 0)
    qv = _query_vec(spark, sf_dir)
    approx = ivf_topk(emb, qv, k=10, n_list=16, nprobe=4)
    exact_ids = cosine_topk_two_phase(emb, qv, k=10).select("vec_id")
    flagged = approx.join(
        F.broadcast(exact_ids.withColumn("__hit", F.lit(1))), "vec_id", "left"
    ).select(
        "vec_id", "cosine", F.coalesce("__hit", F.lit(0)).alias("in_exact_topk")
    )
    w = Window.partitionBy()
    return flagged.withColumn(
        "recall_at_k", (F.sum("in_exact_topk").over(w) / F.lit(10.0))
    )


def _ivf_topk_oracle():
    from universal_importer_duckdb_spark.operators.similarity import (
        ivf_topk_sql,
    )

    return ivf_topk_sql(
        k=10, n_list=16, nprobe=4, dim=64,
        sql_dot=_SQL_DOT, sql_n2=_SQL_N2,
    )


def stream_running_user_stats(spark, sf_dir):
    """Custom stateful operator (applyInPandasWithState): running
    per-user totals across micro-batches — per-key mutable state
    beyond built-in windows. In update mode the memory sink appends a
    row per (user, batch); max_by(n_events) keeps each user's final
    totals regardless of how many micro-batches availableNow split
    the source into, so the batch GROUP BY oracle applies."""
    from universal_importer_duckdb_spark.streaming import events as se
    from universal_importer_duckdb_spark.streaming.stateful import running_user_stats

    _STREAM_COUNTER[0] += 1
    stream = se.stream_events(spark, sf_dir)
    out = se.run_available_now(
        running_user_stats(stream), f"q_stream_stateful_{_STREAM_COUNTER[0]}",
        output_mode="update",
    )
    return out.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max_by("total_value", "n_events").alias("total_value"),
    )


STREAM_STATEFUL_SQL = """
SELECT user_id, COUNT(*) AS n_events,
       CAST(round(SUM(value::DECIMAL(15,2)), 2) AS DOUBLE) AS total_value
FROM events GROUP BY user_id
"""


def portable_neardup_clusters(spark, sf_dir):
    """THE canonical document near-dup clustering frame
    ``(doc_id, cluster_id, is_kept)`` — the one pairs→closure pipeline
    (portable MinHash params matching MINHASH_LSH_SQL) that every
    cluster-consuming entry shares (docs_neardup_clusters,
    docs_cluster_aware_split, docs_softdedup_weights), so a parameter
    or closure change edits one function and one SQL constant."""
    from universal_importer_duckdb_spark.operators.dedup_text import (
        minhash_lsh_pairs,
        neardup_clusters,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, num_perm=32, bands=8, shingle_n=5,
                              jaccard_threshold=0.4, sample_mod=4)
    return neardup_clusters(pairs, docs.select("doc_id"))


def docs_neardup_clusters(spark, sf_dir):
    """Near-dup PAIRS resolved into CLUSTERS (connected components by
    min-label propagation) — the step that makes pairwise similarity
    an actual dedup decision: keep exactly one doc per component.
    Iterative (BSP rounds to the fixed point), but the fixed point
    itself — min reachable doc_id — is declarative, so the oracle
    replays it exactly with a recursive-CTE closure over the same
    portable-minhash pair list."""
    return portable_neardup_clusters(spark, sf_dir)


NEARDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE
p AS (SELECT id_a, id_b FROM ({MINHASH_LSH_SQL}) mh),
e AS (SELECT id_a AS s, id_b AS d FROM p UNION SELECT id_b, id_a FROM p),
reach(n, m) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.n, e.d FROM reach r JOIN e ON e.s = r.m
)
SELECT n AS doc_id, MIN(m) AS cluster_id, MIN(m) = n AS is_kept
FROM reach GROUP BY n
"""


def emb_semdedup_clusters(spark, sf_dir):
    """SemDeDup-style semantic dedup decision over EMBEDDINGS: LSH-
    bucketed near-duplicate pairs (cosine >= 0.4, seeded hyperplanes)
    resolved into connected components, keeping one representative
    (min vec_id) per semantic cluster. The same pairs->clusters
    machinery as docs_neardup_clusters, driven by vector similarity
    instead of lexical MinHash — the dedup family that catches
    paraphrases exact/lexical dedup misses. The oracle replays the
    seeded bucketing + DECIMAL cosine verify, then the min-label
    fixed point as a recursive-CTE closure."""
    from universal_importer_duckdb_spark.operators.dedup_text import (
        neardup_clusters,
    )
    from universal_importer_duckdb_spark.operators.similarity import (
        embedding_near_pairs,
    )

    emb = _t(spark, sf_dir, "embeddings")
    pairs = embedding_near_pairs(
        emb, cosine_threshold=0.4, n_planes=6
    ).select("id_a", "id_b")
    return neardup_clusters(pairs, emb.select("vec_id"), id_col="vec_id")


EMB_SEMDEDUP_SQL = f"""
WITH RECURSIVE
p AS (SELECT id_a, id_b FROM ({EMB_NEAR_DUP_SQL}) np),
e AS (SELECT id_a AS s, id_b AS d FROM p UNION SELECT id_b, id_a FROM p),
reach(n, m) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT r.n, e.d FROM reach r JOIN e ON e.s = r.m
)
SELECT n AS vec_id, MIN(m) AS cluster_id, MIN(m) = n AS is_kept
FROM reach GROUP BY n
"""


def docs_vocab_topk(spark, sf_dir):
    """Corpus vocabulary: top-20 tokens by frequency (tokenizer
    vocabulary-building primitive; k below the corpus vocabulary size
    so the top-k truncation and tie-breaks are actually exercised).
    One explode + one hash-aggregate with map-side combine +
    per-partition top-k merge."""
    from universal_importer_duckdb_spark.operators.text_analysis import vocabulary_topk

    return vocabulary_topk(_t(spark, sf_dir, "documents"), k=20)


VOCAB_TOPK_SQL = """
SELECT token, COUNT(*) AS n
FROM (SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents)
WHERE token <> ''
GROUP BY token ORDER BY n DESC, token LIMIT 20
"""


def docs_chunk_for_training(spark, sf_dir):
    """Fixed-size token windows with overlap (32-token chunks, stride
    24 — sized so the 10-99-token synthetic docs genuinely multi-chunk)
    — the shaping step before LLM training/embedding. Emits the shape
    (doc, chunk_idx, start, len) AND the materialized ``chunk_text``
    slice — the actual training example a downstream tokenizer
    consumes. Pure integer arithmetic plus one bounded explode and a
    per-chunk token-array slice: narrow at any corpus size."""
    from universal_importer_duckdb_spark.operators.text_analysis import chunk_documents

    return chunk_documents(_t(spark, sf_dir, "documents"),
                           chunk_size=32, stride=24)


CHUNK_SQL = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
c AS (SELECT doc_id, toks, len(toks) AS n,
             1 + (greatest(len(toks) - 32, 0) + 23) // 24 AS k FROM t)
SELECT doc_id, CAST(u AS BIGINT) AS chunk_idx,
       CAST(u * 24 AS BIGINT) AS start_token,
       CAST(least(32, n - u * 24) AS BIGINT) AS chunk_tokens,
       array_to_string(list_slice(toks, u * 24 + 1,
                                  u * 24 + least(32, n - u * 24)), ' ')
         AS chunk_text
FROM c, unnest(range(0, k)) AS t2(u)
"""


def docs_pii_scrub(spark, sf_dir):
    """PII redaction + per-type counts. The synthetic corpus carries no
    PII, so a deterministic per-doc suffix (doc_id-derived email/URL/
    SSN-shaped spans) is appended first — the scrub then has real work
    on every row and the oracle checks replacement AND counting
    machinery non-vacuously."""
    from universal_importer_duckdb_spark.operators.dedup_text import spread_for_compute
    from universal_importer_duckdb_spark.operators.text_analysis import pii_scrub

    # regex scrubbing is CPU-bound per row: spread the single-split
    # local file across cores (no-op on wide inputs at real scale)
    docs = spread_for_compute(_t(spark, sf_dir, "documents"), "doc_id")
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id"), F.lit("@example.com"),
            F.lit(" https://site"), F.col("doc_id"), F.lit(".example/x"),
            F.when(F.col("doc_id") % 3 == 0,
                   F.concat(F.lit(" ssn 123-45-"),
                            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"))
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return pii_scrub(seeded)


_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PII_URL = "https?://[^ ]+"
_PII_SSN = "[0-9]{3}-[0-9]{2}-[0-9]{4}"
_PII_IP = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
_PII_ALT = "|".join([_PII_EMAIL, _PII_URL, _PII_SSN, _PII_IP])

# DuckDB replica of the fused single-alternation-pass scrub: extract
# all spans + split on the same alternation, classify each span by the
# first pattern it fully matches (pattern order = priority), splice
# replacement tokens between the segments.
PII_SCRUB_SQL = f"""
WITH seeded AS (
  SELECT doc_id,
         text || ' contact user' || doc_id || '@example.com'
              || ' https://site' || doc_id || '.example/x'
              || CASE WHEN doc_id % 3 = 0
                      THEN ' ssn 123-45-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
                      ELSE '' END AS text
  FROM documents),
x AS (
  SELECT doc_id,
         regexp_extract_all(text, '{_PII_ALT}') AS ms,
         regexp_split_to_array(text, '{_PII_ALT}') AS segs
  FROM seeded),
y AS (
  SELECT doc_id, ms, segs,
         list_transform(ms, m -> CASE
           WHEN regexp_full_match(m, '{_PII_EMAIL}') THEN '<EMAIL>'
           WHEN regexp_full_match(m, '{_PII_URL}') THEN '<URL>'
           WHEN regexp_full_match(m, '{_PII_SSN}') THEN '<SSN>'
           ELSE '<IP>' END) AS toks
  FROM x)
SELECT doc_id,
  segs[1] || array_to_string(
    list_transform(range(1, len(ms) + 1), i -> toks[i] || segs[i + 1]), '')
    AS clean_text,
  CAST(len(list_filter(toks, t -> t = '<EMAIL>')) AS BIGINT) AS n_email,
  CAST(len(list_filter(toks, t -> t = '<URL>')) AS BIGINT) AS n_url,
  CAST(len(list_filter(toks, t -> t = '<SSN>')) AS BIGINT) AS n_ssn,
  CAST(len(list_filter(toks, t -> t = '<IP>')) AS BIGINT) AS n_ip
FROM y
"""


def docs_training_pipeline(spark, sf_dir):
    """The full LLM training-corpus pipeline composed end-to-end:
    quality filter → exact content dedup (min doc_id per normalized
    md5) → near-dup CLUSTER dedup (portable MinHash pairs → connected
    components → keep one representative per component) → fixed-size
    token chunking. Returns the one-row corpus funnel — every count
    depends on every upstream stage being exactly right, so the single
    oracle row certifies the whole composition. Stage-level scale
    shapes are each operator's own (narrow quality map, one dedup agg
    shuffle, bucketed LSH, edge-sized BSP rounds, narrow chunking)."""
    from universal_importer_duckdb_spark.operators.dedup_text import (
        minhash_lsh_pairs,
        neardup_clusters,
    )
    from universal_importer_duckdb_spark.operators.text_analysis import (
        chunk_documents,
        quality_filter,
    )

    docs = _t(spark, sf_dir, "documents")
    kept, _ = quality_filter(docs, min_tokens=10, min_alpha_ratio=0.5,
                             max_digit_ratio=0.3, min_unique_token_ratio=0.1)
    # the deduped frame fans out five ways (pair generation, cluster
    # ids, survivor join, two funnel counts) — cache it, and the
    # survivor frame (chunking + count). scoped_cache keeps cache()'s
    # plan-equality reuse and registers both frames in the session
    # ledger so long-lived sessions reclaim the storage via
    # caching.release_scoped (no unbounded accumulation).
    exact = (
        kept.withColumn("__fp", F.md5(F.lower("text")))
        .groupBy("__fp")
        .agg(F.min("doc_id").alias("doc_id"), F.min_by("text", "doc_id").alias("text"))
        .drop("__fp")
    )
    exact = _scoped_cache(exact)
    pairs = minhash_lsh_pairs(exact, num_perm=32, bands=8, shingle_n=5,
                              jaccard_threshold=0.4, sample_mod=4)
    clusters = neardup_clusters(pairs, exact.select("doc_id"))
    surv = _scoped_cache(exact.join(
        clusters.filter("is_kept").select("doc_id"), "doc_id", "left_semi"
    ))
    chunks = chunk_documents(surv, chunk_size=32, stride=24)

    def one(df, *aggs):
        return F.broadcast(df.agg(*aggs))

    return (
        one(docs, F.count(F.lit(1)).alias("n_docs_in"))
        .crossJoin(one(kept, F.count(F.lit(1)).alias("n_after_quality")))
        .crossJoin(one(exact, F.count(F.lit(1)).alias("n_after_exact")))
        .crossJoin(one(surv, F.count(F.lit(1)).alias("n_after_neardup")))
        .crossJoin(
            one(
                chunks,
                F.count(F.lit(1)).alias("total_chunks"),
                F.sum("chunk_tokens").cast("bigint").alias("total_chunk_tokens"),
                # length of the MATERIALIZED chunk text — certifies the
                # actual training-example payload inside the composed
                # pipeline, not just the window arithmetic
                F.sum(F.length("chunk_text")).cast("bigint")
                .alias("total_chunk_chars"),
            )
        )
    )


TRAINING_PIPELINE_SQL = f"""
WITH RECURSIVE
sigq AS (
  SELECT doc_id, text,
    len(string_split(text, ' ')) AS n_tokens,
    length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) / length(text) AS alpha_ratio,
    length(regexp_replace(text, '[^0-9]', '', 'g')) / length(text) AS digit_ratio,
    len(list_distinct(string_split(text, ' '))) / len(string_split(text, ' ')) AS uniq_ratio
  FROM documents),
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
ct AS (SELECT doc_id, string_split(text, ' ') AS toks,
              len(string_split(text, ' ')) AS n FROM surv),
ck AS (SELECT doc_id, toks, n,
              1 + (greatest(n - 32, 0) + 23) // 24 AS k FROM ct),
ch AS (SELECT doc_id, least(32, n - u * 24) AS chunk_tokens,
              length(array_to_string(
                list_slice(toks, u * 24 + 1, u * 24 + least(32, n - u * 24)),
                ' ')) AS chunk_chars
       FROM ck, unnest(range(0, k)) AS t2(u))
SELECT
  (SELECT COUNT(*) FROM documents) AS n_docs_in,
  (SELECT COUNT(*) FROM q) AS n_after_quality,
  (SELECT COUNT(*) FROM d) AS n_after_exact,
  (SELECT COUNT(*) FROM surv) AS n_after_neardup,
  (SELECT COUNT(*) FROM ch) AS total_chunks,
  (SELECT CAST(SUM(chunk_tokens) AS BIGINT) FROM ch) AS total_chunk_tokens,
  (SELECT CAST(SUM(chunk_chars) AS BIGINT) FROM ch) AS total_chunk_chars
"""


REGISTRY.update({
    "docs_quality_filter_ids": (docs_quality_filter_ids, QUALITY_FILTER_SQL),
    "docs_neardup_clusters": (docs_neardup_clusters, NEARDUP_CLUSTERS_SQL),
    "docs_pii_scrub": (docs_pii_scrub, PII_SCRUB_SQL),
    "docs_training_pipeline": (docs_training_pipeline, TRAINING_PIPELINE_SQL),
    "docs_vocab_topk": (docs_vocab_topk, VOCAB_TOPK_SQL),
    "docs_chunk_for_training": (docs_chunk_for_training, CHUNK_SQL),
    "docs_bpe_token_count": (docs_bpe_token_count, BPE_SQL),
    "events_dedup_first_by_key": (events_dedup_first_by_key, EVENTS_DEDUP_SQL),
    "docs_corpus_prep": (docs_corpus_prep, CORPUS_PREP_SQL),
    "docs_minhash_lsh_neardup": (docs_minhash_lsh_neardup, MINHASH_LSH_SQL),
    "docs_simhash_neardup": (docs_simhash_neardup, SIMHASH_SQL),
    "docs_rolling_sketch": (docs_rolling_sketch, ROLLING_SKETCH_SQL),
    "emb_ann_lsh_topk": (emb_ann_lsh_topk, EMB_ANN_LSH_SQL),
    "emb_ivf_topk": (emb_ivf_topk, _ivf_topk_oracle()),
    "emb_near_dup_pairs": (emb_near_dup_pairs, EMB_NEAR_DUP_SQL),
    "emb_bucket_audit": (emb_bucket_audit, EMB_BUCKET_AUDIT_SQL),
    "emb_semdedup_clusters": (emb_semdedup_clusters, EMB_SEMDEDUP_SQL),
    "stream_tumbling_hourly": (stream_tumbling_hourly, STREAM_TUMBLING_SQL),
    "stream_dedup_within_watermark": (stream_dedup_within_watermark, STREAM_DEDUP_SQL),
    "stream_simhash_neardup_dedup": (stream_simhash_neardup_dedup, STREAM_SIMHASH_DEDUP_SQL),
    "stream_enriched_segment_counts": (stream_enriched_segment_counts, STREAM_ENRICHED_SQL),
    "stream_sliding_halfhour": (stream_sliding_halfhour, STREAM_SLIDING_SQL),
    "stream_session_windows": (stream_session_windows, STREAM_SESSION_SQL),
    "stream_running_user_stats": (stream_running_user_stats, STREAM_STATEFUL_SQL),
    "stream_click_purchase_join": (stream_click_purchase_join, STREAM_CP_JOIN_SQL),
    "multimodal_image_features": (multimodal_image_features, MULTIMODAL_IMAGE_SQL),
    "multimodal_audio_features": (multimodal_audio_features, MULTIMODAL_AUDIO_SQL),
    "multimodal_video_features": (multimodal_video_features, MULTIMODAL_VIDEO_SQL),
})


def rollup_revenue(spark, sf_dir):
    """ROLLUP subtotals (region, nation, grand total) — grouping-set
    aggregation the reference lacks entirely (SURVEY.md §2.5 ABSENT)."""
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(
            _msum(_dec("o_totalprice"), "revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


ROLLUP_SQL = """
SELECT r_name, n_name,
  CAST(round(SUM(o_totalprice::DECIMAL(15,2)), 2) AS DOUBLE) AS revenue,
  COUNT(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


def sql_passthrough_revenue(spark, sf_dir):
    """Arbitrary config-style SQL through spark.sql over entity-named
    temp views — the reference's projection-SQL entry path
    (SURVEY.md §3.2) with full Spark SQL power."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql("""
        SELECT c_mktsegment,
               CAST(round(SUM(CAST(o_totalprice AS DECIMAL(15,2))), 2) AS DOUBLE) AS revenue,
               COUNT(*) AS n_orders
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
    """)


SQL_PASSTHROUGH_SQL = """
SELECT c_mktsegment,
  CAST(round(SUM(o_totalprice::DECIMAL(15,2)), 2) AS DOUBLE) AS revenue,
  COUNT(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


REGISTRY.update({
    "rollup_revenue": (rollup_revenue, ROLLUP_SQL),
    "sql_passthrough_revenue": (sql_passthrough_revenue, SQL_PASSTHROUGH_SQL),
})


def q12_priority_shipmode(spark, sf_dir):
    """Conditional aggregation (TPC-H q12 shape): urgent vs other
    order counts per linestatus."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(urgent, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(~urgent, 1).otherwise(0)).cast("bigint").alias("low_line_count"),
        )
    )


Q12_SQL = """
SELECT l_linestatus,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY l_linestatus
"""


def q13_customer_distribution(spark, sf_dir):
    """Outer-join distribution (TPC-H q13 shape): how many customers
    have k orders, including k = 0."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


Q13_SQL = """
SELECT c_count, COUNT(*) AS custdist FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
) GROUP BY c_count
"""


def q17_small_quantity_revenue(spark, sf_dir):
    """Correlated scalar subquery (TPC-H q17 shape), decorrelated as a
    per-part aggregate join: lineitems below 20%% of their part's
    average quantity."""
    li = _t(spark, sf_dir, "lineitem")
    avg_per_part = li.groupBy(F.col("l_partkey").alias("ap_partkey")).agg(
        (F.sum(_dec("l_quantity")).cast("double") / F.count(F.lit(1))).alias("avg_qty")
    )
    return (
        li.join(avg_per_part, li.l_partkey == F.col("ap_partkey"))
        .filter(F.col("l_quantity") < F.lit(0.5) * F.col("avg_qty"))
        .agg(
            _msum(_dec("l_extendedprice"), "total_price"),
            F.count(F.lit(1)).alias("n_small"),
        )
    )


Q17_SQL = """
WITH a AS (
  SELECT l_partkey AS ap_partkey,
         CAST(SUM(l_quantity::DECIMAL(15,2)) AS DOUBLE)/COUNT(*) AS avg_qty
  FROM lineitem GROUP BY l_partkey)
SELECT CAST(round(SUM(l_extendedprice::DECIMAL(15,2)), 2) AS DOUBLE) AS total_price,
       COUNT(*) AS n_small
FROM lineitem JOIN a ON l_partkey = ap_partkey
WHERE l_quantity < 0.5 * avg_qty
"""


def like_filter_parts(spark, sf_dir):
    """String pattern scan: LIKE with leading/trailing wildcards plus a
    conjunction filter — the shape whose pushdown matters at scale."""
    part = _t(spark, sf_dir, "part")
    return part.filter(
        F.col("p_name").like("%widget%") & (F.col("p_size") >= 10)
    ).select("p_partkey", "p_name", "p_brand", "p_size")


LIKE_SQL = """
SELECT p_partkey, p_name, p_brand, p_size FROM part
WHERE p_name LIKE '%widget%' AND p_size >= 10
"""


REGISTRY.update({
    "q12_priority_shipmode": (q12_priority_shipmode, Q12_SQL),
    "q13_customer_distribution": (q13_customer_distribution, Q13_SQL),
    "q17_small_quantity_revenue": (q17_small_quantity_revenue, Q17_SQL),
    "like_filter_parts": (like_filter_parts, LIKE_SQL),
})


def rolling_customer_spend(spark, sf_dir):
    """Explicit window frame (ROWS BETWEEN): 3-order rolling spend per
    customer in order-date order — frame specs the reference lacks
    (SURVEY.md §2.6 ABSENT)."""
    orders = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-2, 0)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum(_dec("o_totalprice")).over(w), 2)
        .cast("double")
        .alias("rolling_spend_3"),
    )


ROLLING_SQL = """
SELECT o_custkey, o_orderkey,
  CAST(round(SUM(o_totalprice::DECIMAL(15,2)) OVER (
    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS rolling_spend_3
FROM orders
"""


def approx_distinct_customers_monthly(spark, sf_dir):
    """Sketch-based distinct counting with a CERTIFIED error envelope
    — the 100 TB cardinality path. COUNT(DISTINCT) forces a two-stage
    expand shuffle of every key; HyperLogLog++ (approx_count_distinct,
    rsd=2%) is a fixed-size MERGEABLE sketch: map-side partials, one
    tiny shuffle, same cost profile at any scale. The emitted columns
    are the per-month EXACT count plus an in-budget flag comparing the
    (deterministic, seed-fixed) sketch estimate against it — so the
    cross-engine oracle (which computes the exact count and asserts
    the envelope as a literal) hash-certifies both the exact baseline
    AND the claim that the sketch stayed inside its error budget; the
    raw estimate itself is engine-specific and intentionally not
    emitted (tests/test_extensions.py pins it locally). The budget is
    max(5%, +/-2 absolute): Spark's HLL++ has no sparse mode, so tiny
    groups carry quantization error (observed +/-1 at n=15) that a
    pure relative bound misstates."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("month")
        )
        .agg(
            F.count_distinct(F.col("o_custkey")).cast("bigint").alias("n_exact"),
            F.approx_count_distinct("o_custkey", rsd=0.02).alias("__n_approx"),
        )
        .select(
            "month",
            "n_exact",
            (
                F.abs(F.col("__n_approx") - F.col("n_exact"))
                <= F.greatest(F.col("n_exact") * 0.05, F.lit(2.0))
            ).alias("approx_within_budget"),
        )
    )


APPROX_DISTINCT_SQL = """
SELECT date_trunc('month', o_orderdate)::DATE AS month,
       COUNT(DISTINCT o_custkey) AS n_exact,
       TRUE AS approx_within_budget
FROM orders GROUP BY 1
"""


def monthly_revenue(spark, sf_dir):
    """date_trunc time-bucketing of order revenue."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            # DuckDB's date_trunc('month', ts) yields DATE; match it
            F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("month")
        )
        .agg(
            _msum(_dec("o_totalprice"), "revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


MONTHLY_SQL = """
SELECT date_trunc('month', o_orderdate) AS month,
  CAST(round(SUM(o_totalprice::DECIMAL(15,2)), 2) AS DOUBLE) AS revenue,
  COUNT(*) AS n_orders
FROM orders GROUP BY 1
"""


def union_all_key_space(spark, sf_dir):
    """UNION ALL with source tagging (set op the reference only
    approximates with client-side concat — SURVEY.md §2.7)."""
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("key"), F.lit("customer").alias("src")
    )
    supp = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("key"), F.lit("supplier").alias("src")
    )
    return cust.unionByName(supp).groupBy("src").agg(
        F.count(F.lit(1)).alias("n"), F.max("key").alias("max_key")
    )


UNION_SQL = """
SELECT src, COUNT(*) AS n, MAX(key) AS max_key FROM (
  SELECT c_custkey AS key, 'customer' AS src FROM customer
  UNION ALL
  SELECT s_suppkey AS key, 'supplier' AS src FROM supplier
) GROUP BY src
"""


def in_subquery_sql(spark, sf_dir):
    """IN (subquery) through the SQL surface — Catalyst rewrites it to
    a semi join (the reference's dedup membership-test shape,
    main.py:112-117)."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql("""
        SELECT o_orderkey, o_custkey, o_orderstatus
        FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal < 0)
    """)


IN_SUBQUERY_SQL = """
SELECT o_orderkey, o_custkey, o_orderstatus
FROM orders
WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal < 0)
"""


REGISTRY.update({
    "rolling_customer_spend": (rolling_customer_spend, ROLLING_SQL),
    "monthly_revenue": (monthly_revenue, MONTHLY_SQL),
    "approx_distinct_customers_monthly": (
        approx_distinct_customers_monthly, APPROX_DISTINCT_SQL,
    ),
    "union_all_key_space": (union_all_key_space, UNION_SQL),
    "in_subquery_sql": (in_subquery_sql, IN_SUBQUERY_SQL),
})


# Chained-section export: star-import carries every module-level
# name (including the underscore-prefixed shared helpers) to the
# next registry section / the entry_queries spine.
__all__ = [_n for _n in globals() if not _n.startswith("__")]
