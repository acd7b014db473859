"""General relational analytics queries.

The reference has no aggregations/windows/set-ops (SURVEY.md §2.7) —
these queries demonstrate the engine surface a user migrating off the
reference onto a real analytics engine needs, built on the TPC-H-ish
fixture tables.

Float-determinism note: sums of doubles are aggregation-order
dependent, so Spark and DuckDB can differ in the last ulp. Every
aggregated money/quantity column is therefore summed in DECIMAL
(exact, order-independent) and cast back to double — bit-identical on
both engines. Per-row double arithmetic (no reduction) is IEEE-
deterministic and needs no such treatment.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources import load_table
from . import QuerySpec


def _dsum(col, scale="decimal(18,2)"):
    """Exact (decimal) sum of a double column, returned as double."""
    return F.sum(F.col(col).cast(scale) if isinstance(col, str) else col.cast(scale)).cast(
        "double"
    )


# --- TPC-H Q1-style pricing summary ------------------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan-heavy group-by with ROLLUP: the canonical map-side-
    combinable aggregation (TPC-H Q1 measure set) computed at every
    ROLLUP(l_returnflag, l_linestatus) grouping level — the plain
    groups ARE Q1's rows; the NULL-keyed rows are the hierarchical
    subtotals and grand total. Partial aggregation happens before the
    shuffle (HashAggregate → Exchange → HashAggregate), so the shuffle
    carries only n_groups × n_partitions rows — the plan that
    survives 100 TB.

    spread(): ROLLUP expands every row ×3 grouping sets before the
    partial agg, so on the single-row-group fixture file the whole
    expand+agg would run in one task; the filter and the 6-column
    projection stay AT the scan (pushdown happens before the
    repartition), so the fan-out shuffle carries only the filtered
    measure columns. On a many-file cluster scan this exchange is a
    no-op cost next to the expand it parallelizes."""
    from ..util import spread

    li = load_table(spark, "lineitem", sf_dir)
    disc_price = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(25,6)"
    )
    filtered = li.filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    ).select(
        "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice", "l_discount"
    )
    return (
        spread(filtered)
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            _dsum("l_quantity").alias("sum_qty"),
            _dsum("l_extendedprice").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.count("*").alias("count_order"),
            F.round(
                _dsum("l_quantity") / F.count("*"), 6
            ).alias("avg_qty"),
        )
    )


ORACLE_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS sum_disc_price,
       COUNT(*) AS count_order,
       ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_qty
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY ROLLUP(l_returnflag, l_linestatus)
"""


# --- top-K per group (window) ------------------------------------------

def q_topk_orders_per_cust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by totalprice per customer. Deterministic tiebreak
    on o_orderkey so both engines select identical rows. The window
    partitions by customer → fully parallel (no global sort)."""
    orders = load_table(spark, "orders", sf_dir)
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
    )


ORACLE_TOPK = """
SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rk
  FROM orders
) WHERE rk <= 3
"""


# --- multi-way join + aggregation (TPC-H Q5-ish) -----------------------

def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer ⋈ orders ⋈ lineitem ⋈ nation: the big fact-to-fact
    join shuffles on the join keys; the tiny nation dim is explicitly
    broadcast (25 rows — never shuffle the fact table for it).

    Lineitem revenue/counts are pre-aggregated per orderkey before
    the orders join (Catalyst does not push partial aggregation
    through joins), so the widest shuffle carries one row per ORDER
    (~4× fewer); decimal sum-of-sums and count-of-counts make the
    regrouping exact."""
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    revenue = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(25,6)"
    )
    per_order = li.groupBy("l_orderkey").agg(
        F.sum(revenue).alias("ord_rev"),
        F.count("*").alias("ord_n"),
    )
    return (
        per_order.join(orders, per_order.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum("ord_rev").cast("double").alias("revenue"),
            F.sum("ord_n").alias("n_lineitems"),
        )
    )


ORACLE_REVENUE_BY_NATION = """
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_lineitems
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


# --- set operation: EXCEPT ---------------------------------------------

def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct) — customers with no orders on/after 1997
    (every customer has *some* order in the fixtures, so the date
    restriction keeps the set non-trivial)."""
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir).filter(
        F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp")
    )
    return cust.select(F.col("c_custkey").alias("custkey")).subtract(
        orders.select(F.col("o_custkey").alias("custkey"))
    )


ORACLE_CUSTOMERS_WITHOUT_ORDERS = """
SELECT c_custkey AS custkey FROM customer
EXCEPT
SELECT o_custkey AS custkey FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
"""


# --- semi-join: EXISTS -------------------------------------------------

def q_suppliers_with_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_semi join (EXISTS) — never duplicates the probe side."""
    supp = load_table(spark, "supplier", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    return supp.join(
        li, supp.s_suppkey == li.l_suppkey, "left_semi"
    ).select("s_suppkey", "s_name")


ORACLE_SUPPLIERS_WITH_LINEITEMS = """
SELECT s_suppkey, s_name FROM supplier s
WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s.s_suppkey)
"""


# --- ROLLUP ------------------------------------------------------------

def q_rollup_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ROLLUP(l_returnflag, l_linestatus): hierarchical
    subtotals + grand total in one pass."""
    li = load_table(spark, "lineitem", sf_dir)
    return li.rollup("l_returnflag", "l_linestatus").agg(
        _dsum("l_quantity").alias("sum_qty"), F.count("*").alias("n_rows")
    )


ORACLE_ROLLUP_PRICING = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       COUNT(*) AS n_rows
FROM lineitem
GROUP BY ROLLUP(l_returnflag, l_linestatus)
"""


def q_cube_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY CUBE(order_year, status): all four grouping levels —
    (year, status), per-year, per-status, grand total — in one pass,
    each row tagged with the 2-bit grouping id (year bit 2, status
    bit 1), completing the rollup/pivot family with the full lattice.
    Exact integer cents; one map-side-combining aggregate (Spark
    expands the cube BEFORE the shuffle, so the exchange carries 4×
    group partials, never 4× rows)."""
    orders = load_table(spark, "orders", sf_dir)
    pre = orders.select(
        F.year("o_orderdate").cast("bigint").alias("order_year"),
        F.col("o_orderstatus").alias("status"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    return pre.cube("order_year", "status").agg(
        F.count("*").alias("n_orders"),
        F.sum("cents").alias("sum_cents"),
        (F.grouping("order_year") * 2 + F.grouping("status"))
        .cast("bigint")
        .alias("gid"),
    )


ORACLE_CUBE_SALES = """
WITH pre AS (
  SELECT year(o_orderdate) AS order_year, o_orderstatus AS status,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
)
SELECT order_year, status, count(*) AS n_orders,
       CAST(sum(cents) AS BIGINT) AS sum_cents,
       CAST(GROUPING(order_year) * 2 + GROUPING(status) AS BIGINT) AS gid
FROM pre
GROUP BY CUBE(order_year, status)
"""


def q_discount_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discount-band demand readout (the business question behind
    TPC-H Q6): per discount percentage band, line count, mean
    quantity, total revenue and the forgone revenue the discount cost
    — the table a pricing team reads to see whether discounts buy
    volume. Exact: discounts are 2-dp doubles integerized to basis
    points for banding; quantities and cents sum exactly; the two
    means are rounded shared-shape divisions."""
    li = load_table(spark, "lineitem", sf_dir)
    bp = F.round(F.col("l_discount") * 100).cast("bigint")  # discount %
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    qty = F.round(F.col("l_quantity")).cast("bigint")
    per_band = li.groupBy(bp.alias("discount_pct")).agg(
        F.count("*").alias("n_lines"),
        F.sum(qty).alias("sum_qty"),
        F.sum(cents).alias("rev_cents"),
        F.sum(cents * bp).alias("forgone_cents_x100"),
    )
    return per_band.select(
        "discount_pct",
        "n_lines",
        F.round(F.col("sum_qty").cast("double") / F.col("n_lines"), 6).alias("avg_qty"),
        "rev_cents",
        F.expr("forgone_cents_x100 DIV 100").alias("forgone_cents"),
    )


ORACLE_DISCOUNT_EFFECT = """
WITH per_band AS (
  SELECT CAST(round(l_discount * 100) AS BIGINT) AS discount_pct,
         count(*) AS n_lines,
         CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                  * CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT)
           AS forgone_x100
  FROM lineitem GROUP BY 1
)
SELECT discount_pct, n_lines,
       ROUND(CAST(sum_qty AS DOUBLE) / n_lines, 6) AS avg_qty,
       rev_cents,
       forgone_x100 // 100 AS forgone_cents
FROM per_band
"""


ONTIME_SLA_DAYS = 400  # ship within 400 days of order date counts on-time


def q_priority_ontime_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority × on-time fulfilment matrix: per order priority, the
    share of orders whose LAST line shipped within the SLA — urgent
    orders missing SLA more often than low-priority ones is the
    fulfilment-process smell this one table surfaces. Order-grain max
    shipdate (one shuffle on the order key), then a 5-row rollup;
    integer day arithmetic, one rounded share. The max-shipdate
    aggregation runs BEFORE the orders join (o_orderdate is constant
    per order, so the regrouping is an identity): map-side combine
    collapses the lineitems, the join sees one row per order on both
    sides, and the pre-agg output partitioning is the join key."""
    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_shipdate")
    last_ship = li.groupBy("l_orderkey").agg(
        F.max("l_shipdate").alias("last_ship")
    )
    per_order = last_ship.join(
        orders, last_ship.l_orderkey == orders.o_orderkey
    ).select(
        "o_orderpriority",
        F.datediff(
            F.col("last_ship").cast("date"), F.col("o_orderdate").cast("date")
        ).alias("days"),
    )
    return (
        per_order.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count("*").alias("n_orders"),
            F.sum((F.col("days") <= ONTIME_SLA_DAYS).cast("bigint")).alias("n_ontime"),
        )
        .select(
            "priority",
            "n_orders",
            "n_ontime",
            F.round(F.col("n_ontime").cast("double") / F.col("n_orders"), 6).alias(
                "ontime_share"
            ),
        )
    )


ORACLE_PRIORITY_ONTIME = f"""
WITH per_order AS (
  SELECT o_orderkey, o_orderpriority,
         date_diff('day', CAST(min(o_orderdate) AS DATE),
                   CAST(max(l_shipdate) AS DATE)) AS days
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2
)
SELECT o_orderpriority AS priority, count(*) AS n_orders,
       CAST(sum(CASE WHEN days <= {ONTIME_SLA_DAYS} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_ontime,
       ROUND(CAST(sum(CASE WHEN days <= {ONTIME_SLA_DAYS} THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS ontime_share
FROM per_order GROUP BY 1
"""


def q_return_rate_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly return-rate trend: share of lineitem revenue flagged
    returned (l_returnflag = 'R') per ship month, with the
    month-over-month delta — the quality-of-fulfilment trend line.
    Exact cents; the share and its lag delta are rounded shared-shape
    divisions; the month lag is a calendar equi-join (gap-robust, the
    `unit_seasonal_naive_backtest` pattern)."""
    li = load_table(spark, "lineitem", sf_dir)
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    monthly = li.groupBy(F.date_trunc("month", "l_shipdate").alias("month")).agg(
        F.sum(cents).alias("rev"),
        F.sum(F.when(F.col("l_returnflag") == "R", cents).otherwise(F.lit(0))).alias(
            "ret_rev"
        ),
    )
    cur = monthly.select(
        "month",
        F.round(F.col("ret_rev").cast("double") / F.col("rev"), 6).alias("return_share"),
        "rev",
        "ret_rev",
    )
    prev = monthly.select(
        (F.col("month") + F.expr("INTERVAL 1 MONTH")).alias("month"),
        F.round(F.col("ret_rev").cast("double") / F.col("rev"), 6).alias("prev_share"),
    )
    return cur.join(prev, "month", "left").select(
        "month",
        "rev",
        "ret_rev",
        "return_share",
        F.round(F.col("return_share") - F.col("prev_share"), 6).alias("mom_delta"),
    )


ORACLE_RETURN_RATE_TREND = """
WITH monthly AS (
  SELECT date_trunc('month', l_shipdate) AS month,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev,
         CAST(sum(CASE WHEN l_returnflag = 'R'
                       THEN CAST(round(l_extendedprice * 100) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS ret_rev
  FROM lineitem GROUP BY 1
),
cur AS (
  SELECT month, rev, ret_rev,
         ROUND(CAST(ret_rev AS DOUBLE) / rev, 6) AS return_share
  FROM monthly
),
prev AS (
  SELECT month + INTERVAL 1 MONTH AS month,
         ROUND(CAST(ret_rev AS DOUBLE) / rev, 6) AS prev_share
  FROM monthly
)
SELECT cur.month AS month, rev, ret_rev, return_share,
       ROUND(return_share - prev_share, 6) AS mom_delta
FROM cur LEFT JOIN prev ON cur.month = prev.month
"""


TOP_MOVERS_K = 5


def q_top_movers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue TOP MOVERS per nation: the ±5 largest
    absolute swings across all (nation, month) pairs — the "what
    changed" screen an ops review starts from. Calendar-lag equi-join
    on the nation×month rollup (25×84 rows — dimension-bounded), exact
    integer cent deltas, TakeOrdered top-K by |Δ| with full
    tie-breaks.

    Scale: lineitem cents are pre-aggregated per orderkey BEFORE the
    orders join (Catalyst does not push partial aggregation through
    joins itself), so the fact shuffle carries one row per ORDER, not
    per lineitem (~4× smaller), and the join reuses the same key
    partitioning. Exact integer sums, so the regrouping is an
    identity."""
    from pyspark.sql import Window

    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_extendedprice")
    orders = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_custkey", "o_orderdate")
    cust = load_table(spark, "customer", sf_dir).select("c_custkey", "c_nationkey")
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    per_order = li.groupBy("l_orderkey").agg(F.sum(cents).alias("ord_cents"))
    monthly = (
        per_order.join(orders, per_order.l_orderkey == orders.o_orderkey)
        # unhinted: customer is a growing dimension — AQE broadcasts
        # the 2-column projection while it fits, shuffle-joins past it
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(
            F.col("c_nationkey").alias("nation"),
            F.date_trunc("month", "o_orderdate").alias("month"),
        )
        .agg(F.sum("ord_cents").alias("rev"))
    )
    prev = monthly.select(
        "nation",
        (F.col("month") + F.expr("INTERVAL 1 MONTH")).alias("month"),
        F.col("rev").alias("prev_rev"),
    )
    deltas = monthly.join(prev, ["nation", "month"]).select(
        "nation",
        "month",
        "rev",
        "prev_rev",
        (F.col("rev") - F.col("prev_rev")).alias("delta_cents"),
    )
    return (
        deltas.orderBy(F.abs("delta_cents").desc(), "nation", "month")
        .limit(TOP_MOVERS_K)
        .withColumn(
            "rk",
            F.row_number().over(
                Window.orderBy(F.abs("delta_cents").desc(), "nation", "month")
            ).cast("bigint"),
        )
    )


ORACLE_TOP_MOVERS = f"""
WITH monthly AS (
  SELECT c_nationkey AS nation, date_trunc('month', o_orderdate) AS month,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2
),
deltas AS (
  SELECT m.nation, m.month, m.rev, p.rev AS prev_rev,
         m.rev - p.rev AS delta_cents
  FROM monthly m
  JOIN monthly p ON m.nation = p.nation AND p.month + INTERVAL 1 MONTH = m.month
)
SELECT nation, month, rev, prev_rev, delta_cents,
       CAST(row_number() OVER (ORDER BY abs(delta_cents) DESC, nation, month)
            AS BIGINT) AS rk
FROM deltas
ORDER BY abs(delta_cents) DESC, nation, month
LIMIT {TOP_MOVERS_K}
"""


def q_basket_size_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order basket-size distribution: how many orders have k line
    items, with share and cumulative share — the order-shape histogram
    behind packing, picking and join-fan-out expectations (the
    `unit_join_audit` fan-out numbers are this table's moments).
    Two map-side-combining counts; the cumulative window runs over the
    ≤|max basket| distinct sizes."""
    from pyspark.sql import Window

    li = load_table(spark, "lineitem", sf_dir)
    per_order = li.groupBy("l_orderkey").agg(F.count("*").alias("k"))
    dist = per_order.groupBy("k").agg(F.count("*").alias("n_orders"))
    tot = dist.agg(F.sum("n_orders").alias("total"))
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    return (
        dist.crossJoin(F.broadcast(tot))
        .select(
            F.col("k").cast("bigint").alias("basket_size"),
            "n_orders",
            F.round(F.col("n_orders").cast("double") / F.col("total"), 6).alias("share"),
            F.round(
                F.sum(F.col("n_orders").cast("double") / F.col("total")).over(w), 6
            ).alias("cum_share"),
        )
    )


ORACLE_BASKET_SIZE_DIST = """
WITH per_order AS (SELECT l_orderkey, count(*) AS k FROM lineitem GROUP BY 1),
dist AS (SELECT k, count(*) AS n_orders FROM per_order GROUP BY k),
tot AS (SELECT CAST(sum(n_orders) AS BIGINT) AS total FROM dist)
SELECT CAST(k AS BIGINT) AS basket_size, n_orders,
       ROUND(CAST(n_orders AS DOUBLE) / total, 6) AS share,
       ROUND(SUM(CAST(n_orders AS DOUBLE) / total)
               OVER (ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
         AS cum_share
FROM dist CROSS JOIN tot
"""


HHI_CONCENTRATED = 2500.0  # DOJ/FTC highly-concentrated threshold


def q_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman supplier-concentration index per part
    type: HHI = Σ (100·shareᵢ)² of supplier revenue within each
    p_type, with the 2500 highly-concentrated flag — the
    procurement-risk metric (one supplier owning a part category is a
    supply-chain single point of failure), completing the
    concentration family with `unit_gini_concentration`.

    Exact integer cents for revenue; shares are rounded to 6 then
    squared, the squares rounded to 6 and summed in exact DECIMAL —
    the established no-order-dependent-float recipe. Two map-side
    aggs (supplier×type, then type) + one broadcast of the type
    totals."""
    li = load_table(spark, "lineitem", sf_dir)
    part = load_table(spark, "part", sf_dir).select("p_partkey", "p_type")
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    per_supp = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_type", "l_suppkey")
        .agg(F.sum(cents).alias("rev"))
    )
    tot = per_supp.groupBy("p_type").agg(
        F.sum("rev").alias("total"), F.count("*").alias("n_suppliers")
    )
    share = F.round(F.col("rev").cast("double") / F.col("total") * 100, 6)
    terms = per_supp.join(F.broadcast(tot), "p_type").select(
        "p_type",
        "n_suppliers",
        F.round(share * share, 6).alias("t"),
    )
    return (
        terms.groupBy("p_type", "n_suppliers")
        .agg(F.sum(F.col("t").cast("decimal(18,6)")).cast("double").alias("hhi"))
        .select(
            "p_type",
            F.col("n_suppliers").cast("bigint").alias("n_suppliers"),
            F.round("hhi", 6).alias("hhi"),
            (F.col("hhi") > HHI_CONCENTRATED).alias("concentrated"),
        )
    )


ORACLE_SUPPLIER_HHI = f"""
WITH per_supp AS (
  SELECT p_type, l_suppkey,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY 1, 2
),
tot AS (
  SELECT p_type, CAST(sum(rev) AS BIGINT) AS total, count(*) AS n_suppliers
  FROM per_supp GROUP BY 1
),
terms AS (
  SELECT per_supp.p_type, n_suppliers,
         ROUND(ROUND(CAST(rev AS DOUBLE) / total * 100, 6)
               * ROUND(CAST(rev AS DOUBLE) / total * 100, 6), 6) AS t
  FROM per_supp JOIN tot ON per_supp.p_type = tot.p_type
),
h AS (
  SELECT p_type, n_suppliers,
         CAST(sum(CAST(t AS DECIMAL(18,6))) AS DOUBLE) AS hhi
  FROM terms GROUP BY 1, 2
)
SELECT p_type, CAST(n_suppliers AS BIGINT) AS n_suppliers,
       ROUND(hhi, 6) AS hhi, hhi > {HHI_CONCENTRATED} AS concentrated
FROM h
"""


CHI2_CRIT_96DF = 119.871  # chi-square 95% critical value, df = (25-1)(5-1)


def q_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test on the nation × market-segment
    contingency table — "is customer segment independent of
    geography?", the categorical-association sibling of `unit_ab_srm`
    (goodness-of-fit, df=1) and `unit_corr_matrix` (numeric
    association). Output: the per-cell table (observed, expected,
    rounded χ² contribution) with the total statistic and the df=96
    decision flag in every row.

    Exact integer observed counts; expected = row·col/total is ONE
    shared-shape float division per cell; per-cell terms are rounded
    to 6 and totalled in exact DECIMAL (no order-dependent float sum);
    the critical value is a literal — no p-value special functions.
    One scan → |nations|×|segments| cells; totals broadcast."""
    from pyspark.sql import Window

    cust = load_table(spark, "customer", sf_dir)
    cells = cust.groupBy(
        F.col("c_nationkey").alias("nation"), F.col("c_mktsegment").alias("segment")
    ).agg(F.count("*").alias("o"))
    row_t = cells.groupBy("nation").agg(F.sum("o").alias("row_n"))
    col_t = cells.groupBy("segment").agg(F.sum("o").alias("col_n"))
    tot = cells.agg(F.sum("o").alias("total"))
    w = cells.join(F.broadcast(row_t), "nation").join(
        F.broadcast(col_t), "segment"
    ).crossJoin(F.broadcast(tot))
    e = (F.col("row_n") * F.col("col_n")).cast("double") / F.col("total").cast("double")
    term = F.round((F.col("o").cast("double") - e) * (F.col("o").cast("double") - e) / e, 6)
    per_cell = w.select(
        "nation", "segment", "o",
        F.round(e, 6).alias("expected"),
        term.alias("chi2_term"),
    )
    total_chi2 = per_cell.agg(
        F.sum(F.col("chi2_term").cast("decimal(18,6)")).cast("double").alias("chi2")
    )
    return per_cell.crossJoin(F.broadcast(total_chi2)).select(
        "nation", "segment", "o", "expected", "chi2_term", "chi2",
        (F.col("chi2") > CHI2_CRIT_96DF).alias("dependent"),
    )


ORACLE_CHI2_INDEPENDENCE = f"""
WITH cells AS (
  SELECT c_nationkey AS nation, c_mktsegment AS segment, count(*) AS o
  FROM customer GROUP BY 1, 2
),
row_t AS (SELECT nation, CAST(sum(o) AS BIGINT) AS row_n FROM cells GROUP BY 1),
col_t AS (SELECT segment, CAST(sum(o) AS BIGINT) AS col_n FROM cells GROUP BY 1),
tot AS (SELECT CAST(sum(o) AS BIGINT) AS total FROM cells),
per_cell AS (
  SELECT nation, segment, o,
         ROUND(CAST(row_n * col_n AS DOUBLE) / CAST(total AS DOUBLE), 6) AS expected,
         ROUND((CAST(o AS DOUBLE) - CAST(row_n * col_n AS DOUBLE) / CAST(total AS DOUBLE))
               * (CAST(o AS DOUBLE) - CAST(row_n * col_n AS DOUBLE) / CAST(total AS DOUBLE))
               / (CAST(row_n * col_n AS DOUBLE) / CAST(total AS DOUBLE)), 6) AS chi2_term
  FROM cells
  JOIN row_t USING (nation)
  JOIN col_t USING (segment)
  CROSS JOIN tot
),
tc AS (
  SELECT CAST(sum(CAST(chi2_term AS DECIMAL(18,6))) AS DOUBLE) AS chi2 FROM per_cell
)
SELECT nation, segment, o, expected, chi2_term, chi2,
       chi2 > {CHI2_CRIT_96DF} AS dependent
FROM per_cell CROSS JOIN tc
"""


def q_price_iqr_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey IQR-fence outlier screen for part prices per brand: exact
    Q1/Q3 via the histogram-quantile formulation, fences at
    Q1 − 1.5·IQR / Q3 + 1.5·IQR, and the count of parts outside them
    — the box-plot rule as a data-quality query (complements the
    z-score and MAD screens with the distribution-free classic).
    Integer cents end-to-end; the fences are half-cent-exact because
    1.5·IQR on integer cents is a multiple of 0.5."""
    from pyspark.sql import Window

    part = load_table(spark, "part", sf_dir)
    cents = F.round(F.col("p_retailprice") * 100).cast("bigint")
    base = part.select(F.col("p_brand").alias("brand"), cents.alias("c"))
    hist = base.groupBy("brand", "c").agg(F.count("*").alias("n"))
    wv = Window.partitionBy("brand").orderBy("c")
    cum = hist.withColumn(
        "cum", F.sum("n").over(wv.rowsBetween(Window.unboundedPreceding, 0))
    ).withColumn("total", F.sum("n").over(Window.partitionBy("brand")))

    def pick(q, out):
        return (
            cum.filter(F.col("cum") >= F.expr(f"CAST(ceil({q} * total / 100.0) AS BIGINT)"))
            .groupBy("brand")
            .agg(F.min("c").alias(out))
        )

    qs = pick(25, "q1").join(pick(75, "q3"), "brand")
    fenced = qs.select(
        "brand",
        "q1",
        "q3",
        (F.col("q1") * 2 - 3 * (F.col("q3") - F.col("q1"))).alias("lo2"),
        (F.col("q3") * 2 + 3 * (F.col("q3") - F.col("q1"))).alias("hi2"),
    )
    # fences kept in DOUBLED cents (×2) so 1.5·IQR stays integer.
    out = (
        base.join(F.broadcast(fenced), "brand")
        .groupBy("brand", "q1", "q3", "lo2", "hi2")
        .agg(
            F.count("*").alias("n_parts"),
            F.sum(((F.col("c") * 2 < F.col("lo2")) | (F.col("c") * 2 > F.col("hi2"))).cast("bigint"))
            .alias("n_outliers"),
        )
    )
    return out.select(
        "brand",
        "n_parts",
        F.round(F.col("q1").cast("double") / 100, 2).alias("q1_price"),
        F.round(F.col("q3").cast("double") / 100, 2).alias("q3_price"),
        F.round(F.col("lo2").cast("double") / 200, 6).alias("lower_fence"),
        F.round(F.col("hi2").cast("double") / 200, 6).alias("upper_fence"),
        "n_outliers",
    )


ORACLE_PRICE_IQR_FENCES = """
WITH base AS (
  SELECT p_brand AS brand, CAST(round(p_retailprice * 100) AS BIGINT) AS c
  FROM part
),
hist AS (SELECT brand, c, count(*) AS n FROM base GROUP BY brand, c),
cum AS (
  SELECT brand, c,
         CAST(SUM(n) OVER (PARTITION BY brand ORDER BY c
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         CAST(SUM(n) OVER (PARTITION BY brand) AS BIGINT) AS total
  FROM hist
),
q1 AS (SELECT brand, min(c) AS q1 FROM cum
       WHERE cum >= CAST(ceil(25 * total / 100.0) AS BIGINT) GROUP BY brand),
q3 AS (SELECT brand, min(c) AS q3 FROM cum
       WHERE cum >= CAST(ceil(75 * total / 100.0) AS BIGINT) GROUP BY brand),
fenced AS (
  SELECT q1.brand, q1, q3,
         q1 * 2 - 3 * (q3 - q1) AS lo2,
         q3 * 2 + 3 * (q3 - q1) AS hi2
  FROM q1 JOIN q3 ON q1.brand = q3.brand
)
SELECT b.brand AS brand, count(*) AS n_parts,
       ROUND(CAST(q1 AS DOUBLE) / 100, 2) AS q1_price,
       ROUND(CAST(q3 AS DOUBLE) / 100, 2) AS q3_price,
       ROUND(CAST(lo2 AS DOUBLE) / 200, 6) AS lower_fence,
       ROUND(CAST(hi2 AS DOUBLE) / 200, 6) AS upper_fence,
       CAST(sum(CASE WHEN b.c * 2 < lo2 OR b.c * 2 > hi2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers
FROM base b JOIN fenced f ON b.brand = f.brand
GROUP BY b.brand, q1, q3, lo2, hi2
"""


WQ_QUANTILES = (50, 90)


def q_weighted_delivery_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-WEIGHTED delivery-time quantiles per return flag: the
    smallest ship delay d such that lineitems shipping within d days
    carry ≥ q% of revenue — "half the money ships within N days",
    which an unweighted row percentile misstates whenever order values
    correlate with delay. The weighted generalization of the
    histogram-quantile formulation: cumulative WEIGHT (exact cents)
    over the per-group distinct delays replaces cumulative count;
    rank thresholds are exact integer cents computed by ceil on the
    group's total. Fully parallel (map-side-combining (flag, delay)
    histogram), same shape that fixed the rank-window ceiling."""
    from pyspark.sql import Window

    li = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_orderdate")
    delay = F.datediff(
        F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
    ).cast("bigint")
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    hist = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(F.col("l_returnflag").alias("flag"), delay.alias("delay_days"))
        .agg(F.sum(cents).alias("w"))
    )
    wv = Window.partitionBy("flag").orderBy("delay_days")
    cum = hist.withColumn(
        "cum", F.sum("w").over(wv.rowsBetween(Window.unboundedPreceding, 0))
    ).withColumn("total", F.sum("w").over(Window.partitionBy("flag")))
    picks = None
    for q in WQ_QUANTILES:
        rank = F.expr(f"CAST(ceil({q} * total / 100.0) AS BIGINT)")
        p = (
            cum.filter(F.col("cum") >= rank)
            .groupBy("flag")
            .agg(
                F.min("delay_days").alias("delay_days"),
                F.max("total").alias("total_cents"),
            )
            .select(
                "flag",
                F.lit(q).cast("bigint").alias("revenue_pct"),
                "delay_days",
                "total_cents",
            )
        )
        picks = p if picks is None else picks.unionByName(p)
    return picks


ORACLE_WEIGHTED_DELIVERY = f"""
WITH hist AS (
  SELECT l_returnflag AS flag,
         CAST(date_diff('day', CAST(o_orderdate AS DATE),
                        CAST(l_shipdate AS DATE)) AS BIGINT) AS delay_days,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS w
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2
),
cum AS (
  SELECT flag, delay_days,
         CAST(SUM(w) OVER (PARTITION BY flag ORDER BY delay_days
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum,
         CAST(SUM(w) OVER (PARTITION BY flag) AS BIGINT) AS total
  FROM hist
)
{" UNION ALL ".join(
    f"SELECT flag, CAST({q} AS BIGINT) AS revenue_pct,"
    f" min(delay_days) AS delay_days, max(total) AS total_cents"
    f" FROM cum WHERE cum >= CAST(ceil({q} * total / 100.0) AS BIGINT)"
    f" GROUP BY flag"
    for q in WQ_QUANTILES
)}
"""


def q_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration (Lorenz/Gini) report: how much of total
    order value the top customer deciles hold, plus the Gini
    coefficient — the whale-dependence metric behind "top 10% of
    customers drive X% of revenue". Output: one row per decile with
    cumulative share, plus the Gini in every row (computed once,
    broadcast).

    Exact arithmetic: per-customer totals are integer cents; the
    decile assignment uses the integer rank over the per-customer
    table (customer cardinality, not order cardinality); Gini uses
    the closed form G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n over rank-ordered
    integer totals — Σ i·xᵢ is an exact bigint (rank ≤ 15k, cents ≤
    2^40), so the only float is the final two-term formula, shared
    shape, rounded 6.

    Scale note: the rank over per-customer totals is the two-pass
    distributed group-less ``grouped_row_number`` (range-partition on
    ``(v, o_custkey)``, local rank, tiny prefix offsets) — the same
    shape as `keys_projection`'s sort_rank and `report_summary`'s
    pad rank, so no single-partition WindowExec touches the customer
    dimension at any scale."""
    from pyspark.sql import Window

    from ..operators.report import grouped_row_number

    orders = load_table(spark, "orders", sf_dir)
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    per_cust = orders.groupBy("o_custkey").agg(F.sum(cents).alias("v"))
    ranked = grouped_row_number(per_cust, [], ["v", "o_custkey"], rn_col="i")
    tot = ranked.agg(
        F.count("*").alias("n"),
        F.sum("v").alias("sv"),
        F.sum(F.col("i") * F.col("v")).alias("siv"),
    )
    gini = F.round(
        F.lit(2.0) * F.col("siv").cast("double")
        / (F.col("n").cast("double") * F.col("sv").cast("double"))
        - (F.col("n") + 1).cast("double") / F.col("n").cast("double"),
        6,
    )
    deciles = (
        ranked.crossJoin(F.broadcast(tot))
        .withColumn("decile", F.expr("CAST(ceil(10.0 * i / n) AS BIGINT)"))
        .groupBy("decile")
        .agg(
            F.count("*").alias("n_custs"),
            F.sum("v").alias("decile_cents"),
            F.max(gini).alias("gini"),
        )
    )
    wd = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    total_cents = deciles.agg(F.sum("decile_cents").alias("tc"))
    return (
        deciles.crossJoin(F.broadcast(total_cents))
        .select(
            "decile",
            "n_custs",
            F.round(F.col("decile_cents").cast("double") / F.col("tc"), 6).alias(
                "share"
            ),
            F.round(
                F.sum(F.col("decile_cents").cast("double") / F.col("tc")).over(wd), 6
            ).alias("cum_share"),
            "gini",
        )
    )


ORACLE_GINI_CONCENTRATION = """
WITH per_cust AS (
  SELECT o_custkey, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS v
  FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT *, CAST(row_number() OVER (ORDER BY v, o_custkey) AS BIGINT) AS i
  FROM per_cust
),
tot AS (
  SELECT count(*) AS n, CAST(sum(v) AS BIGINT) AS sv,
         CAST(sum(i * v) AS BIGINT) AS siv
  FROM ranked
),
deciles AS (
  SELECT CAST(ceil(10.0 * i / n) AS BIGINT) AS decile,
         count(*) AS n_custs,
         CAST(sum(v) AS BIGINT) AS decile_cents,
         max(ROUND(2.0 * CAST(siv AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(sv AS DOUBLE))
                   - CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE), 6)) AS gini
  FROM ranked CROSS JOIN tot
  GROUP BY 1
),
tc AS (SELECT CAST(sum(decile_cents) AS BIGINT) AS tc FROM deciles)
SELECT decile, n_custs,
       ROUND(CAST(decile_cents AS DOUBLE) / tc, 6) AS share,
       ROUND(SUM(CAST(decile_cents AS DOUBLE) / tc)
               OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
         AS cum_share,
       gini
FROM deciles CROSS JOIN tc
"""


def q_order_cycle_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship cycle-time SLA table: per order priority, the
    distribution of days from order date to the LAST line shipment —
    count, exact mean, exact-rank p50/p90, and max. The per-priority
    quantiles use the HISTOGRAM formulation (groupBy (priority, days)
    + cumulative counts over distinct day values + min-value pick) —
    o_orderpriority has 5 values, so a rank window would serialize
    each priority into one sort task (the low-cardinality ceiling
    SCALE.md measures and fixes); the day-grain histogram is bounded
    by the calendar, not the order count. Integer day arithmetic
    end-to-end; the mean is the one rounded division."""
    from pyspark.sql import Window

    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_shipdate")
    # max shipdate per order BEFORE the join (o_orderdate is constant
    # per order) — the join sees order-grain rows on both sides
    last_ship = li.groupBy("l_orderkey").agg(
        F.max("l_shipdate").alias("last_ship")
    )
    per_order = last_ship.join(
        orders, last_ship.l_orderkey == orders.o_orderkey
    ).select(
        "o_orderpriority",
        F.datediff(
            F.col("last_ship").cast("date"), F.col("o_orderdate").cast("date")
        )
        .cast("bigint")
        .alias("cycle_days"),
    )
    hist = per_order.groupBy("o_orderpriority", "cycle_days").agg(
        F.count("*").alias("n")
    )
    wv = Window.partitionBy("o_orderpriority").orderBy("cycle_days")
    cum = hist.withColumn(
        "cum", F.sum("n").over(wv.rowsBetween(Window.unboundedPreceding, 0))
    ).withColumn("total", F.sum("n").over(Window.partitionBy("o_orderpriority")))

    def pick(q, out):
        return (
            cum.filter(F.col("cum") >= F.expr(f"CAST(ceil({q} * total / 100.0) AS BIGINT)"))
            .groupBy("o_orderpriority")
            .agg(F.min("cycle_days").alias(out))
        )

    agg = per_order.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("cycle_days").cast("double") / F.count("*"), 6).alias("mean_days"),
        F.max("cycle_days").alias("max_days"),
    )
    return (
        agg.join(pick(50, "p50_days"), "o_orderpriority")
        .join(pick(90, "p90_days"), "o_orderpriority")
        .select(
            F.col("o_orderpriority").alias("priority"),
            "n_orders",
            "mean_days",
            "p50_days",
            "p90_days",
            "max_days",
        )
    )


ORACLE_ORDER_CYCLE_TIME = """
WITH per_order AS (
  SELECT o_orderkey, o_orderpriority,
         CAST(date_diff('day', CAST(min(o_orderdate) AS DATE),
                        CAST(max(l_shipdate) AS DATE)) AS BIGINT) AS cycle_days
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY o_orderkey, o_orderpriority
),
ranked AS (
  SELECT o_orderpriority, o_orderkey, cycle_days,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY cycle_days, o_orderkey) AS rk,
         count(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM per_order
),
p50 AS (
  SELECT o_orderpriority, cycle_days AS p50_days
  FROM ranked WHERE rk = CAST(ceil(50 * n / 100.0) AS BIGINT)
),
p90 AS (
  SELECT o_orderpriority, cycle_days AS p90_days
  FROM ranked WHERE rk = CAST(ceil(90 * n / 100.0) AS BIGINT)
),
agg AS (
  SELECT o_orderpriority, count(*) AS n_orders,
         ROUND(CAST(CAST(sum(cycle_days) AS BIGINT) AS DOUBLE) / count(*), 6)
           AS mean_days,
         max(cycle_days) AS max_days
  FROM per_order GROUP BY o_orderpriority
)
SELECT agg.o_orderpriority AS priority, n_orders, mean_days, p50_days, p90_days,
       max_days
FROM agg
JOIN p50 ON agg.o_orderpriority = p50.o_orderpriority
JOIN p90 ON agg.o_orderpriority = p90.o_orderpriority
"""


# --- Poisson bootstrap confidence interval --------------------------------

BOOT_B = 32  # bootstrap replicates
# Cumulative Poisson(1) CDF scaled to 32-bit integers (k = 0..6; the
# weight caps at 7, P(w>7) ≈ 1e-5): a row's replicate weight is the
# count of thresholds <= its 32-bit hash — the inverse-CDF lookup as
# integer comparisons, identical in both engines.
import math as _math

_POIS_CUM = []
_acc = 0.0
for _k in range(7):
    _acc += _math.exp(-1.0) / _math.factorial(_k)
    _POIS_CUM.append(int(_acc * 2**32))


def q_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap 95% CI for the mean order value — the
    resampling scheme that works at 100 TB (each row draws an iid
    Poisson(1) weight per replicate, so no sampling pass ever
    materializes a resample; the classic streaming bootstrap of the
    large-scale-estimation literature). B=32 replicates in ONE scan:
    each row hashes ONCE (md5 → two 60-bit slices), per-replicate
    32-bit uniforms come from Kirsch–Mitzenmacher double hashing
    (h1 + b·h2, the Bloom-filter trick), and the weight is the count
    of Poisson(1) inverse-CDF thresholds ≤ the uniform — with no
    per-replicate hashing.
    Partial aggregation collapses everything to B weighted (n, sum)
    pairs before the shuffle; the CI is the exact-rank 2nd/31st
    replicate mean and the bootstrap SE comes from DECIMAL sums of
    the rounded replicate means. The whole summary is ONE aggregation
    over the 32-row rank table (no multi-branch recompute of the
    replicate DAG — the first cut re-ran the scan 3×, 38 s → ~3 s).

    Codegen shape (round 6): the replicate index is EXPLODED and the
    weight is a flat chain of 7 integer comparisons — the first cut
    built a 32-element array via ``transform`` over nested ``filter``,
    which (like the SimHash nibble fold, SCALE.md "nested-HOF
    projection cliff") drops the projection out of whole-stage codegen
    and evaluates interpreted: measured 3.2× slower at sf0.1 (3.5 →
    1.1 s warm) for identical values. The explode fan-out (rows × B)
    is exactly what the array form shuffled anyway.

    Determinism: fixed integer thresholds + md5 → the oracle rebuilds
    identical replicates and the check is hash-exact, which no
    rand()-based bootstrap could offer."""
    orders = load_table(spark, "orders", sf_dir)
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    m = F.md5(F.col("o_orderkey").cast("string"))
    base = orders.select(
        cents.alias("cents"),
        F.conv(F.substring(m, 1, 8), 16, 10).cast("bigint").alias("h1"),
        F.conv(F.substring(m, 9, 8), 16, 10).cast("bigint").alias("h2"),
    )
    rep = base.select(
        "cents", "h1", "h2",
        F.explode(F.sequence(F.lit(1), F.lit(BOOT_B))).alias("b"),
    )
    u = (F.col("h1") + F.col("b") * F.col("h2")) % F.lit(2**32)
    w = reduce(
        lambda acc, t: acc + (u >= F.lit(t)).cast("bigint"),
        _POIS_CUM,
        F.lit(0).cast("bigint"),
    )
    rep = rep.select("cents", (F.col("b") - 1).alias("i"), w.alias("w"))
    reps = (
        rep.groupBy("i")
        .agg(F.sum("w").alias("n_b"), F.sum(F.col("w") * F.col("cents")).alias("s_b"))
        .select(
            (F.col("i") + 1).alias("b"),
            F.round(F.col("s_b").cast("double") / F.col("n_b") / 100, 6).alias("mean_b"),
        )
    )
    from pyspark.sql import Window

    wr = Window.orderBy("mean_b", "b")
    ranked = reps.withColumn("rk", F.row_number().over(wr))
    summary = ranked.agg(
        F.count("*").cast("bigint").alias("n_replicates"),
        F.sum(F.col("mean_b").cast("decimal(28,6)")).cast("double").alias("sm"),
        F.sum(F.round(F.col("mean_b") * F.col("mean_b"), 6).cast("decimal(28,6)"))
        .cast("double")
        .alias("smm"),
        F.max(F.when(F.col("rk") == 2, F.col("mean_b"))).alias("ci_lo"),
        F.max(F.when(F.col("rk") == BOOT_B - 1, F.col("mean_b"))).alias("ci_hi"),
    )
    truth = orders.agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum(cents).cast("double") / F.count("*") / 100, 6).alias("mean_value"),
    )
    se = F.round(
        F.sqrt(
            (F.col("n_replicates") * F.col("smm") - F.col("sm") * F.col("sm"))
            / (F.col("n_replicates") * (F.col("n_replicates") - 1))
        ),
        6,
    )
    return truth.crossJoin(F.broadcast(summary)).select(
        "n_orders", "mean_value", "n_replicates", "ci_lo", "ci_hi", se.alias("se_boot")
    )


def _oracle_poisson_bootstrap() -> str:
    thr = ", ".join(str(t) for t in _POIS_CUM)
    return f"""
WITH base AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT) AS h1,
         CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 9, 8)) AS BIGINT) AS h2
  FROM orders
),
rep AS (
  SELECT cents, gs.b,
         CAST(len(list_filter([{thr}], t -> t <= (h1 + gs.b * h2) % 4294967296))
              AS BIGINT) AS w
  FROM base, generate_series(1, {BOOT_B}) AS gs(b)
),
reps AS (
  SELECT b, ROUND(CAST(CAST(sum(w * cents) AS BIGINT) AS DOUBLE)
                  / CAST(sum(w) AS BIGINT) / 100, 6) AS mean_b
  FROM rep GROUP BY b
),
ranked AS (
  SELECT b, mean_b, row_number() OVER (ORDER BY mean_b, b) AS rk FROM reps
),
summary AS (
  SELECT CAST(count(*) AS BIGINT) AS n_replicates,
         CAST(sum(CAST(mean_b AS DECIMAL(28,6))) AS DOUBLE) AS sm,
         CAST(sum(CAST(ROUND(mean_b * mean_b, 6) AS DECIMAL(28,6))) AS DOUBLE) AS smm,
         max(CASE WHEN rk = 2 THEN mean_b END) AS ci_lo,
         max(CASE WHEN rk = {BOOT_B - 1} THEN mean_b END) AS ci_hi
  FROM ranked
),
truth AS (
  SELECT count(*) AS n_orders,
         ROUND(CAST(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                    AS DOUBLE) / count(*) / 100, 6) AS mean_value
  FROM orders
)
SELECT n_orders, mean_value, n_replicates, ci_lo, ci_hi,
       ROUND(sqrt((n_replicates * smm - sm * sm)
                  / (n_replicates * (n_replicates - 1))), 6) AS se_boot
FROM truth CROSS JOIN summary
"""


_CORR_VARS = ["qty", "price", "disc", "tax"]


def q_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation matrix (upper triangle) over the lineitem
    measures — the feature-screening pass before any modeling step —
    from EXACT integer moments: quantity/price/discount/tax are
    integerized (units/cents/bp), every Σx, Σxy, Σx² accumulates in
    DECIMAL(38,0) (Σ price² overflows int64 past ~sf0.05 — the decimal
    lattice is the point, not pedantry), and only the final shared-
    shape corr formula is float, rounded to 6. One single-pass
    aggregation (all 14 moments map-side-combine in one scan); the
    6-row matrix is a stack over that one row."""
    li = load_table(spark, "lineitem", sf_dir)
    ints = {
        "qty": F.round(F.col("l_quantity")).cast("bigint"),
        "price": F.round(F.col("l_extendedprice") * 100).cast("bigint"),
        "disc": F.round(F.col("l_discount") * 100).cast("bigint"),
        "tax": F.round(F.col("l_tax") * 100).cast("bigint"),
    }
    pre = li.select(*[v.alias(k) for k, v in ints.items()])
    aggs = [F.count("*").cast("double").alias("n")]
    for v in _CORR_VARS:
        aggs.append(F.sum(F.col(v).cast("decimal(38,0)")).cast("double").alias(f"s_{v}"))
        aggs.append(
            F.sum((F.col(v) * F.col(v)).cast("decimal(38,0)"))
            .cast("double")
            .alias(f"s_{v}{v}")
        )
    pairs = [
        (a, b) for i, a in enumerate(_CORR_VARS) for b in _CORR_VARS[i + 1:]
    ]
    for a, b in pairs:
        aggs.append(
            F.sum((F.col(a) * F.col(b)).cast("decimal(38,0)"))
            .cast("double")
            .alias(f"s_{a}{b}")
        )
    one = pre.agg(*aggs)

    def corr_sql(a: str, b: str) -> str:
        return (
            f"ROUND((n * s_{a}{b} - s_{a} * s_{b}) / "
            f"(sqrt(n * s_{a}{a} - s_{a} * s_{a}) * "
            f"sqrt(n * s_{b}{b} - s_{b} * s_{b})), 6)"
        )

    rows = ", ".join(f"'{a}', '{b}', {corr_sql(a, b)}" for a, b in pairs)
    return one.selectExpr(
        "CAST(n AS BIGINT) AS n_rows",
        f"stack({len(pairs)}, {rows}) AS (var_x, var_y, corr)",
    ).select("var_x", "var_y", "n_rows", "corr")


def _oracle_corr_matrix() -> str:
    ints = {
        "qty": "CAST(round(l_quantity) AS BIGINT)",
        "price": "CAST(round(l_extendedprice * 100) AS BIGINT)",
        "disc": "CAST(round(l_discount * 100) AS BIGINT)",
        "tax": "CAST(round(l_tax * 100) AS BIGINT)",
    }
    moments = ["CAST(count(*) AS DOUBLE) AS n"]
    for v in _CORR_VARS:
        moments.append(f"CAST(sum(CAST({v} AS DECIMAL(38,0))) AS DOUBLE) AS s_{v}")
        moments.append(
            f"CAST(sum(CAST({v} * {v} AS DECIMAL(38,0))) AS DOUBLE) AS s_{v}{v}"
        )
    pairs = [(a, b) for i, a in enumerate(_CORR_VARS) for b in _CORR_VARS[i + 1:]]
    for a, b in pairs:
        moments.append(
            f"CAST(sum(CAST({a} * {b} AS DECIMAL(38,0))) AS DOUBLE) AS s_{a}{b}"
        )
    sel = ", ".join(f"{e} AS {k}" for k, e in ints.items())
    branches = "\nUNION ALL\n".join(
        f"SELECT '{a}' AS var_x, '{b}' AS var_y, CAST(n AS BIGINT) AS n_rows, "
        f"ROUND((n * s_{a}{b} - s_{a} * s_{b}) / "
        f"(sqrt(n * s_{a}{a} - s_{a} * s_{a}) * sqrt(n * s_{b}{b} - s_{b} * s_{b})), 6)"
        f" AS corr FROM m"
        for a, b in pairs
    )
    return f"""
WITH pre AS (SELECT {sel} FROM lineitem),
m AS (SELECT {', '.join(moments)} FROM pre)
{branches}
"""


# --- distinct aggregation ---------------------------------------------

def q_distinct_parts_per_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    return li.groupBy("l_orderkey").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count("*").alias("n_lines"),
    )


ORACLE_DISTINCT_PARTS = """
SELECT l_orderkey,
       COUNT(DISTINCT l_partkey) AS n_parts,
       COUNT(DISTINCT l_suppkey) AS n_supps,
       COUNT(*) AS n_lines
FROM lineitem GROUP BY l_orderkey
"""


# --- pivot -------------------------------------------------------------

_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PRIORITY_ALIASES = ["p1_urgent", "p2_high", "p3_medium", "p4_not_specified", "p5_low"]


def q_order_priority_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: order counts per status × priority. Explicit pivot
    values keep the plan a single pass (no value-discovery job)."""
    orders = load_table(spark, "orders", sf_dir)
    df = (
        orders.groupBy("o_orderstatus")
        .pivot("o_orderpriority", _PRIORITIES)
        .agg(F.count(F.lit(1)))
    )
    renamed = df.select(
        "o_orderstatus",
        *[
            F.coalesce(F.col(f"`{p}`"), F.lit(0)).alias(a)
            for p, a in zip(_PRIORITIES, _PRIORITY_ALIASES)
        ],
    )
    return renamed


ORACLE_ORDER_PRIORITY_PIVOT = """
SELECT o_orderstatus,
       COUNT(*) FILTER (o_orderpriority = '1-URGENT') AS p1_urgent,
       COUNT(*) FILTER (o_orderpriority = '2-HIGH') AS p2_high,
       COUNT(*) FILTER (o_orderpriority = '3-MEDIUM') AS p3_medium,
       COUNT(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS p4_not_specified,
       COUNT(*) FILTER (o_orderpriority = '5-LOW') AS p5_low
FROM orders GROUP BY o_orderstatus
"""


def q_order_status_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-status profile in one driver-checked query: the explicit-
    values pivot (priority counts) joined with the interpolated price
    percentiles (Spark ``percentile`` ≡ DuckDB ``quantile_cont`` —
    both use (n−1)·q linear interpolation), the DISCRETE median
    (``percentile_disc`` ≡ ``quantile_disc``: smallest actual data
    value whose cume_dist ≥ q — no interpolation, so the result is a
    real row value), and the modal priority. Mode is computed
    explicitly (counts → rank with a value tiebreak) rather than via
    the engines' ``mode()`` builtins, whose tie-breaking is
    unspecified — determinism is engineered, not hoped for. All
    sides aggregate on o_orderstatus — same shuffle key, 3-row
    joins."""
    orders = load_table(spark, "orders", sf_dir)
    pivot = q_order_priority_pivot(spark, sf_dir)
    pct = orders.groupBy("o_orderstatus").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(o_totalprice, 0.99)"), 6).alias("p99"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)")
        .alias("p50_disc"),
    )
    counts = orders.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("cnt")
    )
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("cnt").desc(), F.col("o_orderpriority").desc()
    )
    mode = (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_orderstatus", F.col("o_orderpriority").alias("mode_priority"))
    )
    return pivot.join(pct, "o_orderstatus").join(mode, "o_orderstatus")


ORACLE_ORDER_STATUS_PROFILE = f"""
SELECT p.*, q.p50, q.p90, q.p99, q.p50_disc, m.mode_priority
FROM ({ORACLE_ORDER_PRIORITY_PIVOT}) p
JOIN (SELECT o_orderstatus,
             ROUND(quantile_cont(o_totalprice, 0.5), 6) AS p50,
             ROUND(quantile_cont(o_totalprice, 0.9), 6) AS p90,
             ROUND(quantile_cont(o_totalprice, 0.99), 6) AS p99,
             quantile_disc(o_totalprice, 0.5) AS p50_disc
      FROM orders GROUP BY o_orderstatus) q USING (o_orderstatus)
JOIN (SELECT o_orderstatus, o_orderpriority AS mode_priority
      FROM (SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
                   row_number() OVER (PARTITION BY o_orderstatus
                                      ORDER BY count(*) DESC,
                                               o_orderpriority DESC) AS rn
            FROM orders GROUP BY o_orderstatus, o_orderpriority)
      WHERE rn = 1) m USING (o_orderstatus)
"""


# --- running total (ordered window aggregate) --------------------------

def q_running_order_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer running sum over order date. Decimal accumulation
    keeps the prefix sums bit-identical across engines (window
    aggregation trees may reduce in different orders)."""
    orders = load_table(spark, "orders", sf_dir)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("running_total"),
    )


ORACLE_RUNNING_ORDER_TOTAL = """
SELECT o_custkey, o_orderkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
FROM orders
"""


# --- UNION ALL + INTERSECT --------------------------------------------

def q_active_party_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set algebra: nation keys used by BOTH customers and suppliers
    (INTERSECT), plus each side's distinct count via UNION ALL."""
    cust = load_table(spark, "customer", sf_dir)
    supp = load_table(spark, "supplier", sf_dir)
    both = (
        cust.select(F.col("c_nationkey").alias("nationkey"))
        .intersect(supp.select(F.col("s_nationkey").alias("nationkey")))
        .select("nationkey", F.lit("both").alias("side"))
    )
    only_cust = (
        cust.select(F.col("c_nationkey").alias("nationkey"))
        .subtract(supp.select(F.col("s_nationkey").alias("nationkey")))
        .select("nationkey", F.lit("customer_only").alias("side"))
    )
    return both.unionAll(only_cust)


ORACLE_ACTIVE_PARTY_KEYS = """
SELECT nationkey, 'both' AS side FROM (
  SELECT c_nationkey AS nationkey FROM customer
  INTERSECT SELECT s_nationkey FROM supplier)
UNION ALL
SELECT nationkey, 'customer_only' AS side FROM (
  SELECT c_nationkey AS nationkey FROM customer
  EXCEPT SELECT s_nationkey FROM supplier)
"""


def q_set_ops_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The set-operation surface in one driver-checked query, as a
    tagged (side, key) membership list:

    - ``cust_no_recent_orders`` — EXCEPT distinct (customers with no
      order on/after 1997);
    - ``supp_with_lineitems`` — left_semi EXISTS (never duplicates the
      probe side);
    - ``nation_both`` / ``nation_customer_only`` — INTERSECT /
      subtract over customer vs supplier nation keys.
    """
    no_orders = q_customers_without_orders(spark, sf_dir).select(
        F.lit("cust_no_recent_orders").alias("side"), F.col("custkey").alias("key")
    )
    with_items = q_suppliers_with_lineitems(spark, sf_dir).select(
        F.lit("supp_with_lineitems").alias("side"), F.col("s_suppkey").alias("key")
    )
    party = q_active_party_keys(spark, sf_dir).select(
        F.concat(F.lit("nation_"), F.col("side")).alias("side"),
        F.col("nationkey").cast("bigint").alias("key"),
    )
    return no_orders.unionByName(with_items).unionByName(party)


ORACLE_SET_OPS_MEMBERSHIP = f"""
SELECT 'cust_no_recent_orders' AS side, custkey AS key
FROM ({ORACLE_CUSTOMERS_WITHOUT_ORDERS})
UNION ALL
SELECT 'supp_with_lineitems', s_suppkey FROM ({ORACLE_SUPPLIERS_WITH_LINEITEMS})
UNION ALL
SELECT concat('nation_', side), CAST(nationkey AS BIGINT)
FROM ({ORACLE_ACTIVE_PARTY_KEYS})
"""


# --- grouped HAVING ----------------------------------------------------

def q_big_spender_months(spark: SparkSession, sf_dir: str) -> DataFrame:
    """date_trunc month + HAVING over an exact decimal sum."""
    orders = load_table(spark, "orders", sf_dir)
    monthly = (
        orders.groupBy(F.date_trunc("month", "o_orderdate").alias("month"))
        .agg(
            _dsum("o_totalprice").alias("month_total"),
            F.count("*").alias("n_orders"),
        )
    )
    return monthly.filter(F.col("n_orders") > 10)


ORACLE_BIG_SPENDER_MONTHS = """
SELECT date_trunc('month', o_orderdate) AS month,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS month_total,
       COUNT(*) AS n_orders
FROM orders GROUP BY 1 HAVING COUNT(*) > 10
"""



# --- skew-mitigated join ----------------------------------------------

def q_skew_salted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join under deliberate skew: ~1/3 of lineitem rows are
    remapped onto one hot supplier key, then joined to the supplier
    dim through operators/skew.salted_join (hot key fanned across 8
    salt sub-keys). The aggregate is salt-invariant, so the oracle is
    the plain join — proving the mitigation is semantics-preserving."""
    from ..operators.skew import salted_join

    li = load_table(spark, "lineitem", sf_dir).withColumn(
        "skew_key",
        F.when(F.col("l_orderkey") % 3 == 0, F.lit(1)).otherwise(F.col("l_suppkey")),
    )
    supp = load_table(spark, "supplier", sf_dir).select(
        F.col("s_suppkey").alias("skew_key"), "s_name"
    )
    return (
        salted_join(li.select("skew_key", "l_quantity"), supp, "skew_key", num_salts=8)
        .groupBy("s_name")
        .agg(
            F.count("*").alias("n_rows"),
            _dsum("l_quantity").alias("sum_qty"),
        )
    )


ORACLE_SKEW_SALTED_REVENUE = """
SELECT s_name, count(*) AS n_rows,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM (SELECT CASE WHEN l_orderkey % 3 = 0 THEN 1 ELSE l_suppkey END AS skew_key,
             l_quantity
      FROM lineitem) li
JOIN supplier ON skew_key = s_suppkey
GROUP BY s_name
"""


# --- RFM customer segmentation ----------------------------------------

RFM_BANDS = 5
RFM_MON_GRAIN = 10_000  # cents → $100 bands for the monetary quantile domain


def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) segmentation (Hughes 1994;
    the standard CRM scoring) with EXACT integer quantile banding
    instead of ``ntile``: ntile(5) over all customers needs one global
    sort — the classic scale-killer — and breaks ties by partition
    order (nondeterministic). Here each metric's score comes from
    cumulative counts over its DISTINCT-VALUE aggregate:
    ``score = ((cum_start * 5) DIV total) + 1`` — pure integer
    arithmetic, equal values always land in the same band, and the
    only unpartitioned window runs over provably bounded domains
    (order dates ≤ calendar span, frequency ≤ max orders/customer,
    monetary quantized to $100 bands ≤ price-range/100 rows) — never
    over the customer table itself. Monetary is summed in exact
    integer cents (module float-determinism note)."""
    orders = load_table(spark, "orders", sf_dir)
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
    per_cust = (
        orders.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count("*").alias("frequency"),
            F.sum(cents).alias("mon_cents"),
        )
        .withColumn("mon_band", F.expr(f"mon_cents DIV {RFM_MON_GRAIN}"))
    )
    tot = per_cust.agg(F.count("*").alias("total"))

    def band(val_col: str, score_col: str) -> DataFrame:
        vc = per_cust.groupBy(val_col).agg(F.count("*").alias("n"))
        w = Window.orderBy(val_col).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        return (
            vc.withColumn("cum", F.sum("n").over(w))
            .crossJoin(F.broadcast(tot))
            .select(
                val_col,
                (F.expr(f"((cum - n) * {RFM_BANDS}) DIV total") + 1)
                .cast("bigint")
                .alias(score_col),
            )
        )

    scored = (
        per_cust.join(band("last_order", "r_score"), "last_order")
        .join(band("frequency", "f_score"), "frequency")
        .join(band("mon_band", "m_score"), "mon_band")
    )
    return scored.select(
        "o_custkey",
        "last_order",
        "frequency",
        "mon_cents",
        "r_score",
        "f_score",
        "m_score",
        F.concat(
            F.col("r_score").cast("string"),
            F.col("f_score").cast("string"),
            F.col("m_score").cast("string"),
        ).alias("segment"),
    )


ORACLE_RFM_SEGMENTS = f"""
WITH pc AS (
  SELECT o_custkey, max(o_orderdate) AS last_order, count(*) AS frequency,
         CAST(sum(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS mon_cents
  FROM orders GROUP BY o_custkey
),
pc2 AS (SELECT *, mon_cents // {RFM_MON_GRAIN} AS mon_band FROM pc),
tot AS (SELECT count(*) AS total FROM pc2),
rs AS (
  SELECT v AS last_order, CAST(((cum - n) * {RFM_BANDS}) // total + 1 AS BIGINT) AS r_score
  FROM (SELECT last_order AS v, count(*) AS n,
               sum(count(*)) OVER (ORDER BY last_order ROWS UNBOUNDED PRECEDING) AS cum
        FROM pc2 GROUP BY last_order), tot
),
fs AS (
  SELECT v AS frequency, CAST(((cum - n) * {RFM_BANDS}) // total + 1 AS BIGINT) AS f_score
  FROM (SELECT frequency AS v, count(*) AS n,
               sum(count(*)) OVER (ORDER BY frequency ROWS UNBOUNDED PRECEDING) AS cum
        FROM pc2 GROUP BY frequency), tot
),
ms AS (
  SELECT v AS mon_band, CAST(((cum - n) * {RFM_BANDS}) // total + 1 AS BIGINT) AS m_score
  FROM (SELECT mon_band AS v, count(*) AS n,
               sum(count(*)) OVER (ORDER BY mon_band ROWS UNBOUNDED PRECEDING) AS cum
        FROM pc2 GROUP BY mon_band), tot
)
SELECT o_custkey, last_order, frequency, mon_cents, r_score, f_score, m_score,
       CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
         || CAST(m_score AS VARCHAR) AS segment
FROM pc2
JOIN rs USING (last_order) JOIN fs USING (frequency) JOIN ms USING (mon_band)
"""


# --- A/B test z-statistic ----------------------------------------------

AB_SPLIT_HEX = "8000"  # md5-prefix split ≈ 50/50
SRM_CRIT_1DF = 3.841459  # chi-square 95% critical value, df = 1


def q_ab_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail for the A/B split — the FIRST
    check an experimentation platform runs, before any metric is read:
    a chi-square goodness-of-fit of the observed arm counts against
    the designed 50/50 allocation (df=1). An SRM means the assignment
    or logging is broken and every downstream readout (incl.
    `unit_ab_ztest`, which shares this exact arm hash) is void.

    Exactness: counts are integers, expected counts are n/2 computed
    identically, the chi-square statistic is a short shared-shape
    float chain rounded to 6, and the flag compares against the
    df=1 95% critical value as a literal — no p-value, no erf, no
    cross-engine special-function hazard."""
    orders = load_table(spark, "orders", sf_dir)
    h = F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 4)
    per = orders.groupBy(
        F.when(h < AB_SPLIT_HEX, "A").otherwise("B").alias("arm")
    ).agg(F.count("*").alias("n"))
    wide = per.groupBy().pivot("arm", ["A", "B"]).sum("n")
    n_a, n_b = F.col("A").cast("bigint"), F.col("B").cast("bigint")
    total = n_a + n_b
    exp = total.cast("double") / 2
    chi2 = F.round(
        (n_a.cast("double") - exp) * (n_a.cast("double") - exp) / exp
        + (n_b.cast("double") - exp) * (n_b.cast("double") - exp) / exp,
        6,
    )
    return wide.select(
        n_a.alias("n_a"),
        n_b.alias("n_b"),
        F.round(n_a.cast("double") / total.cast("double"), 6).alias("frac_a"),
        chi2.alias("chi2"),
        (chi2 > SRM_CRIT_1DF).alias("srm_detected"),
    )


ORACLE_AB_SRM = f"""
WITH per AS (
  SELECT CASE WHEN substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 4) < '{AB_SPLIT_HEX}'
              THEN 'A' ELSE 'B' END AS arm,
         count(*) AS n
  FROM orders GROUP BY 1
),
wide AS (
  SELECT CAST(max(CASE WHEN arm = 'A' THEN n END) AS BIGINT) AS n_a,
         CAST(max(CASE WHEN arm = 'B' THEN n END) AS BIGINT) AS n_b
  FROM per
)
SELECT n_a, n_b,
       ROUND(CAST(n_a AS DOUBLE) / CAST(n_a + n_b AS DOUBLE), 6) AS frac_a,
       ROUND((CAST(n_a AS DOUBLE) - CAST(n_a + n_b AS DOUBLE) / 2)
             * (CAST(n_a AS DOUBLE) - CAST(n_a + n_b AS DOUBLE) / 2)
             / (CAST(n_a + n_b AS DOUBLE) / 2)
             + (CAST(n_b AS DOUBLE) - CAST(n_a + n_b AS DOUBLE) / 2)
             * (CAST(n_b AS DOUBLE) - CAST(n_a + n_b AS DOUBLE) / 2)
             / (CAST(n_a + n_b AS DOUBLE) / 2), 6) AS chi2,
       ROUND((CAST(n_a AS DOUBLE) - CAST(n_a + n_b AS DOUBLE) / 2)
             * (CAST(n_a AS DOUBLE) - CAST(n_a + n_b AS DOUBLE) / 2)
             / (CAST(n_a + n_b AS DOUBLE) / 2)
             + (CAST(n_b AS DOUBLE) - CAST(n_a + n_b AS DOUBLE) / 2)
             * (CAST(n_b AS DOUBLE) - CAST(n_a + n_b AS DOUBLE) / 2)
             / (CAST(n_a + n_b AS DOUBLE) / 2), 6) > {SRM_CRIT_1DF} AS srm_detected
FROM wide
"""
AB_Z_CRIT = 1.96


def q_ab_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample z-test for an A/B experiment readout: orders are
    split into arms by the deterministic md5-prefix hash (the same
    reproducible-assignment primitive as the sampling suite — never
    ``rand()``), the metric is o_totalprice, and the z-statistic for
    the difference of means is computed from EXACT decimal moments:
    per-arm n, Σcents and Σcents² are DECIMAL aggregates
    (order-independent, bit-identical on both engines), and only the
    final mean/variance/z derivation happens in float — a short fixed
    chain of IEEE ops written identically in both engines.

    Scale: one scan, one two-group aggregate with map-side combine —
    the full experiment readout is a single row no matter how many
    events the experiment logged."""
    orders = load_table(spark, "orders", sf_dir)
    h = F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 4)
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("decimal(19,0)")
    per = (
        orders.groupBy(
            F.when(h < AB_SPLIT_HEX, "A").otherwise("B").alias("arm")
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(cents).alias("s"),
            F.sum(cents * cents).alias("ss"),
        )
    )

    def pick(col, arm):
        return F.min(F.when(F.col("arm") == arm, F.col(col)))

    wide = per.agg(
        pick("n", "A").alias("n_a"),
        pick("n", "B").alias("n_b"),
        pick("s", "A").alias("s_a"),
        pick("s", "B").alias("s_b"),
        pick("ss", "A").alias("ss_a"),
        pick("ss", "B").alias("ss_b"),
    )
    # identical derivation chain on both engines: decimal → double
    # conversions, then (num / (n·(n−1))) / 1e4 for dollars².
    def mean(s, n):
        return F.col(s).cast("double") / (F.col(n) * F.lit(100.0))

    def var(n, s, ss):
        num = (
            F.col(n).cast("decimal(19,0)") * F.col(ss)
            - F.col(s).cast("decimal(19,0)") * F.col(s).cast("decimal(19,0)")
        ).cast("double")
        return num / (F.col(n) * (F.col(n) - F.lit(1.0))) / F.lit(10000.0)

    m_a, m_b = mean("s_a", "n_a"), mean("s_b", "n_b")
    v_a, v_b = var("n_a", "s_a", "ss_a"), var("n_b", "s_b", "ss_b")
    z = (m_a - m_b) / F.sqrt(v_a / F.col("n_a") + v_b / F.col("n_b"))
    return wide.select(
        "n_a",
        "n_b",
        F.round(m_a, 6).alias("mean_a"),
        F.round(m_b, 6).alias("mean_b"),
        F.round(v_a, 4).alias("var_a"),
        F.round(v_b, 4).alias("var_b"),
        F.round(z, 6).alias("z_stat"),
        (F.abs(z) > AB_Z_CRIT).alias("significant"),
    )


ORACLE_AB_ZTEST = f"""
WITH base AS (
  SELECT CASE WHEN substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 4) < '{AB_SPLIT_HEX}'
              THEN 'A' ELSE 'B' END AS arm,
         CAST(ROUND(o_totalprice * 100) AS DECIMAL(19,0)) AS cents
  FROM orders
),
per AS (
  SELECT arm, count(*) AS n, sum(cents) AS s, sum(cents * cents) AS ss
  FROM base GROUP BY arm
),
wide AS (
  SELECT min(n) FILTER (arm = 'A') AS n_a, min(n) FILTER (arm = 'B') AS n_b,
         min(s) FILTER (arm = 'A') AS s_a, min(s) FILTER (arm = 'B') AS s_b,
         min(ss) FILTER (arm = 'A') AS ss_a, min(ss) FILTER (arm = 'B') AS ss_b
  FROM per
),
d AS (
  SELECT n_a, n_b,
         CAST(s_a AS DOUBLE) / (n_a * 100.0) AS m_a,
         CAST(s_b AS DOUBLE) / (n_b * 100.0) AS m_b,
         CAST(CAST(n_a AS DECIMAL(19,0)) * ss_a
              - CAST(s_a AS DECIMAL(19,0)) * CAST(s_a AS DECIMAL(19,0)) AS DOUBLE)
           / (n_a * (n_a - 1.0)) / 10000.0 AS v_a,
         CAST(CAST(n_b AS DECIMAL(19,0)) * ss_b
              - CAST(s_b AS DECIMAL(19,0)) * CAST(s_b AS DECIMAL(19,0)) AS DOUBLE)
           / (n_b * (n_b - 1.0)) / 10000.0 AS v_b
  FROM wide
)
SELECT n_a, n_b,
       ROUND(m_a, 6) AS mean_a, ROUND(m_b, 6) AS mean_b,
       ROUND(v_a, 4) AS var_a, ROUND(v_b, 4) AS var_b,
       ROUND((m_a - m_b) / sqrt(v_a / n_a + v_b / n_b), 6) AS z_stat,
       abs((m_a - m_b) / sqrt(v_a / n_a + v_b / n_b)) > {AB_Z_CRIT} AS significant
FROM d
"""


# --- trimmed mean ---------------------------------------------------------

TRIM_PCT_E2 = 5  # trim 5% from each tail (integer percent)


def q_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group 5%-TRIMMED mean of order value — the robust location
    estimator completing the family (median/MAD, Tukey fences,
    rank-sum): outliers beyond the 5th/95th rank are excluded
    entirely, boundary values included PARTIALLY by exact rank
    arithmetic. All integer: per (group, value-cents) counts, a
    cumulative count over distinct values, trim bounds lo =
    floor(n·5%) and hi = n − lo, and each value contributes
    min(cum, hi) − max(cum_before, lo) copies (clamped ≥ 0) to an
    exact cents sum over exactly hi − lo retained copies — no
    interpolation, no float until the final division (rounded 6).

    Scale: the value-HISTOGRAM formulation again — one map-side-
    combining (group, value) count; the cumulative window partitions
    by GROUP over distinct values (per-group-parallel; see
    unit_mannwhitney_u's banded form for the near-unique global
    case)."""
    orders = load_table(spark, "orders", sf_dir)
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
    hist = (
        orders.select(
            F.col("o_orderpriority").alias("grp"), cents.alias("v")
        )
        .groupBy("grp", "v")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    w_tot = Window.partitionBy("grp")
    w_cum = (
        Window.partitionBy("grp")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.select(
        "grp",
        "v",
        "n",
        F.sum("n").over(w_tot).alias("n_tot"),
        F.sum("n").over(w_cum).alias("cum"),
    ).withColumn("cum_before", F.col("cum") - F.col("n"))
    lo = F.expr(f"n_tot * {TRIM_PCT_E2} DIV 100")
    hi = F.col("n_tot") - lo
    kept = F.greatest(
        F.least(F.col("cum"), hi) - F.greatest(F.col("cum_before"), lo),
        F.lit(0),
    )
    agg = (
        cum.withColumn("kept", kept)
        .groupBy("grp")
        .agg(
            F.first("n_tot").alias("n_total"),
            F.sum("kept").cast("bigint").alias("n_kept"),
            F.sum(F.col("kept") * F.col("v")).cast("bigint").alias("s_kept"),
        )
    )
    return agg.select(
        "grp",
        "n_total",
        "n_kept",
        F.round(
            F.col("s_kept").cast("double") / (F.col("n_kept") * 100), 6
        ).alias("trimmed_mean"),
    )


ORACLE_TRIMMED_MEAN = f"""
WITH hist AS (
  SELECT o_orderpriority AS grp,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v,
         CAST(count(*) AS BIGINT) AS n
  FROM orders GROUP BY 1, 2
),
cum AS (
  SELECT grp, v, n,
         CAST(SUM(n) OVER (PARTITION BY grp) AS BIGINT) AS n_tot,
         CAST(SUM(n) OVER (PARTITION BY grp ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum
  FROM hist
),
kept AS (
  SELECT grp, v, n_tot,
         greatest(least(cum, n_tot - (n_tot * {TRIM_PCT_E2} // 100))
                  - greatest(cum - n, n_tot * {TRIM_PCT_E2} // 100), 0)
           AS k
  FROM cum
)
SELECT grp, CAST(min(n_tot) AS BIGINT) AS n_total,
       CAST(sum(k) AS BIGINT) AS n_kept,
       ROUND(CAST(sum(k * v) AS DOUBLE) / (sum(k) * 100), 6)
         AS trimmed_mean
FROM kept GROUP BY grp
"""


# --- Mann-Whitney U rank-sum test ---------------------------------------

MWU_BUCKET_CENTS = 100_000  # $1000 value bands for the two-level cumsum


def q_mannwhitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U rank-sum test (Mann & Whitney 1947) — the
    NONPARAMETRIC sibling of ``unit_ab_ztest`` for the same md5-split
    A/B arms over order value: heavy-tailed revenue metrics violate
    the z-test's variance assumptions, and the rank statistic is the
    standard robust readout. Everything up to the final z is EXACT
    integer arithmetic: ranks live in DOUBLED units so midpoint
    average ranks of tied values stay integral (avg_rank×2 =
    2·(count below) + (ties at value) + 1), the rank-sum R₁×2 and
    U₁×2 are exact bigints, and the tie-correction Σ(t³−t) is an
    exact bigint — only the final normal approximation
    z = (U − n₁n₂/2)/σ_ties is a short shared-shape float chain.

    Scale: the value HISTOGRAM formulation — per-value (n_a, n_b)
    counts from one map-side-combining aggregation, then a TWO-LEVEL
    cumulative count: a global running sum over ≤~600 fixed $1000
    value BANDS (dimension-bounded window) plus a per-band window
    partitioned by band — so no unpartitioned window ever sees the
    near-unique raw value grain, unlike a naive rank() over N rows
    (the same partitionable-cumsum trick as unit_quantile_monitor)."""
    orders = load_table(spark, "orders", sf_dir)
    h = F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 4)
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
    hist = (
        orders.select(
            F.when(h < AB_SPLIT_HEX, "A").otherwise("B").alias("arm"),
            cents.alias("cents"),
        )
        .groupBy("cents")
        .agg(
            F.sum(F.when(F.col("arm") == "A", 1).otherwise(0))
            .cast("bigint")
            .alias("na"),
            F.sum(F.when(F.col("arm") == "B", 1).otherwise(0))
            .cast("bigint")
            .alias("nb"),
        )
        .withColumn("nv", F.col("na") + F.col("nb"))
        .withColumn("bkt", F.expr(f"cents DIV {MWU_BUCKET_CENTS}"))
    )
    bkt_tot = hist.groupBy("bkt").agg(F.sum("nv").alias("bn"))
    w_bkt = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    bkt_cum = bkt_tot.withColumn(
        "bkt_before", F.coalesce(F.sum("bn").over(w_bkt), F.lit(0))
    ).select("bkt", "bkt_before")
    w_in = (
        Window.partitionBy("bkt")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = (
        hist.join(bkt_cum, "bkt")
        .withColumn(
            "cum_before",
            F.col("bkt_before")
            + F.coalesce(F.sum("nv").over(w_in), F.lit(0)),
        )
        .withColumn(
            "avg_rank2", 2 * F.col("cum_before") + F.col("nv") + 1
        )
    )
    agg = ranked.agg(
        F.sum("na").alias("n_a"),
        F.sum("nb").alias("n_b"),
        F.sum(F.col("na") * F.col("avg_rank2")).alias("r1_2"),
        F.sum(
            F.col("nv") * F.col("nv") * F.col("nv") - F.col("nv")
        ).alias("tie_term"),
    )
    n1, n2 = F.col("n_a"), F.col("n_b")
    nn = n1 + n2
    u2 = F.col("r1_2") - n1 * (n1 + 1)
    # identical float chain on both engines: z = (U − n1·n2/2) / σ_ties
    sigma = F.sqrt(
        (n1 * n2 / F.lit(12.0))
        * ((nn + 1) - F.col("tie_term") / (nn * (nn - F.lit(1.0))))
    )
    z = ((u2 - n1 * n2) / F.lit(2.0)) / sigma
    return agg.select(
        "n_a",
        "n_b",
        u2.cast("bigint").alias("u_doubled"),
        (u2.cast("double") / 2).alias("u_stat"),
        F.col("tie_term").cast("bigint").alias("tie_term"),
        F.round(z, 6).alias("z_stat"),
        (F.abs(z) > AB_Z_CRIT).alias("significant"),
    )


ORACLE_MANNWHITNEY_U = f"""
WITH base AS (
  SELECT CASE WHEN substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 4) < '{AB_SPLIT_HEX}'
              THEN 'A' ELSE 'B' END AS arm,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
hist AS (
  SELECT cents,
         CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS na,
         CAST(sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS nb,
         CAST(count(*) AS BIGINT) AS nv,
         cents // {MWU_BUCKET_CENTS} AS bkt
  FROM base GROUP BY cents
),
bkt_cum AS (
  SELECT bkt, CAST(COALESCE(SUM(bn)
           OVER (ORDER BY bkt ROWS BETWEEN UNBOUNDED PRECEDING
                 AND 1 PRECEDING), 0) AS BIGINT) AS bkt_before
  FROM (SELECT bkt, sum(nv) AS bn FROM hist GROUP BY bkt)
),
ranked AS (
  SELECT hist.*,
         bkt_before + CAST(COALESCE(SUM(nv)
           OVER (PARTITION BY hist.bkt ORDER BY cents
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS cum_before
  FROM hist JOIN bkt_cum ON hist.bkt = bkt_cum.bkt
),
agg AS (
  SELECT CAST(sum(na) AS BIGINT) AS n_a,
         CAST(sum(nb) AS BIGINT) AS n_b,
         CAST(sum(na * (2 * cum_before + nv + 1)) AS BIGINT) AS r1_2,
         CAST(sum(nv * nv * nv - nv) AS BIGINT) AS tie_term
  FROM ranked
)
SELECT n_a, n_b,
       CAST(r1_2 - n_a * (n_a + 1) AS BIGINT) AS u_doubled,
       CAST(r1_2 - n_a * (n_a + 1) AS DOUBLE) / 2 AS u_stat,
       tie_term,
       ROUND(((r1_2 - n_a * (n_a + 1) - n_a * n_b) / 2.0)
         / sqrt((n_a * n_b / 12.0)
                * ((n_a + n_b + 1) - tie_term
                   / ((n_a + n_b) * (n_a + n_b - 1.0)))), 6) AS z_stat,
       abs(((r1_2 - n_a * (n_a + 1) - n_a * n_b) / 2.0)
         / sqrt((n_a * n_b / 12.0)
                * ((n_a + n_b + 1) - tie_term
                   / ((n_a + n_b) * (n_a + n_b - 1.0))))) > {AB_Z_CRIT}
         AS significant
FROM agg
"""


# --- CUPED variance-reduced experiment readout --------------------------

CUPED_SPLIT_DATE = "1998-01-01"  # pre-period / experiment-period boundary


def q_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng, Xu, Kohavi & Walker 2013,
    "Improving the Sensitivity of Online Controlled Experiments"):
    per customer, X = pre-period spend and Y = experiment-period
    spend; θ = cov(X,Y)/var(X) pooled across arms; the adjusted
    metric Ŷ = Y − θ(X − X̄) has the same mean and strictly lower
    variance wherever pre-period behavior predicts in-experiment
    behavior — the standard trick that cuts A/B test durations.
    Reports, per md5-assigned arm: n, raw and adjusted means, raw and
    adjusted variances, and the variance-reduction ratio.

    Exactness: per-customer X/Y are exact DECIMAL cent sums; per-arm
    Σx, Σy, Σx², Σy², Σxy are DECIMAL aggregates (order-independent);
    θ and every variance derive from those moments in one shared
    double chain written identically in both engines, rounded at the
    end — no per-row float accumulation anywhere.

    Scale: one scan → per-customer two-sided conditional sum (hash
    agg on the customer key) → per-arm moment rollup with map-side
    combine → a 2-row readout joined to the 1-row pooled θ by
    crossJoin(broadcast). Experiment size only enters the first two
    map-side-combining aggregations."""
    orders = load_table(spark, "orders", sf_dir)
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("decimal(19,0)")
    pre = F.col("o_orderdate") < F.lit(CUPED_SPLIT_DATE).cast("timestamp")
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(F.when(pre, cents).otherwise(F.lit(0).cast("decimal(19,0)")))
        .cast("decimal(19,0)")
        .alias("x"),
        F.sum(F.when(~pre, cents).otherwise(F.lit(0).cast("decimal(19,0)")))
        .cast("decimal(19,0)")
        .alias("y"),
    )
    h = F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 4)
    t = per_cust.select(
        F.when(h < AB_SPLIT_HEX, "A").otherwise("B").alias("arm"), "x", "y"
    )
    per = t.groupBy("arm").agg(
        F.count("*").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("decimal(38,0)").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("decimal(38,0)").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("decimal(38,0)").alias("sxy"),
    )
    pooled = t.agg(
        F.count("*").alias("pn"),
        F.sum("x").cast("decimal(38,0)").alias("psx"),
        F.sum("y").cast("decimal(38,0)").alias("psy"),
        F.sum(F.col("x") * F.col("x")).cast("decimal(38,0)").alias("psxx"),
        F.sum(F.col("x") * F.col("y")).cast("decimal(38,0)").alias("psxy"),
    )
    j = per.crossJoin(F.broadcast(pooled))

    def d(c):  # decimal moment → double, shared shape both engines
        return F.col(c).cast("double")

    n = F.col("n").cast("double")
    pn = F.col("pn").cast("double")
    theta = (pn * d("psxy") - d("psx") * d("psy")) / (
        pn * d("psxx") - d("psx") * d("psx")
    )
    xbar_pool = d("psx") / pn / F.lit(100.0)
    mean_y = d("sy") / n / F.lit(100.0)
    mean_x = d("sx") / n / F.lit(100.0)
    mean_y_adj = mean_y - theta * (mean_x - xbar_pool)
    var_y = (n * d("syy") - d("sy") * d("sy")) / (n * (n - F.lit(1.0))) / F.lit(1e4)
    var_x = (n * d("sxx") - d("sx") * d("sx")) / (n * (n - F.lit(1.0))) / F.lit(1e4)
    cov_xy = (n * d("sxy") - d("sx") * d("sy")) / (n * (n - F.lit(1.0))) / F.lit(1e4)
    var_y_adj = var_y - F.lit(2.0) * theta * cov_xy + theta * theta * var_x
    # variances reported in (million $)² : at raw $² magnitude (~4e11)
    # a 4-decimal round sits BELOW double ULP, so engine-identical
    # rounding is impossible — scaling by 1e-6 puts the rounding grid
    # 6 orders above ULP (measured: a 1-ULP cast difference at
    # sf0.001 flipped the last rounded digit before this scaling).
    return j.select(
        "arm",
        F.col("n").cast("bigint").alias("n_users"),
        F.round(theta, 6).alias("theta"),
        F.round(mean_y, 6).alias("mean_y"),
        F.round(mean_y_adj, 6).alias("mean_y_adj"),
        F.round(var_y / F.lit(1e6), 4).alias("var_y_m2"),
        F.round(var_y_adj / F.lit(1e6), 4).alias("var_y_adj_m2"),
        F.round(F.lit(1.0) - var_y_adj / var_y, 6).alias("var_reduction"),
    )


ORACLE_CUPED = f"""
WITH per_cust AS (
  SELECT o_custkey,
         CAST(COALESCE(sum(CASE WHEN o_orderdate < TIMESTAMP '{CUPED_SPLIT_DATE}'
           THEN CAST(ROUND(o_totalprice * 100) AS DECIMAL(19,0)) ELSE 0 END), 0)
           AS DECIMAL(19,0)) AS x,
         CAST(COALESCE(sum(CASE WHEN o_orderdate >= TIMESTAMP '{CUPED_SPLIT_DATE}'
           THEN CAST(ROUND(o_totalprice * 100) AS DECIMAL(19,0)) ELSE 0 END), 0)
           AS DECIMAL(19,0)) AS y
  FROM orders GROUP BY o_custkey
),
t AS (
  SELECT CASE WHEN substr(md5(CAST(o_custkey AS VARCHAR)), 1, 4) < '{AB_SPLIT_HEX}'
              THEN 'A' ELSE 'B' END AS arm, x, y
  FROM per_cust
),
per AS (
  SELECT arm, count(*) AS n,
         CAST(sum(x) AS DECIMAL(38,0)) AS sx,
         CAST(sum(y) AS DECIMAL(38,0)) AS sy,
         CAST(sum(x * x) AS DECIMAL(38,0)) AS sxx,
         CAST(sum(y * y) AS DECIMAL(38,0)) AS syy,
         CAST(sum(x * y) AS DECIMAL(38,0)) AS sxy
  FROM t GROUP BY arm
),
pooled AS (
  SELECT count(*) AS pn,
         CAST(sum(x) AS DECIMAL(38,0)) AS psx,
         CAST(sum(y) AS DECIMAL(38,0)) AS psy,
         CAST(sum(x * x) AS DECIMAL(38,0)) AS psxx,
         CAST(sum(x * y) AS DECIMAL(38,0)) AS psxy
  FROM t
),
j AS (SELECT * FROM per CROSS JOIN pooled),
m AS (
  SELECT arm, n,
         (CAST(pn AS DOUBLE) * CAST(psxy AS DOUBLE)
          - CAST(psx AS DOUBLE) * CAST(psy AS DOUBLE))
         / (CAST(pn AS DOUBLE) * CAST(psxx AS DOUBLE)
          - CAST(psx AS DOUBLE) * CAST(psx AS DOUBLE)) AS theta,
         CAST(psx AS DOUBLE) / CAST(pn AS DOUBLE) / 100.0 AS xbar_pool,
         CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) / 100.0 AS mean_y,
         CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) / 100.0 AS mean_x,
         (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
         / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) / 10000.0 AS var_y,
         (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) / 10000.0 AS var_x,
         (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) / 10000.0 AS cov_xy
  FROM j
)
SELECT arm, CAST(n AS BIGINT) AS n_users,
       ROUND(theta, 6) AS theta,
       ROUND(mean_y, 6) AS mean_y,
       ROUND(mean_y - theta * (mean_x - xbar_pool), 6) AS mean_y_adj,
       ROUND(var_y / 1e6, 4) AS var_y_m2,
       ROUND((var_y - 2.0 * theta * cov_xy + theta * theta * var_x) / 1e6, 4)
         AS var_y_adj_m2,
       ROUND(1.0 - (var_y - 2.0 * theta * cov_xy + theta * theta * var_x) / var_y, 6)
         AS var_reduction
FROM m
"""


# --- difference-in-differences readout -----------------------------------

def q_did_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences experiment readout — the causal
    estimate when treatment switches on at a known date and a control
    arm shares the time trend (Card & Krueger 1994 is the canonical
    use): arms by the md5 customer hash, periods split at the CUPED
    boundary, and DiD = (post_T − pre_T) − (post_C − pre_C) of
    per-order means, which cancels both the arm's fixed offset and
    the common time trend where a naive post-only compare absorbs
    both. The four (arm, period) cells come from ONE exact-decimal
    moment aggregation (n, Σcents, Σcents² per cell); only the final
    mean/variance/z chain is float, written identically on both
    engines — same discipline as unit_ab_ztest. SE is the four-cell
    Welch form √(Σ varᵢ/nᵢ).

    Scale: one scan, one 4-group map-side-combining aggregate; the
    full causal readout is a single row at any event volume."""
    orders = load_table(spark, "orders", sf_dir)
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("decimal(19,0)")
    h = F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 4)
    pre = F.col("o_orderdate") < F.lit(CUPED_SPLIT_DATE).cast("timestamp")
    cell = (
        orders.select(
            F.concat(
                F.when(h < AB_SPLIT_HEX, F.lit("T")).otherwise(F.lit("C")),
                F.when(pre, F.lit("pre")).otherwise(F.lit("post")),
            ).alias("cell"),
            cents.alias("cents"),
        )
        .groupBy("cell")
        .agg(
            F.count("*").alias("n"),
            F.sum("cents").alias("s"),
            F.sum(F.col("cents") * F.col("cents"))
            .cast("decimal(38,0)")
            .alias("ss"),
        )
    )

    def pick(col, c):
        return F.min(F.when(F.col("cell") == c, F.col(col)))

    wide = cell.agg(
        *[
            pick(col, c).alias(f"{col}_{c}")
            for c in ("Tpre", "Tpost", "Cpre", "Cpost")
            for col in ("n", "s", "ss")
        ]
    )

    def mean(c):
        return F.col(f"s_{c}").cast("double") / (
            F.col(f"n_{c}") * F.lit(100.0)
        )

    def var(c):
        num = (
            F.col(f"n_{c}").cast("decimal(38,0)") * F.col(f"ss_{c}")
            - F.col(f"s_{c}").cast("decimal(38,0)")
            * F.col(f"s_{c}").cast("decimal(38,0)")
        ).cast("double")
        return (
            num
            / (F.col(f"n_{c}") * (F.col(f"n_{c}") - F.lit(1.0)))
            / F.lit(10000.0)
        )

    did = (mean("Tpost") - mean("Tpre")) - (mean("Cpost") - mean("Cpre"))
    se = F.sqrt(
        var("Tpost") / F.col("n_Tpost")
        + var("Tpre") / F.col("n_Tpre")
        + var("Cpost") / F.col("n_Cpost")
        + var("Cpre") / F.col("n_Cpre")
    )
    z = did / se
    return wide.select(
        F.col("n_Tpre").alias("n_t_pre"),
        F.col("n_Tpost").alias("n_t_post"),
        F.col("n_Cpre").alias("n_c_pre"),
        F.col("n_Cpost").alias("n_c_post"),
        F.round(mean("Tpre"), 6).alias("mean_t_pre"),
        F.round(mean("Tpost"), 6).alias("mean_t_post"),
        F.round(mean("Cpre"), 6).alias("mean_c_pre"),
        F.round(mean("Cpost"), 6).alias("mean_c_post"),
        F.round(did, 6).alias("did"),
        F.round(z, 6).alias("z_stat"),
        (F.abs(z) > AB_Z_CRIT).alias("significant"),
    )


ORACLE_DID_READOUT = f"""
WITH base AS (
  SELECT (CASE WHEN substr(md5(CAST(o_custkey AS VARCHAR)), 1, 4)
                    < '{AB_SPLIT_HEX}' THEN 'T' ELSE 'C' END)
         || (CASE WHEN o_orderdate < TIMESTAMP '{CUPED_SPLIT_DATE} 00:00:00'
                  THEN 'pre' ELSE 'post' END) AS cell,
         CAST(ROUND(o_totalprice * 100) AS DECIMAL(19,0)) AS cents
  FROM orders
),
cell AS (
  SELECT cell, count(*) AS n, sum(cents) AS s,
         CAST(sum(cents * cents) AS DECIMAL(38,0)) AS ss
  FROM base GROUP BY cell
),
wide AS (
  SELECT
    min(n) FILTER (cell = 'Tpre') AS n_tpre,
    min(s) FILTER (cell = 'Tpre') AS s_tpre,
    min(ss) FILTER (cell = 'Tpre') AS ss_tpre,
    min(n) FILTER (cell = 'Tpost') AS n_tpost,
    min(s) FILTER (cell = 'Tpost') AS s_tpost,
    min(ss) FILTER (cell = 'Tpost') AS ss_tpost,
    min(n) FILTER (cell = 'Cpre') AS n_cpre,
    min(s) FILTER (cell = 'Cpre') AS s_cpre,
    min(ss) FILTER (cell = 'Cpre') AS ss_cpre,
    min(n) FILTER (cell = 'Cpost') AS n_cpost,
    min(s) FILTER (cell = 'Cpost') AS s_cpost,
    min(ss) FILTER (cell = 'Cpost') AS ss_cpost
  FROM cell
),
d AS (
  SELECT n_tpre, n_tpost, n_cpre, n_cpost,
         CAST(s_tpre AS DOUBLE) / (n_tpre * 100.0) AS m_tpre,
         CAST(s_tpost AS DOUBLE) / (n_tpost * 100.0) AS m_tpost,
         CAST(s_cpre AS DOUBLE) / (n_cpre * 100.0) AS m_cpre,
         CAST(s_cpost AS DOUBLE) / (n_cpost * 100.0) AS m_cpost,
         CAST(CAST(n_tpre AS DECIMAL(38,0)) * ss_tpre
              - CAST(s_tpre AS DECIMAL(38,0)) * CAST(s_tpre AS DECIMAL(38,0))
              AS DOUBLE) / (n_tpre * (n_tpre - 1.0)) / 10000.0 AS v_tpre,
         CAST(CAST(n_tpost AS DECIMAL(38,0)) * ss_tpost
              - CAST(s_tpost AS DECIMAL(38,0)) * CAST(s_tpost AS DECIMAL(38,0))
              AS DOUBLE) / (n_tpost * (n_tpost - 1.0)) / 10000.0 AS v_tpost,
         CAST(CAST(n_cpre AS DECIMAL(38,0)) * ss_cpre
              - CAST(s_cpre AS DECIMAL(38,0)) * CAST(s_cpre AS DECIMAL(38,0))
              AS DOUBLE) / (n_cpre * (n_cpre - 1.0)) / 10000.0 AS v_cpre,
         CAST(CAST(n_cpost AS DECIMAL(38,0)) * ss_cpost
              - CAST(s_cpost AS DECIMAL(38,0)) * CAST(s_cpost AS DECIMAL(38,0))
              AS DOUBLE) / (n_cpost * (n_cpost - 1.0)) / 10000.0 AS v_cpost
  FROM wide
)
SELECT n_tpre AS n_t_pre, n_tpost AS n_t_post,
       n_cpre AS n_c_pre, n_cpost AS n_c_post,
       ROUND(m_tpre, 6) AS mean_t_pre, ROUND(m_tpost, 6) AS mean_t_post,
       ROUND(m_cpre, 6) AS mean_c_pre, ROUND(m_cpost, 6) AS mean_c_post,
       ROUND((m_tpost - m_tpre) - (m_cpost - m_cpre), 6) AS did,
       ROUND(((m_tpost - m_tpre) - (m_cpost - m_cpre))
         / sqrt(v_tpost / n_tpost + v_tpre / n_tpre
                + v_cpost / n_cpost + v_cpre / n_cpre), 6) AS z_stat,
       abs(((m_tpost - m_tpre) - (m_cpost - m_cpre))
         / sqrt(v_tpost / n_tpost + v_tpre / n_tpre
                + v_cpost / n_cpost + v_cpre / n_cpre)) > {AB_Z_CRIT}
         AS significant
FROM d
"""


SPECS = [
    # round 6 rotations: the never-driver-checked experimentation trio
    # (MWU / DiD / trimmed mean — verdict r5 risk list) takes the slots
    # of agg_pricing_summary + skew_salted_revenue (driver-green r1–r5;
    # bench still times the headliners from UNIT_SPECS).
    QuerySpec("unit_mannwhitney_u", q_mannwhitney_u, ORACLE_MANNWHITNEY_U,
              "Mann-Whitney U rank-sum test, exact doubled-rank integers"),
    QuerySpec("unit_did_readout", q_did_readout, ORACLE_DID_READOUT,
              "difference-in-differences causal readout, exact moments"),
    QuerySpec("unit_trimmed_mean", q_trimmed_mean, ORACLE_TRIMMED_MEAN,
              "5%-trimmed mean per group, exact histogram rank arithmetic"),
    # second round-6 rotation: the round-5 quintet (each driver-green
    # r5) moves to the unit surface so five more never-checked specs
    # get driver rows — see the UNIT_SPECS block below.
    # Third round-6 rotation: two more never-driver-checked A/B-stats
    # ops take the seats freed by dedup_containment_capped and
    # unit_hll_distinct (both green r4/r5 in other modules).
    QuerySpec("unit_ab_ztest", q_ab_ztest, ORACLE_AB_ZTEST,
              "two-sample z-test from exact decimal moments"),
    QuerySpec("unit_cuped_adjustment", q_cuped_adjustment, ORACLE_CUPED,
              "CUPED variance-reduced A/B readout from exact moments"),
]


# --- Kaplan-Meier reorder survival --------------------------------------

def q_km_reorder_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival estimator (Kaplan & Meier 1958) over
    customer REORDER latency: each order contributes one subject whose
    duration is days until that customer's next order, right-CENSORED
    at the corpus horizon (max order date) when no next order exists —
    the censoring is what separates this from a naive gap histogram
    (dropping open gaps biases survival low; calling them events
    biases it high). Steps: d_t events and c_t censorings per distinct
    duration t; n_risk(t) = N − Σ_{s<t}(d_s + c_s) (subjects censored
    AT t are still at risk at t, the standard convention); the curve
    is reported in LOG space — per-step ln((n−d)/n) rounded to 6 and
    cumulated in exact DECIMAL — because a cumulative PRODUCT of
    doubles is order/grouping-dependent cross-engine while this sum is
    bit-exact; S(t) = exp(log_surv). A step consuming the whole risk
    set (d = n) sends survival to exact zero: masked via a sticky
    flag (`surv_zero`) rather than a −inf log.

    Scale: durations and flags are one lead-window pass over the fact
    (partitioned by customer); the step table is bounded by DISTINCT
    durations in days — a time-dimension, not a fact dimension — so
    the two unpartitioned windows over it are bounded the same way the
    Gini windows are (documented trade)."""
    orders = load_table(spark, "orders", sf_dir)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    horizon = orders.agg(F.max("o_orderdate").alias("h"))
    per = (
        orders.select("o_custkey", "o_orderdate", "o_orderkey")
        .withColumn("nxt", F.lead("o_orderdate").over(w))
        .crossJoin(F.broadcast(horizon))
        .select(
            F.when(
                F.col("nxt").isNotNull(), F.datediff("nxt", "o_orderdate")
            )
            .otherwise(F.datediff("h", "o_orderdate"))
            .cast("int")
            .alias("t"),
            F.col("nxt").isNotNull().cast("int").alias("event"),
        )
    )
    total = per.agg(F.count("*").cast("bigint").alias("n_total"))
    steps = (
        per.groupBy("t")
        .agg(
            F.sum("event").cast("bigint").alias("d_events"),
            F.sum(F.lit(1) - F.col("event")).cast("bigint").alias("c_censored"),
        )
        .crossJoin(F.broadcast(total))
    )
    w_prior = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    risk = steps.withColumn(
        "n_risk",
        F.col("n_total")
        - F.coalesce(
            F.sum(F.col("d_events") + F.col("c_censored")).over(w_prior),
            F.lit(0),
        ),
    )
    terms = risk.select(
        "t",
        "n_risk",
        "d_events",
        "c_censored",
        F.when(
            F.col("d_events") < F.col("n_risk"),
            F.round(
                F.log(
                    (F.col("n_risk") - F.col("d_events"))
                    / F.col("n_risk").cast("double")
                ),
                6,
            ).cast("decimal(18,6)"),
        ).alias("term"),
        F.when(F.col("d_events") == F.col("n_risk"), 1).otherwise(0).alias("zf"),
    )
    w_cum = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    zero_cum = F.max("zf").over(w_cum)
    return terms.select(
        "t",
        "n_risk",
        "d_events",
        "c_censored",
        F.when(zero_cum == 1, F.lit(None))
        .otherwise(F.sum("term").over(w_cum).cast("double"))
        .alias("log_surv"),
        (zero_cum == 1).alias("surv_zero"),
    )


ORACLE_KM_REORDER_SURVIVAL = """
WITH nx AS (
  SELECT o_custkey, o_orderdate,
         lead(o_orderdate) OVER (PARTITION BY o_custkey
                                 ORDER BY o_orderdate, o_orderkey) AS nxt
  FROM orders
),
h AS (SELECT max(o_orderdate) AS h FROM orders),
per AS (
  SELECT CASE WHEN nxt IS NOT NULL
              THEN date_diff('day', o_orderdate, nxt)
              ELSE date_diff('day', o_orderdate, h) END AS t,
         CASE WHEN nxt IS NOT NULL THEN 1 ELSE 0 END AS event
  FROM nx CROSS JOIN h
),
tot AS (SELECT count(*) AS n_total FROM per),
steps AS (
  SELECT t, CAST(sum(event) AS BIGINT) AS d_events,
         CAST(sum(1 - event) AS BIGINT) AS c_censored
  FROM per GROUP BY t
),
risk AS (
  SELECT *, CAST(n_total - COALESCE(SUM(d_events + c_censored)
             OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
  FROM steps CROSS JOIN tot
),
terms AS (
  SELECT t, n_risk, d_events, c_censored,
         CASE WHEN d_events < n_risk
              THEN CAST(ROUND(ln((n_risk - d_events)
                     / CAST(n_risk AS DOUBLE)), 6) AS DECIMAL(18,6))
         END AS term,
         CASE WHEN d_events = n_risk THEN 1 ELSE 0 END AS zf
  FROM risk
)
SELECT CAST(t AS INTEGER) AS t, n_risk, d_events, c_censored,
       CASE WHEN max(zf) OVER w = 1 THEN NULL
            ELSE CAST(SUM(term) OVER w AS DOUBLE) END AS log_surv,
       max(zf) OVER w = 1 AS surv_zero
FROM terms
WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


# rotated out in round 6 (driver-green r5; its window slot goes to the
# never-checked unit_score_lift in suite/text.py):
UNIT_SPECS_KM = [
    QuerySpec("unit_km_survival", q_km_reorder_survival,
              ORACLE_KM_REORDER_SURVIVAL,
              "Kaplan-Meier reorder survival, right-censored, exact log space"),
]


# Unit operator surface: formerly-registered queries whose semantics
# were merged into consolidated driver entries (rollup → agg_pricing_
# summary, running total → window_calendar_funcs), plus round-4
# rotations — entries driver-green for rounds 1-3 swapped out of the
# 50-entry driver window to make room for previously unit-only
# operators. Kept as documented standalone operators;
# tests/test_oracle_parity.py checks them with the same comparator.
UNIT_SPECS = UNIT_SPECS_KM + [
    # unit_ab_ztest / unit_cuped_adjustment moved to the driver window
    # in the third round-6 rotation.
    # rotated out in the second round-6 rotation (driver-green r5):
    QuerySpec("unit_poisson_bootstrap", q_poisson_bootstrap,
              _oracle_poisson_bootstrap(),
              "hash-Poisson bootstrap CI for the mean, one scan",
              headline=True),
    QuerySpec("unit_gini_concentration", q_gini_concentration,
              ORACLE_GINI_CONCENTRATION,
              "Lorenz deciles + exact-moment Gini revenue concentration"),
    QuerySpec("unit_chi2_independence", q_chi2_independence,
              ORACLE_CHI2_INDEPENDENCE,
              "chi-square independence: nation x segment contingency"),
    QuerySpec("unit_cube_sales", q_cube_sales, ORACLE_CUBE_SALES,
              "CUBE full grouping lattice with grouping-id tags"),
    QuerySpec("unit_rfm_segments", q_rfm_segments, ORACLE_RFM_SEGMENTS,
              "RFM segmentation via exact integer quantile banding"),
    # rotated out of the driver window in round 6 (driver-green r1–r5):
    QuerySpec("agg_pricing_summary", q_pricing_summary, ORACLE_PRICING_SUMMARY,
              "TPC-H Q1 measure set at every ROLLUP grouping level",
              headline=True),
    QuerySpec("skew_salted_revenue", q_skew_salted_revenue,
              ORACLE_SKEW_SALTED_REVENUE,
              "salted join under deliberate key skew", headline=True),
    QuerySpec("unit_ab_srm", q_ab_srm, ORACLE_AB_SRM,
              "sample-ratio-mismatch chi-square guardrail"),
    QuerySpec("unit_discount_effect", q_discount_effect, ORACLE_DISCOUNT_EFFECT,
              "discount-band demand + forgone-revenue readout"),
    QuerySpec("unit_priority_ontime_matrix", q_priority_ontime_matrix,
              ORACLE_PRIORITY_ONTIME,
              "priority x on-time fulfilment share matrix"),
    QuerySpec("unit_return_rate_trend", q_return_rate_trend,
              ORACLE_RETURN_RATE_TREND,
              "monthly return-revenue share with MoM delta"),
    QuerySpec("unit_top_movers", q_top_movers, ORACLE_TOP_MOVERS,
              "top-5 month-over-month revenue swings per nation"),
    QuerySpec("unit_basket_size_dist", q_basket_size_dist,
              ORACLE_BASKET_SIZE_DIST,
              "order basket-size histogram with cumulative share"),
    QuerySpec("unit_supplier_hhi", q_supplier_hhi, ORACLE_SUPPLIER_HHI,
              "Herfindahl supplier concentration per part type"),
    QuerySpec("unit_price_iqr_fences", q_price_iqr_fences,
              ORACLE_PRICE_IQR_FENCES,
              "Tukey IQR-fence outlier screen per brand, exact quartiles"),
    QuerySpec("unit_weighted_delivery_quantiles", q_weighted_delivery_quantiles,
              ORACLE_WEIGHTED_DELIVERY,
              "revenue-weighted delivery-delay quantiles per flag"),
    QuerySpec("unit_order_cycle_time", q_order_cycle_time,
              ORACLE_ORDER_CYCLE_TIME,
              "order-to-ship cycle time SLA rollup per priority"),
    QuerySpec("unit_rollup_pricing", q_rollup_pricing, ORACLE_ROLLUP_PRICING,
              "ROLLUP grouping-set aggregation"),
    QuerySpec("unit_corr_matrix", q_corr_matrix, _oracle_corr_matrix(),
              "Pearson correlation matrix from exact decimal moments"),
    QuerySpec("unit_running_order_total", q_running_order_total,
              ORACLE_RUNNING_ORDER_TOTAL, "per-customer running total window"),
    # rotated out of the driver window in round 4 (driver-green r1-r3):
    QuerySpec("revenue_by_nation", q_revenue_by_nation, ORACLE_REVENUE_BY_NATION,
              "multi-way join + agg with broadcast dim", headline=True),
    QuerySpec("set_ops_membership", q_set_ops_membership, ORACLE_SET_OPS_MEMBERSHIP,
              "EXCEPT / left_semi EXISTS / INTERSECT in one tagged list"),
    QuerySpec("distinct_parts_per_order", q_distinct_parts_per_order,
              ORACLE_DISTINCT_PARTS, "COUNT DISTINCT per group"),
    QuerySpec("order_status_profile", q_order_status_profile,
              ORACLE_ORDER_STATUS_PROFILE,
              "explicit-values pivot + interpolated percentiles per status"),
    QuerySpec("big_spender_months", q_big_spender_months, ORACLE_BIG_SPENDER_MONTHS,
              "date_trunc + HAVING"),
]
