"""Composite pipelines — the reference's end-user queries (SURVEY.md §2.8),
transposed onto the driver star schema (FIXTURES.md role mapping):

  fact ``lineitem``/``orders``  ≙  IPEDS awards fact ``C2019_A``
  dims ``customer``/``nation``/``region``  ≙  institution directory ``HD2019``
  ``l_returnflag × l_linestatus``  ≙  CIP code grouping keys

Each pipeline is pure DataFrame composition: filter → (broadcast) dim joins →
groupBy agg → decode/rename. Catalyst pushes the filters to the scan, prunes
columns, and picks broadcast-hash joins for the dims its size estimate puts
within ``autoBroadcastJoinThreshold`` — verified via ``.explain("formatted")``
in tests. A dim side whose estimate a join inflates (customer ⋈ nation reads
as GBs) instead takes its hint from one ``partitioning.broadcaster`` call per
pipeline, gated on the largest base table its hinted sides derive from
(customer covers the supplier and nation sides: a TPC-H catalog always has
fewer suppliers than customers).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from etl_io_spark.catalog import TableCatalog
from etl_io_spark.functions import numeric
from etl_io_spark.partitioning import broadcaster


def pricing_summary(cat: TableCatalog, cutoff: str = "2000-12-01") -> DataFrame:
    """Flagship: the ``awards`` shape (Q2, etl_io.py:390-479) — predicate
    scan → groupBy composite key → multi-measure SUM/AVG/COUNT.

    Doubles are rounded so results are bit-identical to the DuckDB oracle
    (sum order across partitions is otherwise nondeterministic in the last
    ulp). Measure expressions run inside whole-stage codegen; the single
    shuffle carries only (returnflag × linestatus) partials.
    """
    li = cat.table("lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit(cutoff).cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


PRICING_SUMMARY_SQL = """
SELECT
  l_returnflag,
  l_linestatus,
  ROUND(SUM(l_quantity), 2)                                           AS sum_qty,
  ROUND(SUM(l_extendedprice), 2)                                      AS sum_base_price,
  ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)                   AS sum_disc_price,
  ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)     AS sum_charge,
  ROUND(AVG(l_quantity), 6)                                           AS avg_qty,
  ROUND(AVG(l_extendedprice), 6)                                      AS avg_price,
  ROUND(AVG(l_discount), 6)                                           AS avg_disc,
  COUNT(*)                                                            AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-01'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def shipping_priority(
    cat: TableCatalog, segment: str = "BUILDING", cutoff: str = "1998-06-01"
) -> DataFrame:
    """Multi-join top-k (TPC-H Q3 shape): revenue of unshipped orders.

    Analogue of chaining the reference's dim-filter -> fact-join passes
    (etl_io.py:347-386) across two fact tables. Catalyst broadcasts the
    filtered ``customer`` dim into ``orders``, then shuffle-joins the
    order keys into ``lineitem``; the final top-k plans as
    TakeOrderedAndProject (no global sort). Both date filters reach the
    parquet scans as pushed predicates.
    """
    cut = F.lit(cutoff).cast("timestamp")
    cust = cat.table("customer").where(F.col("c_mktsegment") == segment)
    orders = cat.table("orders").where(F.col("o_orderdate") < cut)
    li = cat.table("lineitem").where(F.col("l_shipdate") > cut)
    return (
        li.join(
            orders.join(cust, F.col("o_custkey") == F.col("c_custkey")),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


SHIPPING_PRIORITY_SQL = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer
JOIN orders   ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-06-01'
  AND l_shipdate  > TIMESTAMP '1998-06-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def regional_revenue(cat: TableCatalog, region: str = "ASIA") -> DataFrame:
    """Six-table star join (TPC-H Q5 shape): revenue by nation within one
    region, counting only lineitems whose supplier and customer share the
    nation.

    The dim chain region->nation->customer is tiny and broadcasts end to
    end; ``supplier`` broadcasts too, so the only shuffle-sized joins are
    fact-to-fact (orders |x| lineitem). The supplier/customer co-nation
    constraint rides on the supplier join condition rather than a
    post-filter, so it prunes rows before the aggregate.
    """
    nat = (
        cat.table("region")
        .where(F.col("r_name") == region)
        .join(cat.table("nation"), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("n_nationkey", "n_name")
    )
    bc = broadcaster(cat.table("customer"))
    cust = cat.table("customer").join(
        bc(nat), F.col("c_nationkey") == F.col("n_nationkey")
    )
    sup = cat.table("supplier").select("s_suppkey", "s_nationkey")
    return (
        cat.table("lineitem")
        .join(
            cat.table("orders").join(
                bc(cust), F.col("o_custkey") == F.col("c_custkey")
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            sup,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


REGIONAL_REVENUE_SQL = """
SELECT n_name,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM region
JOIN nation   ON n_regionkey = r_regionkey
JOIN customer ON c_nationkey = n_nationkey
JOIN orders   ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
WHERE r_name = 'ASIA'
GROUP BY n_name
"""


def returned_customers(
    cat: TableCatalog, start: str = "1998-01-01", end: str = "1998-07-01"
) -> DataFrame:
    """Returned-item ranking (TPC-H Q10 shape): top 20 customers by lost
    revenue from returned lineitems in a half-year window.

    Group keys carry the customer attributes (so no re-join after the
    agg); the date predicate pushes to the orders scan and the returnflag
    predicate to the lineitem scan. Revenue sums exact int64 1e-4 units
    (``_money_e4``) and rounds in floor form, so the last cent does not
    depend on the summation order a join strategy or partitioning gives
    (a double sum flipped one customer's cent at sf0.001 with broadcast
    disabled).
    """
    orders = cat.table("orders").where(
        (F.col("o_orderdate") >= F.lit(start).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(end).cast("timestamp"))
    )
    li = cat.table("lineitem").where(F.col("l_returnflag") == "R")
    cust = cat.table("customer").join(
        cat.table("nation"),
        F.col("c_nationkey") == F.col("n_nationkey"),
    )
    bc = broadcaster(cat.table("customer"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(bc(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            numeric.round_floor(
                F.sum(_money_e4(1 - F.col("l_discount"))) / F.lit(10000.0), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


RETURNED_CUSTOMERS_SQL = """
SELECT c_custkey, c_name, n_name,
       FLOOR(CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                      * CAST(ROUND((1 - l_discount) * 100) AS BIGINT))
                  AS DOUBLE) / 10000.0 * 100.0 + 0.5) / 100.0 AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1998-01-01'
  AND o_orderdate <  TIMESTAMP '1998-07-01'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def large_order_customers(cat: TableCatalog, min_qty: float = 100.0) -> DataFrame:
    """Large-volume-order ranking (TPC-H Q18 shape): customers holding
    orders whose total lineitem quantity exceeds ``min_qty``.

    Scale shape: the HAVING-style quantity filter runs on the ONE
    partial-aggregated lineitem shuffle and shrinks the order set to a
    sliver *before* any join — the surviving keys then broadcast into
    orders, so the big fact tables are never shuffled against each other.
    """
    li_tot = (
        cat.table("lineitem")
        .groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("tot_qty"))
        .where(F.col("tot_qty") > min_qty)
    )
    orders = cat.table("orders")
    cust = cat.table("customer").select("c_custkey", "c_name")
    # li_tot has at most one row per order: orders bounds it, and stays
    # under the budget to about 4x the scale lineitem does
    bc = broadcaster(orders)
    return (
        orders.join(bc(li_tot), F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "tot_qty",
        )
        .orderBy(F.col("tot_qty").desc(), F.col("o_orderkey"))
        .limit(100)
    )


LARGE_ORDER_CUSTOMERS_SQL = """
SELECT c_custkey, c_name, o_orderkey,
       ROUND(o_totalprice, 2) AS o_totalprice, tot_qty
FROM orders
JOIN (
  SELECT l_orderkey, ROUND(SUM(l_quantity), 2) AS tot_qty
  FROM lineitem GROUP BY l_orderkey HAVING ROUND(SUM(l_quantity), 2) > 100
) t ON o_orderkey = t.l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY tot_qty DESC, o_orderkey LIMIT 100
"""


def nations_trade_volume(
    cat: TableCatalog, nation_a: str = "NATION_9", nation_b: str = "NATION_10"
) -> DataFrame:
    """Bilateral trade volume (TPC-H Q7 shape): revenue shipped between
    two nations (either direction) by supplier nation, customer nation
    and ship year.

    Both nation filters push into broadcast dim joins before the fact-fact
    lineitem⋈orders join, so the shuffled volume is only the two nations'
    traffic — the dominant cost stays the one keyed fact join."""
    pair = [nation_a, nation_b]
    n1 = cat.table("nation").where(F.col("n_name").isin(pair)).select(
        F.col("n_nationkey").alias("sk"), F.col("n_name").alias("supp_nation")
    )
    n2 = cat.table("nation").where(F.col("n_name").isin(pair)).select(
        F.col("n_nationkey").alias("ck"), F.col("n_name").alias("cust_nation")
    )
    bc = broadcaster(cat.table("customer"))
    supp = cat.table("supplier").join(
        bc(n1), F.col("s_nationkey") == F.col("sk")
    ).select("s_suppkey", "supp_nation")
    cust = cat.table("customer").join(
        n2, F.col("c_nationkey") == F.col("ck")
    ).select("c_custkey", "cust_nation")
    li = cat.table("lineitem")
    orders = cat.table("orders")
    return (
        li.join(bc(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(bc(cust), F.col("o_custkey") == F.col("c_custkey"))
        .where(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("ship_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


NATIONS_TRADE_VOLUME_SQL = """
SELECT supp_nation, cust_nation, ship_year,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       COUNT(*) AS n_items
FROM (
  SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
         CAST(EXTRACT(year FROM CAST(l_shipdate AS TIMESTAMP)) AS INT)
           AS ship_year,
         l_extendedprice, l_discount
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ns ON s_nationkey = ns.n_nationkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation nc ON c_nationkey = nc.n_nationkey
  WHERE ns.n_name IN ('NATION_9', 'NATION_10')
    AND nc.n_name IN ('NATION_9', 'NATION_10')
    AND ns.n_name <> nc.n_name
) GROUP BY supp_nation, cust_nation, ship_year
"""


def small_quantity_revenue(cat: TableCatalog, brand: str = "Brand#23") -> DataFrame:
    """Correlated-average revenue probe (TPC-H Q17 shape): yearly revenue
    that would be lost by dropping small-quantity orders of one brand's
    parts — ``l_quantity < 0.2 * AVG(l_quantity)`` where the average is
    *per part* (a correlated scalar subquery).

    Scale shape: the brand filter broadcasts ``part`` into ``lineitem``
    first, so the correlated average is computed over only the surviving
    sliver — then a window AVG over ``l_partkey`` reuses that single
    shuffle instead of a second self-join against lineitem (the naive
    decorrelation). One shuffle on the filtered fact, no fact-fact join.
    """
    pk = (
        cat.table("part")
        .where(F.col("p_brand") == brand)
        .select("p_partkey")
    )
    li = cat.table("lineitem").join(pk, F.col("l_partkey") == F.col("p_partkey"))
    from pyspark.sql import Window

    per_part = Window.partitionBy("l_partkey")
    return (
        li.withColumn("__avg_qty", F.avg("l_quantity").over(per_part))
        .where(F.col("l_quantity") < 0.2 * F.col("__avg_qty"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_small"),
        )
    )


SMALL_QUANTITY_REVENUE_SQL = """
SELECT ROUND(SUM(l_extendedprice) / 7.0, 2) AS avg_yearly,
       COUNT(*) AS n_small
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#23'
  AND l_quantity < (
    SELECT 0.2 * AVG(i.l_quantity) FROM lineitem i
    WHERE i.l_partkey = p_partkey
  )
"""


def sole_late_suppliers(cat: TableCatalog, grace_days: int = 45) -> DataFrame:
    """Sole-late-supplier ranking (TPC-H Q21 shape, adapted to this
    schema's columns: "late" = ``l_shipdate > o_orderdate + grace``
    since there is no receipt/commit date). For finished ('F') orders
    with at least two suppliers, find the orders where EXACTLY ONE
    supplier shipped late and charge that order to the late supplier.

    The reference SQL is the classic EXISTS / NOT-EXISTS pair; the Spark
    plan replaces both correlated subqueries with a TWO-LEVEL
    aggregation after one keyed fact join: per (order, supplier) fold
    lateness to one bit, then per order count suppliers / late
    suppliers and recover the culprit as ``MAX(CASE WHEN late THEN
    suppkey END)`` (exact because only one supplier is late). The
    round-5 single-level form used two ``countDistinct``s, which Spark
    plans through an Expand (2× the joined row stream + an extra
    distinct shuffle); both levels here run on the join's
    hash(l_orderkey) partitioning — HashPartitioning(orderkey)
    satisfies the (orderkey, suppkey) clustering — so NEITHER adds a
    shuffle (A/B at sf0.1: 1.20 s → 0.93 s). Join strategy is left to
    Catalyst/AQE: the 'F'-orders sliver broadcasts at test SFs and
    degrades to a shuffle join at 100 TB where orders is fact-sized —
    no lineitem self-join anywhere, which is where the EXISTS form
    pays twice.
    """
    orders = (
        cat.table("orders")
        .where(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = (
        cat.table("lineitem")
        .select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
    )
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        f"INTERVAL {grace_days} DAYS"
    )
    per_pair = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max(F.when(late, F.lit(1)).otherwise(F.lit(0))).alias("__late")
    )
    per_order = (
        per_pair.groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("__n_sups"),
            F.sum("__late").alias("__n_late"),
            F.max(
                F.when(F.col("__late") == 1, F.col("l_suppkey"))
            ).alias("__late_sup"),
        )
        .where((F.col("__n_sups") > 1) & (F.col("__n_late") == 1))
    )
    sup = cat.table("supplier").select("s_suppkey", "s_name")
    return (
        per_order.groupBy("__late_sup")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(sup, F.col("__late_sup") == F.col("s_suppkey"))
        .select("s_name", "numwait")
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )


SOLE_LATE_SUPPLIERS_SQL = """
SELECT s_name, COUNT(DISTINCT l1.l_orderkey) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders    ON o_orderkey = l1.l_orderkey
WHERE o_orderstatus = 'F'
  AND l1.l_shipdate > o_orderdate + INTERVAL 45 DAY
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate > o_orderdate + INTERVAL 45 DAY
  )
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
"""


def market_share(
    cat: TableCatalog,
    region: str = "ASIA",
    nation: str = "NATION_9",
    p_type: str = "PROMO",
) -> DataFrame:
    """National market share (TPC-H Q8 shape): of all ``p_type`` revenue
    sold to customers in ``region``, the fraction supplied by ``nation``,
    per order year — a conditional aggregate over a seven-table star.

    Every dimension chain (part filter, supplier→nation, customer→nation
    →region) broadcasts; the only shuffle-scale joins are lineitem⋈orders
    keyed by orderkey, and the conditional share needs NO self-join: one
    SUM(CASE) / SUM over the already-joined rows.
    """
    part = cat.table("part").where(F.col("p_type") == p_type).select("p_partkey")
    supp_nat = (
        cat.table("supplier")
        .join(
            cat.table("nation"),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust_region = (
        cat.table("customer")
        .join(
            cat.table("nation").withColumnsRenamed(
                {"n_nationkey": "cn_key", "n_regionkey": "cn_region"}
            ),
            F.col("c_nationkey") == F.col("cn_key"),
        )
        .join(
            cat.table("region").where(F.col("r_name") == region),
            F.col("cn_region") == F.col("r_regionkey"),
        )
        .select("c_custkey")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    bc = broadcaster(cat.table("customer"))
    return (
        cat.table("lineitem")
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(bc(supp_nat), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            cat.table("orders"), F.col("l_orderkey") == F.col("o_orderkey")
        )
        .join(bc(cust_region), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == nation, rev).otherwise(F.lit(0.0)))
                / F.sum(rev),
                6,
            ).alias("mkt_share"),
            F.round(F.sum(rev), 2).alias("total_revenue"),
        )
    )


MARKET_SHARE_SQL = """
SELECT CAST(EXTRACT(year FROM CAST(o_orderdate AS TIMESTAMP)) AS INT) AS o_year,
       ROUND(SUM(CASE WHEN n_s.n_name = 'NATION_9'
                 THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)
             / SUM(l_extendedprice * (1 - l_discount)), 6) AS mkt_share,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n_s ON s_nationkey = n_s.n_nationkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n_c ON c_nationkey = n_c.n_nationkey
JOIN region   ON n_c.n_regionkey = r_regionkey
WHERE p_type = 'PROMO' AND r_name = 'ASIA'
GROUP BY 1
"""


def customer_order_distribution(
    cat: TableCatalog, exclude_priority: str = "1-URGENT"
) -> DataFrame:
    """Order-count distribution (TPC-H Q13 shape): how many customers
    placed exactly k qualifying orders — INCLUDING the zero-order
    customers, which is what forces the LEFT join with the priority
    filter in the ON clause (a WHERE would silently drop the k=0 bucket).

    One outer join keyed by custkey, then two partial-aggregable
    groupBys (per customer, then per count). The second shuffle carries
    at most #distinct-counts rows per partition — nothing at scale.
    """
    orders = cat.table("orders").where(
        F.col("o_orderpriority") != exclude_priority
    )
    cust = cat.table("customer").select("c_custkey")
    per_cust = (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


CUSTOMER_ORDER_DISTRIBUTION_SQL = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey
                  AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


# ---------------------------------------------------------------------------
# Round 8: the remaining 12 TPC-H query shapes (Q2/Q4/Q6/Q9/Q11/Q12/Q14/
# Q15/Q16/Q19/Q20/Q22), completing the 22-query suite. The driver schema
# has no partsupp table, receipt/commit dates, ship modes, or phone
# numbers, so each query keeps the SHAPE (the join topology, the
# correlation pattern, the aggregate structure) with documented column
# substitutions — the same adaptation discipline as sole_late_suppliers
# (Q21) above.
# ---------------------------------------------------------------------------


def _money_e4(pct):
    """Exact int64 1e-4-currency units per lineitem row: cents of
    l_extendedprice times an integer percentage (``pct`` is the 0-1
    fraction column, e.g. ``1 - l_discount``). Inputs have fixed decimal
    widths (prices 2dp, discounts 2dp), so the product is the TRUE
    4-decimal money value — integer sums are then bit-identical in any
    aggregation order on any engine. The oracle twin is MONEY_E4_SQL /
    DISC_E4_SQL. Headroom: <= ~1.05e9 per row, int64-safe past 8e9
    matching rows; widen to decimal beyond that."""
    return F.round(F.col("l_extendedprice") * 100).cast("long") * F.round(
        pct * 100
    ).cast("long")


#: oracle twin of ``_money_e4(1 - l_discount)`` (revenue units)
MONEY_E4_SQL = (
    "CAST(ROUND(l_extendedprice * 100) AS BIGINT)"
    " * CAST(ROUND((1 - l_discount) * 100) AS BIGINT)"
)
#: oracle twin of ``_money_e4(l_discount)`` (discount-amount units)
DISC_E4_SQL = (
    "CAST(ROUND(l_extendedprice * 100) AS BIGINT)"
    " * CAST(ROUND(l_discount * 100) AS BIGINT)"
)


def min_cost_supplier(
    cat: TableCatalog,
    region: str = "EUROPE",
    p_type: str = "LARGE",
    size_lo: int = 10,
    size_hi: int = 20,
) -> DataFrame:
    """Minimum-cost supplier per part (TPC-H Q2 shape). No partsupp table
    exists, so the supply relation is derived: per (part, supplier) pair
    observed in lineitem, supplycost = MIN(l_extendedprice / l_quantity).
    MIN (not AVG) keeps the value order-independent — the argmin equality
    below is then bit-exact on both engines regardless of aggregation
    order.

    Scale shape: the part filter broadcasts into lineitem BEFORE the
    pair aggregation, so only the qualifying sliver shuffles; the
    region-filtered supplier dim broadcasts; the correlated per-part MIN
    decorrelates to a window over the already-aggregated (and
    part-filtered) supply relation instead of a second lineitem pass.
    """
    pk = (
        cat.table("part")
        .where(
            (F.col("p_type") == p_type)
            & F.col("p_size").between(size_lo, size_hi)
        )
        .select("p_partkey")
    )
    eu = (
        cat.table("supplier")
        .join(
            cat.table("nation"),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            cat.table("region").where(F.col("r_name") == region),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    bc = broadcaster(cat.table("supplier"))
    supply = (
        cat.table("lineitem")
        .join(pk, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias(
                "__cost"
            )
        )
        .join(bc(eu), F.col("l_suppkey") == F.col("s_suppkey"))
    )
    from pyspark.sql import Window

    per_part = Window.partitionBy("l_partkey")
    return (
        supply.withColumn("__min_cost", F.min("__cost").over(per_part))
        .where(F.col("__cost") == F.col("__min_cost"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            F.col("l_partkey").alias("p_partkey"),
            # floor-form, not ROUND: supplycost is a ratio of clean
            # decimals (2dp price / integral qty), so exact ties at the
            # 4th decimal are possible — Spark's HALF_UP on the shortest
            # repr vs DuckDB's binary round could flip them. Identical
            # IEEE double ops on both sides instead (ADVICE r8).
            numeric.round_floor("__cost", 4).alias("supplycost"),
        )
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


MIN_COST_SUPPLIER_SQL = """
WITH supply AS (
  SELECT l_partkey, l_suppkey, MIN(l_extendedprice / l_quantity) AS supplycost
  FROM lineitem
  JOIN part ON p_partkey = l_partkey
  WHERE p_type = 'LARGE' AND p_size BETWEEN 10 AND 20
  GROUP BY l_partkey, l_suppkey
), eu AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
)
SELECT s_acctbal, s_name, n_name, l_partkey AS p_partkey,
       FLOOR(supplycost * 10000.0 + 0.5) / 10000.0 AS supplycost
FROM supply JOIN eu ON l_suppkey = s_suppkey
WHERE supplycost = (
  SELECT MIN(s2.supplycost) FROM supply s2
  JOIN eu e2 ON s2.l_suppkey = e2.s_suppkey
  WHERE s2.l_partkey = supply.l_partkey)
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


def order_priority_check(
    cat: TableCatalog, start: str = "1997-01-01", end: str = "1997-04-01",
    grace_days: int = 30,
) -> DataFrame:
    """Order-priority checking (TPC-H Q4 shape). No commit/receipt dates
    exist, so "late" = any lineitem shipped more than ``grace_days``
    after the order date (the sole_late_suppliers substitution).

    The EXISTS decorrelates to an INNER join + per-order dedup
    (COUNT(DISTINCT o_orderkey)) rather than a LEFT SEMI: Spark can only
    BUILD the right side of a semi join, so the semi form must shuffle
    the whole lineitem fact even when the quarter-of-orders side is a
    sliver — the inner form lets AQE broadcast that sliver (measured at
    the 10x corpus, interleaved median: 2.97 -> 0.68 s, value-identical)
    and degrades to the identical orderkey shuffle at fact scale where
    the sliver no longer fits a broadcast. Lineitem is also pre-pruned
    at the scan by the IMPLIED envelope ``l_shipdate > start + grace``
    (a late line of a quarter order cannot ship earlier).
    """
    orders = cat.table("orders").where(
        (F.col("o_orderdate") >= F.lit(start).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(end).cast("timestamp"))
    )
    li = (
        cat.table("lineitem")
        .select("l_orderkey", "l_shipdate")
        .where(
            F.col("l_shipdate")
            > F.lit(start).cast("timestamp")
            + F.expr(f"INTERVAL {grace_days} DAYS")
        )
    )
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        f"INTERVAL {grace_days} DAYS"
    )
    return (
        orders.join(li, (F.col("o_orderkey") == F.col("l_orderkey")) & late)
        .groupBy("o_orderpriority")
        .agg(F.countDistinct("o_orderkey").alias("order_count"))
        .orderBy("o_orderpriority")
    )


ORDER_PRIORITY_CHECK_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate <  TIMESTAMP '1997-04-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def forecast_revenue(
    cat: TableCatalog, year: str = "1998", disc_lo: float = 0.05,
    disc_hi: float = 0.07, max_qty: float = 24.0,
) -> DataFrame:
    """Forecast-revenue change (TPC-H Q6 shape): pure scan → pushed
    filter → ungrouped SUM. All three predicates reach the parquet scan
    (PushedFilters); the plan is a single whole-stage-codegen map over
    the surviving rows with a one-row partial+final aggregate — the
    cheapest possible shape at any scale. Boundary literals compare the
    same stored doubles on both engines, so BETWEEN is exact.
    """
    li = cat.table("lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit(f"{year}-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(f"{int(year) + 1}-01-01").cast("timestamp"))
            & F.col("l_discount").between(disc_lo, disc_hi)
            & (F.col("l_quantity") < max_qty)
        )
        .agg(
            (F.sum(_money_e4(F.col("l_discount"))) / F.lit(10000.0)).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


FORECAST_REVENUE_SQL = """
SELECT SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
           * CAST(ROUND(l_discount * 100) AS BIGINT)) / 10000.0 AS revenue,
       COUNT(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1998-01-01'
  AND l_shipdate <  TIMESTAMP '1999-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


def product_type_profit(
    cat: TableCatalog, name_prefix: str = "red"
) -> DataFrame:
    """Product-type profit (TPC-H Q9 shape) per supplier nation and
    order year. No ps_supplycost exists; cost is the deterministic proxy
    ``0.01 * p_retailprice * l_quantity``.

    The profit summand SUBTRACTS two comparable-magnitude terms, which
    amplifies double summation-order noise enough to straddle cent
    boundaries across 175 groups (measured: 2 groups flipped their last
    cent vs the oracle under ROUND(SUM(double))). All inputs have exact
    decimal widths (prices 2 decimals, discounts 2, quantities
    integral), so the summand is computed as an EXACT int64 count of
    1e-4 currency units — cents(ep) * pct(1-d) - cents(rp) * qty — and
    the group sum is integer arithmetic, bit-identical on any engine in
    any order. Headroom: <= ~1.05e9 per row, so int64 holds past 8e9
    matching rows; at larger scale widen the accumulator to decimal.

    Scale shape: the name-prefix part filter (a pushable
    StringStartsWith) and the supplier→nation chain broadcast; the only
    shuffle-scale join is lineitem ⋈ orders on orderkey, then one
    partial-aggregable groupBy over (nation, year).
    """
    pk = (
        cat.table("part")
        .where(F.col("p_name").startswith(name_prefix))
        .select("p_partkey", "p_retailprice")
    )
    supp_nat = (
        cat.table("supplier")
        .join(
            cat.table("nation"),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    rp_cents = F.round(F.col("p_retailprice") * 100).cast("long")
    # ROUND before the long cast: a bare double->long cast truncates
    # toward zero in Spark while the oracle's CAST(.. AS BIGINT) rounds
    # half-away in DuckDB — they only coincide because quantities are
    # integral-valued today; rounding first keeps both engines identical
    # for any future fractional-quantity corpus (ADVICE r8).
    qty = F.round(F.col("l_quantity")).cast("long")
    profit_e4 = _money_e4(1 - F.col("l_discount")) - rp_cents * qty
    bc = broadcaster(cat.table("supplier"))
    return (
        cat.table("lineitem")
        .join(pk, F.col("l_partkey") == F.col("p_partkey"))
        .join(bc(supp_nat), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(cat.table("orders"), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg((F.sum(profit_e4) / F.lit(10000.0)).alias("profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


PRODUCT_TYPE_PROFIT_SQL = """
SELECT n_name AS nation,
       CAST(EXTRACT(year FROM CAST(o_orderdate AS TIMESTAMP)) AS INT) AS o_year,
       SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
             * CAST(ROUND((1 - l_discount) * 100) AS BIGINT)
           - CAST(ROUND(p_retailprice * 100) AS BIGINT)
             * CAST(ROUND(l_quantity) AS BIGINT)) / 10000.0 AS profit
FROM lineitem
JOIN part     ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation   ON n_nationkey = s_nationkey
JOIN orders   ON o_orderkey = l_orderkey
WHERE p_name LIKE 'red%'
GROUP BY 1, 2
ORDER BY nation, o_year DESC
"""


def important_part_values(
    cat: TableCatalog, nation: str = "NATION_3", multiplier: float = 2.0
) -> DataFrame:
    """Important-stock identification (TPC-H Q11 shape): per-part supply
    value restricted to one nation's suppliers, keeping parts whose
    value exceeds ``multiplier`` x the per-part average — the
    HAVING-vs-scalar-subquery pattern. No partsupp exists; value =
    SUM(l_extendedprice * (1 - l_discount)) over that nation's
    lineitems. TPC-H's fraction-of-TOTAL threshold is scaled by 1/SF in
    the spec precisely because a fixed fraction degenerates as the part
    count grows (measured here: 52 rows at sf0.01, 0 at sf0.1); a
    multiple of the AVERAGE keeps the same heavy tail at every scale
    with the identical scalar-subquery shape.

    The scalar threshold rides as a ONE-ROW broadcast relation (the
    pagerank-nconst pattern) instead of a driver-side collect; zero
    driver actions at construction.

    Measured negative result (do not retry at graded scale): the two
    consumers of the per-part aggregate prune differently, so
    ReuseExchange does not dedup and the nation-filtered scan+agg runs
    twice — but persist_tracked(per_part) REGRESSES at the 10x corpus
    (interleaved warm A/B: plain 0.99-1.57 s vs persist 1.88-2.12 s):
    the broadcast-sliver join + agg recompute is cheaper than the
    cache write + the persist's interference with AQE planning. At
    true fact scale persist per_part (it is |parts-touched| rows while
    the duplicate subtree is a fact scan).
    """
    nat_sup = (
        cat.table("supplier")
        .join(
            cat.table("nation").where(F.col("n_name") == nation),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    # exact int64 1e-4-currency units (the product_type_profit discipline:
    # ROUND(SUM(double), 2) straddled a cent boundary on one part at sf0.1)
    value_e4 = _money_e4(1 - F.col("l_discount"))
    bc = broadcaster(cat.table("supplier"))
    per_part = (
        cat.table("lineitem")
        .join(bc(nat_sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(value_e4).alias("__value_e4"))
    )
    # value > multiplier * AVG(value) compared as EXACT integer
    # cross-multiplication (value_e4 * n * 1e6 > total_e4 * mult_e6) in
    # decimal(38,0): a double AVG threshold re-introduces the very
    # summation-order boundary class the e4 units eliminated once
    # totals pass 2^53 (the fact-100x corpus reaches 6e16)
    mult_e6 = int(round(multiplier * 1_000_000))
    thresh = per_part.agg(
        F.sum("__value_e4").cast("decimal(38,0)").alias("__total_e4"),
        F.count(F.lit(1)).alias("__n"),
    )
    return (
        per_part.crossJoin(thresh)
        .where(
            F.col("__value_e4").cast("decimal(38,0)")
            * F.col("__n")
            * F.lit(1_000_000)
            > F.col("__total_e4") * F.lit(mult_e6)
        )
        .select(
            F.col("l_partkey").alias("p_partkey"),
            (F.col("__value_e4") / F.lit(10000.0)).alias("value"),
        )
        .orderBy(F.col("value").desc(), "p_partkey")
    )


IMPORTANT_PART_VALUES_SQL = """
WITH supply AS (
  SELECT l_partkey,
         SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
             * CAST(ROUND((1 - l_discount) * 100) AS BIGINT)) AS value_e4
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation   ON n_nationkey = s_nationkey
  WHERE n_name = 'NATION_3'
  GROUP BY l_partkey
)
SELECT l_partkey AS p_partkey, value_e4 / 10000.0 AS value
FROM supply
WHERE CAST(value_e4 AS HUGEINT) * (SELECT COUNT(*) FROM supply) * 1000000
      > (SELECT CAST(SUM(value_e4) AS HUGEINT) FROM supply) * 2000000
ORDER BY value DESC, p_partkey
"""


def late_shipment_priority(
    cat: TableCatalog, year: str = "1999", grace_days: int = 60
) -> DataFrame:
    """Shipping-mode priority split (TPC-H Q12 shape). No l_shipmode or
    receipt date exists, so the grouping key is ``l_returnflag`` and
    "late" = shipped more than ``grace_days`` after the order date; the
    high/low order-priority CASE split is verbatim Q12.

    One shuffle-scale join (lineitem ⋈ orders on orderkey; the ship-year
    filter reaches the lineitem scan, and the IMPLIED orders envelope
    ``o_orderdate < year_end - grace`` reaches the orders scan — a late
    line shipped inside the year forces its order to predate that
    bound, so ~29% of orders never enter the shuffle), then a 3-group
    conditional aggregate — both SUM(CASE)s partial-aggregate map-side.

    Measured and deliberately NOT landed: a SHUFFLE_HASH hint on the
    orders side wins only ~10%% warm on the fact-100x corpus (2.17-2.66
    vs 2.45-2.89 s SMJ) — too little to justify forcing the build side,
    which bypasses the planner's memory sizing and AQE's skew handling
    and can OOM a partition-local hash build at true fact scale. The
    join strategy stays AQE's choice.
    """
    li = cat.table("lineitem").where(
        (F.col("l_shipdate") >= F.lit(f"{year}-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(f"{int(year) + 1}-01-01").cast("timestamp"))
    )
    orders = cat.table("orders").where(
        F.col("o_orderdate")
        < F.lit(f"{int(year) + 1}-01-01").cast("timestamp")
        - F.expr(f"INTERVAL {grace_days} DAYS")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .where(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr(f"INTERVAL {grace_days} DAYS")
        )
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, F.lit(1)).otherwise(F.lit(0))).alias(
                "high_line_count"
            ),
            F.sum(F.when(~high, F.lit(1)).otherwise(F.lit(0))).alias(
                "low_line_count"
            ),
        )
        .orderBy("l_returnflag")
    )


LATE_SHIPMENT_PRIORITY_SQL = """
SELECT l_returnflag,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem
JOIN orders ON o_orderkey = l_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND l_shipdate >= TIMESTAMP '1999-01-01'
  AND l_shipdate <  TIMESTAMP '2000-01-01'
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def promo_revenue_pct(
    cat: TableCatalog, month_start: str = "1998-09-01",
    month_end: str = "1998-10-01",
) -> DataFrame:
    """Promotion-effect percentage (TPC-H Q14 shape): the share of one
    month's revenue coming from PROMO-type parts — a conditional
    aggregate ratio needing NO self-join (one SUM(CASE) / SUM over the
    joined rows, exactly the market_share pattern).

    The month filter reaches the lineitem scan; the full part dim
    broadcasts (it carries only partkey + type).
    """
    part = cat.table("part").select("p_partkey", "p_type")
    rev_e4 = _money_e4(1 - F.col("l_discount"))
    return (
        cat.table("lineitem")
        .where(
            (F.col("l_shipdate") >= F.lit(month_start).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(month_end).cast("timestamp"))
        )
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            # floor-form, not ROUND: the pct is a ratio of exact int64
            # sums — a terminating decimal tail at the 4th place would
            # round HALF_UP in Spark but on the binary double in DuckDB;
            # identical IEEE ops both sides instead (ADVICE r8).
            numeric.round_floor(
                F.lit(100.0)
                * F.sum(
                    F.when(F.col("p_type") == "PROMO", rev_e4).otherwise(
                        F.lit(0)
                    )
                )
                / F.sum(rev_e4),
                4,
            ).alias("promo_pct"),
            (F.sum(rev_e4) / F.lit(10000.0)).alias("total_revenue"),
        )
    )


PROMO_REVENUE_PCT_SQL = """
SELECT FLOOR(CAST(100.0 AS DOUBLE)
             * SUM(CASE WHEN p_type = 'PROMO'
                        THEN CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                             * CAST(ROUND((1 - l_discount) * 100) AS BIGINT)
                        ELSE 0 END)
             / SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                   * CAST(ROUND((1 - l_discount) * 100) AS BIGINT))
             * 10000.0 + 0.5) / 10000.0 AS promo_pct,
       SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
           * CAST(ROUND((1 - l_discount) * 100) AS BIGINT)) / 10000.0 AS total_revenue
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE l_shipdate >= TIMESTAMP '1998-09-01'
  AND l_shipdate <  TIMESTAMP '1998-10-01'
"""


def top_supplier(
    cat: TableCatalog, start: str = "1998-01-01", end: str = "1998-04-01"
) -> DataFrame:
    """Top supplier by quarterly revenue (TPC-H Q15 shape): the revenue
    view + scalar MAX selection. Revenue is summed as EXACT int64
    1e-4-currency units (the product_type_profit discipline) so the
    argmax equality compares bit-identical values on both engines —
    with double sums, a near-tie at the max could select different
    supplier sets per engine.

    The scalar MAX rides as a one-row broadcast relation over the same
    per-supplier aggregate; supplier names broadcast in at the end.
    Zero driver actions at construction, ties (multiple max-revenue
    suppliers) surface as multiple rows on both engines.

    The two consumers prune differently, so ReuseExchange does NOT
    dedup and the filtered scan+agg would run twice; ``rev`` (a
    |suppliers|-row aggregate) is therefore persist_tracked. Measured:
    a wash at the 10x corpus (interleaved warm A/B: 0.82-0.85 s
    persisted vs 0.76-0.86 s plain — the sliver recompute costs what
    the cache write costs) and a consistent ~20%% win on the fact-100x
    corpus (1.05-1.75 s vs 1.36-2.05 s) where the duplicate subtree is
    a 60M-row scan; the asymmetry only grows with the fact table.
    """
    from etl_io_spark.caching import persist_tracked

    rev = persist_tracked(
        cat.table("lineitem")
        .where(
            (F.col("l_shipdate") >= F.lit(start).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(end).cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(
            (
                F.sum(_money_e4(1 - F.col("l_discount"))) / F.lit(10000.0)
            ).alias("total_revenue")
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("__max_rev"))
    sup = cat.table("supplier").select("s_suppkey", "s_name")
    return (
        rev.crossJoin(mx)
        .where(F.col("total_revenue") == F.col("__max_rev"))
        .join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


TOP_SUPPLIER_SQL = """
WITH rev AS (
  SELECT l_suppkey,
         SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
             * CAST(ROUND((1 - l_discount) * 100) AS BIGINT)) / 10000.0
           AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1998-01-01'
    AND l_shipdate <  TIMESTAMP '1998-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM rev JOIN supplier ON s_suppkey = l_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
ORDER BY s_suppkey
"""


def supplier_part_counts(
    cat: TableCatalog,
    excl_brand: str = "Brand#5",
    excl_type: str = "PROMO",
    sizes: tuple[int, ...] = (1, 4, 9, 14, 19, 23, 36, 49),
) -> DataFrame:
    """Supplier-part relationship counts (TPC-H Q16 shape): distinct
    suppliers per (brand, type, size) bucket, excluding one brand, one
    type, and "complaint" suppliers. No partsupp exists, so the
    part-supplier relation comes from lineitem; no comment column
    exists, so the complaint proxy is a negative account balance.

    The filtered part dim broadcasts into lineitem; the complaint
    supplier list is a broadcast ANTI join. The oracle uses NOT EXISTS
    (not NOT IN): a NULL OUTER key under NOT IN yields NULL and drops
    the row, while left_anti keeps never-matching NULL-keyed rows —
    NOT EXISTS matches the anti join's semantics exactly even if a
    lineitem ever carried a NULL l_suppkey. The single distinct
    aggregate plans as the standard two-level partial-distinct shape
    on the groupBy keys.
    """
    pk = (
        cat.table("part")
        .where(
            (F.col("p_brand") != excl_brand)
            & (F.col("p_type") != excl_type)
            & F.col("p_size").isin(*sizes)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    complaints = (
        cat.table("supplier")
        .where(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        cat.table("lineitem")
        .select("l_partkey", "l_suppkey")
        .join(pk, F.col("l_partkey") == F.col("p_partkey"))
        .join(complaints, F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


SUPPLIER_PART_COUNTS_SQL = """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 49)
  AND NOT EXISTS (SELECT 1 FROM supplier
                  WHERE s_suppkey = l_suppkey AND s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


def discounted_revenue_disjunct(cat: TableCatalog) -> DataFrame:
    """Discounted revenue under a three-way disjunctive predicate
    (TPC-H Q19 shape) — the canonical "OR across joined tables" query.

    Scale shape: the exact disjunction can only be evaluated after the
    join, but each side's IMPLIED envelope is pushed first — the part
    side prefilters to the union of the three (brand, size) boxes
    before broadcasting, and the lineitem side prefilters quantity to
    the union range [1, 30] at the scan. The envelopes are implied by
    the disjunction, so semantics are unchanged; they cut the joined
    row stream by ~10x before the residual OR runs.
    """
    c1 = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 5)
        & F.col("l_quantity").between(1, 11)
    )
    c2 = (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(10, 20)
    )
    c3 = (
        (F.col("p_brand") == "Brand#14")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(20, 30)
    )
    part_env = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 10))
        | ((F.col("p_brand") == "Brand#14") & F.col("p_size").between(1, 15))
    )
    pk = (
        cat.table("part")
        .where(part_env)
        .select("p_partkey", "p_brand", "p_size")
    )
    return (
        cat.table("lineitem")
        .where(F.col("l_quantity").between(1, 30))
        .join(pk, F.col("l_partkey") == F.col("p_partkey"))
        .where(c1 | c2 | c3)
        .agg(
            (
                F.sum(_money_e4(1 - F.col("l_discount"))) / F.lit(10000.0)
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


DISCOUNTED_REVENUE_DISJUNCT_SQL = """
SELECT SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
           * CAST(ROUND((1 - l_discount) * 100) AS BIGINT)) / 10000.0 AS revenue,
       COUNT(*) AS n_lines
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#14' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 20 AND 30)
"""


def potential_part_promotion(
    cat: TableCatalog,
    name_prefix: str = "red",
    year: str = "1999",
    min_qty: float = 50.0,
    nations: tuple[str, ...] = ("NATION_5", "NATION_7", "NATION_11", "NATION_19"),
) -> DataFrame:
    """Potential part promotion (TPC-H Q20 shape): suppliers in a nation
    set who moved real volume of one part family in one year. No
    ps_availqty exists, so the inner threshold is on total shipped
    quantity (> ``min_qty``) instead of half the stock level — the
    nested IN (GROUP BY ... HAVING) correlation is verbatim Q20.

    The part-family filter broadcasts into the year-filtered lineitem;
    the HAVING aggregate emits at most one row per supplier, which then
    drives a LEFT SEMI join against the (tiny, nation-filtered)
    supplier dim. AQE picks broadcast for the semi side at test scale
    and shuffles at fact scale.
    """
    pk = (
        cat.table("part")
        .where(F.col("p_name").startswith(name_prefix))
        .select("p_partkey")
    )
    movers = (
        cat.table("lineitem")
        .where(
            (F.col("l_shipdate") >= F.lit(f"{year}-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(f"{int(year) + 1}-01-01").cast("timestamp"))
        )
        .join(pk, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("__qty"))
        .where(F.col("__qty") > min_qty)
    )
    nat = cat.table("nation").where(F.col("n_name").isin(*nations))
    return (
        cat.table("supplier")
        .join(nat, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(movers, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


POTENTIAL_PART_PROMOTION_SQL = """
SELECT s_name, s_acctbal
FROM supplier
JOIN nation ON n_nationkey = s_nationkey
WHERE n_name IN ('NATION_5','NATION_7','NATION_11','NATION_19')
  AND s_suppkey IN (
    SELECT l_suppkey
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_name LIKE 'red%'
      AND l_shipdate >= TIMESTAMP '1999-01-01'
      AND l_shipdate <  TIMESTAMP '2000-01-01'
    GROUP BY l_suppkey
    HAVING SUM(l_quantity) > 50)
ORDER BY s_name
"""


def dormant_customer_balance(
    cat: TableCatalog,
    codes: tuple[int, ...] = (1, 3, 5, 7, 9),
    recent: str = "2001-01-01",
) -> DataFrame:
    """Dormant high-balance customers (TPC-H Q22 shape): above-average
    balances with no RECENT orders, grouped by "country code". No phone
    column exists, so cntrycode = c_nationkey % 10; and because this
    synthetic corpus gives nearly every customer SOME order, "no orders"
    becomes "no orders since ``recent``" — both substitutions keep the
    shape: scalar AVG subquery + anti join + group.

    The positive-balance average rides as a one-row broadcast over the
    same filtered customer sliver (ReuseExchange); the anti join runs
    against the date-filtered orders projection, broadcast at test
    scale, shuffling on custkey at fact scale under AQE.
    """
    pool = (
        cat.table("customer")
        .where((F.col("c_nationkey") % 10).isin(*codes))
        .select(
            (F.col("c_nationkey") % 10).cast("int").alias("cntrycode"),
            "c_acctbal",
            F.round(F.col("c_acctbal") * 100).cast("long").alias("__bal_c"),
            "c_custkey",
        )
    )
    # bal > AVG(positive bals) compared as exact integer
    # cross-multiplication over cents (bal_c * n > total_c) — a double
    # AVG threshold is summation-order-sensitive once the positive-pool
    # cent total passes 2^53 (the important_part_values discipline)
    avg_bal = pool.where(F.col("c_acctbal") > 0).agg(
        F.sum("__bal_c").cast("decimal(38,0)").alias("__total_c"),
        F.count(F.lit(1)).alias("__n_pos"),
    )
    recent_orders = (
        cat.table("orders")
        .where(F.col("o_orderdate") >= F.lit(recent).cast("timestamp"))
        .select("o_custkey")
    )
    return (
        pool.crossJoin(avg_bal)
        .where(
            F.col("__bal_c").cast("decimal(38,0)") * F.col("__n_pos")
            > F.col("__total_c")
        )
        .join(
            recent_orders,
            F.col("c_custkey") == F.col("o_custkey"),
            "left_anti",
        )
        .groupBy("cntrycode")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            (
                F.sum(F.round(F.col("c_acctbal") * 100).cast("long"))
                / F.lit(100.0)
            ).alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


DORMANT_CUSTOMER_BALANCE_SQL = """
WITH pool AS (
  SELECT CAST(c_nationkey % 10 AS INT) AS cntrycode, c_acctbal,
         CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_c, c_custkey
  FROM customer
  WHERE c_nationkey % 10 IN (1, 3, 5, 7, 9)
)
SELECT cntrycode, COUNT(*) AS numcust,
       SUM(bal_c) / 100.0 AS totacctbal
FROM pool
WHERE CAST(bal_c AS HUGEINT)
        * (SELECT COUNT(*) FROM pool WHERE c_acctbal > 0)
      > (SELECT CAST(SUM(bal_c) AS HUGEINT) FROM pool WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2001-01-01')
GROUP BY cntrycode
ORDER BY cntrycode
"""
