"""TPC-H consumption shapes over the fixture star schema: the
multi-operator queries a user of the reference actually runs against the
curated lake (diagram_1.txt:98-107). Each composes 4+ operator families in
one plan — join order, broadcast choice, agg placement and top-k are all
decided by Catalyst/AQE.

Adapted where the fixture lacks TPC-H columns or tables: there is no
``partsupp`` table (Q2/Q9/Q11/Q16/Q20 are out of reach) and no
receiptdate column; Q22's phone-prefix predicate becomes a nation-key
predicate. The operator composition of each query is preserved.

All extended-tier: the §2 families they compose (J3/J5/J6/G3/O1/sq) already
have driver rows; these prove the shapes compose at realistic complexity and
are oracle-verified locally each round.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from datalakejson_spark.operators.deterministic import davg_sql, ds, dsum_sql
from datalakejson_spark.registry import register
from datalakejson_spark.sources.tables import load_table


_Q3_SQL = f"""
    SELECT l_orderkey,
           {dsum_sql('l_extendedprice * (1 - l_discount)')} AS revenue,
           CAST(o_orderdate AS DATE) AS order_date,
           o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate  > TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
"""


@register("q3_shipping_priority", survey="J3,J4,G3,O1,P10,P11", extended=True, sql=_Q3_SQL)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3 shape: selective dimension filter → star join → grouped
    revenue → top-10. The customer filter prunes before the join; the final
    top-10 is TakeOrderedAndProject, not a global sort."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cutoff = F.lit("1997-01-01").cast("timestamp_ntz")
    return (
        customer.filter(F.col("c_mktsegment") == "BUILDING")
        .join(orders.filter(F.col("o_orderdate") < cutoff),
              F.col("c_custkey") == F.col("o_custkey"))
        .join(li.filter(F.col("l_shipdate") > cutoff),
              F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(
            "l_orderkey",
            F.col("o_orderdate").cast("date").alias("order_date"),
            "o_orderpriority",
        )
        .agg(ds(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
        .select("l_orderkey", "revenue", "order_date", "o_orderpriority")
    )


_Q10_SQL = f"""
    SELECT c_custkey, c_name, n_name,
           {dsum_sql('l_extendedprice * (1 - l_discount)')} AS revenue,
           count(*) AS n_return_lines
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
"""


@register("q10_returned_items", survey="J3,J4,G3,O1,P10", extended=True, sql=_Q10_SQL)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q10 shape: lost-revenue report over returned lineitems — fact
    filter pushed to scan, nation broadcast, top-20 customers."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    nation = load_table(spark, sf_dir, "nation")
    lo = F.lit("1996-01-01").cast("timestamp_ntz")
    hi = F.lit("1997-01-01").cast("timestamp_ntz")
    return (
        li.filter(F.col("l_returnflag") == "R")
        .join(
            orders.filter((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            ds(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.count("*").alias("n_return_lines"),
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


_Q6_SQL = f"""
    SELECT {dsum_sql('l_extendedprice * l_discount')} AS revenue,
           count(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
"""


@register("q6_forecast_revenue", survey="G3,P11,F4", extended=True, sql=_Q6_SQL)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q6 shape: pure scan-side predicates feeding one global
    aggregate — everything pushes down; the job reduces a filtered scan
    with no shuffle beyond the final single-row combine."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
            & F.col("l_discount").between(0.03, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            ds(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


_Q18_SQL = f"""
    SELECT c_custkey, o_orderkey,
           CAST(o_orderdate AS DATE) AS order_date,
           o_totalprice,
           {dsum_sql('l_quantity')} AS total_qty
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 210
    )
    GROUP BY c_custkey, o_orderkey, CAST(o_orderdate AS DATE), o_totalprice
"""


@register("q18_large_volume_customers", survey="J3,J6,G3", extended=True, sql=_Q18_SQL)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q18 shape: IN-subquery over a grouped HAVING — planned as an
    aggregate + semi join, then the main star join re-aggregates."""
    for name in ("orders", "customer", "lineitem"):
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(_Q18_SQL)


_Q19_PRED = """
    (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 21)
    OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 30 AND l_quantity BETWEEN 10 AND 30)
    OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 45 AND l_quantity BETWEEN 20 AND 40)
"""

_Q19_SQL = f"""
    SELECT {dsum_sql('l_extendedprice * (1 - l_discount)')} AS revenue,
           count(*) AS n_lines
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE {_Q19_PRED}
"""


@register("q19_disjunctive_predicates", survey="J3,J4,F7,P10", extended=True, sql=_Q19_SQL)
def q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q19 shape: OR-of-ANDs across both join sides. Catalyst extracts
    the common join key and pushes the per-side conjuncts below the join
    where possible; the part side broadcasts."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")

    def band(brand: str, size_hi: int, q_lo: int, q_hi: int):
        return (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(1, size_hi)
            & F.col("l_quantity").between(q_lo, q_hi)
        )

    pred = (
        band("Brand#12", 15, 1, 21)
        | band("Brand#23", 30, 10, 30)
        | band("Brand#34", 45, 20, 40)
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .filter(pred)
        .agg(
            ds(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


_Q4_SQL = """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY 1
"""


@register("q4_order_priority_check", survey="J6,G3,P11", extended=True, sql=_Q4_SQL)
def q4_order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q4 shape: date-windowed orders having at least one late-shipped
    line — correlated EXISTS with a cross-table predicate → semi join."""
    for name in ("orders", "lineitem"):
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(_Q4_SQL)


_Q15_SQL = f"""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               {dsum_sql('l_extendedprice * (1 - l_discount)')} AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
        GROUP BY 1
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
"""


@register("q15_top_supplier", survey="G3,J3,O1", extended=True, sql=_Q15_SQL)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q15 shape: aggregate view + max-of-aggregate scalar subquery —
    the revenue CTE is computed once and reused for both the probe and the
    max (Catalyst reuses the subquery result)."""
    for name in ("supplier", "lineitem"):
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(_Q15_SQL)


_Q21_SQL = """
    SELECT s_name, count(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F'
      AND l1.l_returnflag = 'R'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY 1
"""


@register("q21_waiting_supplier", survey="J6,J3,G3", extended=True, sql=_Q21_SQL)
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q21 shape: the sole at-fault supplier on multi-supplier orders —
    one correlated EXISTS and one NOT EXISTS against the same fact table,
    planned as a semi join plus an anti join (no per-row subquery
    re-execution)."""
    for name in ("supplier", "lineitem", "orders"):
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(_Q21_SQL)


def _views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


# --------------------------------------------------------------------------
# Q5: local-supplier volume — customer and supplier in the SAME nation
# --------------------------------------------------------------------------
_Q5_SQL = f"""
    SELECT n_name AS nation,
           {dsum_sql('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM customer
    JOIN orders   ON c_custkey  = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey  = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY 1
    ORDER BY revenue DESC, nation
"""


@register("q5_local_supplier_volume", survey="J3,J4,G3,O2", extended=True, sql=_Q5_SQL)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q5 shape: five-way star join with a same-nation equi-constraint
    between two dimension arms (customer and supplier must co-locate). The
    nation/region arm broadcasts; the fact side shuffles once on the order
    key, then once on the supplier key — the join-order problem Catalyst
    solves from statistics."""
    _views(spark, sf_dir, "customer", "orders", "lineitem", "supplier",
           "nation", "region")
    return spark.sql(_Q5_SQL)


# --------------------------------------------------------------------------
# Q7: volume shipping between two nations, split by year
# --------------------------------------------------------------------------
_Q7_SQL = f"""
    SELECT sn.n_name AS supp_nation,
           cn.n_name AS cust_nation,
           year(l_shipdate) AS l_year,
           {dsum_sql('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey  = c_custkey
    JOIN supplier ON l_suppkey  = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
       OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1')
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
"""


@register("q7_nation_volume_shipping", survey="J3,J4,G3,F1", extended=True, sql=_Q7_SQL)
def q7_nation_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q7 shape: the nation dimension joined TWICE under different
    roles (supplier's vs customer's nation) with a disjunctive cross-pair
    predicate — alias discipline plus broadcast of both tiny arms."""
    _views(spark, sf_dir, "lineitem", "orders", "customer", "supplier", "nation")
    return spark.sql(_Q7_SQL)


# --------------------------------------------------------------------------
# Q13: customer order-count distribution (zero-order customers included)
# --------------------------------------------------------------------------
_Q13_SQL = """
    SELECT c_count, count(*) AS custdist
    FROM (
        SELECT c_custkey, count(o_orderkey) AS c_count
        FROM customer
        LEFT JOIN orders ON c_custkey = o_custkey
                        AND o_orderpriority <> '1-URGENT'
        GROUP BY c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
"""


@register("q13_order_distribution", survey="J5,G3,G1,O2", extended=True, sql=_Q13_SQL)
def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q13 shape: outer join with an ON-clause filter (NOT a WHERE —
    the filter must not turn the outer join inner), then a two-level
    aggregate: per-customer counts, then the histogram of those counts.
    count(o_orderkey) over the null-extended rows yields the zero bucket."""
    _views(spark, sf_dir, "customer", "orders")
    return spark.sql(_Q13_SQL)


# --------------------------------------------------------------------------
# Q17: small-quantity-order revenue (correlated average subquery)
# --------------------------------------------------------------------------
_Q17_SQL = f"""
    SELECT {dsum_sql('l_extendedprice')} / 7.0 AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#1'
      AND l_quantity < (
          SELECT 0.2 * avg(l_quantity)
          FROM lineitem l2
          WHERE l2.l_partkey = p_partkey
      )
"""


@register("q17_small_quantity_revenue", survey="J3,J4,G3", extended=True, sql=_Q17_SQL)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q17 shape: correlated scalar average subquery against the same
    fact table, decorrelated by Catalyst into a per-part aggregate joined
    back — never a per-row re-scan. l_quantity is integer-valued, so the
    inner avg is order-independent (exact integer sums in double) and safe
    to compare across engines without the scaled-sum rewrite."""
    _views(spark, sf_dir, "lineitem", "part")
    return spark.sql(_Q17_SQL)


# --------------------------------------------------------------------------
# Q22: positive-balance customers with no orders (phone prefix → nation key)
# --------------------------------------------------------------------------
_Q22_SQL = f"""
    SELECT c_nationkey AS cntrycode,
           count(*) AS numcust,
           {dsum_sql('c_acctbal')} AS totacctbal
    FROM customer
    WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
      AND c_acctbal > (
          SELECT {davg_sql('c_acctbal')}
          FROM customer
          WHERE c_acctbal > 0.0
            AND c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
      )
      AND NOT EXISTS (
          SELECT 1 FROM orders
          WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
      )
    GROUP BY 1
    ORDER BY 1
"""


@register("q22_global_sales_opportunity", survey="J1,J6,G3,sq", extended=True,
          sql=_Q22_SQL)
def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q22 shape: uncorrelated scalar subquery (the above-average
    balance threshold, broadcast as a literal at runtime) + NOT EXISTS anti
    join against orders. Adapted to the fixture: the phone-prefix predicate
    becomes c_nationkey (no phone column), and "no orders" becomes "no
    URGENT orders" (every fixture customer has orders). The average uses the
    scaled-integer deterministic form — c_acctbal is fractional, and a raw
    double avg would be partition-order-dependent at the comparison
    boundary."""
    _views(spark, sf_dir, "customer", "orders")
    return spark.sql(_Q22_SQL)


# --------------------------------------------------------------------------
# Q8: national market share (conditional share-of-total aggregate)
# --------------------------------------------------------------------------
_Q8_SQL = f"""
    SELECT o_year,
           round(
               {dsum_sql("CASE WHEN nation = 'NATION_3' THEN volume ELSE 0.0 END")}
               / {dsum_sql('volume')}, 6) AS mkt_share
    FROM (
        SELECT year(o_orderdate) AS o_year,
               l_extendedprice * (1 - l_discount) AS volume,
               sn.n_name AS nation
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey  = c_custkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        JOIN region   ON cn.n_regionkey = r_regionkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        JOIN part     ON l_partkey = p_partkey
        WHERE r_name = 'ASIA' AND p_size <= 25
    )
    GROUP BY o_year
    ORDER BY o_year
"""


@register("q8_national_market_share", survey="J3,J4,G3,F7", extended=True, sql=_Q8_SQL)
def q8_national_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q8 shape: one nation's share of regional revenue per year — a
    conditional-sum / total-sum ratio over a seven-table star join with the
    nation dimension in two roles. Both sums ride ONE aggregate (no second
    scan for the denominator)."""
    _views(spark, sf_dir, "lineitem", "orders", "customer", "nation", "region",
           "supplier", "part")
    return spark.sql(_Q8_SQL)


_Q12_SQL = """
    SELECT o_orderpriority,
           CAST(count_if(o_totalprice >= 150000) AS BIGINT) AS n_high,
           CAST(count_if(o_totalprice < 150000) AS BIGINT) AS n_low
    FROM orders
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_linenumber = 1
    GROUP BY 1
"""


@register("q12_priority_shipping", survey="J3,G1,G3,F7", extended=True, sql=_Q12_SQL)
def q12_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q12 shape: join + conditional counts per class."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    lo = F.lit("1996-01-01").cast("timestamp_ntz")
    hi = F.lit("1997-01-01").cast("timestamp_ntz")
    return (
        orders.join(
            li.filter(
                (F.col("l_shipdate") >= lo)
                & (F.col("l_shipdate") < hi)
                & (F.col("l_linenumber") == 1)
            ),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count_if(F.col("o_totalprice") >= 150000).alias("n_high"),
            F.count_if(F.col("o_totalprice") < 150000).alias("n_low"),
        )
    )


_Q14_SQL = f"""
    SELECT round(100.0 * {dsum_sql("CASE WHEN p_type LIKE 'SMALL%' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END")}
                 / {dsum_sql('l_extendedprice * (1 - l_discount)')}, 6) AS small_revenue_pct
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
"""


@register("q14_promo_ratio", survey="J3,J4,G3,F7", extended=True, sql=_Q14_SQL)
def q14_promo_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q14 shape: ratio of conditional revenue to total — one
    aggregation, broadcast part dimension."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    lo = F.lit("1996-03-01").cast("timestamp_ntz")
    hi = F.lit("1996-04-01").cast("timestamp_ntz")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    small_rev = F.when(F.col("p_type").like("SMALL%"), rev).otherwise(F.lit(0.0))
    return (
        li.filter((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi))
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(100.0 * ds(small_rev) / ds(rev), 6).alias("small_revenue_pct")
        )
    )
