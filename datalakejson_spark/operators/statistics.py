"""Statistical aggregates and reshaping (G-family extensions): stddev /
variance / correlation via engine-portable exact moment sums, pivot via
conditional aggregation, GROUPING SETS with grouping_id.

Portability note: native stddev/corr implementations differ across engines
(Welford vs. sum-of-squares accumulation) and across partition orders, so the
moments are accumulated exactly — values scaled to integer cents (exact for
the 2-dp fixtures), squares summed in DECIMAL(38,0) (int→decimal casts are
exact, unlike double→decimal) — and the final formula is evaluated in double
from identical exact inputs on both engines.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from datalakejson_spark.registry import register
from datalakejson_spark.sources.tables import load_table


def _moments_sql(x: str, cents: int = 100) -> dict[str, str]:
    c = f"CAST(round(({x}) * {cents}.0) AS BIGINT)"
    return {
        "n": f"count({x})",
        "s1": f"sum({c})",  # exact integer sum of cents
        "s2": f"sum(CAST({c} AS DECIMAL(38,0)) * {c})",  # exact sum of squares
    }


def _spark_moments(x, cents: int = 100):
    c = F.round(x * float(cents)).cast("bigint")
    return (
        F.count(x),
        F.sum(c),
        F.sum(c.cast("decimal(38,0)") * c),
    )


_M = _moments_sql("o_totalprice")
_G10_SQL = f"""
    SELECT o_orderpriority,
           {_M['n']} AS n,
           CAST({_M['s1']} AS DOUBLE) / 100.0 / {_M['n']} AS mean_price,
           sqrt(greatest(
               (CAST({_M['s2']} AS DOUBLE) - CAST({_M['s1']} AS DOUBLE)
                    * CAST({_M['s1']} AS DOUBLE) / {_M['n']})
               / ({_M['n']} - 1), 0.0)) / 100.0 AS stddev_price
    FROM orders
    GROUP BY 1
"""


@register("g10_exact_moment_stats", survey="G3,G7,F4", extended=True, sql=_G10_SQL)
def g10_exact_moment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample stddev from exact integer moments: deterministic under any
    partitioning on both engines, unlike native stddev accumulators."""
    orders = load_table(spark, sf_dir, "orders")
    n, s1, s2 = _spark_moments(F.col("o_totalprice"))
    nd = n.cast("double")
    s1d = s1.cast("double")
    s2d = s2.cast("double")
    stddev = F.sqrt(F.greatest((s2d - s1d * s1d / nd) / (nd - 1), F.lit(0.0))) / 100.0
    return orders.groupBy("o_orderpriority").agg(
        n.alias("n"),
        (s1d / 100.0 / nd).alias("mean_price"),
        stddev.alias("stddev_price"),
    )


_MX = _moments_sql("l_quantity")
_MY = _moments_sql("l_extendedprice")
_SXY = (
    "sum(CAST(CAST(round(l_quantity * 100.0) AS BIGINT) AS DECIMAL(38,0)) "
    "* CAST(round(l_extendedprice * 100.0) AS BIGINT))"
)
_G11_SQL = f"""
    SELECT l_returnflag,
           {_MX['n']} AS n,
           (CAST({_SXY} AS DOUBLE) - CAST({_MX['s1']} AS DOUBLE)
                * CAST({_MY['s1']} AS DOUBLE) / {_MX['n']})
           / sqrt((CAST({_MX['s2']} AS DOUBLE) - CAST({_MX['s1']} AS DOUBLE)
                       * CAST({_MX['s1']} AS DOUBLE) / {_MX['n']})
                  * (CAST({_MY['s2']} AS DOUBLE) - CAST({_MY['s1']} AS DOUBLE)
                       * CAST({_MY['s1']} AS DOUBLE) / {_MY['n']}))
               AS corr_qty_price
    FROM lineitem
    GROUP BY 1
"""


@register("g11_exact_correlation", survey="G3,F4", extended=True, sql=_G11_SQL)
def g11_exact_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation from exact cross-moments (same portability
    rationale as g10)."""
    li = load_table(spark, sf_dir, "lineitem")
    cx = F.round(F.col("l_quantity") * 100.0).cast("bigint")
    cy = F.round(F.col("l_extendedprice") * 100.0).cast("bigint")
    n = F.count("l_quantity")
    sx, sy = F.sum(cx), F.sum(cy)
    sxx = F.sum(cx.cast("decimal(38,0)") * cx)
    syy = F.sum(cy.cast("decimal(38,0)") * cy)
    sxy = F.sum(cx.cast("decimal(38,0)") * cy)
    nd = n.cast("double")
    cov = sxy.cast("double") - sx.cast("double") * sy.cast("double") / nd
    vx = sxx.cast("double") - sx.cast("double") * sx.cast("double") / nd
    vy = syy.cast("double") - sy.cast("double") * sy.cast("double") / nd
    return li.groupBy("l_returnflag").agg(
        n.alias("n"), (cov / F.sqrt(vx * vy)).alias("corr_qty_price")
    )


# --------------------------------------------------------------------------
# G9: pivot (conditional aggregation on both sides for portability)
# --------------------------------------------------------------------------
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_G9_CASES = ",\n           ".join(
    f"count(CASE WHEN c_mktsegment = '{s}' THEN 1 END) AS n_{s.lower()}"
    for s in _SEGMENTS
)
_G9_SQL = f"""
    SELECT CAST(c_nationkey AS INTEGER) AS nationkey,
           {_G9_CASES}
    FROM customer
    GROUP BY 1
"""


# promoted to the driver tier in r12 (seat rotation: pivot had never had a
# driver-green row)
@register(
    "g9_pivot_segments",
    survey="G3,G6",
    extended=True,  # seat rotation r13: G3 keeps driver seats via g3/j3/j11
    # and G6 via g6_rollup_time_hierarchy; this stays local-sweep-verified
    sql=_G9_SQL,
)
def g9_pivot_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot market segments to columns via Spark's pivot API (which plans
    exactly the conditional aggregation the oracle spells out — one pass,
    no per-segment scans)."""
    customer = load_table(spark, sf_dir, "customer")
    pivoted = (
        customer.groupBy(F.col("c_nationkey").cast("int").alias("nationkey"))
        .pivot("c_mktsegment", _SEGMENTS)
        .count()
    )
    renamed = pivoted.select(
        "nationkey",
        *[F.coalesce(F.col(s), F.lit(0)).alias(f"n_{s.lower()}") for s in _SEGMENTS],
    )
    return renamed


@register(
    "g9b_unpivot",
    survey="G3,G6,U2",
    extended=True,  # G3/G6/U2 covered in the driver tier
    sql="""
    SELECT c_custkey, metric, val FROM (
        SELECT c_custkey, 'acctbal' AS metric, c_acctbal AS val FROM customer
        UNION ALL
        SELECT c_custkey, 'nationkey' AS metric, CAST(c_nationkey AS DOUBLE) AS val
        FROM customer
    )
    WHERE c_custkey <= 200
    """,
)
def g9b_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt wide→long via Spark's unpivot API (plans the same
    Expand the oracle's UNION ALL spells out — one scan, not one per
    metric)."""
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 200)
    return (
        cust.withColumn("nationkey_d", F.col("c_nationkey").cast("double"))
        .withColumnRenamed("c_acctbal", "acctbal")
        .withColumnRenamed("nationkey_d", "nationkey")
        .unpivot("c_custkey", ["acctbal", "nationkey"], "metric", "val")
    )


# --------------------------------------------------------------------------
# G6c: explicit GROUPING SETS + grouping_id
# --------------------------------------------------------------------------
@register(
    "g6c_grouping_sets",
    survey="G6",
    extended=True,  # G6 covered in the driver tier by g6_rollup
    sql="""
    SELECT l_returnflag, l_linestatus,
           grouping(l_returnflag) * 2 + grouping(l_linestatus) AS gid,
           count(*) AS n_rows
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
    """,
)
def g6c_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary grouping sets with grouping_id disambiguation (the general
    form behind rollup/cube)."""
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               grouping(l_returnflag) * 2 + grouping(l_linestatus) AS gid,
               count(*) AS n_rows
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
                                (l_returnflag, l_linestatus))
        """
    )


# --------------------------------------------------------------------------
# G12: retention cohort analysis
# --------------------------------------------------------------------------
_G12_SQL = """
    WITH first_seen AS (
        SELECT user_id, min(date_trunc('week', ts)) AS cohort_week
        FROM events GROUP BY 1
    ),
    activity AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events
    )
    SELECT cohort_week,
           CAST((epoch(week) - epoch(cohort_week)) / 604800.0 AS BIGINT)
               AS week_offset,
           count(*) AS n_active_users
    FROM activity JOIN first_seen USING (user_id)
    GROUP BY 1, 2
"""


@register("g12_retention_cohorts", survey="G3,J3,F1", extended=True, sql=_G12_SQL)
def g12_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention triangle: users bucketed by first-seen week (cohort), then
    counted per (cohort, week-offset) of later activity — the standard
    product-analytics rollup. Two aggregates + one join, all keyed on
    user_id/cohort; the distinct-activity table is the only wide shuffle and
    carries two columns. Week offsets are exact multiples of 604800 s so the
    double division is lossless cross-engine."""
    events = load_table(spark, sf_dir, "events")
    first_seen = events.groupBy("user_id").agg(
        F.min(F.date_trunc("week", "ts")).alias("cohort_week")
    )
    activity = events.select(
        "user_id", F.date_trunc("week", "ts").alias("week")
    ).distinct()
    off = (
        (F.col("week").cast("double") - F.col("cohort_week").cast("double"))
        / 604800.0
    ).cast("bigint")
    return (
        activity.join(first_seen, "user_id")
        .select("cohort_week", off.alias("week_offset"))
        .groupBy("cohort_week", "week_offset")
        .agg(F.count("*").alias("n_active_users"))
    )


# --------------------------------------------------------------------------
# G13: ordered funnel analysis (view → click → purchase)
# --------------------------------------------------------------------------
_G13_SQL = """
    WITH firsts AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'view'
                        THEN date_trunc('microseconds', ts) END) AS t_view,
               min(CASE WHEN event_type = 'click'
                        THEN date_trunc('microseconds', ts) END) AS t_click,
               min(CASE WHEN event_type = 'purchase'
                        THEN date_trunc('microseconds', ts) END) AS t_purchase
        FROM events
        GROUP BY 1
    )
    SELECT count(*) AS n_users,
           CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS step_view,
           CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                         THEN 1 ELSE 0 END) AS BIGINT) AS step_click,
           CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                              AND t_purchase > t_click
                         THEN 1 ELSE 0 END) AS BIGINT) AS step_purchase
    FROM firsts
"""


@register("g13_funnel_steps", survey="G1,G3,F7", extended=True, sql=_G13_SQL)
def g13_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel: a user counts for a step only if their
    FIRST occurrence of each stage happens strictly after the previous
    stage's first occurrence. One conditional-min aggregate per user (one
    shuffle), then a single global rollup — no self-joins per step, which is
    the formulation that degrades quadratically with funnel depth."""
    events = load_table(spark, sf_dir, "events")

    def first_of(t):
        return F.min(
            F.when(
                F.col("event_type") == t, F.date_trunc("microsecond", "ts")
            )
        ).alias(f"t_{t}")

    firsts = events.groupBy("user_id").agg(
        first_of("view"), first_of("click"), first_of("purchase")
    )
    viewed = F.col("t_view").isNotNull()
    clicked = viewed & (F.col("t_click") > F.col("t_view"))
    purchased = clicked & (F.col("t_purchase") > F.col("t_click"))
    return firsts.agg(
        F.count("*").alias("n_users"),
        F.sum(viewed.cast("int")).cast("bigint").alias("step_view"),
        F.sum(clicked.cast("int")).cast("bigint").alias("step_click"),
        F.sum(purchased.cast("int")).cast("bigint").alias("step_purchase"),
    )


# --------------------------------------------------------------------------
# G14: argument-selection + conditional aggregates (max_by/min_by/count_if)
# --------------------------------------------------------------------------
# The max_by/min_by ordering key: (ts, event_id) encoded as one fixed-width
# sortable string, because a bare ts is NOT unique (the sf1 tier replicates
# timestamps) and argmax under ties is engine-arbitrary — the sf1 oracle
# caught Spark and DuckDB picking different rows. DuckDB's arg_max has no
# struct-key overload, so the composite key is stringified identically on
# both sides (zero-padded: lexicographic == numeric order).
_G14_KEY_SQL = (
    "lpad(CAST(epoch_us(CAST(date_trunc('microseconds', ts) AS TIMESTAMP)) "
    "AS VARCHAR), 20, '0') || lpad(CAST(event_id AS VARCHAR), 12, '0')"
)
_G14_SQL = f"""
    SELECT event_type,
           arg_max(event_id, {_G14_KEY_SQL}) AS latest_event_id,
           arg_min(event_id, {_G14_KEY_SQL}) AS earliest_event_id,
           CAST(count_if(value > 3.0) AS BIGINT) AS n_high_value
    FROM events
    GROUP BY 1
"""


@register("g14_argmax_aggregates", survey="G3,F7", extended=True, sql=_G14_SQL)
def g14_argmax_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argument-selection aggregates: the row-valued companions of min/max
    (``max_by``/``min_by`` = DuckDB ``arg_max``/``arg_min``) plus
    ``count_if`` — one two-phase hash aggregate, no window, no self-join.
    The ordering key is (ts, event_id) as a zero-padded string: ties on a
    bare ts would make the selected row engine-arbitrary (the sf1 oracle
    tier proved it), and a unique composite key is the production pattern
    for deterministic latest-row-per-group anyway."""
    events = load_table(spark, sf_dir, "events")
    key = F.concat(
        F.lpad(F.unix_micros(F.col("ts").cast("timestamp")).cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    return events.groupBy("event_type").agg(
        F.max_by("event_id", key).alias("latest_event_id"),
        F.min_by("event_id", key).alias("earliest_event_id"),
        F.count_if(F.col("value") > 3.0).alias("n_high_value"),
    )


# --------------------------------------------------------------------------
# G15: quantile vectors (one pass, many percentiles)
# --------------------------------------------------------------------------
_G15_SQL = """
    SELECT event_type,
           quantile_cont(value, [0.25, 0.5, 0.75, 0.95]) AS value_quantiles
    FROM events
    GROUP BY 1
"""


@register("g15_quantile_vector", survey="G7,G3,F5", extended=True, sql=_G15_SQL)
def g15_quantile_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A whole quantile VECTOR per group in one aggregate pass — the
    feature-distribution profile (p25/p50/p75/p95) without one job per
    percentile. Both engines use exact linear interpolation over the sorted
    group, so the arrays match element-wise; the scale path swaps in
    ``percentile_approx`` (t-digest) exactly as g5/g7 document."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.expr(
            "percentile(value, array(0.25D, 0.5D, 0.75D, 0.95D))"
        ).alias("value_quantiles")
    )


# --------------------------------------------------------------------------
# G16: grouping() markers over GROUPING SETS
# --------------------------------------------------------------------------
_G16_SQL = """
    SELECT CAST(grouping(lang) AS BIGINT) AS is_lang_total,
           CAST(grouping(source) AS BIGINT) AS is_source_total,
           lang, source, count(*) AS n_docs
    FROM documents
    GROUP BY GROUPING SETS ((lang, source), (lang), (source), ())
"""


@register("g16_grouping_markers", survey="G6,G3", extended=True, sql=_G16_SQL)
def g16_grouping_markers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``grouping()`` markers distinguish 'NULL because subtotal' from
    'NULL in the data' across four grouping sets — the disambiguation G6's
    rollup/cube consumers need before pivoting subtotal rows. One expand +
    one aggregate, same plan family as g6."""
    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("documents")
    return spark.sql(_G16_SQL)
