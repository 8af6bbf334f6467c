"""Join operators (SURVEY.md §2.3).

The ingest plane's two semantic joins (anti-join idempotent registration,
semi-join path classification; sudo_code.txt:90,205) plus the full join family
implied by the Athena/Presto SQL consumption surface (diagram_1.txt:99) and
Spark feature engineering (diagram_1.txt:105).

Scale posture: dimension tables (region/nation/supplier/part at TPC-H ratios)
are broadcast — no shuffle of the fact side; fact-fact joins shuffle on the
join key and rely on AQE for skew splitting. Non-equi joins are kept bounded
(banded) so they broadcast-nested-loop over a small side only.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from datalakejson_spark.operators.deterministic import SCALE, ds, ds_expr, dsum_sql
from datalakejson_spark.registry import register
from datalakejson_spark.sources.tables import load_table
from datalakejson_spark.session import local_df


# --------------------------------------------------------------------------
# J1: left anti join — idempotent registration
# --------------------------------------------------------------------------
@register(
    "j1_anti_join_registration",
    survey="J1,S11",
    sql="""
    SELECT c_custkey, c_name
    FROM customer
    ANTI JOIN orders ON c_custkey = o_custkey
    """,
)
def j1_anti_join_registration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ON CONFLICT (s3_key) DO NOTHING`` as a relational op: keep only keys
    not already present (sudo_code.txt:90, psuedo_code.txt:116). Here:
    customers with no orders. The already-registered side is aggregated to
    keys only, so Spark can broadcast it."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


# --------------------------------------------------------------------------
# J2 + J6: left semi join — set membership
# --------------------------------------------------------------------------
@register(
    "j2_semi_join_membership",
    survey="J2,J6",
    sql="""
    SELECT c_custkey, c_mktsegment
    FROM customer
    SEMI JOIN orders ON c_custkey = o_custkey
    """,
)
def j2_semi_join_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path-set membership test ("If S3_KEY_FULL_PATH is in GOOD_RECORDS_S3_KEYS",
    sudo_code.txt:205,216) — a semi join against a broadcastable key set."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_mktsegment")


# --------------------------------------------------------------------------
# J3 + J4: star-schema join with broadcast dimensions
# --------------------------------------------------------------------------
@register(
    "j3_star_join_revenue",
    survey="J3,J4,G3",
    sql=f"""
    SELECT r_name AS region, year(o_orderdate) AS order_year,
           {dsum_sql('l_extendedprice * (1 - l_discount)')} AS revenue,
           count(*) AS n_lines
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY 1, 2
    """,
)
def j3_star_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TPC-H-style star join behind "data selection + feature engineering"
    (diagram_1.txt:99,105). The customer→nation→region dimension chain is
    broadcast (J4).

    r15 (guide §2.3 "aggregate before you shuffle"): lineitem is pre-reduced
    to the ORDER grain before meeting orders — per-orderkey scaled-integer
    revenue plus a line count. The scaled-int sum is associative, so the
    two-level summation is bit-identical to the single-level form while the
    join input shrinks by the lines-per-order factor (~4×) and narrows to
    (key, bigint, bigint); at 100 TB that is ~4× fewer shuffled rows on the
    fact side of the orders join (measured 1.05× sf0.1 / 1.15× sf1 locally,
    where AQE broadcasts orders anyway)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    # r16 (guide §5): join conditions and aggregates parse as single SQL
    # strings (each dataframe.col / Column-operator access is a py4j
    # round-trip in the per-rep build) — operators and values identical.
    dim = F.broadcast(
        customer.join(nation, F.expr("c_nationkey = n_nationkey"))
        .join(region, F.expr("n_regionkey = r_regionkey"))
        .select("c_custkey", "r_name")
    )
    li_agg = li.groupBy("l_orderkey").agg(
        F.expr(
            f"struct(sum(CAST(round((l_extendedprice * (1 - l_discount))"
            f" * {SCALE}.0) AS BIGINT)) AS _rev_scaled,"
            " count(*) AS _n_lines)"
        ).alias("_s")
    ).select("l_orderkey", "_s.*")
    return (
        li_agg.join(orders, F.expr("l_orderkey = o_orderkey"))
        .join(dim, F.expr("o_custkey = c_custkey"))
        .groupBy(
            F.expr("r_name").alias("region"),
            F.expr("year(o_orderdate)").alias("order_year"),
        )
        .agg(
            F.expr(
                f"struct(CAST(sum(_rev_scaled) AS DOUBLE) / {SCALE}.0"
                " AS revenue, sum(_n_lines) AS n_lines)"
            ).alias("_s")
        )
        .select("region", "order_year", "_s.*")
    )


# --------------------------------------------------------------------------
# J5: outer joins
# --------------------------------------------------------------------------
@register(
    "j5_left_outer_join",
    survey="J5,G3,F7",
    sql=f"""
    SELECT c_custkey,
           count(o_orderkey) AS n_orders,
           coalesce({dsum_sql('o_totalprice')}, 0.0) AS total_spent
    FROM customer
    LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY 1
    """,
)
def j5_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER (SQL surface, diagram_1.txt:99): order count per customer
    including zero-order customers; COALESCE fills the null aggregate.

    r15 (guide §2.3): orders is aggregated to the customer grain BEFORE the
    join, so the outer join carries one row per customer instead of one per
    order and the post-join re-aggregation disappears (one exchange of
    aggregates instead of a full orders shuffle + a joined-table exchange;
    the left side never moves). count/scaled-sum over a key-partitioned
    pre-aggregate are exactly the grouped aggregates of the original —
    measured 1.28× sf0.1 / 1.1× sf1; the planner picks the join strategy
    from the (small) aggregate's runtime size."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    o_agg = orders.groupBy("o_custkey").agg(
        F.count("o_orderkey").alias("_n_orders"),
        ds_expr("o_totalprice").alias("_spent"),
    )
    return customer.join(
        o_agg, customer.c_custkey == o_agg.o_custkey, "left"
    ).select(
        "c_custkey",
        F.coalesce("_n_orders", F.lit(0)).alias("n_orders"),
        F.coalesce("_spent", F.lit(0.0)).alias("total_spent"),
    )


# --------------------------------------------------------------------------
# J7: theta / non-equi join (banded)
# --------------------------------------------------------------------------
@register(
    "j7_theta_band_join",
    survey="J7",
    sql="""
    SELECT b.band_name AS band, count(*) AS n_parts, min(p_retailprice) AS min_price,
           max(p_retailprice) AS max_price
    FROM part p
    JOIN (VALUES ('budget', 0.0, 900.0),
                 ('mid', 900.0, 1100.0),
                 ('premium', 1100.0, 100000.0)) AS b(band_name, lo, hi)
      ON p.p_retailprice >= b.lo AND p.p_retailprice < b.hi
    GROUP BY 1
    """,
)
def j7_theta_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inequality-predicate join (price banding) from the SQL surface
    (diagram_1.txt:99). The band side is tiny → broadcast nested loop; at
    scale, banded joins should be rewritten to equi-joins on a precomputed
    band key (SURVEY.md §2.3 J9 note) — this query keeps the theta form to
    exercise the operator."""
    part = load_table(spark, sf_dir, "part")
    bands = local_df(
        spark,
        [("budget", 0.0, 900.0), ("mid", 900.0, 1100.0), ("premium", 1100.0, 100000.0)],
        "band_name string, lo double, hi double",
    )
    return (
        part.join(
            F.broadcast(bands),
            (part.p_retailprice >= bands.lo) & (part.p_retailprice < bands.hi),
        )
        .groupBy(F.col("band_name").alias("band"))
        .agg(
            F.count("*").alias("n_parts"),
            F.min("p_retailprice").alias("min_price"),
            F.max("p_retailprice").alias("max_price"),
        )
    )


# --------------------------------------------------------------------------
# J8: cross join (bounded)
# --------------------------------------------------------------------------
@register(
    "j8_cross_join",
    survey="J8",
    extended=True,  # J8 carried in the driver tier by l2c + l3 (r5: slot
    # given to f9_variant_extraction so VARIANT gets a driver-green signal)
    sql="""
    SELECT r_name AS region, seg.c_mktsegment AS segment
    FROM region
    CROSS JOIN (SELECT DISTINCT c_mktsegment FROM customer) seg
    """,
)
def j8_cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded Cartesian product (dimension grid scaffolding for dense
    reporting). Cross joins of two large inputs are forbidden at scale; both
    sides here are tiny and broadcastable."""
    region = load_table(spark, sf_dir, "region")
    customer = load_table(spark, sf_dir, "customer")
    segs = customer.select("c_mktsegment").distinct()
    return region.crossJoin(segs).select(
        F.col("r_name").alias("region"), F.col("c_mktsegment").alias("segment")
    )


# --------------------------------------------------------------------------
# J9: range join — event-to-interval assignment
# --------------------------------------------------------------------------
@register(
    "j9_range_join_intervals",
    survey="J9",
    sql=f"""
    SELECT w.win_id AS win_id, count(*) AS n_events, {dsum_sql('value')} AS sum_value
    FROM events e
    JOIN (VALUES (0, TIMESTAMP '2024-01-01 00:00:00', TIMESTAMP '2024-01-08 00:00:00'),
                 (1, TIMESTAMP '2024-01-08 00:00:00', TIMESTAMP '2024-01-15 00:00:00'),
                 (2, TIMESTAMP '2024-01-15 00:00:00', TIMESTAMP '2024-01-22 00:00:00'),
                 (3, TIMESTAMP '2024-01-22 00:00:00', TIMESTAMP '2024-03-01 00:00:00'))
         AS w(win_id, lo, hi)
      ON e.ts >= w.lo AND e.ts < w.hi
    GROUP BY 1
    """,
)
def j9_range_join_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign timestamped events to arbitrary intervals (feature-engineering
    shape, diagram_1.txt:105). Interval side is broadcast. At 100 TB the scale
    path pre-buckets both sides by a coarse time grain so the range join
    becomes an equi-join on the bucket plus a residual predicate."""
    events = load_table(spark, sf_dir, "events")
    wins = local_df(
        spark,
        [
            (0, "2024-01-01 00:00:00", "2024-01-08 00:00:00"),
            (1, "2024-01-08 00:00:00", "2024-01-15 00:00:00"),
            (2, "2024-01-15 00:00:00", "2024-01-22 00:00:00"),
            (3, "2024-01-22 00:00:00", "2024-03-01 00:00:00"),
        ],
        "win_id int, lo_s string, hi_s string",
    ).select(
        "win_id",
        F.col("lo_s").cast("timestamp_ntz").alias("lo"),
        F.col("hi_s").cast("timestamp_ntz").alias("hi"),
    )
    return (
        events.join(F.broadcast(wins), (events.ts >= wins.lo) & (events.ts < wins.hi))
        .groupBy("win_id")
        .agg(F.count("*").alias("n_events"), ds("value").alias("sum_value"))
    )


def bucketed_range_join(
    left: DataFrame,
    right: DataFrame,
    ts_col: str,
    lo_col: str,
    hi_col: str,
    grain_seconds: int,
) -> DataFrame:
    """The 100 TB form of the range join (the scale rewrite j9's docstring
    names): coarsen time into ``grain_seconds`` buckets, explode each
    interval into the buckets it overlaps, and equi-join on the bucket with
    the exact range predicate as a residual filter.

    Why this scales where the theta-join doesn't: a pure range join is a
    BroadcastNestedLoopJoin unless one side broadcasts — with two large
    sides there is no equi-key for a shuffle. Bucketing manufactures that
    key: both sides shuffle (or neither, if the event side is the only big
    one and the bucketed interval table broadcasts), candidate pairs are
    bounded by bucket co-residency, and the residual predicate restores
    exactness. Cost knob: intervals spanning B buckets appear B times —
    pick the grain near the median interval length so B stays small.

    ``hi_col`` is exclusive, matching the j9 semantics."""
    g = int(grain_seconds)
    # Microsecond-precision epochs: unix_timestamp() truncates sub-second
    # digits, so "hi minus one second" under-covers an interval whose
    # exclusive endpoint has a fraction (hi=08:00:00.5 must still reach the
    # 08:00 bucket). TIMESTAMP_NTZ casts through TIMESTAMP (same conversion
    # for all three columns, so bucket co-residency is preserved under any
    # session timezone) and then to a microsecond epoch double — integral
    # microseconds are exact in a double out to ~year 2255.
    def _epoch_us(c):
        return (F.col(c).cast("timestamp").cast("double") * 1_000_000).cast(
            "bigint"
        )

    g_us = g * 1_000_000
    lo_us = _epoch_us(lo_col)
    hi_us = _epoch_us(hi_col)
    right_b = right.filter(hi_us > lo_us).withColumn(
        "_bkt",
        F.explode(
            F.sequence(
                F.floor(lo_us / g_us),
                # hi is exclusive: back off one MICROSECOND so an interval
                # ending exactly on a bucket boundary does not reach into
                # that bucket, while a fractional endpoint still does
                F.floor((hi_us - 1) / g_us),
            )
        ),
    )
    left_b = left.withColumn("_bkt", F.floor(_epoch_us(ts_col) / g_us))
    return (
        left_b.join(right_b, "_bkt")
        .filter((F.col(ts_col) >= F.col(lo_col)) & (F.col(ts_col) < F.col(hi_col)))
        .drop("_bkt")
    )


@register(
    "j9b_range_join_bucketed",
    survey="J9",
    extended=True,  # J9 has a driver row (j9); this is the scale formulation
    sql=f"""
    SELECT w.win_id AS win_id, count(*) AS n_events, {dsum_sql('value')} AS sum_value
    FROM events e
    JOIN (VALUES (0, TIMESTAMP '2024-01-01 00:00:00', TIMESTAMP '2024-01-08 00:00:00'),
                 (1, TIMESTAMP '2024-01-08 00:00:00', TIMESTAMP '2024-01-15 00:00:00'),
                 (2, TIMESTAMP '2024-01-15 00:00:00', TIMESTAMP '2024-01-22 00:00:00'),
                 (3, TIMESTAMP '2024-01-22 00:00:00', TIMESTAMP '2024-03-01 00:00:00'))
         AS w(win_id, lo, hi)
      ON e.ts >= w.lo AND e.ts < w.hi
    GROUP BY 1
    """,
)
def j9b_range_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """j9's intervals through the bucketed equi-join path (weekly grain) —
    same oracle SQL as j9, so the rewrite's exactness is verified
    cross-engine, not asserted. The plan contains an equi-join on the
    manufactured bucket key instead of a nested-loop range probe
    (asserted in tests/test_plans.py)."""
    events = load_table(spark, sf_dir, "events")
    wins = local_df(
        spark,
        [
            (0, "2024-01-01 00:00:00", "2024-01-08 00:00:00"),
            (1, "2024-01-08 00:00:00", "2024-01-15 00:00:00"),
            (2, "2024-01-15 00:00:00", "2024-01-22 00:00:00"),
            (3, "2024-01-22 00:00:00", "2024-03-01 00:00:00"),
        ],
        "win_id int, lo_s string, hi_s string",
    ).select(
        "win_id",
        F.col("lo_s").cast("timestamp_ntz").alias("lo"),
        F.col("hi_s").cast("timestamp_ntz").alias("hi"),
    )
    joined = bucketed_range_join(events, wins, "ts", "lo", "hi", 7 * 86400)
    return joined.groupBy("win_id").agg(
        F.count("*").alias("n_events"), ds("value").alias("sum_value")
    )


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    key: str,
    n_salt: int,
    salt_from: list[str],
) -> DataFrame:
    """Manual hot-key mitigation for shuffle equi-joins: append a
    deterministic salt in ``[0, n_salt)`` to the join key on the skewed
    side (hashed from ``salt_from`` columns — NOT rand(), so replays and
    retries stay bit-identical), and replicate the other side ``n_salt``
    ways. A key holding 30 % of all rows then lands on ``n_salt`` reducers
    instead of one.

    When to reach for this instead of AQE skew-join splitting: AQE splits
    skewed SortMergeJoin partitions, but cannot split the *aggregation*
    that follows a join on the same hot key, and does nothing for
    deliberately disabled-AQE or streaming foreachBatch plans. Salting
    re-keys the whole pipeline stage. Cost: the other side is exploded
    ``n_salt``× — use with a small-but-not-broadcastable or dimension-like
    right side.
    """
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in salt_from]), F.lit(n_salt))
    left = skewed.withColumn("_salt", salt)
    right = other.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    ).withColumn("_salt", F.col("_salt").cast("bigint"))
    return left.join(right, [key, "_salt"]).drop("_salt")


@register(
    "j11_salted_hot_key_join",
    survey="J3,G3",
    # driver tier r12-r14; demoted r15 (seat rotation, VERDICT r14 #7:
    # J3+G3 both redundantly covered by j3_star_join_revenue; still
    # oracle-exact locally every sweep)
    extended=True,
    sql=f"""
    SELECT e.event_type,
           count(*) AS n_events,
           {dsum_sql('e.value * w.weight')} AS weighted_value
    FROM events e
    JOIN (SELECT event_type, CAST(length(event_type) AS DOUBLE) AS weight
          FROM (SELECT DISTINCT event_type FROM events)) w
      ON e.event_type = w.event_type
    GROUP BY 1
    """,
)
def j11_salted_hot_key_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The salted join verified against its unsalted semantics: events join
    a per-type weight table on ``event_type`` — a 5-distinct-value key, the
    worst-case shuffle skew (every row of a type on one reducer). The salt
    spreads each type over 8 reducers; the oracle runs the PLAIN join, so
    the rewrite's result-equivalence is cross-engine-checked, not assumed."""
    events = load_table(spark, sf_dir, "events")
    weights = (
        events.select("event_type")
        .distinct()
        .withColumn("weight", F.length("event_type").cast("double"))
    )
    joined = salted_join(
        events, weights.hint("merge"), "event_type", 8, salt_from=["event_id"]
    )
    return joined.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        ds(F.col("value") * F.col("weight")).alias("weighted_value"),
    )


# --------------------------------------------------------------------------
# J10: as-of join — latest state at event time
# --------------------------------------------------------------------------
@register(
    "j10_asof_last_click",
    survey="J10,W2",
    sql="""
    SELECT event_id, user_id, ts, last_click_ts FROM (
        SELECT event_id, user_id, event_type,
               date_trunc('microseconds', ts) AS ts,
               max(CASE WHEN event_type = 'click'
                        THEN date_trunc('microseconds', ts) END)
                 OVER (PARTITION BY user_id
                       ORDER BY date_trunc('microseconds', ts), event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS last_click_ts
        FROM events
    )
    WHERE event_type = 'purchase'
    """,
)
def j10_asof_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each purchase, the latest strictly-earlier click by the
    same user. Implemented as the union-scan + running-max window (SURVEY.md
    §2.3 J10 mapping) — one shuffle on user_id, no per-row probe; this is the
    scalable as-of pattern (vs. a per-row range lookup)."""
    events = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    click_ts = F.when(F.col("event_type") == "click", F.col("ts"))
    return (
        events.withColumn("last_click_ts", F.max(click_ts).over(w))
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts", "last_click_ts")
    )


@register(
    "j5b_full_outer_join",
    survey="J5,F7",
    extended=True,  # J5 covered in the driver tier by j5
    sql="""
    SELECT coalesce(cn.nationkey, sn.nationkey) AS nationkey,
           coalesce(cn.n_customers, 0) AS n_customers,
           coalesce(sn.n_suppliers, 0) AS n_suppliers
    FROM (SELECT CAST(c_nationkey AS INTEGER) AS nationkey, count(*) AS n_customers
          FROM customer GROUP BY 1) cn
    FULL OUTER JOIN
         (SELECT CAST(s_nationkey AS INTEGER) AS nationkey, count(*) AS n_suppliers
          FROM supplier GROUP BY 1) sn
      ON cn.nationkey = sn.nationkey
    """,
)
def j5b_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER (SQL surface, diagram_1.txt:99): customer vs supplier
    presence per nation, either side may be missing."""
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    cn = customer.groupBy(
        F.col("c_nationkey").cast("int").alias("nationkey")
    ).agg(F.count("*").alias("n_customers"))
    sn = supplier.groupBy(
        F.col("s_nationkey").cast("int").alias("nationkey")
    ).agg(F.count("*").alias("n_suppliers"))
    return (
        cn.join(sn, "nationkey", "full_outer")
        .select(
            "nationkey",
            F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
            F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
        )
    )
