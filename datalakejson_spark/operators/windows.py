"""Window functions (SURVEY.md §2.5) — Tier B, justified by the "Complex
feature engineering / Direct DataFrame manipulation" consumption surface
(diagram_1.txt:105-106) and the ANSI SQL surface (diagram_1.txt:99).

Determinism contract: every ORDER BY inside a window ends with a unique key
(event_id / orderkey+linenumber) so ranking and frame results are identical
across engines regardless of physical row order.

Scale: each window is one shuffle on its partition key; consecutive windows
share the same partitioning where possible so Spark reuses the exchange.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from datalakejson_spark.operators.deterministic import dwin_sum, dwin_sum_sql
from datalakejson_spark.registry import register
from datalakejson_spark.sources.tables import load_table


# --------------------------------------------------------------------------
# W1: ranking functions
# --------------------------------------------------------------------------
@register(
    "w1_ranking",
    survey="W1",
    sql="""
    SELECT o_orderkey, o_custkey, o_totalprice,
           row_number() OVER w AS rn,
           rank()       OVER w AS rnk,
           dense_rank() OVER w AS drnk,
           ntile(4)     OVER w AS quartile
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def w1_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number / rank / dense_rank / ntile per priority class."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
    )


# --------------------------------------------------------------------------
# W2: lag / lead / first / last
# --------------------------------------------------------------------------
@register(
    "w2_lag_lead",
    survey="W2",
    # promoted to the driver tier in r12 (seat rotation: W2 had never had a
    # driver-green row; j10 covers J10, not lag/lead)
    sql="""
    SELECT event_id, user_id, value,
           lag(value)  OVER w AS prev_value,
           lead(value) OVER w AS next_value,
           first_value(value) OVER w AS first_value,
           value - coalesce(lag(value) OVER w, value) AS delta
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY date_trunc('microseconds', ts), event_id)
    """,
)
def w2_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-sequence features: previous/next/first value and delta."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lag_v = F.lag("value").over(w)
    return events.select(
        "event_id",
        "user_id",
        "value",
        lag_v.alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        F.first("value").over(w).alias("first_value"),
        (F.col("value") - F.coalesce(lag_v, F.col("value"))).alias("delta"),
    )


# --------------------------------------------------------------------------
# W3 + W4: running aggregate (row frame) + trailing time-range frame
# --------------------------------------------------------------------------
@register(
    "w3_running_sum",
    survey="W3,W4",
    sql=f"""
    SELECT o_custkey, o_orderkey, o_totalprice,
           {dwin_sum_sql('o_totalprice', '''(
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)''')}
               AS lifetime_spend,
           count(*) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS order_seq,
           count(*) OVER (
               PARTITION BY o_custkey
               ORDER BY CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT)
               RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS n_orders_30d
    FROM orders
    """,
)
def w3_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer lifetime-spend running total (W3, ROWS frame) plus a trailing
    30-day order count (W4, RANGE frame over epoch days) — classic training-
    label features. The cumulative sum goes through a DECIMAL accumulator:
    windowed double sums are association-order-dependent (DuckDB uses segment
    trees) and would drift in the last ULP otherwise. Both windows partition
    by o_custkey, so Spark reuses one exchange for the two sorts."""
    orders = load_table(spark, sf_dir, "orders")
    # r16 (guide §5): both windows parse inside ONE selectExpr (the
    # Window-builder + .over() chains cost ~40 ms of py4j round-trips per
    # build). Same frames, same expressions: the ROWS frame pair shares one
    # exchange+sort exactly as before, and the RANGE frame's epoch-day key
    # (CAST(CAST(o_orderdate AS TIMESTAMP) AS BIGINT) = epoch seconds,
    # double-divided then floored) is the identical expression tree.
    rows_over = (
        "(PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )
    range_over = (
        "(PARTITION BY o_custkey"
        " ORDER BY floor(CAST(CAST(o_orderdate AS TIMESTAMP) AS BIGINT) / 86400)"
        " RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)"
    )
    return orders.selectExpr(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        f"{dwin_sum_sql('o_totalprice', rows_over)} AS lifetime_spend",
        f"count(*) OVER {rows_over} AS order_seq",
        f"count(*) OVER {range_over} AS n_orders_30d",
    )


# --------------------------------------------------------------------------
# W4: time-based range frame (sliding 1h feature)
# --------------------------------------------------------------------------
@register(
    "w4_time_range_frame",
    survey="W4",
    # promoted to the driver tier in r15 (seat rotation, VERDICT r14 #7):
    # the dedicated time-RANGE-frame carrier; W4 previously rode only w3
    sql=f"""
    SELECT event_id, user_id,
           {dwin_sum_sql('value', '''(
               PARTITION BY user_id
               ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
               RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)''')} AS sum_1h,
           count(*) OVER (
               PARTITION BY user_id
               ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
               RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS n_1h
    FROM events
    """,
)
def w4_time_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-1-hour activity per user via a RANGE frame over epoch seconds
    (SURVEY §2.5 W4 mapping). Range frames aggregate ties together, so the
    epoch-seconds tie handling matches across engines without a unique key."""
    events = load_table(spark, sf_dir, "events")
    epoch_s = F.col("ts").cast("timestamp").cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy(epoch_s)
        .rangeBetween(-3600, Window.currentRow)
    )
    return events.select(
        "event_id",
        "user_id",
        dwin_sum("value", w).alias("sum_1h"),
        F.count("*").over(w).alias("n_1h"),
    )


# --------------------------------------------------------------------------
# W5: top-N per group
# --------------------------------------------------------------------------
@register(
    "w5_topn_per_group",
    survey="W5,W1",
    sql="""
    SELECT c_mktsegment, o_orderkey, o_totalprice, rn FROM (
        SELECT c_mktsegment, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY c_mktsegment
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders JOIN customer ON o_custkey = c_custkey
    )
    WHERE rn <= 3
    """,
)
def w5_topn_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per market segment: rank + filter. Spark pushes the rn<=3
    filter into the window sort (WindowGroupLimit) so each partition keeps
    only 3 rows — the scalable top-N-per-key pattern."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    joined = orders.join(
        F.broadcast(customer.select("c_custkey", "c_mktsegment")),
        orders.o_custkey == F.col("c_custkey"),
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        joined.select(
            "c_mktsegment",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


# --------------------------------------------------------------------------
# W1b: two-phase distributed ranking — the scale path for low-cardinality
# window partitions (r6; the sf10 bench decade exposed w1 at exponent 1.26)
# --------------------------------------------------------------------------
def two_phase_ranking(
    df: DataFrame,
    part_cols: list[str],
    order_exprs: list,
    num_chunks: int = 64,
) -> DataFrame:
    """Distributed ``row_number`` over low-cardinality window partitions.

    ``Window.partitionBy(k)`` puts EVERY row of one key on ONE task: with 5
    priority classes, sf10's 15M orders sort in exactly 5 single-threaded
    tasks (visible in the stage view; measured on-box: 9.7s at sf10 and the
    worst decade-2 scaling of the headline set). 32 local cores mask most
    of the damage — a 1000-executor cluster would leave 995 idle, and one
    key's rows must FIT one task. This operator restores parallelism and
    bounds per-task size with the classic two-phase
    scheme: ``repartitionByRange`` over (partition keys + order keys) gives
    globally range-ordered chunks; a local window per (chunk, key) ranks
    within each chunk in parallel; per-chunk counts (a tiny aggregate,
    chunks x keys rows) are prefix-summed and broadcast back as offsets.
    global row_number = local row_number + offset of earlier chunks.

    ``order_exprs`` must end with a unique tiebreaker (the repo-wide window
    determinism contract) — which also makes rank() and dense_rank() equal
    to row_number(), so this one primitive covers the W1 ranking family;
    ntile follows arithmetically (see w1b). Non-unique orderings would need
    a distinct-value rank table on top; not required anywhere in §2.

    Output: the input columns plus ``rn`` (int) and ``_part_total`` (per-key
    row count, for ntile arithmetic); ``num_chunks`` bounds the parallelism
    and the offset-table size (chunks never need to exceed cluster cores)."""
    rep = df.repartitionByRange(num_chunks, *part_cols, *order_exprs).withColumn(
        "_chunk", F.spark_partition_id()
    )
    # CORRECTNESS-CRITICAL materialization: three subtrees (counts, totals,
    # the ranked branch) each contain this range exchange, and Spark does
    # not reuse it here — three executions of a SAMPLED partitioner can
    # draw different chunk boundaries, making the offsets disagree with
    # the local ranks (caught by the sf1 cross-engine sweep as a
    # nondeterministic off-by-small rn shift; sf0.01 fit one chunk and
    # masked it). A lazy localCheckpoint pins one materialized chunking
    # that every branch reads. At cluster scale this is one extra write of
    # the data being ranked — the price of a consistent global order.
    rep = rep.localCheckpoint(eager=False)
    counts = rep.groupBy("_chunk", *part_cols).agg(F.count("*").alias("_cnt"))
    w_off = (
        Window.partitionBy(*part_cols)
        .orderBy("_chunk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "_chunk",
        *part_cols,
        F.coalesce(F.sum("_cnt").over(w_off), F.lit(0)).alias("_off"),
    )
    totals = counts.groupBy(*part_cols).agg(F.sum("_cnt").alias("_part_total"))
    w_local = Window.partitionBy("_chunk", *part_cols).orderBy(*order_exprs)
    return (
        rep.withColumn("_rn_local", F.row_number().over(w_local))
        .join(F.broadcast(offsets), ["_chunk", *part_cols])
        .join(F.broadcast(totals), list(part_cols))
        .withColumn("rn", (F.col("_rn_local") + F.col("_off")).cast("int"))
        .drop("_chunk", "_rn_local", "_off")
    )


def exact_ntile(rn, total, n: int):
    """SQL-exact NTILE(n) from a global row_number and the partition row
    count: the first ``total % n`` buckets take ``total div n + 1`` rows,
    the rest ``total div n`` (ISO SQL / Spark / DuckDB all agree)."""
    q = F.floor(total / n)
    r = total % n
    big = q + 1
    return (
        F.when(rn <= r * big, F.floor((rn - 1) / big) + 1)
        .otherwise(r + F.floor((rn - 1 - r * big) / F.greatest(q, F.lit(1))) + 1)
        .cast("int")
    )


@register(
    "w1b_distributed_ranking",
    survey="W1",
    extended=True,
    sql="""
    SELECT o_orderkey, o_custkey, o_totalprice,
           row_number() OVER w AS rn,
           rank()       OVER w AS rnk,
           dense_rank() OVER w AS drnk,
           ntile(4)     OVER w AS quartile
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def w1b_distributed_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """w1's ranking family via two_phase_ranking — IDENTICAL semantics and
    oracle to w1_ranking, but parallelism num_chunks x keys instead of one
    task per priority class. The ordering's unique tiebreaker (o_orderkey)
    makes rank/dense_rank coincide with row_number; ntile(4) is derived
    arithmetically from (rn, partition total). Measured on-box A/B
    (best-of-3, noop sink): sf10 6.2s vs w1's 9.7s (and 5 running tasks vs
    34-64 in the sort stages); at sf1 the two extra broadcast joins make it
    SLOWER (1.6s vs 1.0s) — this is the >=10M-rows-per-key path, not a
    universal replacement. The structural win is parallelism num_chunks x
    keys vs exactly-keys: on a real cluster w1 caps at 5 busy cores forever
    while w1b scales with the executor count (SCALE.md)."""
    orders = load_table(spark, sf_dir, "orders")
    ranked = two_phase_ranking(
        orders.select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"),
        ["o_orderpriority"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey")],
    )
    return ranked.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        "rn",
        F.col("rn").alias("rnk"),
        F.col("rn").alias("drnk"),
        exact_ntile(F.col("rn"), F.col("_part_total"), 4).alias("quartile"),
    )


@register(
    "w6_distribution_functions",
    survey="W1,W2",
    extended=True,  # W1/W2 covered in the driver tier by w1/o1/j10
    sql="""
    SELECT s_suppkey, s_acctbal,
           round(percent_rank() OVER w, 9) AS pct_rank,
           round(cume_dist() OVER w, 9) AS cume,
           nth_value(s_suppkey, 2) OVER (PARTITION BY CAST(s_nationkey AS INTEGER) % 5
                                         ORDER BY s_acctbal DESC, s_suppkey
                                         ROWS BETWEEN UNBOUNDED PRECEDING
                                                  AND UNBOUNDED FOLLOWING)
               AS second_richest
    FROM supplier
    WINDOW w AS (PARTITION BY CAST(s_nationkey AS INTEGER) % 5
                 ORDER BY s_acctbal DESC, s_suppkey)
    """,
)
def w6_distribution_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist / nth_value. Ratios rounded to 9 dp: they're
    exact binary fractions only when group sizes are powers of two."""
    supplier = load_table(spark, sf_dir, "supplier")
    grp = (F.col("s_nationkey").cast("int") % 5).alias("g")
    w = Window.partitionBy(grp).orderBy(F.col("s_acctbal").desc(), F.col("s_suppkey"))
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return supplier.select(
        "s_suppkey",
        "s_acctbal",
        F.round(F.percent_rank().over(w), 9).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 9).alias("cume"),
        F.nth_value("s_suppkey", 2).over(w_full).alias("second_richest"),
    )


# --------------------------------------------------------------------------
# W7: time-series resample + forward fill (gap fill)
# --------------------------------------------------------------------------
_W7_SQL = """
    WITH b AS (
        SELECT user_id, date_trunc('hour', ts) AS h, max(value) AS v
        FROM events WHERE user_id <= 20 GROUP BY 1, 2
    ),
    bounds AS (SELECT user_id, min(h) AS mn, max(h) AS mx FROM b GROUP BY 1),
    grid AS (
        SELECT user_id, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h
        FROM bounds
    ),
    j AS (SELECT g.user_id, g.h, b.v FROM grid g LEFT JOIN b USING (user_id, h))
    SELECT user_id, h, v,
           last_value(v IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY h
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS v_ffill
    FROM j
"""


@register("w7_resample_gapfill", survey="W2,F1,F5", extended=True, sql=_W7_SQL)
def w7_resample_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regular-grid resampling with forward fill — the time-series gap-fill
    shape (sensor/feature pipelines: downsample to hourly, carry the last
    observation through gaps). Spark-first formulation: per-user hourly
    aggregate, grid densification via ``sequence`` + ``explode`` (map-side —
    the grid never shuffles unjoined), one left join back, then
    ``last(v, ignoreNulls)`` over an unbounded-preceding window. Shuffles:
    one for the aggregate, one for the join+window on the same key. ``max``
    (not sum) keeps doubles bit-stable cross-engine."""
    events = load_table(spark, sf_dir, "events").filter(F.col("user_id") <= 20)
    b = events.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.max("value").alias("v"))
    bounds = b.groupBy("user_id").agg(F.min("h").alias("mn"), F.max("h").alias("mx"))
    grid = bounds.select(
        "user_id",
        F.explode(
            F.sequence("mn", "mx", F.expr("INTERVAL 1 HOUR"))
        ).alias("h"),
    )
    j = grid.join(b, ["user_id", "h"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "user_id",
        "h",
        "v",
        F.last("v", ignorenulls=True).over(w).alias("v_ffill"),
    )


# --------------------------------------------------------------------------
# W7b: linear interpolation across gaps (the ffill upgrade)
# --------------------------------------------------------------------------
_W7B_SQL = """
    WITH b AS (
        SELECT user_id, date_trunc('hour', ts) AS h, max(value) AS v
        FROM events WHERE user_id <= 20 GROUP BY 1, 2
    ),
    bounds AS (SELECT user_id, min(h) AS mn, max(h) AS mx FROM b GROUP BY 1),
    grid AS (
        SELECT user_id, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h
        FROM bounds
    ),
    j AS (SELECT g.user_id, g.h, b.v FROM grid g LEFT JOIN b USING (user_id, h)),
    ctx AS (
        SELECT user_id, h, v,
               last_value(v IGNORE NULLS) OVER wp AS pv,
               max(CASE WHEN v IS NOT NULL THEN h END) OVER wp AS ph,
               first_value(v IGNORE NULLS) OVER wf AS nv,
               min(CASE WHEN v IS NOT NULL THEN h END) OVER wf AS nh
        FROM j
        WINDOW wp AS (PARTITION BY user_id ORDER BY h
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wf AS (PARTITION BY user_id ORDER BY h
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, h,
           round(CASE
               WHEN v IS NOT NULL THEN v
               WHEN pv IS NULL THEN nv
               WHEN nv IS NULL THEN pv
               ELSE pv + (nv - pv)
                    * (epoch(h) - epoch(ph)) / (epoch(nh) - epoch(ph))
           END, 9) AS v_interp
    FROM ctx
"""


@register("w7b_linear_interpolation", survey="W2,W4,F1", extended=True, sql=_W7B_SQL)
def w7b_linear_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation over the resampled grid: each gap point blends
    the straddling observations by time distance (edges fall back to the one
    available side). Two windows over ONE shuffle on user_id — forward and
    backward context come from mirrored frames of the same partitioning, so
    interpolation costs the same shuffle count as forward fill. Rounded to
    9 decimals for cross-engine float parity (w6 precedent)."""
    events = load_table(spark, sf_dir, "events").filter(F.col("user_id") <= 20)
    b = events.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.max("value").alias("v"))
    bounds = b.groupBy("user_id").agg(F.min("h").alias("mn"), F.max("h").alias("mx"))
    grid = bounds.select(
        "user_id",
        F.explode(F.sequence("mn", "mx", F.expr("INTERVAL 1 HOUR"))).alias("h"),
    )
    j = grid.join(b, ["user_id", "h"], "left")
    wp = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_h = F.when(F.col("v").isNotNull(), F.col("h"))
    pv, ph = F.last("v", ignorenulls=True).over(wp), F.max(obs_h).over(wp)
    nv, nh = F.first("v", ignorenulls=True).over(wf), F.min(obs_h).over(wf)
    ctx = j.select("user_id", "h", "v",
                   pv.alias("pv"), ph.alias("ph"), nv.alias("nv"), nh.alias("nh"))
    ep = F.unix_timestamp
    interp = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("pv").isNull(), F.col("nv"))
        .when(F.col("nv").isNull(), F.col("pv"))
        .otherwise(
            F.col("pv")
            + (F.col("nv") - F.col("pv"))
            * (ep("h") - ep("ph"))
            / (ep("nh") - ep("ph"))
        )
    )
    return ctx.select("user_id", "h", F.round(interp, 9).alias("v_interp"))


# --------------------------------------------------------------------------
# W8: batch sessionization (gap-based session assignment)
# --------------------------------------------------------------------------
_W8_SQL = """
    WITH o AS (
        SELECT user_id, event_id, date_trunc('microseconds', ts) AS ts
        FROM events
    ),
    flagged AS (
        SELECT user_id, event_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch(ts) - epoch(lag(ts) OVER w) > 1800.0
                    THEN 1 ELSE 0 END AS new_s
        FROM o
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT user_id, ts,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) AS session_n
        FROM flagged
    )
    SELECT user_id, CAST(session_n AS BIGINT) AS session_n,
           count(*) AS n_events, min(ts) AS start_ts, max(ts) AS end_ts
    FROM sess
    GROUP BY 1, 2
"""


@register("w8_sessionization", survey="W2,W3,G3,T6", extended=True, sql=_W8_SQL)
def w8_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization — the gap rule (>30 min silence starts a new
    session) as lag + running sum over ONE shuffle on user_id, then the
    per-session rollup reuses the same partitioning. This is the batch twin
    of the streaming session window (T6): identical session boundaries,
    derivable over the whole history instead of a stream. Gap compare uses
    the microsecond-precision epoch double in both engines (Spark
    ``unix_timestamp`` would truncate sub-second digits and disagree with
    DuckDB's ``epoch()`` on boundary gaps)."""
    from datalakejson_spark.sources.tables import load_table as _lt

    events = _lt(spark, sf_dir, "events").select(
        "user_id", "event_id", F.date_trunc("microsecond", "ts").alias("ts")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("double") - F.lag(F.col("ts").cast("double")).over(w)
    new_s = F.when(gap.isNull() | (gap > 1800.0), 1).otherwise(0)
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sess = events.withColumn("new_s", new_s).withColumn(
        "session_n", F.sum("new_s").over(run)
    )
    return sess.groupBy("user_id", "session_n").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("start_ts"),
        F.max("ts").alias("end_ts"),
    )
