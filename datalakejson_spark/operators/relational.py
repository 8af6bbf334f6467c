"""Projections, filters, sorts/limits, set operations (SURVEY.md §2.2, §2.6, §2.7).

Reference parity notes are per-query docstrings; citations are to
/root/reference/. All computed columns are aliased identically in the Spark
plan and the DuckDB oracle (driver contract).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from datalakejson_spark.operators.deterministic import ds, dsum_sql
from datalakejson_spark.registry import register
from datalakejson_spark.sources.tables import load_table


# --------------------------------------------------------------------------
# P1 + P4 + P5 + P9: distinct projection with rename, casts, computed column
# --------------------------------------------------------------------------
@register(
    "p1_projection_rename_cast",
    survey="P1,P4,P5,P9,G2",
    sql="""
    SELECT DISTINCT upper(p_brand) AS brand,
           CAST(p_size AS BIGINT) AS size_big,
           CAST(floor(p_retailprice / 100) AS BIGINT) AS price_hundreds,
           CAST(p_size AS VARCHAR) AS size_str
    FROM part
    """,
)
def p1_projection_rename_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Select-with-alias + cast chain (reference transform step,
    sudo_code.txt:243-251, psuedo_code.txt:273-276: ``col("id").cast(StringType())
    .alias(...)``) + computed column (P4) + DISTINCT over the projection (P9 —
    the reference collects distinct source-path sets, sudo_code.txt:165).
    Column-pruned scan: only 3 of 6 part columns read; the distinct is a
    two-phase hash aggregate on the projected (narrow) columns only."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        F.upper("p_brand").alias("brand"),
        F.col("p_size").cast("bigint").alias("size_big"),
        F.floor(F.col("p_retailprice") / 100).alias("price_hundreds"),
        F.col("p_size").cast("string").alias("size_str"),
    ).distinct()


# --------------------------------------------------------------------------
# P2 + P3: null-predicate split (corrupt-record segregation shape)
# --------------------------------------------------------------------------
@register(
    "p2_null_predicate_filter",
    survey="P2,P3,F7",
    sql="""
    SELECT event_id, user_id, value
    FROM (SELECT event_id, user_id, value,
                 nullif(event_type, 'error') AS ok_type
          FROM events)
    WHERE ok_type IS NULL
    """,
)
def p2_null_predicate_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corrupt/good split filters on ``_corrupt_record IS (NOT) NULL``
    (sudo_code.txt:160-161, psuedo_code.txt:192-193). Same operator shape here:
    derive a nullable column, keep the IS NULL branch, drop the marker (P3)."""
    events = load_table(spark, sf_dir, "events")
    marked = events.withColumn("ok_type", F.nullif(F.col("event_type"), F.lit("error")))
    return (
        marked.filter(F.col("ok_type").isNull())
        .drop("ok_type", "event_type", "ts", "props")
        .select("event_id", "user_id", "value")
    )


# --------------------------------------------------------------------------
# P4 + F1: computed partition-key columns
# --------------------------------------------------------------------------
@register(
    "p4_partition_key_derivation",
    survey="P4,F1",
    extended=True,  # P4 covered in the driver tier by p1 (computed column)
    sql=f"""
    SELECT year(l_shipdate) AS year,
           month(l_shipdate) AS month,
           dayofmonth(l_shipdate) AS day,
           count(*) AS n_rows,
           {dsum_sql('l_extendedprice')} AS gross
    FROM lineitem
    GROUP BY 1, 2, 3
    """,
)
def p4_partition_key_derivation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition keys derived from event time: ``year()/month()/dayofmonth()``
    (sudo_code.txt:253-255, psuedo_code.txt:294-296) — the exact columns the
    curated lake partitions by (sudo_code.txt:180)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.withColumn("year", F.year("l_shipdate"))
        .withColumn("month", F.month("l_shipdate"))
        .withColumn("day", F.dayofmonth("l_shipdate"))
        .groupBy("year", "month", "day")
        .agg(F.count("*").alias("n_rows"), ds("l_extendedprice").alias("gross"))
    )


# --------------------------------------------------------------------------
# P9: distinct projection
# --------------------------------------------------------------------------
@register(
    "p9_distinct_projection",
    survey="P9,G2",
    extended=True,  # P9/G2 covered in the driver tier by p1 + l1
    sql="SELECT DISTINCT lang, source FROM documents",
)
def p9_distinct_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct values of a column subset — the reference collects distinct
    ``source_s3_path`` sets to drive ledger updates (sudo_code.txt:165,184)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("lang", "source").distinct()


# --------------------------------------------------------------------------
# P10: IN-list predicate (ledger claim shape)
# --------------------------------------------------------------------------
@register(
    "p10_inlist_filter",
    survey="P10",
    extended=True,  # P10 covered in the driver tier by o1 (IN-list claim)
    sql="""
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders
    WHERE o_orderstatus IN ('F', 'O') AND o_orderpriority = '1-URGENT'
    """,
)
def p10_inlist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``status IN ('PENDING','FAILED')`` ledger selection (sudo_code.txt:132)
    plus equality predicate (sudo_code.txt:228). Both push into the scan."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.filter(
        F.col("o_orderstatus").isin("F", "O") & (F.col("o_orderpriority") == "1-URGENT")
    ).select("o_orderkey", "o_orderstatus", "o_totalprice")


# --------------------------------------------------------------------------
# P6 + P7 + P8: nested flatten, complex passthrough, star expansion
# --------------------------------------------------------------------------
@register(
    "p6_nested_flatten",
    survey="P6,P7,P8,F3",
    sql="""
    -- DuckDB: unnest(struct) expands struct fields to columns (= Spark
    -- `meta.*`). The passthrough struct is serialized with to_json only in
    -- the FINAL projection (the driver canonicalizer can't hash dict cells);
    -- both engines emit identical compact JSON for int/varchar fields.
    SELECT event_id, etype, k, usr.uid AS uid, to_json(usr) AS usr_json
    FROM (
        SELECT event_id, unnest(meta)
        FROM (
            SELECT event_id,
                   struct_pack(
                       etype := event_type,
                       k := CAST(json_extract_string(props, '$.k') AS BIGINT),
                       usr := struct_pack(uid := user_id, ev := event_type)
                   ) AS meta
            FROM events
            WHERE event_id <= 300
        )
    )
    """,
)
def p6_nested_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's transform IS selective flattening of nested JSON
    (psuedo_code.txt:279-287: ``col("metadata.app_version")`` + star expansion
    + complex passthrough). The flat events fixture carries its nesting in the
    ``props`` JSON string, so the query (1) parses it with from_json (F3),
    (2) builds the nested struct, (3) star-expands it with ``meta.*`` (P8),
    (4) flattens a leaf with ``usr.uid`` (P6), and (5) passes the complex
    ``usr`` struct through intermediate projections untouched (P7),
    serializing it only in the final projection for the driver's hasher."""
    events = load_table(spark, sf_dir, "events")
    parsed = F.from_json("props", "k BIGINT")
    nested = events.filter(F.col("event_id") <= 300).select(
        "event_id",
        F.struct(
            F.col("event_type").alias("etype"),
            parsed.getField("k").alias("k"),
            F.struct(
                F.col("user_id").alias("uid"), F.col("event_type").alias("ev")
            ).alias("usr"),
        ).alias("meta"),
    )
    expanded = nested.select("event_id", "meta.*")  # P8: star expansion
    return expanded.select(
        "event_id",
        "etype",
        "k",
        F.col("usr.uid").alias("uid"),  # P6: selective leaf flatten
        F.to_json("usr").alias("usr_json"),  # P7: passthrough, serialized last
    )


# --------------------------------------------------------------------------
# P11: partition-predicate filter (DATE/MODE consumption subsets)
# --------------------------------------------------------------------------
@register(
    "p11_partition_predicate",
    survey="P11",
    sql="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
    FROM orders
    WHERE year(o_orderdate) = 1995 AND month(o_orderdate) <= 6
    """,
)
def p11_partition_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consumers subset by DATE/MODE filters (diagram_1.txt:100, diagram3:133).
    On the hive-partitioned curated lake this prunes partitions; on the flat
    fixture it pushes down to parquet row-group stats."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.filter(
        (F.year("o_orderdate") == 1995) & (F.month("o_orderdate") <= 6)
    ).select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")


# --------------------------------------------------------------------------
# P12 + F2: string prefix rewrite (archive-path computation)
# --------------------------------------------------------------------------
@register(
    "p12_prefix_rewrite",
    survey="P12,F2",
    sql="""
    SELECT doc_id,
           regexp_replace(concat('raw-json-data/', source, '/doc_', CAST(doc_id AS VARCHAR), '.json'),
                          '^raw-json-data/', 'raw-json-data-processed/') AS archive_path
    FROM documents
    """,
)
def p12_prefix_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Archive path = source path with the landing prefix swapped for the
    processed prefix (sudo_code.txt:200, psuedo_code.txt:232)."""
    docs = load_table(spark, sf_dir, "documents")
    path = F.concat(
        F.lit("raw-json-data/"), F.col("source"), F.lit("/doc_"),
        F.col("doc_id").cast("string"), F.lit(".json"),
    )
    return docs.select(
        "doc_id",
        F.regexp_replace(path, "^raw-json-data/", "raw-json-data-processed/").alias(
            "archive_path"
        ),
    )


# --------------------------------------------------------------------------
# O1: order + limit (ledger batch claim)
# --------------------------------------------------------------------------
@register(
    "o1_order_limit_claim",
    survey="O1,P10",
    sql="""
    SELECT o_orderkey, o_orderdate, o_orderstatus
    FROM orders
    WHERE o_orderstatus IN ('F', 'P')
    ORDER BY o_orderdate, o_orderkey
    LIMIT 100
    """,
)
def o1_order_limit_claim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ledger batch claim: ``ORDER BY created_at LIMIT batch_size`` oldest-first
    (sudo_code.txt:132, psuedo_code.txt:170). Spark plans TakeOrderedAndProject —
    no global sort is materialized. o_orderkey tie-break keeps the top-k
    deterministic across engines."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.filter(F.col("o_orderstatus").isin("F", "P"))
        .orderBy("o_orderdate", "o_orderkey")
        .limit(100)
        .select("o_orderkey", "o_orderdate", "o_orderstatus")
    )


# --------------------------------------------------------------------------
# O3: deterministic sample (hash-based, engine-portable)
# --------------------------------------------------------------------------
@register(
    "o3_deterministic_sample",
    survey="O3,F2",
    sql="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) = '0'
    """,
)
def o3_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ad-hoc exploration sampling (diagram_1.txt:99 surface). ``df.sample`` is
    seed-dependent per engine, so the portable form is a hash-prefix filter
    (~1/16 of rows) — the same trick used for deterministic data splits in
    training pipelines."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.filter(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1) == "0"
    ).select("o_orderkey", "o_totalprice")


# --------------------------------------------------------------------------
# U1: union by name with missing columns (schema evolution semantics)
# --------------------------------------------------------------------------
@register(
    "u1_union_by_name_evolution",
    survey="U1",
    sql="""
    SELECT name, acctbal, nationkey, kind FROM (
        SELECT c_name AS name, c_acctbal AS acctbal, 'customer' AS kind
        FROM customer
        UNION ALL BY NAME
        SELECT s_name AS name, CAST(s_nationkey AS INTEGER) AS nationkey,
               'supplier' AS kind
        FROM supplier
    )
    """,
)
def u1_union_by_name_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curated table is the union of all schema evolutions with NULL
    backfill for missing columns (diagram3:110, psuedo_code.txt:356-358).
    ``unionByName(allowMissingColumns=True)`` is the engine primitive our
    append path uses (SURVEY.md §1.3 fidelity note)."""
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    a = customer.select(
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("acctbal"),
        F.lit("customer").alias("kind"),
    )
    b = supplier.select(
        F.col("s_name").alias("name"),
        F.col("s_nationkey").cast("int").alias("nationkey"),
        F.lit("supplier").alias("kind"),
    )
    return a.unionByName(b, allowMissingColumns=True).select(
        "name", "acctbal", "nationkey", "kind"
    )


# --------------------------------------------------------------------------
# U2 + U3: union all / union distinct / intersect / except in one membership map
# --------------------------------------------------------------------------
@register(
    "u2_union_distinct",
    survey="U2,U3",
    sql="""
    SELECT nationkey, 'any' AS membership FROM (
        SELECT CAST(c_nationkey AS INTEGER) AS nationkey FROM customer
        UNION
        SELECT CAST(s_nationkey AS INTEGER) AS nationkey FROM supplier
    )
    UNION ALL
    SELECT nationkey, 'both' AS membership FROM (
        SELECT CAST(c_nationkey AS INTEGER) AS nationkey FROM customer
        INTERSECT
        SELECT CAST(s_nationkey AS INTEGER) AS nationkey FROM supplier
    )
    UNION ALL
    SELECT nationkey, 'customer_only' AS membership FROM (
        SELECT DISTINCT CAST(c_nationkey AS INTEGER) AS nationkey FROM customer
        EXCEPT
        SELECT CAST(s_nationkey AS INTEGER) AS nationkey FROM supplier
    )
    """,
)
def u2_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full set-operation surface (diagram_1.txt:99) as one membership map:
    UNION (distinct), INTERSECT, EXCEPT, glued with UNION ALL. The EXCEPT
    branch is the reference's lost-file reconciliation shape: claimed minus
    good minus corrupt (sudo_code.txt:219-224)."""
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    c = customer.select(F.col("c_nationkey").cast("int").alias("nationkey"))
    s = supplier.select(F.col("s_nationkey").cast("int").alias("nationkey"))
    any_ = c.union(s).distinct().withColumn("membership", F.lit("any"))
    both = c.intersect(s).withColumn("membership", F.lit("both"))
    only = c.distinct().exceptAll(s.distinct()).withColumn(
        "membership", F.lit("customer_only")
    )
    return any_.unionByName(both).unionByName(only)


# --------------------------------------------------------------------------
# U3: intersect / except (lost-file reconciliation shape)
# --------------------------------------------------------------------------
@register(
    "u3_intersect_except",
    survey="U3",
    extended=True,  # U3 covered in the driver tier by u2 (set-op membership)
    sql="""
    SELECT nationkey, 'both' AS membership FROM (
        SELECT CAST(c_nationkey AS INTEGER) AS nationkey FROM customer
        INTERSECT
        SELECT CAST(s_nationkey AS INTEGER) AS nationkey FROM supplier
    )
    UNION ALL
    SELECT nationkey, 'customer_only' AS membership FROM (
        SELECT DISTINCT CAST(c_nationkey AS INTEGER) AS nationkey FROM customer
        EXCEPT
        SELECT CAST(s_nationkey AS INTEGER) AS nationkey FROM supplier
    )
    """,
)
def u3_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set reconciliation: claimed-batch minus good minus corrupt = lost files
    (sudo_code.txt:219-224) is EXCEPT; INTERSECT completes the SQL surface
    (diagram_1.txt:99)."""
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    c = customer.select(F.col("c_nationkey").cast("int").alias("nationkey"))
    s = supplier.select(F.col("s_nationkey").cast("int").alias("nationkey"))
    both = c.intersect(s).withColumn("membership", F.lit("both"))
    only = c.distinct().exceptAll(s.distinct()).withColumn(
        "membership", F.lit("customer_only")
    )
    return both.unionByName(only)


@register(
    "o2_global_sort_rank",
    survey="O2,W1",
    extended=True,  # O2 covered in the driver tier by g3_flagship
    sql="""
    SELECT rank_overall, s_suppkey, s_name, s_acctbal FROM (
        SELECT row_number() OVER (ORDER BY s_acctbal DESC, s_suppkey) AS rank_overall,
               s_suppkey, s_name, s_acctbal
        FROM supplier
    )
    """,
)
def o2_global_sort_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global total order made value-visible via a rank column (a bare ORDER
    BY is invisible to an order-insensitive compare). Spark executes a
    range-partitioned sort; the empty-frame window collapses to one
    partition — acceptable for dimension-sized inputs only."""
    from pyspark.sql import Window

    supplier = load_table(spark, sf_dir, "supplier")
    w = Window.orderBy(F.col("s_acctbal").desc(), F.col("s_suppkey"))
    return supplier.select(
        F.row_number().over(w).alias("rank_overall"),
        "s_suppkey",
        "s_name",
        "s_acctbal",
    )


@register(
    "u2b_union_all",
    survey="U2",
    extended=True,  # U2 covered in the driver tier by u2
    sql="""
    SELECT kind, count(*) AS n FROM (
        SELECT 'c' AS kind, CAST(c_nationkey AS INTEGER) AS nationkey FROM customer
        UNION ALL
        SELECT 's' AS kind, CAST(s_nationkey AS INTEGER) AS nationkey FROM supplier
    )
    GROUP BY 1
    """,
)
def u2b_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL (bag semantics) vs U2's UNION (set semantics)."""
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    u = customer.select(
        F.lit("c").alias("kind"), F.col("c_nationkey").cast("int").alias("nationkey")
    ).union(
        supplier.select(
            F.lit("s").alias("kind"), F.col("s_nationkey").cast("int").alias("nationkey")
        )
    )
    return u.groupBy("kind").agg(F.count("*").alias("n"))


@register(
    "p13_like_predicates",
    survey="P10,F2",
    extended=True,  # P10/F2 covered in the driver tier
    sql="""
    SELECT p_partkey, p_name, p_type
    FROM part
    WHERE p_type LIKE 'SMALL%'
      AND p_name NOT LIKE '%grey%'
      AND lower(p_brand) LIKE 'brand#1_'
    """,
)
def p13_like_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIKE / NOT LIKE / single-char wildcard predicates (pushed to the scan
    as StringStartsWith/StringContains where the pattern allows)."""
    part = load_table(spark, sf_dir, "part")
    return part.filter(
        F.col("p_type").like("SMALL%")
        & ~F.col("p_name").like("%grey%")
        & F.lower("p_brand").like("brand#1_")
    ).select("p_partkey", "p_name", "p_type")


# --------------------------------------------------------------------------
# U4: EXCEPT ALL / INTERSECT ALL (multiplicity-preserving set ops)
# --------------------------------------------------------------------------
_U4_SQL = """
    WITH a AS (SELECT event_type, user_id % 10 AS bucket FROM events
               WHERE event_id <= 6000),
         b AS (SELECT event_type, user_id % 10 AS bucket FROM events
               WHERE event_id > 4000)
    SELECT event_type, bucket, count(*) AS n FROM (
        SELECT * FROM a EXCEPT ALL SELECT * FROM b
    ) GROUP BY 1, 2
"""


@register("u4_except_intersect_all", survey="U3,G3", extended=True, sql=_U4_SQL)
def u4_except_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiplicity-preserving set difference (``EXCEPT ALL`` /
    ``exceptAll``): each duplicate survives max(n_a - n_b, 0) times — the
    bag semantics U3's DISTINCT variants erase. Planned as one aggregate
    over a union with signed counts (no join), which is exactly how you'd
    hand-write it at scale; the overlapping event_id slices make both
    multiplicity directions non-trivial."""
    events = load_table(spark, sf_dir, "events")
    bucket = (F.col("user_id") % 10).alias("bucket")
    a = events.filter(F.col("event_id") <= 6000).select("event_type", bucket)
    b = events.filter(F.col("event_id") > 4000).select("event_type", bucket)
    return a.exceptAll(b).groupBy("event_type", "bucket").agg(
        F.count("*").alias("n")
    )
