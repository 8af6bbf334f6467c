"""Scalar function families (SURVEY.md §2.8).

F1 date/time, F2 string, F3 JSON, F4 math, F5 array/higher-order,
F7 conditional. All stay inside whole-stage codegen — no Python UDFs in any
of these paths (UDFs are reserved for the §2.11 surface where built-ins
genuinely can't express the op).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from datalakejson_spark.registry import register
from datalakejson_spark.sources.tables import load_table, spread_scan


# --------------------------------------------------------------------------
# F1: date/time functions
# --------------------------------------------------------------------------
@register(
    "f1_datetime_functions",
    survey="F1",
    sql="""
    SELECT o_orderkey,
           year(o_orderdate) AS yr,
           month(o_orderdate) AS mo,
           dayofmonth(o_orderdate) AS dom,
           date_trunc('month', o_orderdate) AS month_start,
           CAST(o_orderdate AS DATE) AS order_date,
           datediff('day', o_orderdate, TIMESTAMP '1999-01-01 00:00:00') AS days_to_1999
    FROM orders
    WHERE o_orderkey <= 2000
    """,
)
def f1_datetime_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """year/month/dayofmonth are the reference's partition-key derivations
    (sudo_code.txt:253-255); date_trunc/datediff/to_date complete the declared
    SQL surface (diagram_1.txt:99)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.filter(F.col("o_orderkey") <= 2000).select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.dayofmonth("o_orderdate").alias("dom"),
        F.date_trunc("month", F.col("o_orderdate")).cast("timestamp_ntz").alias("month_start"),
        F.col("o_orderdate").cast("date").alias("order_date"),
        F.datediff(
            F.lit("1999-01-01").cast("date"), F.col("o_orderdate").cast("date")
        ).alias("days_to_1999"),
    )


# --------------------------------------------------------------------------
# F2: string functions
# --------------------------------------------------------------------------
@register(
    "f2_string_functions",
    survey="F2",
    sql="""
    SELECT c_custkey,
           upper(c_name) AS name_upper,
           lower(c_mktsegment) AS seg_lower,
           substr(c_name, 1, 8) AS name_prefix,
           length(c_name) AS name_len,
           concat(c_mktsegment, '#', CAST(c_nationkey AS VARCHAR)) AS seg_nation,
           trim('  padded  ') AS trimmed,
           regexp_extract(c_name, '([0-9]+)', 1) AS name_digits
    FROM customer
    """,
)
def f2_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String surface (diagram_1.txt:99): case, substring, length, concat,
    trim, regexp_extract. The reference's own string op is the prefix rewrite
    (P12, sudo_code.txt:200)."""
    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.lower("c_mktsegment").alias("seg_lower"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.length("c_name").alias("name_len"),
        F.concat(
            F.col("c_mktsegment"), F.lit("#"), F.col("c_nationkey").cast("string")
        ).alias("seg_nation"),
        F.trim(F.lit("  padded  ")).alias("trimmed"),
        F.regexp_extract("c_name", "([0-9]+)", 1).alias("name_digits"),
    )


# --------------------------------------------------------------------------
# F3: JSON functions (the engine's core domain)
# --------------------------------------------------------------------------
@register(
    "f3_json_extraction",
    survey="F3",
    sql="""
    -- sum(BIGINT) is HUGEINT in DuckDB (→ float64 via fetchdf); cast back to
    -- BIGINT so the driver's dtype-sensitive hash matches Spark's sum.
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           min(json_extract_string(props, '$.k')) AS min_k_str
    FROM events
    GROUP BY 1
    """,
)
def f3_json_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-level JSON parsing is the engine's core domain (PERMISSIVE scan,
    sudo_code.txt:155-157). Here: path extraction from the JSON-string
    ``props`` column + typed aggregation. ``get_json_object`` runs JVM-side
    (Jackson) inside codegen.

    r15: ``$.k`` is projected ONCE per row before the aggregate — referencing
    the extraction inside two aggregate functions parsed the JSON document
    twice per row. The adaptive repartition (guide §2.5) parallelizes the
    parse across cores when the fixture's single-row-group scan would pin it
    to one task; it is a no-op on real-scale inputs (measured 1.24×)."""
    events = spread_scan(load_table(spark, sf_dir, "events"), "event_id")
    projected = events.select(
        "event_type", F.get_json_object("props", "$.k").alias("k")
    )
    return projected.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("k").cast("bigint")).alias("sum_k"),
        F.min("k").alias("min_k_str"),
    )


@register(
    "f3_from_json_struct",
    survey="F3",
    extended=True,  # F3 covered in the driver tier by f3_json_extraction + f6
    sql="""
    SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value
    FROM events
    WHERE event_id <= 500
    """,
)
def f3_from_json_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``from_json`` with an explicit schema — the typed-struct path our ingest
    transform uses for known nested fields (psuedo_code.txt:279-284)."""
    events = load_table(spark, sf_dir, "events")
    parsed = F.from_json("props", "k BIGINT")
    return (
        events.filter(F.col("event_id") <= 500)
        .select("event_id", parsed.getField("k").alias("k_value"))
    )


# --------------------------------------------------------------------------
# F4: math functions
# --------------------------------------------------------------------------
@register(
    "f4_math_functions",
    survey="F4",
    sql="""
    -- DuckDB floor/ceil return DOUBLE; Spark F.floor/F.ceil return BIGINT.
    -- Cast the oracle side to BIGINT for the driver's dtype-sensitive hash.
    SELECT l_orderkey, l_linenumber,
           abs(l_extendedprice - l_quantity * 1000.0) AS abs_spread,
           CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
           CAST(ceil(l_extendedprice) AS BIGINT) AS price_ceil,
           sqrt(l_quantity) AS qty_sqrt,
           l_orderkey % 7 AS key_mod,
           power(1.0 + l_discount, 2.0) AS disc_sq
    FROM lineitem
    WHERE l_orderkey <= 1000
    """,
)
def f4_math_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-engineering arithmetic (diagram_1.txt:105): abs/floor/ceil/
    sqrt/pow/% plus native column arithmetic. (No transcendental functions in
    the oracle-checked set: libm last-ULP behavior differs across engines;
    sqrt and pow-by-2 are IEEE-exact.)"""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_orderkey") <= 1000).select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_extendedprice") - F.col("l_quantity") * 1000.0).alias("abs_spread"),
        F.floor("l_extendedprice").alias("price_floor"),
        F.ceil("l_extendedprice").alias("price_ceil"),
        F.sqrt("l_quantity").alias("qty_sqrt"),
        (F.col("l_orderkey") % 7).alias("key_mod"),
        F.pow(1.0 + F.col("l_discount"), 2.0).alias("disc_sq"),
    )


# --------------------------------------------------------------------------
# F5: array functions + explode (token expansion)
# --------------------------------------------------------------------------
@register(
    "f5_explode_tokens",
    survey="F5,L4",
    extended=True,  # F5 covered in the driver tier by f5_higher_order/f5c/f5d
    sql="""
    SELECT token, count(*) AS freq FROM (
        SELECT unnest(string_split(text, ' ')) AS token FROM documents
    )
    GROUP BY token
    HAVING count(*) >= 50
    """,
)
def f5_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """split → explode → frequency count: the UDTF-style row expansion over
    preserved complex columns (psuedo_code.txt:284) and the backbone of the
    Tier C token pipeline."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
        .filter(F.col("freq") >= 50)
    )


@register(
    "f5_higher_order_array",
    survey="F5",
    sql="""
    SELECT vec_id,
           len(embedding) AS dim,
           list_aggregate([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) for x in embedding],
                          'sum') AS sq_norm,
           list_aggregate([CAST(x AS DOUBLE) for x in embedding if x > 0],
                          'count') AS n_positive
    FROM embeddings
    WHERE vec_id < 100
    """,
)
def f5_higher_order_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions (transform/filter/aggregate) over the
    embedding vectors — all JVM-side, no UDF. Elements are cast float→double
    before arithmetic so both engines accumulate identically."""
    emb = load_table(spark, sf_dir, "embeddings")
    sq_norm = F.aggregate(
        F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    n_pos = F.size(F.filter("embedding", lambda x: x > 0)).cast("bigint")
    return emb.filter(F.col("vec_id") < 100).select(
        "vec_id",
        F.size("embedding").alias("dim"),
        sq_norm.alias("sq_norm"),
        n_pos.alias("n_positive"),
    )


# --------------------------------------------------------------------------
# F7: conditional / null handling
# --------------------------------------------------------------------------
@register(
    "f7_conditional",
    survey="F7",
    sql="""
    SELECT c_custkey,
           CASE WHEN c_acctbal < 0 THEN 'debtor'
                WHEN c_acctbal < 5000 THEN 'standard'
                ELSE 'premium' END AS tier,
           coalesce(nullif(c_mktsegment, 'AUTOMOBILE'), 'CAR') AS segment_alias,
           CASE WHEN c_nationkey % 2 = 0 THEN c_acctbal ELSE -c_acctbal END AS signed_bal
    FROM customer
    """,
)
def f7_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN / coalesce / nullif — the status-classification logic shape of
    the archive loop (sudo_code.txt:202-224) as relational expressions."""
    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, "debtor")
        .when(F.col("c_acctbal") < 5000, "standard")
        .otherwise("premium")
        .alias("tier"),
        F.coalesce(F.nullif("c_mktsegment", F.lit("AUTOMOBILE")), F.lit("CAR")).alias(
            "segment_alias"
        ),
        F.when(F.col("c_nationkey") % 2 == 0, F.col("c_acctbal"))
        .otherwise(-F.col("c_acctbal"))
        .alias("signed_bal"),
    )


@register(
    "f6_map_functions",
    survey="F6,F3",
    sql="""
    SELECT event_id,
           (map {'type': event_type, 'user': CAST(user_id AS VARCHAR)})['type'][1]
               AS m_type,
           cardinality(map {'type': event_type, 'user': CAST(user_id AS VARCHAR)})
               AS m_size
    FROM events
    WHERE event_id < 300
    """,
)
def f6_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType construction + element access + cardinality (Tier C JSON-object
    modeling, SURVEY §2.8 F6). Output is scalars so the comparison is
    map-representation-agnostic."""
    events = load_table(spark, sf_dir, "events")
    m = F.create_map(
        F.lit("type"), F.col("event_type"),
        F.lit("user"), F.col("user_id").cast("string"),
    )
    return events.filter(F.col("event_id") < 300).select(
        "event_id",
        F.element_at(m, "type").alias("m_type"),
        F.size(m).alias("m_size"),
    )


@register(
    "f1b_datetime_extended",
    survey="F1",
    extended=True,  # F1 covered in the driver tier by f1
    sql="""
    SELECT o_orderkey,
           CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS due_date,
           CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS review_date,
           last_day(CAST(o_orderdate AS DATE)) AS month_end,
           CAST(floor(epoch(o_orderdate)) AS BIGINT) AS epoch_s,
           dayofweek(o_orderdate) + 1 AS dow,
           quarter(o_orderdate) AS qtr,
           weekofyear(o_orderdate) AS woy
    FROM orders
    WHERE o_orderkey <= 1500
    """,
)
def f1b_datetime_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended datetime surface: interval arithmetic (date_add/add_months),
    last_day, epoch seconds, dayofweek/quarter/weekofyear.

    Semantics notes pinned by the oracle: DuckDB DATE + INTERVAL MONTH
    saturates to month end exactly like Spark add_months; dayofweek is
    0=Sunday in DuckDB vs 1=Sunday in Spark (oracle shifts by one);
    weekofyear is ISO in both."""
    orders = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return orders.filter(F.col("o_orderkey") <= 1500).select(
        "o_orderkey",
        F.date_add(d, 30).alias("due_date"),
        F.add_months(d, 3).alias("review_date"),
        F.last_day(d).alias("month_end"),
        F.col("o_orderdate").cast("timestamp").cast("long").alias("epoch_s"),
        F.dayofweek("o_orderdate").alias("dow"),
        F.quarter("o_orderdate").alias("qtr"),
        F.weekofyear("o_orderdate").alias("woy"),
    )


@register(
    "f7b_null_safe_equality",
    survey="F7",
    extended=True,  # F7 covered in the driver tier by f7/p2
    sql="""
    SELECT a.event_id AS event_id,
           (nullif(a.event_type, 'error') IS NOT DISTINCT FROM
            nullif(a.props, a.props)) AS both_null_check,
           (a.value IS NOT DISTINCT FROM a.value) AS self_eq
    FROM events a
    WHERE a.event_id < 100
    """,
)
def f7b_null_safe_equality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality (<=> / IS NOT DISTINCT FROM): NULL<=>NULL is true,
    NULL<=>x is false — the semantics JOIN keys with nulls need."""
    events = load_table(spark, sf_dir, "events")
    lhs = F.nullif("event_type", F.lit("error"))
    rhs = F.nullif("props", F.col("props"))  # always NULL
    return events.filter(F.col("event_id") < 100).select(
        "event_id",
        lhs.eqNullSafe(rhs).alias("both_null_check"),
        F.col("value").eqNullSafe(F.col("value")).alias("self_eq"),
    )


@register(
    "f5e_array_algebra",
    survey="F5,U3",
    extended=True,  # F5/U3 covered in the driver tier
    sql="""
    WITH t AS (
        SELECT doc_id,
               list_distinct(string_split(text, ' ')) AS vocab
        FROM documents WHERE doc_id < 10
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           len(list_filter(a.vocab, x -> NOT list_contains(b.vocab, x)))
               AS n_only_a,
           len(list_filter(a.vocab, x -> list_contains(b.vocab, x)))
               AS n_shared,
           list_contains(a.vocab, 'the') AS has_the
    FROM t a JOIN t b ON a.doc_id < b.doc_id
    """,
)
def f5e_array_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array set algebra: except/intersect/contains over vocabularies
    (array_except|intersect are order-unstable across engines, so the oracle
    compares CARDINALITIES — the set-semantic content)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 10)
    t = docs.select(
        "doc_id", F.array_distinct(F.split("text", " ")).alias("vocab")
    )
    a = t.select(F.col("doc_id").alias("doc_a"), F.col("vocab").alias("va"))
    b = t.select(F.col("doc_id").alias("doc_b"), F.col("vocab").alias("vb"))
    return (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_except("va", "vb")).alias("n_only_a"),
            F.size(F.array_intersect("va", "vb")).alias("n_shared"),
            F.array_contains("va", "the").alias("has_the"),
        )
    )


@register(
    "f5f_explode_outer",
    survey="F5,J5",
    extended=True,  # F5/J5 covered in the driver tier
    sql="""
    WITH t AS (
        SELECT event_id,
               CASE WHEN event_type = 'error' THEN []
                    ELSE string_split(event_type, '') END AS chars
        FROM events WHERE event_id < 50
    )
    SELECT event_id, CASE WHEN len(chars) = 0 THEN NULL ELSE unnested END AS ch
    FROM (SELECT event_id, chars, unnest(
              CASE WHEN len(chars) = 0 THEN [NULL] ELSE chars END) AS unnested
          FROM t)
    """,
)
def f5f_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode_outer: empty arrays keep their parent row with NULL (plain
    explode would drop it) — the outer-join flavor of row expansion."""
    events = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 50)
    chars = F.when(F.col("event_type") == "error", F.array().cast("array<string>")).otherwise(
        F.split("event_type", "")
    )
    return events.select(
        "event_id", F.explode_outer(chars).alias("ch")
    )


# --------------------------------------------------------------------------
# F10: regexp_extract_all + flatten (multi-match extraction)
# --------------------------------------------------------------------------
_F10_SQL = """
    WITH m AS (
        SELECT doc_id, unnest(regexp_extract_all(text, 's[a-z]+')) AS tok
        FROM documents WHERE doc_id < 200
    )
    SELECT tok, count(*) AS n_matches, count(DISTINCT doc_id) AS n_docs
    FROM m GROUP BY 1
"""


@register("f10_regexp_extract_all", survey="F2,F5,G3", extended=True, sql=_F10_SQL)
def f10_regexp_extract_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-match regex extraction (every s-initial token) exploded and
    aggregated — the log-mining shape (pull all matches, not just the
    first). The extraction runs inside codegen; the only shuffle is the
    final bounded aggregate. The pattern sticks to character classes +
    literals, the regex subset Java and RE2-family engines agree on."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    m = docs.select(
        "doc_id",
        F.explode(F.regexp_extract_all("text", F.lit("s[a-z]+"), 0)).alias("tok"),
    )
    return m.groupBy("tok").agg(
        F.count("*").alias("n_matches"),
        F.count_distinct("doc_id").alias("n_docs"),
    )


# --------------------------------------------------------------------------
# F11: error-safe (try_) arithmetic and casts
# --------------------------------------------------------------------------
_F11_SQL = """
    SELECT event_type,
           CAST(SUM(CASE WHEN user_id % 7 = 0 THEN NULL
                         ELSE CAST(floor(event_id / (user_id % 7)) AS BIGINT)
                    END) AS BIGINT) AS sum_safe_div,
           CAST(count_if(try_cast(props AS INT) IS NULL) AS BIGINT)
               AS n_uncastable
    FROM events
    GROUP BY 1
"""


@register("f11_try_arithmetic", survey="F4,F7,E1", extended=True, sql=_F11_SQL)
def f11_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe expression semantics: ``try_divide`` returns NULL on
    division by zero and ``try_cast`` NULL on malformed input instead of
    failing the task — the row-level analogue of PERMISSIVE-mode scans
    (E1): bad values degrade to NULL and flow into aggregates that skip
    them, no task retry storms at 100 TB. The oracle encodes the identical
    NULL-on-error contract with guarded CASE / try_cast."""
    events = load_table(spark, sf_dir, "events")
    safe_div = F.try_divide(F.col("event_id"), F.col("user_id") % 7)
    return events.groupBy("event_type").agg(
        F.sum(F.floor(safe_div).cast("bigint")).cast("bigint").alias("sum_safe_div"),
        F.count_if(F.expr("try_cast(props AS INT)").isNull())
        .cast("bigint")
        .alias("n_uncastable"),
    )


@register(
    "f5c_array_construction",
    survey="F5",
    extended=True,  # F5 driver coverage via f5_higher_order_array/f5d/l2c/l3
    sql="""
    -- The driver canonicalizer sorts result columns with pandas, which cannot
    -- sort ndarray cells — so the final projection serializes each array with
    -- a join; the array construction itself still runs inside the query.
    SELECT n_nationkey,
           array_to_string(list_sort(string_split(n_name, '')), '') AS sorted_chars,
           len(flatten([string_split(n_name, ''), ['|'],
                        string_split(upper(n_name), '')])) AS flat_len,
           array_to_string([CAST(x * CAST(n_nationkey AS BIGINT) AS VARCHAR)
                            for x in range(1, 4)], ',') AS key_multiples
    FROM nation
    """,
)
def f5c_array_construction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array construction surface: sort_array, flatten, sequence+transform.
    Array-typed outputs are serialized with array_join in the FINAL projection
    only (the driver's canonicalizer can't sort ndarray cells); every array op
    still executes as an array op inside the plan."""
    nation = load_table(spark, sf_dir, "nation")
    chars = F.split("n_name", "")
    return nation.select(
        "n_nationkey",
        F.array_join(F.sort_array(chars), "").alias("sorted_chars"),
        F.size(
            F.flatten(
                F.array(chars, F.array(F.lit("|")), F.split(F.upper("n_name"), ""))
            )
        ).alias("flat_len"),
        F.array_join(
            F.transform(
                F.sequence(F.lit(1), F.lit(3)),
                lambda x: (x.cast("bigint") * F.col("n_nationkey").cast("bigint")).cast(
                    "string"
                ),
            ),
            ",",
        ).alias("key_multiples"),
    )


@register(
    "f5d_posexplode",
    survey="F5,D5",
    extended=True,  # seat rotation r12: F5 keeps its driver seat via f5;
    # D5 stays pinned by pytest (test_udfs) and the local sweep
    sql="""
    SELECT doc_id, pos - 1 AS pos, token FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents
        WHERE doc_id < 20
    )
    """,
)
def f5d_posexplode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode: UDTF-style expansion with element positions (0-based in
    Spark; the oracle shifts DuckDB's 1-based subscripts)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    return docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "token")
    )


@register(
    "f3c_json_tuple_roundtrip",
    survey="F3",
    extended=True,  # F3 covered in the driver tier by f3/p6/f6
    sql="""
    SELECT event_id,
           json_extract_string(props, '$.k') AS k_str,
           to_json(struct_pack(event_id := event_id, event_type := event_type,
                               k := CAST(json_extract_string(props, '$.k') AS BIGINT))
                  )::VARCHAR AS reserialized
    FROM events
    WHERE event_id < 400
    """,
)
def f3c_json_tuple_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """json_tuple extraction + to_json re-serialization. Both engines emit
    compact key-ordered-as-declared JSON, so the strings compare byte-equal
    (pinned by the oracle)."""
    events = load_table(spark, sf_dir, "events")
    with_k = events.filter(F.col("event_id") < 400).select(
        "event_id",
        "event_type",
        F.json_tuple("props", "k").alias("k_str"),
    )
    return with_k.select(
        "event_id",
        "k_str",
        F.to_json(
            F.struct(
                F.col("event_id"),
                F.col("event_type"),
                F.col("k_str").cast("bigint").alias("k"),
            )
        ).alias("reserialized"),
    )


@register(
    "f2b_string_extended",
    survey="F2",
    extended=True,  # F2 covered in the driver tier by f2/p12/o3
    sql="""
    SELECT n_nationkey,
           lpad(n_name, 20, '.') AS padded,
           repeat(substr(n_name, 1, 2), 3) AS repeated,
           reverse(n_name) AS reversed,
           translate(n_name, 'aeiou', '_____') AS devoweled,
           contains(n_name, 'an') AS has_an,
           starts_with(n_name, 'un') AS starts_un,
           ends_with(n_name, 'a') AS ends_a,
           split_part(n_name, 'a', 1) AS first_field,
           ascii(n_name) AS first_code,
           left(n_name, 3) AS l3,
           right(n_name, 3) AS r3
    FROM nation
    """,
)
def f2b_string_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lpad/repeat/reverse/translate/contains/starts_with/ends_with/
    split_part/ascii/left/right — the long tail of the F2 surface, one row
    per nation so every function's output is directly inspectable."""
    nation = load_table(spark, sf_dir, "nation")
    return nation.select(
        "n_nationkey",
        F.lpad("n_name", 20, ".").alias("padded"),
        F.repeat(F.substring("n_name", 1, 2), 3).alias("repeated"),
        F.reverse("n_name").alias("reversed"),
        F.translate("n_name", "aeiou", "_____").alias("devoweled"),
        F.contains("n_name", F.lit("an")).alias("has_an"),
        F.startswith("n_name", F.lit("un")).alias("starts_un"),
        F.endswith("n_name", F.lit("a")).alias("ends_a"),
        F.split_part("n_name", F.lit("a"), F.lit(1)).alias("first_field"),
        F.ascii("n_name").alias("first_code"),
        F.substring("n_name", 1, 3).alias("l3"),
        F.expr("right(n_name, 3)").alias("r3"),
    )


@register(
    "f4b_math_extended",
    survey="F4,F7",
    extended=True,  # F4/F7 covered in the driver tier by f4/f7
    sql="""
    -- DuckDB sign() returns TINYINT; Spark signum() returns DOUBLE — cast.
    SELECT l_orderkey, l_linenumber,
           greatest(l_quantity, l_discount * 100.0) AS g,
           least(l_tax, l_discount) AS l,
           CAST(sign(l_extendedprice - 30000.0) AS DOUBLE) AS spread_sign,
           CAST(l_extendedprice AS BIGINT) // 1000 AS price_k,
           l_orderkey & 255 AS key_low_byte,
           l_orderkey | 1 AS key_odd,
           xor(l_orderkey, l_partkey) AS key_xor,
           CAST(l_quantity AS BIGINT) % 7 AS qty_mod
    FROM lineitem
    WHERE l_orderkey <= 500
    """,
)
def f4b_math_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """greatest/least, sign, truncating integer division, bitwise and/or/xor,
    modulo — the arithmetic long tail. (DuckDB `//` is floor division on
    BIGINT; Spark `div` matches for the non-negative values here.)"""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_orderkey") <= 500).select(
        "l_orderkey",
        "l_linenumber",
        F.greatest(F.col("l_quantity"), F.col("l_discount") * 100.0).alias("g"),
        F.least(F.col("l_tax"), F.col("l_discount")).alias("l"),
        F.signum(F.col("l_extendedprice") - 30000.0).alias("spread_sign"),
        F.expr("CAST(l_extendedprice AS BIGINT) div 1000").alias("price_k"),
        F.col("l_orderkey").bitwiseAND(255).alias("key_low_byte"),
        F.col("l_orderkey").bitwiseOR(1).alias("key_odd"),
        F.col("l_orderkey").bitwiseXOR(F.col("l_partkey")).alias("key_xor"),
        (F.col("l_quantity").cast("bigint") % 7).alias("qty_mod"),
    )
