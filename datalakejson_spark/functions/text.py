"""Text analysis & quality filtering (SURVEY.md §2.12 L2/L3/L4/L6): token
stats, language profiling, heuristic language-ID, quality scoring, document
fingerprinting, BPE-ish regex tokenization, plus the exact verification
stages of near-dup detection (n-gram Jaccard, embedding cosine, edit
distance) over bounded samples. All built-in-function compositions — no
Python in the hot path; the per-row work is O(tokens) inside whole-stage
codegen.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from datalakejson_spark.functions.dedup import _DUCK_SHINGLES, _SPARK_SHINGLES
from datalakejson_spark.functions.similarity import cosine_expr
from datalakejson_spark.registry import register
from datalakejson_spark.sources.tables import load_table


# --------------------------------------------------------------------------
# L4: per-document token statistics
# --------------------------------------------------------------------------
@register(
    "l4_token_stats",
    survey="L4,F5",
    extended=True,  # L4/F5 covered in the driver tier by l4/l4c/l6
    sql="""
    SELECT doc_id, lang,
           len(string_split(text, ' ')) AS n_tokens,
           len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
           length(text) AS text_len,
           length(replace(text, ' ', '')) AS n_nonspace_chars
    FROM documents
    """,
)
def l4_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counts, vocabulary size, character counts — the
    per-doc feature vector for quality filtering and cost estimation
    (token counting for LLM budgets)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    return docs.select(
        "doc_id",
        "lang",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.length("text").alias("text_len"),
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).alias(
            "n_nonspace_chars"
        ),
    )


# --------------------------------------------------------------------------
# L4: corpus language profile
# --------------------------------------------------------------------------
@register(
    "l4_language_profile",
    survey="L4,G3",
    # demoted r15 (seat rotation, VERDICT r14 #7: an over-represented G3
    # carrier; L4 keeps driver seats via l22_quality_gate + l8_token_shards)
    extended=True,
    sql="""
    SELECT lang,
           count(*) AS n_docs,
           avg(CAST(n_chars AS DOUBLE)) AS avg_chars,
           avg(CAST(len(string_split(text, ' ')) AS DOUBLE)) AS avg_tokens
    FROM documents
    GROUP BY 1
    """,
)
def l4_language_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition by language — the first report any multilingual
    training-data pipeline needs."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.avg(F.col("n_chars").cast("double")).alias("avg_chars"),
        F.avg(F.size(F.split("text", " ")).cast("double")).alias("avg_tokens"),
    )


# --------------------------------------------------------------------------
# L6: heuristic quality filter
# --------------------------------------------------------------------------
@register(
    "l6_quality_filter",
    survey="L6",
    sql="""
    SELECT doc_id, lang, n_chars,
           len(string_split(text, ' ')) AS n_tokens,
           CAST(length(replace(text, ' ', '')) AS DOUBLE)
               / greatest(len(string_split(text, ' ')), 1) AS avg_word_len
    FROM documents
    WHERE n_chars >= 100
      AND len(string_split(text, ' ')) >= 20
      AND CAST(length(replace(text, ' ', '')) AS DOUBLE)
              / greatest(len(string_split(text, ' ')), 1) BETWEEN 2.0 AND 12.0
    """,
)
def l6_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality gate (Gopher/C4-style length + word-shape rules):
    minimum size, minimum token count, sane mean word length. Pure predicates
    → fully pushed into the scan."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tokens = F.size(toks)
    avg_word_len = F.length(
        F.replace(F.col("text"), F.lit(" "), F.lit(""))
    ).cast("double") / F.greatest(n_tokens, F.lit(1))
    return (
        docs.withColumn("n_tokens", n_tokens)
        .withColumn("avg_word_len", avg_word_len)
        .filter(
            (F.col("n_chars") >= 100)
            & (F.col("n_tokens") >= 20)
            & F.col("avg_word_len").between(2.0, 12.0)
        )
        .select("doc_id", "lang", "n_chars", "n_tokens", "avg_word_len")
    )


# --------------------------------------------------------------------------
# L4: heuristic language ID (rows-only; the lang column is the test oracle)
# --------------------------------------------------------------------------
def langid_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Character-class profile used by the n-gram-free heuristic language ID:
    ASCII ratio, CJK ratio, Cyrillic ratio, accented-latin ratio."""
    text = F.col(text_col)
    total = F.greatest(F.length(text), F.lit(1)).cast("double")

    def ratio(pattern: str):
        stripped = F.regexp_replace(text, pattern, "")
        return (F.length(text) - F.length(stripped)).cast("double") / total

    return df.withColumn("ascii_ratio", ratio(r"[A-Za-z]")).withColumn(
        "cjk_ratio", ratio(r"[一-鿿぀-ヿ]")
    ).withColumn("cyrillic_ratio", ratio(r"[Ѐ-ӿ]")).withColumn(
        "accent_ratio", ratio(r"[À-ɏ]")
    )


def predict_lang(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language family prediction from character-class ratios."""
    feat = langid_features(df, text_col)
    return feat.withColumn(
        "pred_lang",
        F.when(F.col("cjk_ratio") > 0.1, "zh")
        .when(F.col("cyrillic_ratio") > 0.1, "ru")
        .when(F.col("accent_ratio") > 0.02, "latin-accented")
        .otherwise("en-like"),
    )


@register("l4b_langid_heuristic", survey="L4", extended=True, sql=None)
def l4b_langid_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-class language-ID features + prediction (rows-only check;
    the heuristic itself is engine-defined, asserted in tests)."""
    docs = load_table(spark, sf_dir, "documents")
    return predict_lang(docs).select(
        "doc_id", "lang", "pred_lang", "ascii_ratio", "cjk_ratio"
    )


# --------------------------------------------------------------------------
# L4: rolling-hash document fingerprint
# --------------------------------------------------------------------------
@register(
    "l4c_fingerprint",
    survey="L4,L1",
    extended=True,  # L4 driver coverage via l4_language_profile; L1 via l1_exact_dedup
    sql="""
    SELECT doc_id,
           substr(md5(text), 1, 16) AS fp64,
           substr(md5(concat(lang, ':', text)), 1, 8) AS fp_lang
    FROM documents
    """,
)
def l4c_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compact content fingerprints (64-bit and lang-scoped 32-bit) for
    cross-corpus contamination checks — join training vs. eval sets on fp64
    instead of full text."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.substring(F.md5("text"), 1, 16).alias("fp64"),
        F.substring(F.md5(F.concat(F.col("lang"), F.lit(":"), F.col("text"))), 1, 8).alias(
            "fp_lang"
        ),
    )


# --------------------------------------------------------------------------
# L2c: exact n-gram Jaccard over sampled pairs (the verify stage after LSH)
# --------------------------------------------------------------------------
_L2C_SQL = f"""
    WITH tok AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE doc_id < 40
    ),
    sh AS (
        SELECT doc_id, list_distinct({_DUCK_SHINGLES}) AS shingles FROM tok
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                 / greatest(len(list_distinct(list_concat(a.shingles, b.shingles))), 1),
                 6) AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
"""


# extended since r12 (seat rotation): L2 keeps its driver seat via l2;
# this n-gram-Jaccard variant stays oracle-verified in the local sweep
@register("l2c_ngram_jaccard", survey="L2,J8,F5", extended=True, sql=_L2C_SQL)
def l2c_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard similarity for all pairs of a bounded document
    sample — the verification stage that LSH candidates feed at scale (run
    pairwise only on bucket-mates, never all-pairs). JVM-side set algebra:
    array_intersect / array_union on pre-deduped shingle arrays."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    tok = docs.select("doc_id", F.split("text", " ").alias("w"))
    sh = tok.select(
        "doc_id", F.array_distinct(F.expr(_SPARK_SHINGLES)).alias("shingles")
    )
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.greatest(F.size(F.array_union("sh_a", "sh_b")), F.lit(1))
    return (
        a.join(F.broadcast(b), F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a", "doc_b", F.round(inter / union, 6).alias("jaccard")
        )
    )


# --------------------------------------------------------------------------
# L2d: embedding-cosine near-dup pairs
# --------------------------------------------------------------------------
COSINE_DUP_THRESHOLD = 0.28  # fixture vectors are near-orthogonal (p99 pair
# cosine ≈ 0.29), so the threshold sits at the tail to yield a non-trivial
# pair set; real near-dup corpora use ~0.95 — the operator is
# threshold-parametric.
_DOT = (
    "list_aggregate([CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE) "
    "for i in range(1, len(a.embedding) + 1)], 'sum')"
)
_NORM_A = "sqrt(list_aggregate([CAST(x AS DOUBLE)*CAST(x AS DOUBLE) for x in a.embedding], 'sum'))"
_NORM_B = "sqrt(list_aggregate([CAST(x AS DOUBLE)*CAST(x AS DOUBLE) for x in b.embedding], 'sum'))"

_L2D_SQL = f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round({_DOT} / ({_NORM_A} * {_NORM_B}), 6) AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE a.vec_id < 60 AND b.vec_id < 60
      AND round({_DOT} / ({_NORM_A} * {_NORM_B}), 6) >= {COSINE_DUP_THRESHOLD}
"""


# extended since r12 (seat rotation): L2/L3 keep driver seats via l2/l3
@register("l2d_embedding_neardup", survey="L2,L3", extended=True, sql=_L2D_SQL)
def l2d_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs above a threshold, exact over a
    bounded sample (the oracle-checkable core; the scale path routes the same
    predicate over LSH-bucketed candidates — functions/similarity.py)."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 60)
    a = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("e_a"))
    b = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("e_b"))
    cos = F.round(cosine_expr("e_a", "e_b"), 6)
    return (
        a.join(F.broadcast(b), F.col("vec_a") < F.col("vec_b"))
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= COSINE_DUP_THRESHOLD)
        .select("vec_a", "vec_b", "cosine")
    )


# --------------------------------------------------------------------------
# L4d: BPE-ish regex tokenization
# --------------------------------------------------------------------------
_TOKEN_RE = "[a-z]+|[A-Z][a-z]*|[0-9]+|[^A-Za-z0-9 ]"

_L4D_SQL = f"""
    SELECT doc_id,
           len(regexp_extract_all(text, '{_TOKEN_RE}')) AS n_bpeish_tokens,
           len(string_split(text, ' ')) AS n_ws_tokens
    FROM documents
"""


@register("l4d_regex_tokens", survey="L4,F2", extended=True, sql=_L4D_SQL)
def l4d_regex_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace and a BPE-ish regex (lowercase
    runs, capitalized pieces, digit runs, punctuation singletons) — the
    cheap proxy for LLM token budgeting. Regex kept in the common subset of
    Java-regex and RE2 semantics so both engines count identically."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(_TOKEN_RE), 0)).alias(
            "n_bpeish_tokens"
        ),
        F.size(F.split("text", " ")).alias("n_ws_tokens"),
    )


# --------------------------------------------------------------------------
# L6b: composite quality score
# --------------------------------------------------------------------------
_STOPWORDS = "('the','a','of','and','to','in','is','it','for','on')"
_STOP_ARR_DUCK = "['the','a','of','and','to','in','is','it','for','on']"

_L6B_SQL = f"""
    WITH feat AS (
        SELECT doc_id, lang, n_chars,
               string_split(text, ' ') AS toks
        FROM documents
    )
    SELECT doc_id, lang,
           len(toks) AS n_tokens,
           round(CAST(len(list_intersect(list_distinct(toks), {_STOP_ARR_DUCK})) AS DOUBLE)
                 / greatest(len(list_distinct(toks)), 1), 6) AS stopword_ratio,
           round(CAST(len(list_distinct(toks)) AS DOUBLE)
                 / greatest(len(toks), 1), 6) AS ttr,
           CASE WHEN n_chars >= 100 AND len(toks) >= 20 THEN 1 ELSE 0 END AS passes_length
    FROM feat
"""


@register("l6b_quality_score", survey="L6,L4", extended=True, sql=_L6B_SQL)
def l6b_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality features per document: token count, stopword ratio over the
    vocabulary, type-token ratio (lexical diversity), and the length gate —
    the Gopher-style signals a filtering pipeline thresholds on."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    vocab = F.array_distinct(toks)
    stop = F.array([F.lit(s) for s in
                    ["the", "a", "of", "and", "to", "in", "is", "it", "for", "on"]])
    return docs.select(
        "doc_id",
        "lang",
        F.size(toks).alias("n_tokens"),
        F.round(
            F.size(F.array_intersect(vocab, stop)).cast("double")
            / F.greatest(F.size(vocab), F.lit(1)),
            6,
        ).alias("stopword_ratio"),
        F.round(
            F.size(vocab).cast("double") / F.greatest(F.size(toks), F.lit(1)), 6
        ).alias("ttr"),
        F.when((F.col("n_chars") >= 100) & (F.size(toks) >= 20), 1)
        .otherwise(0)
        .alias("passes_length"),
    )


# --------------------------------------------------------------------------
# L17: most-frequent token per language (deterministic mode())
# --------------------------------------------------------------------------
_L17_SQL = """
    WITH counts AS (
        SELECT lang, unnest(string_split(text, ' ')) AS token
        FROM documents
    ),
    tallied AS (
        SELECT lang, token, count(*) AS n
        FROM counts WHERE token <> '' GROUP BY 1, 2
    ),
    ranked AS (
        SELECT lang, token, n,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY n DESC, token) AS rk
        FROM tallied
    )
    SELECT lang, token AS top_token, n AS n_occurrences
    FROM ranked WHERE rk = 1
"""


@register("l17_top_token_per_lang", survey="L4,G3,W5", extended=True, sql=_L17_SQL)
def l17_top_token_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group most-frequent value — mode() done deterministically: count,
    then rank by (count DESC, token ASC) and keep rank 1. Built-in ``mode``
    breaks frequency ties arbitrarily (engine- and partition-dependent), so
    it can never be oracle-checked; the explicit tie-break makes the answer
    a function of the data alone. Two shuffles (tally, then per-lang rank
    over the small tally table) — the rank never sees raw tokens."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    tallied = (
        docs.select("lang", F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("lang", "token")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("token"))
    return (
        tallied.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("lang", F.col("token").alias("top_token"), F.col("n").alias("n_occurrences"))
    )


# --------------------------------------------------------------------------
# L18: character-level fuzzy matching (Levenshtein) on bounded pairs
# --------------------------------------------------------------------------
_L18_SQL = """
    WITH sample AS (
        SELECT doc_id, substr(text, 1, 40) AS head FROM documents
        WHERE doc_id < 30
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           levenshtein(a.head, b.head) AS edit_distance
    FROM sample a JOIN sample b ON a.doc_id < b.doc_id
    WHERE levenshtein(a.head, b.head) <= 28
"""


@register("l18_levenshtein_fuzzy", survey="L2,F2,J8", extended=True, sql=_L18_SQL)
def l18_levenshtein_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level edit distance on document prefixes — the fuzzy-match
    primitive token-level dedup (shingles) can't see: transposed characters,
    typos, OCR noise. Quadratic in pair count AND in string length, so the
    input is explicitly bounded (30 docs × 40 chars) — at scale this is the
    verify stage behind an LSH/SimHash candidate generator, exactly like
    l2g's Jaccard verify, never a standalone sweep."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 30)
    sample = docs.select("doc_id", F.substring("text", 1, 40).alias("head"))
    a = sample.select(F.col("doc_id").alias("doc_a"), F.col("head").alias("h_a"))
    b = sample.select(F.col("doc_id").alias("doc_b"), F.col("head").alias("h_b"))
    dist = F.levenshtein("h_a", "h_b")
    return (
        a.join(F.broadcast(b), F.col("doc_a") < F.col("doc_b"))
        .filter(dist <= 28)
        .select("doc_a", "doc_b", dist.alias("edit_distance"))
    )
