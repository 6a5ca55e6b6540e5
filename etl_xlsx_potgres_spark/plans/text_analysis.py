"""Text-analysis queries over the documents table: token counting,
quality scoring, language ID, fingerprinting — the per-document stage
of an LLM training-data pipeline. Embarrassingly parallel (no
shuffles except final aggregates): at 100 TB this is a single
map-only pass per document partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.lang import SQL_LANG_ID, lang_id
from ..operators.text import (
    LANG_MARKERS,
    fingerprint,
    normalize_text,
    shingles_long,
    sql_normalize,
    sql_shingles,
    sql_tokens,
    token_count,
    tokens,
)
from ..registry import register
from ..sources import load_table

# GPT-2-style pretokenizer, portability-constrained: contraction
# suffixes, space-prefixed letter/digit/punctuation runs, whitespace
# runs. Deliberately lookahead-free so Java regex (Spark) and RE2
# (DuckDB) tokenize identically — the real GPT-2 pattern's `(?!\S)`
# can't cross engines. This is the per-document token-budget signal a
# pretraining pipeline bins and caps on before the (model-specific)
# exact BPE merge pass.
_BPE_PAT = r"'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+"
_BPE_PAT_SQL = _BPE_PAT.replace("'", "''")


@register(
    "text_bpe_token_count",
    oracle=f"""
    SELECT doc_id,
           len(regexp_extract_all(text, '{_BPE_PAT_SQL}')) AS n_bpe_tokens,
           len(list_filter(regexp_extract_all(text, '{_BPE_PAT_SQL}'),
                           t -> trim(t) <> '')) AS n_content_tokens,
           CASE WHEN len(regexp_extract_all(text, '{_BPE_PAT_SQL}')) > 0
                THEN CAST(length(text) AS DOUBLE)
                     / len(regexp_extract_all(text, '{_BPE_PAT_SQL}'))
           END AS chars_per_token
    FROM documents
    """,
)
def text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = F.regexp_extract_all("text", F.lit(_BPE_PAT), F.lit(0))
    n = F.size(toks)
    content = F.size(F.filter(toks, lambda t: F.trim(t) != ""))
    return d.select(
        "doc_id",
        n.alias("n_bpe_tokens"),
        content.alias("n_content_tokens"),
        F.when(n > 0, F.length("text").cast("double") / n).alias(
            "chars_per_token"
        ),
    )


@register(
    "text_token_count",
    oracle=f"""
    SELECT doc_id,
           len({sql_tokens()}) AS n_tokens,
           length(text) AS n_chars,
           len(list_distinct({sql_tokens()})) AS n_unique_tokens
    FROM documents
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    from ..operators.text import tokens

    return d.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        F.length("text").alias("n_chars"),
        F.size(F.array_distinct(tokens("text"))).alias("n_unique_tokens"),
    )


@register(
    "text_quality_score",
    oracle=f"""
    SELECT doc_id, n_tokens, punct_ratio, stopword_ratio, digit_ratio,
           0.4 * least(n_tokens / 100.0, 1.0)
           + 0.3 * (1.0 - punct_ratio)
           + 0.3 * least(stopword_ratio * 5.0, 1.0) AS quality
    FROM (
      SELECT doc_id,
             len({sql_tokens()}) AS n_tokens,
             len(regexp_extract_all(text, '[^\\w\\s]')) * 1.0
               / greatest(length(text), 1) AS punct_ratio,
             len(regexp_extract_all(lower(text), '\\b(the|and|of|to|in|is)\\b')) * 1.0
               / greatest(len({sql_tokens()}), 1) AS stopword_ratio,
             len(regexp_extract_all(text, '[0-9]')) * 1.0
               / greatest(length(text), 1) AS digit_ratio
      FROM documents
    )
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    n_tokens = token_count("text")
    n_chars = F.greatest(F.length("text"), F.lit(1))
    punct = F.regexp_count("text", F.lit(r"[^\w\s]")) * 1.0 / n_chars
    stop = (
        F.regexp_count(F.lower("text"), F.lit(LANG_MARKERS["en"]))
        * 1.0
        / F.greatest(n_tokens, F.lit(1))
    )
    digit = F.regexp_count("text", F.lit("[0-9]")) * 1.0 / n_chars
    base = d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        punct.alias("punct_ratio"),
        stop.alias("stopword_ratio"),
        digit.alias("digit_ratio"),
    )
    quality = (
        0.4 * F.least(F.col("n_tokens") / 100.0, F.lit(1.0))
        + 0.3 * (1.0 - F.col("punct_ratio"))
        + 0.3 * F.least(F.col("stopword_ratio") * 5.0, F.lit(1.0))
    )
    return base.withColumn("quality", quality)


@register("text_lang_id", oracle=SQL_LANG_ID)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the label-localized corpus and the cascade: operators/lang.py
    return lang_id(load_table(spark, sf_dir, "documents"))


@register(
    "text_fingerprint",
    oracle=f"""
    SELECT doc_id,
           md5({sql_normalize()}) AS fp,
           length({sql_normalize()}) AS normalized_len
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        fingerprint("text").alias("fp"),
        F.length(normalize_text("text")).alias("normalized_len"),
    )


# Corpus-level rollup: per-language document stats — the shape of a
# corpus QA report (one small shuffle on lang).
@register(
    "text_corpus_stats",
    oracle=f"""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars,
           CAST(SUM(len({sql_tokens()})) AS BIGINT) AS total_tokens,
           MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
    FROM documents
    GROUP BY lang ORDER BY lang
    """,
)
def text_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("text")).alias("total_chars"),
            F.sum(token_count("text")).alias("total_tokens"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("lang")
    )


# Repetition quality signals (the Gopher/C4 family): fraction of mass
# taken by the single most frequent token, and the duplicate-3-gram
# fraction. Both are long-form explode + groupBy shapes (no
# interpreted per-row HOFs) — one shuffle on (doc_id, token) and one
# on (doc_id, shingle), the same plan at any corpus size. High values
# flag boilerplate/spam documents for the curation gate.
@register(
    "text_repetition_stats",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({sql_tokens()}) AS tok FROM documents
    ),
    tc AS (SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY doc_id, tok),
    per AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_toks,
             CAST(MAX(c) AS BIGINT) AS max_tok
      FROM tc GROUP BY doc_id
    ),
    sh AS (
      SELECT doc_id, unnest({sql_shingles()}) AS s FROM documents
    ),
    shc AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh,
             CAST(COUNT(DISTINCT s) AS BIGINT) AS n_dist
      FROM sh GROUP BY doc_id
    )
    SELECT p.doc_id, p.n_toks,
           CAST(p.max_tok AS DOUBLE) / p.n_toks AS top_tok_frac,
           COALESCE(1.0 - CAST(s.n_dist AS DOUBLE) / s.n_sh, 0.0) AS dup3_frac
    FROM per p LEFT JOIN shc s USING (doc_id)
    """,
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens("text")).alias("tok"))
    tc = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    per = tc.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_toks"),
        F.max("c").cast("long").alias("max_tok"),
    )
    sh = shingles_long(d, "text", 3)
    shc = sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_sh"),
        F.countDistinct("s").cast("long").alias("n_dist"),
    )
    return (
        per.join(shc, "doc_id", "left")
        .select(
            "doc_id",
            "n_toks",
            (F.col("max_tok").cast("double") / F.col("n_toks")).alias(
                "top_tok_frac"
            ),
            F.coalesce(
                F.lit(1.0) - F.col("n_dist").cast("double") / F.col("n_sh"),
                F.lit(0.0),
            ).alias("dup3_frac"),
        )
    )
