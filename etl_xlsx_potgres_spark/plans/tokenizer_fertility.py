"""Tokenizer fertility audit — tokens-per-word and chars-per-token by
language, THE health metric of a tokenizer/corpus pairing (fertility
is the standard term in the multilingual-tokenization literature,
e.g. the mBERT/XLM-R analyses and the BLOOM tokenizer report: a
tokenizer "spends" far more tokens per word on languages it was not
trained for, which inflates effective sequence lengths and skews
compute budgets).  A curation pipeline tracks this per language per
snapshot; a fertility spike means the tokenizer no longer fits the
corpus mix.

Costing: the SAME trained-BPE word cost as ``text_chunk_token_budget``
(``operators/bpe.py``'s merge rounds applied per occurrence via 1-row
winner broadcasts — no vocab join), so this query audits the
tokenizer the chunking family actually applies, not a proxy.

Plan shape: the only corpus-scale shuffles are BPE training's shared
word-count subtree and ONE per-language rollup of exact bigint sums
(words, chars, BPE tokens — all map-side combined).  Fertility and
chars-per-token are single exact divisions of exact bigints, so the
pair is bit-identical on both engines at any partitioning.

Reference lifecycle note: the reference (etl_process.py:1-235) has no
tokenizer surface; this closes the loop on the BPE family the driver
mandates (train -> encode -> chunk -> AUDIT).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..hints import constant_size
from ..operators.bpe import SQL_MERGES_COLS, SQL_TRAIN_CTES, cost_expr, merges_row
from ..operators.text import HEX6, hex_int, sql_hex_int, sql_tokens, tokens
from ..registry import register
from ..sources import load_table


@register(
    "text_tokenizer_fertility",
    oracle=f"""
    WITH {SQL_TRAIN_CTES},
    mg AS (SELECT {SQL_MERGES_COLS}),
    base AS (
      SELECT doc_id, lang, {sql_tokens()} AS toks FROM documents
      WHERE len({sql_tokens()}) > 0
    ),
    costed AS (
      SELECT lang,
             CAST(len(toks) AS BIGINT) AS n_words,
             CAST(COALESCE(list_sum(list_transform(toks, w -> len(w))), 0)
                  AS BIGINT) AS n_chars,
             CAST(COALESCE(list_sum({cost_expr('duck')}), 0)
                  AS BIGINT) AS n_bpe
      FROM base CROSS JOIN mg
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS total_words,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(n_bpe) AS BIGINT) AS total_bpe_tokens,
           CAST(SUM(n_bpe) AS DOUBLE) / CAST(SUM(n_words) AS BIGINT)
             AS fertility,
           CAST(SUM(n_chars) AS DOUBLE) / CAST(SUM(n_bpe) AS BIGINT)
             AS chars_per_token
    FROM costed
    GROUP BY lang
    """,
)
def text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id", "lang", tokens("text").alias("toks")
    ).filter(F.size("toks") > 0)
    costed = base.crossJoin(
        constant_size(merges_row(load_table(spark, sf_dir, "documents")))
    ).select(
        "lang",
        F.size("toks").cast("long").alias("n_words"),
        F.expr(
            "aggregate(transform(toks, w -> length(w)), 0L,"
            " (a, x) -> a + CAST(x AS BIGINT))"
        ).alias("n_chars"),
        F.expr(
            f"aggregate({cost_expr('spark')}, 0L, (a, x) -> a + x)"
        ).alias("n_bpe"),
    )
    return costed.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").cast("long").alias("total_words"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.sum("n_bpe").cast("long").alias("total_bpe_tokens"),
        (
            F.sum("n_bpe").cast("double") / F.sum("n_words").cast("long")
        ).alias("fertility"),
        (
            F.sum("n_chars").cast("double") / F.sum("n_bpe").cast("long")
        ).alias("chars_per_token"),
    )


# Per-source drilldown (VERDICT r16 #8): the table a MIXING run
# actually consumes — fertility per source joined with the
# corpus_mix_rebalance keep decision, so the post-mix corpus can be
# costed in BPE tokens (DoReMi-style weights move document counts;
# what the training budget pays is TOKENS, and sources with fat
# fertility spend disproportionally). One corpus scan: the per-doc
# BPE cost (shared 1-row merges broadcast — the bpe_train subtree is
# the only corpus-scale shuffle) and the exact md5-coin keep verdict
# (broadcast source stats) are computed side by side, then ONE
# per-source rollup. kept_* sums are exact bigints over the
# deterministic kept subset, so the mix's token budget is
# hash-checked data.
@register(
    "text_fertility_by_source",
    oracle=f"""
    WITH {SQL_TRAIN_CTES},
    mg AS (SELECT {SQL_MERGES_COLS}),
    src AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS c_s,
             CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
               AS en_s
      FROM documents GROUP BY source
    ),
    tot AS (
      SELECT CAST(SUM(c_s) AS BIGINT) AS n,
             CAST(SUM(en_s) AS BIGINT) AS en_total
      FROM src
    ),
    base AS (
      SELECT doc_id, source, {sql_tokens()} AS toks FROM documents
    ),
    per_doc AS (
      SELECT b.source,
             CAST(len(toks) AS BIGINT) AS n_words,
             CAST(COALESCE(list_sum({cost_expr('duck')}), 0)
                  AS BIGINT) AS n_bpe,
             CASE WHEN {sql_hex_int("md5(CAST(doc_id AS VARCHAR))")}
                         * tot.en_total * src.c_s
                       < tot.n * src.en_s * {HEX6}
                  THEN 1 ELSE 0 END AS kept
      FROM base b
      JOIN src ON src.source = b.source
      CROSS JOIN tot CROSS JOIN mg
    ),
    rolled AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(kept) AS BIGINT) AS n_kept,
             CAST(SUM(n_words) AS BIGINT) AS total_words,
             CAST(SUM(n_bpe) AS BIGINT) AS total_bpe_tokens,
             CAST(SUM(kept * n_words) AS BIGINT) AS kept_words,
             CAST(SUM(kept * n_bpe) AS BIGINT) AS kept_bpe_tokens
      FROM per_doc GROUP BY source
    )
    SELECT r.source, r.n_docs, r.n_kept, r.total_words,
           r.total_bpe_tokens,
           CASE WHEN r.total_words > 0
                THEN CAST(r.total_bpe_tokens AS DOUBLE) / r.total_words
           END AS fertility,
           r.kept_words, r.kept_bpe_tokens,
           CASE WHEN r.kept_words > 0
                THEN CAST(r.kept_bpe_tokens AS DOUBLE) / r.kept_words
           END AS kept_fertility,
           s.c_s * t.en_total > t.n * s.en_s AS was_over_quota
    FROM rolled r
    JOIN src s ON s.source = r.source
    CROSS JOIN tot t
    """,
)
def text_fertility_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    src = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("c_s"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("long")
        .alias("en_s"),
    )
    tot = src.agg(
        F.sum("c_s").cast("long").alias("n"),
        F.sum("en_s").cast("long").alias("en_total"),
    )
    coin = hex_int(F.md5(F.col("doc_id").cast("string")))
    kept = F.when(
        coin * F.col("en_total") * F.col("c_s")
        < F.col("n") * F.col("en_s") * HEX6,
        1,
    ).otherwise(0)
    per_doc = (
        d.select("doc_id", "source", tokens("text").alias("toks"))
        .crossJoin(constant_size(merges_row(load_table(spark, sf_dir, "documents"))))
        .join(constant_size(src), "source")
        .crossJoin(constant_size(tot))
        .select(
            "source",
            F.size("toks").cast("long").alias("n_words"),
            F.expr(
                f"aggregate({cost_expr('spark')}, 0L, (a, x) -> a + x)"
            ).alias("n_bpe"),
            kept.alias("kept"),
        )
    )
    rolled = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("kept").cast("long").alias("n_kept"),
        F.sum("n_words").cast("long").alias("total_words"),
        F.sum("n_bpe").cast("long").alias("total_bpe_tokens"),
        F.sum(F.col("kept") * F.col("n_words")).cast("long").alias("kept_words"),
        F.sum(F.col("kept") * F.col("n_bpe")).cast("long").alias(
            "kept_bpe_tokens"
        ),
    )
    fert = F.when(
        F.col("total_words") > 0,
        F.col("total_bpe_tokens").cast("double") / F.col("total_words"),
    )
    kfert = F.when(
        F.col("kept_words") > 0,
        F.col("kept_bpe_tokens").cast("double") / F.col("kept_words"),
    )
    return (
        rolled.join(constant_size(src), "source")
        .crossJoin(constant_size(tot))
        .select(
            "source",
            "n_docs",
            "n_kept",
            "total_words",
            "total_bpe_tokens",
            fert.alias("fertility"),
            "kept_words",
            "kept_bpe_tokens",
            kfert.alias("kept_fertility"),
            (
                F.col("c_s") * F.col("en_total") > F.col("n") * F.col("en_s")
            ).alias("was_over_quota"),
        )
    )
