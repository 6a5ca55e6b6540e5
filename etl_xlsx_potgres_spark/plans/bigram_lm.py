"""Bigram language-model scoring with add-one smoothing — the
sequence-aware upgrade of ``text_unigram_logprob`` and the shape of
the classic LM-perplexity quality filter (CCNet et al.: score every
document under a corpus LM, drop the tail). Mean bigram
log-probability per document, where P(w2|w1) =
(c(w1,w2) + 1) / (c(w1) + V).

Reference lifecycle note: the reference has no corpus stage
(``etl_process.py:1-235``); this extends the driver-mandated
LLM-curation pack.

Plan shape: ONE positional tokenize pass — the ``toks`` frame is the
single persisted intermediate and feeds ALL consumers (unigram
counts, the vocabulary-size aggregate, and both bigram builds), so
the documents table is scanned and tokenized exactly once. Bigrams
come from a lead window over (doc_id, pos) — the long-form shape that
stays inside whole-stage codegen (see README "Interpreted expressions
off the hot path"). The bigram frame itself is deliberately NOT
persisted even though it is consumed twice: rebuilding the lead
window from the cached narrow (doc_id, pos, term) frame measured
cheaper than materializing the wide (doc_id, w1, w2, pos) frame
(isolated n=6 medians at sf0.1 — toks-only 0.91 s, both persisted
1.40 s, bigrams-only 1.30 s; r9 adjudication). The vocabulary size is a 1-row
broadcast; bigram/unigram model joins are token-keyed equi-joins,
never broadcast (corpus-sized at 100 TB, same policy as the unigram
model). Numeric policy: per-bigram log-probs floor to integer
micro-nats (the ``text_unigram_logprob`` grid), per-doc sums are
exact bigint aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..caching import scoped_persist
from ..registry import register
from ..sources import load_table

_DUCK_TOKENS = (
    "list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '')"
)
_SPARK_TOKENS = (
    "filter(split(trim(lower(text)), '\\\\s+'), x -> x != '')"
)


@register(
    "text_bigram_logprob",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, toks[p] AS term, p AS pos
      FROM (SELECT doc_id, {_DUCK_TOKENS} AS toks FROM documents),
           LATERAL unnest(generate_series(1, len(toks))) t(p)
    ),
    bi AS (
      SELECT doc_id, term AS w1,
             lead(term) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
      FROM toks
    ),
    bigrams AS (SELECT doc_id, w1, w2 FROM bi WHERE w2 IS NOT NULL),
    cb AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cb
      FROM bigrams GROUP BY w1, w2
    ),
    cu AS (
      SELECT term AS w1, CAST(COUNT(*) AS BIGINT) AS cu
      FROM toks GROUP BY term
    ),
    v AS (SELECT CAST(COUNT(DISTINCT term) AS BIGINT) AS v FROM toks),
    lp AS (
      SELECT cb.w1, cb.w2,
             CAST(floor(ln(CAST(cb.cb + 1 AS DOUBLE)
                           / CAST(cu.cu + v.v AS DOUBLE)) * 1000000)
                  AS BIGINT) AS lp_micro
      FROM cb JOIN cu USING (w1) CROSS JOIN v
    )
    SELECT b.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(lp.lp_micro) AS BIGINT) AS sum_lp_micro,
           CAST(SUM(lp.lp_micro) AS DOUBLE) / COUNT(*) / 1000000.0
             AS avg_logprob
    FROM bigrams b JOIN lp ON lp.w1 = b.w1 AND lp.w2 = b.w2
    GROUP BY b.doc_id
    """,
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = scoped_persist(
        d.select(
            "doc_id",
            F.posexplode(F.expr(_SPARK_TOKENS)).alias("pos", "term"),
        )
    )  # one tokenize pass feeds cu, v, AND the bigram build
    w = Window.partitionBy("doc_id").orderBy("pos")
    bigrams = (
        toks.select(
            "doc_id",
            F.col("term").alias("w1"),
            F.lead("term").over(w).alias("w2"),
            "pos",
        )
        .filter(F.col("w2").isNotNull())
    )
    cb = bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    cu = toks.groupBy(F.col("term").alias("w1")).agg(
        F.count(F.lit(1)).alias("cu")
    )
    v = toks.agg(F.countDistinct("term").cast("long").alias("v"))
    lp = (
        cb.join(cu, "w1")
        .crossJoin(F.broadcast(v))
        .select(
            "w1",
            "w2",
            F.floor(
                F.log(
                    (F.col("cb") + 1).cast("double")
                    / (F.col("cu") + F.col("v")).cast("double")
                )
                * 1000000
            )
            .cast("long")
            .alias("lp_micro"),
        )
    )
    return (
        bigrams.join(lp, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("lp_micro").cast("long").alias("sum_lp_micro"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "sum_lp_micro",
            (
                F.col("sum_lp_micro").cast("double")
                / F.col("n_bigrams")
                / 1000000.0
            ).alias("avg_logprob"),
        )
    )
