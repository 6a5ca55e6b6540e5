"""DSIR-style data selection via importance resampling (Xie et al.
2023, "Data Selection for Language Models via Importance Resampling")
— select raw documents whose hashed-n-gram profile looks like a
target distribution.

Public method, re-expressed Spark-first:

1. featurize every document as hashed n-gram counts — unigrams plus
   word bigrams, md5-bucketed into ``B`` buckets (the paper's
   10k-bucket hash shrunk to fixture scale; md5 keeps the bucket
   function byte-identical in the DuckDB oracle);
2. fit two bag-of-hashed-ngrams multinomials with add-one smoothing:
   the *target* (here: ``lang = 'en'`` documents, standing in for the
   paper's formal-text target) and the *raw* corpus;
3. per-document log importance weight
   ``log w(x) = sum_b c_b(x) * (log p_target[b] - log p_raw[b])``;
4. select: top-k by weight with a deterministic tiebreak (the
   paper's Gumbel top-k resampling minus the noise term, which would
   not be oracle-reproducible).

Numeric policy: per-bucket log-ratios floor to integer micro-nats
(the ``text_bigram_logprob`` grid) so every per-document aggregate is
an exact bigint sum — order-independent on both engines. The ratio is
formed with each smoothed count LIFTED TO DOUBLE before the
multiply: exact (hence oracle-bit-identical) while every factor is
below 2^53, and overflow-proof at 100 TB where the old bigint
products (~count x corpus_total) would wrap int64 — the r14 verdict's
headroom caveat, now the tested path (tests/test_double_lift.py).

Plan shape (r20 rewrite, guide §8 "decide with small rows"): the
model FIT is the only shuffle — the gram explode feeds a groupBy on
the B-bounded bucket key, so map-side partials reduce it to <= B rows
per task at ANY corpus volume. The fitted model then rides as ONE row
(``map<bucket, lp_micro>``, <= B entries) broadcast to a second,
map-only pass that scores each document by folding its own row-local
gram array against the map — no per-(doc, bucket) count frame is ever
materialized, joined, or rolled up. (The previous shape persisted
that corpus-scale frame and paid a model join plus a doc_id rollup
shuffle on it; two scans + a constant-size shuffle beat one scan +
two corpus-scale shuffles and a corpus-scale cache everywhere past
toy SF.) The top-k variant is a ``TakeOrderedAndProject``
(per-partition heaps + driver merge of k), never a global sort.

Reference lifecycle note: the reference has no corpus stage
(``etl_process.py:1-235``); this extends the driver-mandated
LLM-curation pack alongside the quality/dedup/contamination filters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..hints import constant_size
from ..operators.classifier import (
    B,
    SQL_BUCKET,
    SQL_GRAMS,
    TARGET_LANG,
    arr_at,
    dense_model_arr,
    hashed_features,
)
from ..operators.text import sql_tokens
from ..registry import register
from ..sources import load_table

TOP_K = 50

_ORACLE_WEIGHTS = f"""
    WITH toks AS (
      SELECT doc_id, lang, {sql_tokens()} AS toks FROM documents
    ),
    grams AS (
      SELECT doc_id, lang, unnest({SQL_GRAMS}) AS gram FROM toks
    ),
    db AS (
      SELECT doc_id, lang, {SQL_BUCKET} AS bucket,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM grams GROUP BY 1, 2, 3
    ),
    raw AS (SELECT bucket, CAST(SUM(c) AS BIGINT) AS rb FROM db GROUP BY 1),
    tgt AS (
      SELECT bucket, CAST(SUM(c) AS BIGINT) AS tb
      FROM db WHERE lang = '{TARGET_LANG}' GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(c) AS BIGINT) AS rtot,
             CAST(SUM(CASE WHEN lang = '{TARGET_LANG}' THEN c ELSE 0 END)
                  AS BIGINT) AS ttot
      FROM db
    ),
    lp AS (
      SELECT raw.bucket,
             CAST(floor(ln(
                 (CAST(COALESCE(tgt.tb, 0) + 1 AS DOUBLE)
                  * CAST(tot.rtot + {B} AS DOUBLE))
               / (CAST(raw.rb + 1 AS DOUBLE)
                  * CAST(tot.ttot + {B} AS DOUBLE))
             ) * 1000000) AS BIGINT) AS lp_micro
      FROM raw LEFT JOIN tgt ON raw.bucket = tgt.bucket CROSS JOIN tot
    )
    SELECT db.doc_id,
           CAST(SUM(db.c) AS BIGINT) AS n_grams,
           CAST(SUM(db.c * lp.lp_micro) AS BIGINT) AS logw_micro
    FROM db JOIN lp ON db.bucket = lp.bucket
    GROUP BY db.doc_id
"""


def _lpmap(feat: DataFrame) -> DataFrame:
    """The fitted DSIR bucket model as ONE row carrying a dense B-slot
    array — constant-size at any corpus volume, so consumers can score
    documents row-locally against a broadcast instead of shuffling a
    per-(doc, bucket) count frame into a model join + doc rollup (r20
    rewrite; the model FIT keeps the explode — of bigint bucket ids,
    not gram strings — and its groupBy is on the B-bounded bucket key,
    so map-side partials reduce the shuffle to <= B rows per task)."""
    grams = feat.select("lang", F.explode("bkts").alias("bucket"))
    # rb = every occurrence, tb = occurrences in target-lang docs;
    # identical to the old raw/tgt pair (tb = 0 where tgt had no row,
    # matching its COALESCE(tb, 0))
    cls = grams.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("rb"),
        F.sum(F.when(F.col("lang") == TARGET_LANG, 1).otherwise(0))
        .cast("long")
        .alias("tb"),
    )
    tot = cls.agg(
        F.sum("rb").cast("long").alias("rtot"),
        F.sum("tb").cast("long").alias("ttot"),
    )
    lp = cls.crossJoin(constant_size(tot)).select(  # 1-row totals
        "bucket",
        F.floor(
            F.log(
                (
                    (F.col("tb") + 1).cast("double")
                    * (F.col("rtot") + B).cast("double")
                )
                / (
                    (F.col("rb") + 1).cast("double")
                    * (F.col("ttot") + B).cast("double")
                )
            )
            * 1000000
        )
        .cast("long")
        .alias("lp_micro"),
    )
    return dense_model_arr(lp, "lp_micro", "lparr")


def _weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Scoring is row-local (guide §8's "decide with small rows"): each
    # doc folds its own bucket-id array against the broadcast model
    # array — n_grams is the array size, logw the bigint sum of
    # per-occurrence lp_micro lookups (same integers the old
    # c * lp_micro join-rollup summed, grouped differently). Every
    # bucket a doc probes is in the model by construction (the fit
    # saw the same corpus). This replaces the corpus-scale persisted
    # (doc, bucket) count frame, its model join, and the doc_id
    # rollup shuffle with a fold over the shared featurize frame;
    # only the <= B-row model fit shuffles.
    feat = hashed_features(load_table(spark, sf_dir, "documents"))
    docs = feat.filter(F.size("bkts") > 0)
    return docs.crossJoin(constant_size(_lpmap(feat))).select(
        "doc_id",
        F.size("bkts").cast("long").alias("n_grams"),
        F.aggregate(
            "bkts",
            F.lit(0).cast("long"),
            lambda acc, b: acc + arr_at(F.col("lparr"), b),
        ).alias("logw_micro"),
    )


@register("dsir_importance_weights", oracle=_ORACLE_WEIGHTS)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-n-gram importance weight for every document."""
    return _weights(spark, sf_dir)


@register(
    "dsir_select_topk",
    oracle=f"""
    WITH w AS ({_ORACLE_WEIGHTS})
    SELECT doc_id, n_grams, logw_micro
    FROM w ORDER BY logw_micro DESC, doc_id LIMIT {TOP_K}
    """,
)
def dsir_select_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The selection itself: deterministic top-k by importance weight
    (distributed per-partition heaps, not a global sort)."""
    return (
        _weights(spark, sf_dir)
        .orderBy(F.desc("logw_micro"), F.asc("doc_id"))
        .limit(TOP_K)
    )
