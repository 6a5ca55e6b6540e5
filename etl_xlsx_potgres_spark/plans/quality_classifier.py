"""Quality-classifier scoring — the fasttext/CCNet-style curation
stage (Wenzek et al. 2020, "CCNet": score documents with a linear
classifier over hashed n-gram features; keep high scorers).

Re-expressed Spark-first as a closed-form binary Naive Bayes over
the SAME hashed-n-gram featurizer DSIR uses
(``plans/importance_sampling.py``): the high-quality class is
``lang = 'en'`` (standing in for CCNet's Wikipedia-trained target),
the negative class is everything else. Closed-form NB instead of an
iterative fit keeps every number exactly oracle-reproducible:

1. featurize: unigrams + bigrams, md5-bucketed into ``B`` buckets
   (imported from importance_sampling — one hash family across the
   whole curation pack);
2. fit: per-bucket add-one-smoothed multinomials for pos and neg in
   one aggregation pass over the (doc, bucket, count) frame;
3. score: ``score(x) = log P(pos)/P(neg)
   + sum_b c_b(x) * log(p_pos[b]/p_neg[b])`` — the NB log-odds, a
   linear model over hashed counts exactly like fasttext's;
4. predict: ``score > 0``.

Numeric policy: per-bucket log-odds and the class prior floor to
integer micro-nats, so per-document scores are exact bigint sums —
order-independent on both engines (the DSIR/text_bigram_logprob
grid). Documents with no grams (empty text) score the bare prior.

Plan shape: ONE tokenize+featurize shuffle to (doc, bucket, count),
persisted for the model pass and the scoring join; the fitted model
is <= B rows + a 1-row prior — constant-size broadcasts at ANY
corpus size (like DSIR's). The confusion-matrix query reuses the
same score frame and adds one tiny groupBy. Unlike DSIR
(target-vs-raw, overlapping), this is a two-disjoint-class
discriminative scorer — together they cover both standard shapes of
model-based data curation.

Bigint headroom: as in DSIR, each smoothed count is lifted to
double BEFORE the multiply — exact below 2^53 per factor (so the
oracle stays bit-identical at fixture scale) and overflow-proof at
100 TB (tests/test_double_lift.py); the score is
statistical, not monetary.

Reference lifecycle note: the reference has no corpus stage
(``etl_process.py:1-235``); this extends the driver-mandated
LLM-curation pack.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..hints import constant_size
from ..operators.text import sql_tokens
from ..registry import register
from .importance_sampling import (
    B,
    TARGET_LANG,
    _DUCK_BUCKET,
    _DUCK_GRAMS,
    _arr_at,
    _dense_model_arr,
    _feat,
)

_ORACLE_SCORES = f"""
    WITH toks AS (
      SELECT doc_id, lang, {sql_tokens()} AS toks FROM documents
    ),
    grams AS (
      SELECT doc_id, lang, unnest({_DUCK_GRAMS}) AS gram FROM toks
    ),
    db AS (
      SELECT doc_id, lang, {_DUCK_BUCKET} AS bucket,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM grams GROUP BY 1, 2, 3
    ),
    cls AS (
      SELECT bucket,
             CAST(SUM(CASE WHEN lang = '{TARGET_LANG}' THEN c ELSE 0 END)
                  AS BIGINT) AS pb,
             CAST(SUM(CASE WHEN lang <> '{TARGET_LANG}' THEN c ELSE 0 END)
                  AS BIGINT) AS nb
      FROM db GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(pb) AS BIGINT) AS ptot,
             CAST(SUM(nb) AS BIGINT) AS ntot
      FROM cls
    ),
    prior AS (
      SELECT CAST(floor(ln(
               CAST(SUM(CASE WHEN lang = '{TARGET_LANG}' THEN 1 ELSE 0 END)
                    + 1 AS DOUBLE)
             / CAST(SUM(CASE WHEN lang <> '{TARGET_LANG}' THEN 1 ELSE 0 END)
                    + 1 AS DOUBLE)
             ) * 1000000) AS BIGINT) AS prior_micro
      FROM documents
    ),
    lo AS (
      SELECT cls.bucket,
             CAST(floor(ln(
                 (CAST(cls.pb + 1 AS DOUBLE)
                  * CAST(tot.ntot + {B} AS DOUBLE))
               / (CAST(cls.nb + 1 AS DOUBLE)
                  * CAST(tot.ptot + {B} AS DOUBLE))
             ) * 1000000) AS BIGINT) AS lo_micro
      FROM cls CROSS JOIN tot
    ),
    docsum AS (
      SELECT db.doc_id,
             CAST(SUM(db.c) AS BIGINT) AS n_grams,
             CAST(SUM(db.c * lo.lo_micro) AS BIGINT) AS gram_micro
      FROM db JOIN lo ON db.bucket = lo.bucket
      GROUP BY db.doc_id
    )
    SELECT d.doc_id,
           COALESCE(docsum.n_grams, 0) AS n_grams,
           prior.prior_micro + COALESCE(docsum.gram_micro, 0) AS score_micro,
           prior.prior_micro + COALESCE(docsum.gram_micro, 0) > 0
             AS predicted_pos
    FROM documents d
    LEFT JOIN docsum ON docsum.doc_id = d.doc_id
    CROSS JOIN prior
"""


def _lomap(feat: DataFrame) -> DataFrame:
    """The fitted NB bucket model as ONE row carrying a dense B-slot
    array — constant-size at any corpus volume (the DSIR ``_lpmap``
    shape; r20 rewrite)."""
    grams = feat.select("lang", F.explode("bkts").alias("bucket"))
    is_pos = F.col("lang") == TARGET_LANG
    # pb/nb = gram occurrences in positive/negative docs per bucket;
    # identical to the old per-(doc, bucket) count frame summed by
    # class, with the doc grain skipped (the map-side partials reduce
    # straight to <= B rows per task)
    cls = grams.groupBy("bucket").agg(
        F.sum(F.when(is_pos, 1).otherwise(0)).cast("long").alias("pb"),
        F.sum(F.when(~is_pos, 1).otherwise(0)).cast("long").alias("nb"),
    )
    tot = cls.agg(
        F.sum("pb").cast("long").alias("ptot"),
        F.sum("nb").cast("long").alias("ntot"),
    )
    lo = cls.crossJoin(constant_size(tot)).select(  # 1-row totals
        "bucket",
        F.floor(
            F.log(
                (
                    (F.col("pb") + 1).cast("double")
                    * (F.col("ntot") + B).cast("double")
                )
                / (
                    (F.col("nb") + 1).cast("double")
                    * (F.col("ptot") + B).cast("double")
                )
            )
            * 1000000
        )
        .cast("long")
        .alias("lo_micro"),
    )
    return _dense_model_arr(lo, "lo_micro", "loarr")


def _scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Row-local scoring against the broadcast model array (guide §8 —
    # the DSIR ``_weights`` rewrite, same rationale): each document
    # folds its own bucket-id array; the bigint per-occurrence
    # lo_micro sum equals the old c * lo_micro join-rollup exactly.
    # Docs with no grams (empty or NULL token array) keep n_grams 0
    # and score prior_micro — the old LEFT JOIN semantics, now a
    # coalesce. Every bucket a doc probes is in the model by
    # construction (the fit saw the same corpus). No corpus-scale
    # shuffle remains: the model fit shuffles <= B-row partials,
    # scoring folds the shared featurize frame map-side. The prior
    # (per-doc lang counts) also reads that frame — the doc grain is
    # preserved there, so no second corpus scan.
    feat = _feat(spark, sf_dir)
    is_pos = F.col("lang") == TARGET_LANG
    prior = feat.agg(
        F.floor(
            F.log(
                (
                    F.sum(F.when(is_pos, 1).otherwise(0)) + 1
                ).cast("double")
                / (F.sum(F.when(~is_pos, 1).otherwise(0)) + 1).cast("double")
            )
            * 1000000
        )
        .cast("long")
        .alias("prior_micro")
    )
    gram_micro = F.coalesce(
        F.aggregate(
            "bkts",
            F.lit(0).cast("long"),
            lambda acc, b: acc + _arr_at(F.col("loarr"), b),
        ),
        F.lit(0).cast("long"),
    )
    score = F.col("prior_micro") + gram_micro
    return (
        feat.crossJoin(constant_size(_lomap(feat)))
        .crossJoin(constant_size(prior))  # 1-row prior
        .select(
            "doc_id",
            "lang",
            # explicit NULL branch: size(NULL) is -1 under legacy
            # sizeOfNull and NULL under ANSI — neither is the 0 the
            # old LEFT JOIN coalesced to
            F.when(F.col("bkts").isNull(), F.lit(0))
            .otherwise(F.size("bkts"))
            .cast("long")
            .alias("n_grams"),
            score.alias("score_micro"),
            (score > 0).alias("predicted_pos"),
        )
    )


@register("quality_nb_scores", oracle=_ORACLE_SCORES)
def quality_nb_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NB log-odds quality score + prediction for every document."""
    return _scores(spark, sf_dir).drop("lang")


@register(
    "quality_nb_confusion",
    oracle=f"""
    WITH s AS ({_ORACLE_SCORES})
    SELECT d.lang = '{TARGET_LANG}' AS actual_pos, s.predicted_pos,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM s JOIN documents d ON d.doc_id = s.doc_id
    GROUP BY 1, 2
    """,
)
def quality_nb_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-set confusion matrix of the NB scorer — the model
    sanity check a curation run reports (4 rows at any scale)."""
    return (
        _scores(spark, sf_dir)
        .groupBy(
            (F.col("lang") == TARGET_LANG).alias("actual_pos"),
            "predicted_pos",
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
