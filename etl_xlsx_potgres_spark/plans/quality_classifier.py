"""Quality-classifier scoring — the fasttext/CCNet-style curation
stage (Wenzek et al. 2020, "CCNet": score documents with a linear
classifier over hashed n-gram features; keep high scorers).

Re-expressed Spark-first as a closed-form binary Naive Bayes over
the SAME hashed-n-gram featurizer DSIR uses
(``operators/classifier.py``, which also holds the scorer): the high-quality class is
``lang = 'en'`` (standing in for CCNet's Wikipedia-trained target),
the negative class is everything else. Closed-form NB instead of an
iterative fit keeps every number exactly oracle-reproducible:

1. featurize: unigrams + bigrams, md5-bucketed into ``B`` buckets
   (``operators/classifier.py`` — one hash family across the whole
   curation pack, shared with DSIR);
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

from ..operators.classifier import SQL_NB_SCORES, TARGET_LANG, nb_scores
from ..registry import register
from ..sources import load_table


@register("quality_nb_scores", oracle=SQL_NB_SCORES)
def quality_nb_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NB log-odds quality score + prediction for every document."""
    return nb_scores(load_table(spark, sf_dir, "documents")).drop("lang")


@register(
    "quality_nb_confusion",
    oracle=f"""
    WITH s AS ({SQL_NB_SCORES})
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
        nb_scores(load_table(spark, sf_dir, "documents"))
        .groupBy(
            (F.col("lang") == TARGET_LANG).alias("actual_pos"),
            "predicted_pos",
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
