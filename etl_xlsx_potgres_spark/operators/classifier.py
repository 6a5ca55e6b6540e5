"""Hashed n-gram classifier kernels of the model-based curation
queries (DSIR importance weights, the NB quality scorer and its
calibration): the unigram++bigram featurizer md5-bucketed into ``B``
buckets, the dense 1-row model array and its O(1) lookup, and the
closed-form binary Naive Bayes scorer (Wenzek et al. 2020, "CCNet";
numeric policy in ``plans/quality_classifier.py``), each with its
Spark and DuckDB rendering side by side — one hash family across the
whole curation pack.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..caching import scoped_persist
from ..hints import constant_size
from .text import hex_int, sql_hex_int, sql_tokens, tokens

B = 256  # hashed n-gram buckets
TARGET_LANG = "en"

# unigrams ++ space-joined bigrams, as one array expression per row
_SPARK_GRAMS = (
    f"concat(toks, zip_with("
    f"slice(toks, 1, greatest(size(toks) - 1, 0)), "
    f"slice(toks, 2, greatest(size(toks) - 1, 0)), "
    f"(a, b) -> concat(a, ' ', b)))"
)
SQL_GRAMS = (
    "list_concat(toks, list_transform("
    "generate_series(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i + 1]))"
)


SQL_BUCKET = sql_hex_int("md5(gram)") + f" % {B}"


def bucket_of(gram):
    """The hashed-gram bucket (``SQL_BUCKET``'s twin) as a Column —
    usable on a lambda variable inside row-local HOFs, which is what
    lets scoring happen without the per-doc explode."""
    return hex_int(F.md5(gram)) % B


def _grams_arr(d: DataFrame, *extra: str) -> DataFrame:
    """(extra..., grams) with the unigram++bigram array kept row-local
    (the explode stays confined to the model-fit pass)."""
    return d.select(*extra, tokens("text").alias("toks")).select(
        *extra, F.expr(_SPARK_GRAMS).alias("grams")
    )


def hashed_features(d: DataFrame) -> DataFrame:
    """(doc_id, lang, bkts): every document of ``d`` with its grams
    hashed ONCE into a row-local bucket-id array (``bkts`` is NULL
    where the token array is NULL, empty where it is empty — the doc
    grain is preserved). Persisted because the model fit and the scoring fold
    both consume it; the md5 per gram — the dominant per-row cost — is
    paid exactly once, and the cached rows are bigint arrays, not
    text."""
    return scoped_persist(
        _grams_arr(d, "doc_id", "lang").select(
            "doc_id", "lang", F.transform("grams", bucket_of).alias("bkts")
        )
    )


def dense_model_arr(model: DataFrame, val: str, out: str) -> DataFrame:
    """Pack a (bucket, value) model into ONE row carrying a dense
    B-slot array (index = bucket). Lookups against a map literal cost
    a LINEAR scan of its entries per call (UnsafeMapData has no hash
    index), so a per-gram fold over a 256-entry map pays 256
    comparisons per gram; the dense array is one O(1) index. Buckets
    the corpus never produced stay NULL — and are never looked up,
    because scoring only probes buckets of grams the fit also saw."""
    return model.agg(
        F.map_from_entries(F.collect_list(F.struct("bucket", val))).alias("m")
    ).select(
        F.transform(
            F.sequence(F.lit(0).cast("long"), F.lit(B - 1).cast("long")),
            lambda b: F.try_element_at(F.col("m"), b),
        ).alias(out)
    )


def arr_at(arr, bucket):
    """O(1) dense-array model lookup (1-based element_at)."""
    return F.element_at(arr, (bucket + 1).cast("int"))


SQL_NB_SCORES = f"""
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
    shape of ``plans/importance_sampling.py``; r20 rewrite)."""
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
    return dense_model_arr(lo, "lo_micro", "loarr")


def nb_scores(d: DataFrame) -> DataFrame:
    """(doc_id, lang, n_grams, score_micro, predicted_pos) of every
    document of ``d`` under the closed-form NB model fitted on ``d``.
    DuckDB twin: :data:`SQL_NB_SCORES`."""
    # Row-local scoring against the broadcast model array (the DSIR
    # ``_weights`` rewrite, same rationale): each document
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
    feat = hashed_features(d)
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
            lambda acc, b: acc + arr_at(F.col("loarr"), b),
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
