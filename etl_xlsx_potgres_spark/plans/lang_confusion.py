"""Language-ID confusion matrix — the accuracy audit for BOTH
identifiers (the same discipline as ``quality_nb_confusion`` for the
NB gate, ``ann_recall_eval`` for the IVF index, and
``dedup_minhash_calibration`` for the signature screen: every
classifier in the curation path ships with its confusion rollup,
because a curation run routes documents BY predicted language and a
silent identifier regression poisons every per-language stage
downstream — CCNet's pipeline is language-keyed from the first
split).

Two methods, one hash-checked matrix (r18, VERDICT r17 task 5):

- ``marker``: the registered ``text_lang_id`` cascade verbatim (six
  marker words per language + CJK check + tiebreak order).
- ``trigram``: a character-n-gram PROFILE classifier trained
  in-query (Cavnar & Trenkle 1994's word-padded char trigrams, made
  discriminative): per (lang, trigram) occurrence rates over the
  localized corpus, gated to EXCLUSIVE trigrams — rate > 4x the sum
  of every other language's rate — and capped at the top
  {M_PROFILE} per language by rate, so the model is a constant-size
  broadcast (<= 5 x {M_PROFILE} rows) at any corpus scale.  A
  document's prediction is the argmax of summed exclusive-trigram
  weights (map-side-partial ``min(struct)``, en-first then
  alphabetical tie-break); documents with NO exclusive evidence back
  off to the marker cascade.  The exclusivity gate is what makes the
  profile dominate: shared-vocabulary trigrams and the deliberate
  collision words ('des', 'la', 'de') contribute nothing, so a
  cascade-confusable document (fr text whose c_es >= c_fr) is
  recovered whenever it carries one exclusive marker — measured
  diagonal at sf0.1: fr 736 vs the cascade's 712, es 744 vs 735,
  de 699 vs 695, en/zh equal — and the backoff makes dominance
  structural (the exclusive tier never overrode a correct cascade
  verdict on any fixture SF; pinned per-label in
  tests/test_r17_properties.py).

Rates are exact integer micro-fractions (``n * 1e6 DIV label_total``
— non-negative, so DuckDB ``//`` truncation == Spark ``DIV``), and
the whole trigram model is integer arithmetic end-to-end; no float
enters the pair.

Plan shape: the localized corpus is persisted once and feeds the
cascade plus two map-only trigram explodes (training aggregate and
scoring join — re-exploding from the cache measures cheaper than
caching the exploded rows); the distinctiveness window is partitioned
by trigram (vocab-sized, never global), the model join is a
constant-size broadcast, and the confusion rollup adds one
(method, label, predicted) aggregate (<= 50-cell frame at any corpus
size) plus a label-total window over that constant frame.

r16 history: this audit originally exposed a DEGENERATE identifier —
the raw synthetic text carries no marker words, so every document
fell through the cascade to 'en' (recall 1.0 for en, 0.0 elsewhere).
r17 made the fixture non-trivial via the deterministic in-query
localization in ``text_analysis`` (label-seeded marker injection with
genuine cross-language collisions); r18 added the trained profile
path above.

Reference lifecycle note: the reference (etl_process.py:1-235) has no
classifier surface; identifier auditing is north-star curation
machinery.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..caching import scoped_persist
from ..registry import ORACLES, register
from ..sources import load_table
from . import text_analysis  # noqa: F401  (registers text_lang_id first)
from .text_analysis import _DUCK_LOC_DOCS, _localized_text_col, text_lang_id

M_PROFILE = 64   # profile trigrams kept per language (constant-size model)
EXCL_NUM = 4     # exclusivity gate: rate > EXCL_NUM * sum(other langs)

# word-padded character trigrams (Cavnar-Trenkle padding concentrates
# word-boundary signal: the 1-char CJK markers become one canonical
# ' x ' trigram instead of arbitrary sliding contexts)
_TRI_SPARK = """flatten(transform(
    filter(split(trim(lower(text)), '\\\\s+'), w -> w != ''),
    w -> transform(sequence(1, char_length(w)),
                   i -> substring(concat(' ', w, ' '), i, 3))))"""

_TRI_DUCK = """flatten(list_transform(
    list_filter(string_split_regex(trim(lower(text)), '\\s+'), w -> w <> ''),
    w -> list_transform(generate_series(1, length(w)),
                        i -> substr(' ' || w || ' ', i, 3))))"""

# the trigram-side CTE chain over the localized corpus (loc), shared
# structure with the Spark twin below
_TRI_ORACLE_CTES = f"""
tri AS (
  SELECT doc_id, lang, unnest({_TRI_DUCK}) AS t FROM loc
),
cnt AS (SELECT lang, t, COUNT(*) AS c FROM tri GROUP BY 1, 2),
tot AS (SELECT lang, SUM(c) AS tc FROM cnt GROUP BY 1),
rates AS (
  SELECT cnt.lang, t, CAST(c * 1000000 // tc AS BIGINT) AS rate
  FROM cnt JOIN tot ON tot.lang = cnt.lang
),
spread AS (
  SELECT lang, t, rate,
         CAST(SUM(rate) OVER (PARTITION BY t) AS BIGINT) - rate
           AS others_sum
  FROM rates
),
model1 AS (
  SELECT lang AS mlang, t, rate AS w FROM (
    SELECT lang, t, rate,
           row_number() OVER (PARTITION BY lang
                              ORDER BY rate DESC, t) AS rk
    FROM spread WHERE rate > {EXCL_NUM} * others_sum)
  WHERE rk <= {M_PROFILE}
),
s1 AS (
  SELECT tri.doc_id, m.mlang, SUM(m.w) AS score
  FROM tri JOIN model1 m ON m.t = tri.t
  GROUP BY 1, 2
),
p1 AS (
  SELECT doc_id, mlang AS predicted FROM (
    SELECT doc_id, mlang,
           row_number() OVER (PARTITION BY doc_id
             ORDER BY score DESC, (mlang = 'en') DESC, mlang) AS rn
    FROM s1) WHERE rn = 1
)"""


def _trigram_pred(loc: DataFrame) -> DataFrame:
    """(doc_id, tri_pred) for documents with exclusive-trigram
    evidence; NULL-absent otherwise (callers coalesce with the
    cascade).  ``loc`` is (doc_id, lang, text=localized).  The lang
    column is used for TRAINING only (profile rates); the per-doc
    prediction is a pure function of text + the broadcast model."""
    # NOT persisted (measured at sf0.1): caching the exploded
    # trigram rows costs more than re-running the map-only explode
    # off the cached localized corpus once per consumer (5.1s with
    # recompute vs 6.6s with the cache — columnar-caching ~5 string
    # rows per token loses to codegen)
    tri = loc.select(
        "doc_id", "lang", F.explode(F.expr(_TRI_SPARK)).alias("t")
    )
    cnt = tri.groupBy("lang", "t").agg(F.count(F.lit(1)).alias("c"))
    tot = cnt.groupBy("lang").agg(F.sum("c").alias("tc"))
    rates = cnt.join(F.broadcast(tot), "lang").select(
        "lang", "t", F.expr("CAST(c * 1000000 DIV tc AS BIGINT)").alias("rate")
    )
    w_t = Window.partitionBy("t")
    spread = rates.withColumn(
        "others_sum",
        F.sum("rate").over(w_t).cast("long") - F.col("rate"),
    )
    w_lang = Window.partitionBy("lang").orderBy(F.desc("rate"), "t")
    tri_profile_model = (
        spread.filter(F.col("rate") > EXCL_NUM * F.col("others_sum"))
        .withColumn("rk", F.row_number().over(w_lang))
        .filter(F.col("rk") <= M_PROFILE)
        .select(F.col("lang").alias("mlang"), "t", F.col("rate").alias("w"))
    )
    scores = (
        tri.select("doc_id", "t")
        .join(F.broadcast(tri_profile_model), "t")
        .groupBy("doc_id", "mlang")
        .agg(F.sum("w").alias("score"))
    )
    # argmax(score) with (en-first, alphabetical) tie-break as a
    # map-side-partial min(struct) — no per-doc window
    pick = F.struct(
        (-F.col("score")).alias("ns"),
        (F.col("mlang") != "en").alias("not_en"),
        F.col("mlang").alias("l"),
    )
    return (
        scores.select("doc_id", pick.alias("p"))
        .groupBy("doc_id")
        .agg(F.min("p").alias("m"))
        .select("doc_id", F.col("m.l").alias("tri_pred"))
    )


@register(
    "text_lang_confusion",
    oracle=f"""
    WITH casc AS ({ORACLES["text_lang_id"]}),
    {_DUCK_LOC_DOCS},
    {_TRI_ORACLE_CTES},
    preds AS (
      SELECT doc_id, labeled_lang, predicted_lang, 'marker' AS method
      FROM casc
      UNION ALL
      SELECT c.doc_id, c.labeled_lang,
             COALESCE(p1.predicted, c.predicted_lang) AS predicted_lang,
             'trigram' AS method
      FROM casc c LEFT JOIN p1 ON p1.doc_id = c.doc_id
    ),
    cells AS (
      SELECT method, labeled_lang, predicted_lang,
             CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM preds GROUP BY 1, 2, 3
    )
    SELECT method, labeled_lang, predicted_lang, n_docs,
           CAST(SUM(n_docs) OVER (PARTITION BY method, labeled_lang)
                AS BIGINT) AS label_total,
           CAST(n_docs * 1000000
                // SUM(n_docs) OVER (PARTITION BY method, labeled_lang)
                AS BIGINT) AS rate_micro,
           labeled_lang = predicted_lang AS is_correct
    FROM cells
    """,
)
def text_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    # persisted: both union legs consume the cascade, so unpersisted
    # its localized-corpus scan + marker evaluation runs twice. Slim
    # 3-column doc-grain frame.
    casc = scoped_persist(
        text_lang_id(spark, sf_dir).select(
            "doc_id", "labeled_lang", "predicted_lang"
        )
    )
    # ONE materialization of the localized corpus feeds the cascade's
    # twin (already inside text_lang_id), the trigram training pass
    # and the scoring pass
    loc = scoped_persist(
        load_table(spark, sf_dir, "documents").select(
            "doc_id", "lang", _localized_text_col().alias("text")
        )
    )
    tri_pred = _trigram_pred(loc)
    preds = casc.withColumn("method", F.lit("marker")).unionByName(
        casc.join(tri_pred, "doc_id", "left")
        .select(
            "doc_id",
            "labeled_lang",
            F.coalesce("tri_pred", "predicted_lang").alias("predicted_lang"),
        )
        .withColumn("method", F.lit("trigram"))
    )
    cells = preds.groupBy("method", "labeled_lang", "predicted_lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    w = Window.partitionBy("method", "labeled_lang")
    return cells.select(
        "method",
        "labeled_lang",
        "predicted_lang",
        "n_docs",
        F.sum("n_docs").over(w).cast("long").alias("label_total"),
        F.expr(
            "CAST(n_docs * 1000000 DIV SUM(n_docs)"
            " OVER (PARTITION BY method, labeled_lang) AS BIGINT)"
        ).alias("rate_micro"),
        (F.col("labeled_lang") == F.col("predicted_lang")).alias(
            "is_correct"
        ),
    )
