"""GPT-3-style 13-gram decontamination at TRAIN-doc grain (Brown et
al. 2020, Appendix C: training documents sharing a 13-gram with any
benchmark example are scrubbed).  The existing
``contamination_train_test`` answers the EVAL-side question ("which
test docs leak?") at 5-gram grain; this operator answers the
TRAIN-side question a curation run actually executes — for every
training document, how many of its 13-grams collide with the
benchmark suite, and does the document get scrubbed.

Benchmark synthesis: every 16th document donates an eval example — a
21-token window starting at token 5 of its own stream (so benchmark
text genuinely overlaps the corpus: the donor and any of its near-dup
siblings are contaminated by construction, while donors shorter than
17 tokens contribute no 13-gram, keeping the clean path non-vacuous
in BOTH directions at sf0.01).

Plan shape: the train side explodes into (doc_id, md5(13-gram)) META
rows — 32-byte fingerprints, never the text; the benchmark gram set
is a distinct aggregate left to the planner (it scales with the
corpus here, 1/16 of documents — at a real 100 TB run the benchmark
suite is a CONSTANT few MB and always broadcasts).
One left join against the set, one per-doc rollup, one join back to
the zero-gram base docs.  The gram explode is the same
distinct-shingle equi-join discipline as ``dedup_ngram_jaccard``:
shuffle keys are hashes, partial aggregation applies, and skew is
impossible because 13-grams are near-unique by construction.

Determinism: counts are exact bigint; ``dirty_frac`` is one exact
division (NULL for gram-less docs on both engines).

Reference lifecycle note: the reference (etl_process.py:1-235) has no
corpus stage; this is the benchmark-hygiene gate every published LLM
run documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.text import sql_tokens, tokens
from ..registry import register
from ..sources import load_table

GRAM_N = 13
EVAL_START = 5   # benchmark window: tokens 5..25 of every 16th doc
EVAL_LEN = 21


def _spark_grams(arr: str) -> str:
    return (
        f"CASE WHEN size({arr}) >= {GRAM_N} THEN "
        f"transform(sequence(1, size({arr}) - {GRAM_N - 1}), "
        f"i -> md5(array_join(slice({arr}, i, {GRAM_N}), ' '))) "
        f"ELSE CAST(array() AS ARRAY<STRING>) END"
    )


def _duck_grams(arr: str) -> str:
    return (
        f"CASE WHEN len({arr}) >= {GRAM_N} THEN "
        f"list_transform(generate_series(1, len({arr}) - {GRAM_N - 1}), "
        f"i -> md5(array_to_string(list_slice({arr}, i, i + {GRAM_N - 1}), ' '))) "
        f"ELSE [] END"
    )


@register(
    "contamination_ngram13",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, {sql_tokens()} AS toks FROM documents
    ),
    tg AS (
      SELECT doc_id, unnest({_duck_grams('toks')}) AS g FROM base
    ),
    ev AS (
      SELECT DISTINCT unnest({_duck_grams(
        f'list_slice(toks, {EVAL_START}, {EVAL_START + EVAL_LEN - 1})'
      )}) AS g
      FROM base WHERE doc_id % 16 = 0
    ),
    roll AS (
      SELECT t.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_grams,
             CAST(SUM(CASE WHEN e.g IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_dirty
      FROM tg t LEFT JOIN ev e ON t.g = e.g
      GROUP BY t.doc_id
    )
    SELECT b.doc_id,
           COALESCE(r.n_grams, 0) AS n_grams,
           COALESCE(r.n_dirty, 0) AS n_dirty,
           CASE WHEN COALESCE(r.n_grams, 0) > 0
                THEN CAST(r.n_dirty AS DOUBLE) / r.n_grams END AS dirty_frac,
           COALESCE(r.n_dirty, 0) > 0 AS contaminated
    FROM base b LEFT JOIN roll r ON b.doc_id = r.doc_id
    """,
)
def contamination_ngram13(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("toks")
    )
    tg = base.select(
        "doc_id", F.explode(F.expr(_spark_grams("toks"))).alias("g")
    )
    ev = (
        base.filter(F.col("doc_id") % 16 == 0)
        .select(
            F.explode(
                F.expr(
                    _spark_grams(f"slice(toks, {EVAL_START}, {EVAL_LEN})")
                )
            ).alias("g")
        )
        .distinct()
        .withColumn("hit", F.lit(True))
    )
    roll = (
        tg.join(ev, "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("hit"), 1).otherwise(0))
            .cast("long")
            .alias("n_dirty"),
        )
    )
    return base.join(roll, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
        F.coalesce("n_dirty", F.lit(0)).alias("n_dirty"),
        F.when(
            F.coalesce("n_grams", F.lit(0)) > 0,
            F.col("n_dirty").cast("double") / F.col("n_grams"),
        ).alias("dirty_frac"),
        (F.coalesce("n_dirty", F.lit(0)) > 0).alias("contaminated"),
    )
