"""Incremental paragraph-grain dedup — the store variant of
``dedup_paragraph_ccnet``, filling the last empty cell of the
incremental matrix (exact / MinHash / SimHash / n-gram / semantic all
have bucketed-history stores; CCNet's actual deployment is
INCREMENTAL at exactly this grain: each new crawl snapshot dedups its
paragraphs against the accumulated history shards).

Store design — the denormalized-count lesson from the n-gram store,
applied where it matters most: boilerplate paragraphs are the HOT
keys of the web (one newsletter line appears on millions of pages),
so a store holding one row per history OCCURRENCE would make every
probe join fan out by the hot key's multiplicity.  The store instead
holds one row per DISTINCT paragraph hash with its occurrence count
(``(phash, n_hist)``, bucketed on the 16-byte ``unhex(md5)`` key):
the once-paid write-time aggregate absorbs the skew, probe joins are
1:<=1 by construction, and the batch still reports how much history
mass each paragraph collides with.

Probe shape (the ``dedup_incremental`` promise, plan-asserted in
``tests/test_dedup_incremental_more.py``): the new batch explodes to
(doc_id, idx, phash) META rows — paragraph text never moves — and
shuffles only ITSELF into the store's bucketing; the history scan
reads its buckets in place with no Exchange above it.  Per new doc:
paragraph count, history-duplicated count, collided history mass,
exact dup fraction, and the pure-new keep verdict.

Fixture split: history = ``doc_id % 10 != 0``, batch = the rest (the
``dedup_incremental`` convention); the ``paragraph_dedup`` synthesis
seeds cross-document boilerplate on ``% 6`` / ``% 9`` residues, so
batch docs collide with history boilerplate while natural paragraphs
stay new — both verdict directions fire at sf0.01.

Reference lifecycle note: the reference dedups whole rows per load
(etl_process.py:213); paragraph-grain incremental hygiene is
north-star web-corpus machinery.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.text import sql_tokens, tokens
from ..registry import register
from ..sources import load_table
from .dedup_incremental_more import _provision
from .paragraph_dedup import _DUCK_PARAS, _SPARK_PARAS


def _paged(d: DataFrame) -> DataFrame:
    return (
        d.select("doc_id", tokens("text").alias("toks"))
        .withColumn("paras", F.expr(_SPARK_PARAS))
        .select("doc_id", "paras")
    )


def _provision_para_store(spark: SparkSession, sf_dir: str) -> str:
    hist = _paged(
        load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 != 0)
    )
    frame = (
        hist.select(F.explode("paras").alias("para"))
        .select(F.unhex(F.md5("para")).alias("phash"))
        .groupBy("phash")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hist"))
    )
    return _provision(spark, sf_dir, "para", frame, "phash")


_ORACLE = f"""
WITH hbase AS (
  SELECT doc_id, {sql_tokens()} AS toks FROM documents WHERE doc_id % 10 <> 0
),
hpaged AS (SELECT doc_id, {_DUCK_PARAS} AS paras FROM hbase),
hp AS (
  SELECT md5(p.para) AS ph, CAST(COUNT(*) AS BIGINT) AS n_hist
  FROM (SELECT unnest(paras) AS para FROM hpaged) p
  GROUP BY 1
),
nbase AS (
  SELECT doc_id, {sql_tokens()} AS toks FROM documents WHERE doc_id % 10 = 0
),
npaged AS (SELECT doc_id, {_DUCK_PARAS} AS paras FROM nbase),
bp AS (
  SELECT doc_id, md5(paras[t.i]) AS ph
  FROM npaged, LATERAL unnest(generate_series(1, len(paras))) t(i)
),
per AS (
  SELECT bp.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_paras,
         CAST(SUM(CASE WHEN hp.ph IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_dup_paras,
         CAST(SUM(COALESCE(hp.n_hist, 0)) AS BIGINT) AS hist_mass
  FROM bp LEFT JOIN hp ON bp.ph = hp.ph
  GROUP BY bp.doc_id
)
SELECT doc_id, n_paras, n_dup_paras, hist_mass,
       CAST(n_dup_paras AS DOUBLE) / n_paras AS frac_dup,
       n_dup_paras = 0 AS keep
FROM per
"""


@register("dedup_incremental_paragraph", oracle=_ORACLE)
def dedup_incremental_paragraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    store = _provision_para_store(spark, sf_dir)
    hist = spark.table(store)
    batch = _paged(
        load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    )
    probes = batch.select(
        "doc_id", F.explode("paras").alias("para")
    ).select("doc_id", F.unhex(F.md5("para")).alias("phash"))
    per = (
        probes.join(hist, "phash", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_paras"),
            F.sum(F.when(F.col("n_hist").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_dup_paras"),
            F.sum(F.coalesce("n_hist", F.lit(0)))
            .cast("long")
            .alias("hist_mass"),
        )
    )
    return per.select(
        "doc_id",
        "n_paras",
        "n_dup_paras",
        "hist_mass",
        (F.col("n_dup_paras").cast("double") / F.col("n_paras")).alias(
            "frac_dup"
        ),
        (F.col("n_dup_paras") == 0).alias("keep"),
    )
