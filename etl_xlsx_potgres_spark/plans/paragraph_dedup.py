"""CCNet-style paragraph-level exact dedup (Wenzek et al. 2020,
"CCNet: Extracting High Quality Monolingual Datasets from Web Crawl
Data", §3.1): web boilerplate ("subscribe to our newsletter",
copyright footers) repeats across MILLIONS of pages, so CCNet hashes
every PARAGRAPH and drops repeat occurrences corpus-wide, keeping
each paragraph's first occurrence — document-grain dedup
(``dedup_exact_documents``) cannot catch this because the documents
hosting the boilerplate differ.

Paragraph synthesis: both engines rebuild the SAME paginated document
as a pure function of (doc_id, text): tokens chunked into 16-token
paragraphs, with cross-document duplication SEEDED the way the web
actually duplicates — every ``doc_id % 6 = 0`` page carries the same
newsletter line as paragraph 1, and every ``doc_id % 9 = 0`` page
carries one of three copyright-footer families as paragraph 2.  Both
drop directions are non-vacuous at sf0.01 (the earliest occurrence of
each boilerplate survives; later ones drop; natural paragraphs all
survive).

Keep-first semantics: an occurrence survives iff its packed order key
``doc_id * 1000000 + idx`` is the minimum for its paragraph hash —
a total order both engines compute identically in exact bigint
(paragraph index is bounded far below 1e6).

Plan shape — the 100 TB story is what this module is for: paragraph
TEXT crosses the wire at most once.  The hash/first-occurrence pass
runs over a meta frame of (hash, packed-key) pairs only (one Exchange
on the hash); verdicts roll up to one small row per document (one
Exchange on doc_id); and the verdict array joins back to the paged
documents where the kept text is rebuilt ROW-LOCALLY from the kept
indices (``element_at`` over the in-row paragraph array).  A naive
formulation (window over exploded text, re-aggregate) shuffles the
full corpus text twice; this one shuffles integers and 32-byte
hashes, plus a single text-side join exchange when the verdict frame
outgrows broadcast.

The incremental variant (``dedup_incremental_paragraph``, below)
probes a bucketed paragraph-hash store of the history instead.

Reference lifecycle note: the reference ETL (etl_process.py:1-235)
dedups only whole rows by key (dropDuplicates on cpf_cnpj); paragraph
grain is north-star LLM-curation surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.stores import provision_store
from ..operators.text import sql_tokens, tokens
from ..registry import register
from ..sources import load_table

PARA_TOKENS = 16
_B1 = "subscribe to our newsletter for the latest updates"
_B2 = "all rights reserved by publisher family"

_SPARK_PARAS = (
    "CASE WHEN size(toks) >= 1 THEN "
    "transform(sequence(1, (size(toks) + 15) DIV 16), i -> "
    f"  CASE WHEN doc_id % 6 = 0 AND i = 1 THEN '{_B1}' "
    f"       WHEN doc_id % 9 = 0 AND i = 2 "
    f"         THEN concat('{_B2} ', CAST(doc_id % 3 AS STRING)) "
    "       ELSE array_join(slice(toks, (i - 1) * 16 + 1, 16), ' ') END) "
    "ELSE CAST(array() AS ARRAY<STRING>) END"
)

_DUCK_PARAS = (
    "list_transform(generate_series(1, (len(toks) + 15) // 16), i -> "
    f"  CASE WHEN doc_id % 6 = 0 AND i = 1 THEN '{_B1}' "
    f"       WHEN doc_id % 9 = 0 AND i = 2 "
    f"         THEN '{_B2} ' || CAST(doc_id % 3 AS VARCHAR) "
    "       ELSE array_to_string("
    "         list_slice(toks, (i - 1) * 16 + 1, i * 16), ' ') END)"
)


@register(
    "dedup_paragraph_ccnet",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, {sql_tokens()} AS toks FROM documents
    ),
    paged AS (
      SELECT doc_id, {_DUCK_PARAS} AS paras FROM base
    ),
    ex AS (
      SELECT doc_id, t.i AS idx, paras[t.i] AS para
      FROM paged, LATERAL unnest(generate_series(1, len(paras))) t(i)
    ),
    occ AS (
      SELECT doc_id, idx, para, md5(para) AS ph,
             doc_id * 1000000 + idx AS okey
      FROM ex
    ),
    verd AS (
      SELECT doc_id, idx, para,
             okey = MIN(okey) OVER (PARTITION BY ph) AS kept
      FROM occ
    )
    SELECT doc_id,
           COUNT(*) AS n_paras,
           CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS frac_kept,
           CAST(length(COALESCE(
             string_agg(para, chr(10) ORDER BY idx) FILTER (WHERE kept),
             '')) AS BIGINT) AS kept_chars,
           md5(COALESCE(
             string_agg(para, chr(10) ORDER BY idx) FILTER (WHERE kept),
             '')) AS kept_fp
    FROM verd
    GROUP BY doc_id
    """,
)
def dedup_paragraph_ccnet(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..caching import scoped_persist

    # ``paged`` feeds TWO consumers (the meta-only first-occurrence
    # pass and the text-side join); unpersisted, the tokenize+paginate
    # map runs twice (no ReusedExchange: column pruning specializes
    # each branch). Persist the paged frame once instead. At 100 TB
    # the same role is a staging checkpoint, per the curation
    # materialize policy.
    d = load_table(spark, sf_dir, "documents")
    paged = scoped_persist(
        d.select("doc_id", tokens("text").alias("toks"))
        .withColumn("paras", F.expr(_SPARK_PARAS))
        .select("doc_id", "paras")
    )

    # meta-only first-occurrence pass: text never enters this subtree
    occ = paged.select(
        "doc_id", F.posexplode("paras").alias("idx0", "para")
    ).select(
        "doc_id",
        (F.col("idx0") + 1).alias("idx"),
        F.md5("para").alias("ph"),
        (F.col("doc_id") * 1000000 + F.col("idx0") + 1).alias("okey"),
    )
    kept = occ.withColumn(
        "kept", F.col("okey") == F.min("okey").over(Window.partitionBy("ph"))
    )
    verdicts = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_paras"),
        F.sum(F.when(F.col("kept"), 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
        F.sort_array(
            F.collect_list(F.when(F.col("kept"), F.col("idx")))
        ).alias("kept_idxs"),
    )

    # one text-side join; kept text rebuilt row-locally from indices
    joined = paged.join(verdicts, "doc_id")
    kept_text = F.expr(
        "array_join(transform(kept_idxs, i -> element_at(paras, i)), chr(10))"
    )
    return joined.select(
        "doc_id",
        "n_paras",
        "n_kept",
        (F.col("n_kept").cast("double") / F.col("n_paras")).alias("frac_kept"),
        F.length(kept_text).cast("long").alias("kept_chars"),
        F.md5(kept_text).alias("kept_fp"),
    )


# Incremental paragraph-grain dedup — the store variant of
# ``dedup_paragraph_ccnet``, filling the last empty cell of the
# incremental matrix (exact / MinHash / SimHash / n-gram / semantic all
# have bucketed-history stores; CCNet's actual deployment is
# INCREMENTAL at exactly this grain: each new crawl snapshot dedups its
# paragraphs against the accumulated history shards).
#
# Store design — the denormalized-count lesson from the n-gram store,
# applied where it matters most: boilerplate paragraphs are the HOT
# keys of the web (one newsletter line appears on millions of pages),
# so a store holding one row per history OCCURRENCE would make every
# probe join fan out by the hot key's multiplicity.  The store instead
# holds one row per DISTINCT paragraph hash with its occurrence count
# (``(phash, n_hist)``, bucketed on the 16-byte ``unhex(md5)`` key):
# the once-paid write-time aggregate absorbs the skew, probe joins are
# 1:<=1 by construction, and the batch still reports how much history
# mass each paragraph collides with.
#
# Probe shape (the ``dedup_incremental`` promise, plan-asserted in
# ``tests/test_dedup_incremental_more.py``): the new batch explodes to
# (doc_id, idx, phash) META rows — paragraph text never moves — and
# shuffles only ITSELF into the store's bucketing; the history scan
# reads its buckets in place with no Exchange above it.  Per new doc:
# paragraph count, history-duplicated count, collided history mass,
# exact dup fraction, and the pure-new keep verdict.
#
# Fixture split: history = ``doc_id % 10 != 0``, batch = the rest (the
# ``dedup_incremental`` convention); the paragraph synthesis above
# seeds cross-document boilerplate on ``% 6`` / ``% 9`` residues, so
# batch docs collide with history boilerplate while natural paragraphs
# stay new — both verdict directions fire at sf0.01.
#
# Reference lifecycle note: the reference dedups whole rows per load
# (etl_process.py:213); paragraph-grain incremental hygiene is
# north-star web-corpus machinery.
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
    return provision_store(spark, sf_dir, "para", frame, "phash")


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
