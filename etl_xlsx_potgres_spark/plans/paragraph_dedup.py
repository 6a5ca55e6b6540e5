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

Reference lifecycle note: the reference ETL (etl_process.py:1-235)
dedups only whole rows by key (dropDuplicates on cpf_cnpj); paragraph
grain is north-star LLM-curation surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import register
from ..sources import load_table
from .importance_sampling import _DUCK_TOKS, _SPARK_TOKS

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
      SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
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
        d.select("doc_id", F.expr(_SPARK_TOKS).alias("toks"))
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
