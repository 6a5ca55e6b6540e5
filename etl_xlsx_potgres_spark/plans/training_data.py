"""LLM training-data curation operators over the documents corpus.

The pieces a 100 TB pretraining pipeline needs between "raw corpus"
and "training shards", beyond dedup (dedup_fuzzy) and chunking
(chunking): deterministic splits, per-stratum sampling, train/test
contamination detection, PII masking (the privacy-preserving inverse
of the reference's CPF/phone cleaning, /root/reference/
etl_process.py:10-15), and source mixture weighting.

Portable determinism: all "randomness" is md5-hash bucketing — md5
yields identical lowercase hex on Spark and DuckDB, and fixed-length
hex prefixes compare lexicographically as uniform integers, so a
split/sample decided by ``substr(md5(key), 1, k) < threshold`` is
reproducible on any engine, any partitioning, any cluster size —
unlike ``rand(seed)``, which is partition-placement-dependent in
Spark. Weights/ratios use the fixed-point policy (functions.numeric).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..hints import constant_size
from ..operators.splits import SQL_SPLIT, with_split
from ..operators.text import hex_int, shingles_long, sql_hex_int, sql_shingles
from ..registry import register
from ..sources import load_table

# Deterministic train/val/test split: hash-bucket assignment that is
# stable under re-runs, repartitioning, and corpus growth (a doc's
# split never changes when other docs are added — unlike randomSplit).
@register(
    "split_train_val_test",
    oracle=f"""
    SELECT split, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
    FROM (SELECT doc_id, n_chars, {SQL_SPLIT} AS split FROM documents)
    GROUP BY split
    ORDER BY split
    """,
)
def split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = with_split(load_table(spark, sf_dir, "documents"))
    return (
        d.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("split")
    )


# Stratified sampling with per-language rates — deterministic twin of
# df.sampleBy: keep a doc iff its hash prefix clears the stratum's
# threshold. Map-side only: no shuffle until the audit aggregation.
_RATES = {"en": "8000", "fr": "4000", "de": "4000", "es": "2000", "zh": "2000"}
_RATE_SQL = " ".join(
    f"WHEN lang = '{lang}' THEN '{hi}'" for lang, hi in _RATES.items()
)


@register(
    "sample_stratified_by_lang",
    oracle=f"""
    SELECT lang, COUNT(*) AS n_sampled,
           CAST(SUM(n_chars) AS BIGINT) AS sampled_chars,
           MIN(doc_id) AS min_doc
    FROM documents
    WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)
          < (CASE {_RATE_SQL} ELSE '0000' END)
    GROUP BY lang
    ORDER BY lang
    """,
)
def sample_stratified_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    hi = F.coalesce(
        *[
            F.when(F.col("lang") == lang, F.lit(t))
            for lang, t in _RATES.items()
        ],
        F.lit("0000"),
    )
    pfx = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    return (
        d.filter(pfx < hi)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("n_chars").alias("sampled_chars"),
            F.min("doc_id").alias("min_doc"),
        )
        .orderBy("lang")
    )


# Deterministic uniform sample: global top-k by hash = an exact,
# engine-independent "random" k-subset (Spark executes as a TakeOrdered
# per partition + driver merge of k — no full sort, no full shuffle).
@register(
    "sample_uniform_hash_topk",
    oracle="""
    SELECT doc_id, lang, n_chars
    FROM documents
    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
    LIMIT 200
    """,
)
def sample_uniform_hash_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
        .select("doc_id", "lang", "n_chars")
        .limit(200)
    )


# Train/test contamination: test docs sharing at least one word 5-gram
# with any train doc — the standard benchmark-leakage check. The gram
# join is the same distinct-shingle equi-join shape as
# dedup_ngram_jaccard (shuffle on the gram, partial-agg'd), so it
# scales the same way; 5-grams keep the false-positive rate near zero.


@register(
    "contamination_train_test",
    oracle=f"""
    WITH tagged AS (SELECT doc_id, text, {SQL_SPLIT} AS split FROM documents),
    grams AS (
      SELECT doc_id, split, unnest(list_distinct({sql_shingles("text", 5)})) AS s
      FROM tagged WHERE split IN ('train', 'test')
    )
    SELECT te.doc_id AS test_doc,
           COUNT(DISTINCT tr.doc_id) AS n_train_docs,
           COUNT(DISTINCT te.s) AS n_shared_grams
    FROM grams te JOIN grams tr ON te.s = tr.s
    WHERE te.split = 'test' AND tr.split = 'train'
    GROUP BY te.doc_id
    ORDER BY test_doc
    """,
)
def contamination_train_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = with_split(load_table(spark, sf_dir, "documents")).filter(
        F.col("split").isin("train", "test")
    )
    grams = shingles_long(d, "text", 5).distinct()
    split = d.select("doc_id", "split")
    grams = grams.join(split, "doc_id")
    te = grams.filter(F.col("split") == "test").select(
        F.col("doc_id").alias("test_doc"), "s"
    )
    tr = grams.filter(F.col("split") == "train").select(
        F.col("doc_id").alias("train_doc"), "s"
    )
    return (
        te.join(tr, "s")
        .groupBy("test_doc")
        .agg(
            F.countDistinct("train_doc").alias("n_train_docs"),
            F.countDistinct("s").alias("n_shared_grams"),
        )
        .orderBy("test_doc")
    )


# PII masking: replace every digit run in the event payloads with a
# [NUM] placeholder — the privacy-preserving inverse of the reference's
# digits-only CPF/phone extraction (etl_process.py:10-15). Native
# regexp (ASCII \\d semantics on both engines), audited per event_type.
@register(
    "pii_mask_event_props",
    oracle="""
    SELECT event_type, COUNT(*) AS n_events,
           CAST(SUM(len(regexp_extract_all(props, '[0-9]+'))) AS BIGINT)
             AS total_masked,
           MIN(regexp_replace(props, '[0-9]+', '[NUM]', 'g')) AS sample_masked_min,
           MAX(regexp_replace(props, '[0-9]+', '[NUM]', 'g')) AS sample_masked_max
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def pii_mask_event_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    masked = F.regexp_replace(F.col("props"), "[0-9]+", "[NUM]")
    n = F.size(F.regexp_extract_all(F.col("props"), F.lit("([0-9]+)"), 0))
    return (
        e.select("event_type", masked.alias("m"), n.alias("n"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("n").cast("bigint").alias("total_masked"),
            F.min("m").alias("sample_masked_min"),
            F.max("m").alias("sample_masked_max"),
        )
        .orderBy("event_type")
    )


# Source mixture weights: sampling weight per source ∝ sqrt(doc count)
# (temperature-style upsampling of small sources), normalized with
# fixed-point sums so the ratio is engine-exact.
@register(
    "mixture_weights_by_source",
    oracle="""
    WITH counts AS (
      SELECT source, COUNT(*) AS n_docs,
             CAST(FLOOR(sqrt(COUNT(*))*10000) AS DECIMAL(38,0)) AS fsqrt
      FROM documents GROUP BY source)
    SELECT source, n_docs,
           CAST(fsqrt AS DOUBLE)
             / (SELECT CAST(SUM(fsqrt) AS DOUBLE) FROM counts) AS weight
    FROM counts
    ORDER BY source
    """,
)
def mixture_weights_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    counts = counts.withColumn(
        "fsqrt", F.floor(F.sqrt("n_docs") * 10000).cast("decimal(38,0)")
    )
    total = counts.agg(F.sum("fsqrt").cast("double").alias("tot"))
    return (
        counts.crossJoin(constant_size(total))
        .select(
            "source",
            "n_docs",
            (F.col("fsqrt").cast("double") / F.col("tot")).alias("weight"),
        )
        .orderBy("source")
    )


# Deterministic negative sampling for contrastive training: k
# pseudo-random negatives per anchor via the same md5-bucketing
# portability rule as the splits — the "random" pick is
# hex6(md5(anchor ':' j)) mod N, identical on any engine, any
# partitioning, any rerun. Self-collisions (negative == anchor) are
# filtered, which is also why samplers draw k+1 candidates in
# practice; here the row simply drops and the pair set stays
# deterministic. Scale shape: map-only expression over an exploded
# (anchor, j) frame — no join, no shuffle; the doc_id key space is
# contiguous by construction of the corpus (asserted by the oracle
# producing identical ids).
_NEG_K = 4


@register(
    "training_negative_samples",
    oracle=f"""
    WITH n AS (SELECT COUNT(*) AS n_docs FROM documents),
    anchors AS (
      SELECT doc_id, unnest(generate_series(0, {_NEG_K - 1})) AS j
      FROM documents
    )
    SELECT doc_id, j,
           {sql_hex_int("md5(CAST(doc_id AS VARCHAR) || ':' || CAST(j AS VARCHAR))")}
             % (SELECT n_docs FROM n) AS neg_id
    FROM anchors
    WHERE {sql_hex_int("md5(CAST(doc_id AS VARCHAR) || ':' || CAST(j AS VARCHAR))")}
             % (SELECT n_docs FROM n) <> doc_id
    """,
)
def training_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    n = d.count()
    anchors = d.select(
        "doc_id",
        F.explode(F.array(*[F.lit(j) for j in range(_NEG_K)])).alias("j"),
    )
    h = F.md5(
        F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("j").cast("string"))
    )
    neg = (hex_int(h) % n).alias("neg_id")
    return anchors.select("doc_id", "j", neg).filter(F.col("neg_id") != F.col("doc_id"))
