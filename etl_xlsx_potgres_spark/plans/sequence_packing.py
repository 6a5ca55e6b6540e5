"""Training-sequence packing — GPT-style contiguous token packing of
a document corpus into fixed-length sequences, with per-sequence
layout stats (document starts, boundary-crossing documents).

Every LLM pre-training run ends with this step: documents are
concatenated in a deterministically shuffled order and sliced into
fixed SEQ_LEN-token sequences; a document whose span straddles a
slice boundary "crosses" into the next sequence (attention masking /
loss bookkeeping downstream needs to know how often that happens and
how sequences fill). The layout is a pure function of (order, token
counts): position of a document = exclusive prefix sum of token
counts in corpus order.

The scale hazard is the prefix sum. ``sum() OVER (ORDER BY key)``
with no PARTITION BY collapses the whole corpus into ONE task — the
same single-partition window ``operators/ids.py`` designs out for
row_number. Here the distributed equivalent is built from the order
key itself, with no spark_partition_id dependence:

1. deterministic shuffle order: ``sortkey = md5(doc_id)`` (portable,
   uniform); bucket = first hex byte of the sortkey (256 ranges whose
   concatenation IS the global order, because the bucket is a prefix
   of the key — no sampling, no nondeterministic boundaries);
2. per-bucket running sum: window partitioned by bucket — bounded at
   ~N/256 rows per window partition, and the 256 buckets sum in
   parallel; at 100 TB widen the prefix (2 bytes -> 65 536 buckets)
   and the same plan holds;
3. bucket offsets: groupBy(bucket).sum — a 256-row frame — exclusive
   prefix via a broadcast triangular self-join (the ids.py offsets
   trick: 256^2 comparisons on the driver-sized frame, zero extra
   shuffle of data rows);
4. global doc start = bucket offset + in-bucket running sum - tok.

Sequence ids are then integer division: a doc starting at position p
with t tokens occupies sequences p div L .. (p+t-1) div L; it
"crosses" when those differ. One shuffle of (16-byte key, bigint)
pairs for the bucket window + one broadcast — the text itself never
moves. Output is one row per sequence that has at least one document
START (bounded by corpus_tokens / SEQ_LEN).

Reference lifecycle note: the reference (``etl_process.py:1-235``)
is a pandas->Postgres loader with no training-data stage; this is
north-star surface for the driver-mandated LLM-curation pack, next
to ``tokenizer_apply.py`` (encode) and ``training_data.py`` (splits).

Oracle: DuckDB computes the identical layout with a plain global
window cumsum (fine at oracle scale) over the same md5 order and
token counts — any drift in order, prefix sums, or the div/mod slice
arithmetic flips counts and ids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..hints import constant_size
from ..operators.text import sql_tokens, token_count
from ..registry import register
from ..sources import load_table

SEQ_LEN = 256


def packed_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document packed positions: (doc_id, tok, start_pos) in the
    deterministic md5 shuffle order, via the bucketed prefix sum."""
    return packed_layout_from(
        load_table(spark, sf_dir, "documents").select(
            "doc_id", token_count("text").cast("long").alias("tok")
        )
    )


def packed_layout_from(docs: DataFrame) -> DataFrame:
    """(doc_id, tok) -> (doc_id, tok, start_pos). Split from the
    table-reading wrapper so the property test can feed synthetic
    token counts (empty docs, docs spanning many sequences)."""
    spark = docs.sparkSession
    d = docs.withColumn(
        "sortkey", F.md5(F.col("doc_id").cast("string"))
    ).withColumn("bucket", F.substring("sortkey", 1, 2))
    # (2) in-bucket inclusive running sum — bounded window partitions
    w = (
        Window.partitionBy("bucket")
        .orderBy("sortkey", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = d.withColumn("run", F.sum("tok").over(w))
    # (3) exclusive prefix over the 256-row bucket totals. Totals come
    # from the WINDOWED frame (max of the inclusive running sum per
    # bucket), not from a fresh d.groupBy — the identical
    # Exchange+Sort+Window subtree is collapsed by AQE's runtime
    # ReuseExchange (verified on the executed plan), so the corpus is
    # scanned and tokenized exactly once. The triangular join's left
    # side is the LITERAL bucket universe (range(256) -> hex), not a
    # distinct over the data — the whole offsets branch touches zero
    # corpus bytes beyond the reused exchange.
    prior = local.groupBy("bucket").agg(F.max("run").alias("btok_lt"))
    universe = spark.range(256).select(
        F.lower(F.lpad(F.hex("id"), 2, "0")).alias("bucket")
    )
    offsets = (
        universe.join(
            constant_size(prior),
            prior["bucket"] < universe["bucket"],
            "left",
        )
        .groupBy(universe["bucket"])
        .agg(F.coalesce(F.sum("btok_lt"), F.lit(0)).alias("boff"))
    )
    # (4) global start position (0-based exclusive prefix sum)
    return local.join(constant_size(offsets), "bucket").select(
        "doc_id",
        "tok",
        (F.col("boff") + F.col("run") - F.col("tok")).alias("start_pos"),
    )


@register(
    "pack_sequences_stats",
    oracle=f"""
    WITH layout AS (
      SELECT doc_id, tok,
             CAST(sum(tok) OVER (
               ORDER BY md5(CAST(doc_id AS STRING)), doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) - tok AS BIGINT) AS start_pos
      FROM (SELECT doc_id, len({sql_tokens()}) AS tok FROM documents)
    )
    SELECT start_pos // {SEQ_LEN} AS seq_id,
           count(*) AS n_docs_start,
           CAST(sum(tok) AS BIGINT) AS tokens_started,
           CAST(sum(CASE WHEN tok > 0
                          AND (start_pos + tok - 1) // {SEQ_LEN}
                              > start_pos // {SEQ_LEN}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_crossing,
           CAST(min(start_pos) AS BIGINT) AS first_start
    FROM layout
    GROUP BY seq_id
    """,
)
def pack_sequences_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    lay = packed_layout(spark, sf_dir)
    seq = F.floor(F.col("start_pos") / SEQ_LEN).cast("long")
    crosses = (F.col("tok") > 0) & (
        F.floor((F.col("start_pos") + F.col("tok") - 1) / SEQ_LEN) > seq
    )
    return lay.groupBy(seq.alias("seq_id")).agg(
        F.count(F.lit(1)).alias("n_docs_start"),
        F.sum("tok").alias("tokens_started"),
        F.sum(crosses.cast("long")).alias("n_crossing"),
        F.min("start_pos").alias("first_start"),
    )
