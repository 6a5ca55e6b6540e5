"""Tokenizer APPLICATION — the encode step that turns a curated
corpus into training-ready id sequences (the stage after vocabulary
learning: ``text_vocabulary`` ranks terms, ``text_bpe_pair_counts``
learns merges; this query maps every document to its id sequence
against the learned top-K vocabulary, OOV -> 0).

Reference lifecycle note: the reference engine has no tokenizer
stage (``etl_process.py:1-235``); this is north-star surface for the
driver-mandated LLM-curation pack.

Plan shape for 100 TB: ONE tokenize pass (the positional token frame
is persisted and feeds both vocabulary ranking and the encode join —
the single-shuffle-reuse discipline from ``corpus_ops``), the vocab
is a CONSTANT-K frame joined with an explicit broadcast, and the
sequence rebuild is a per-document sort_array over that document's
own tokens (state bounded by document length, the
``udaf_price_trend`` contract). The id sequence is emitted as an
order-sensitive md5 digest plus count/boundary columns — the digest
pins the EXACT sequence (any reorder, drop, or wrong id flips it)
while keeping the compared schema scalar.

Oracle: DuckDB re-learns the identical vocabulary (same total order:
count desc, term asc) and re-encodes via list indexing; digests must
agree byte-for-byte.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import scoped_persist
from ..operators.text import tokens
from ..registry import register
from ..sources import load_table

VOCAB_K = 500

_DUCK_TOKENS = (
    "list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '')"
)


@register(
    "text_encode_ids",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, toks[p] AS term, p AS pos
      FROM (SELECT doc_id, {_DUCK_TOKENS} AS toks FROM documents),
           LATERAL unnest(generate_series(1, len(toks))) t(p)
    ),
    vocab AS (
      SELECT term, CAST(row_number() OVER (ORDER BY cnt DESC, term)
                        AS BIGINT) AS token_id
      FROM (SELECT term, COUNT(*) AS cnt FROM toks GROUP BY term)
      QUALIFY row_number() OVER (ORDER BY cnt DESC, term) <= {VOCAB_K}
    ),
    enc AS (
      SELECT t.doc_id, t.pos, COALESCE(v.token_id, 0) AS token_id
      FROM toks t LEFT JOIN vocab v ON t.term = v.term
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN token_id = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov,
           md5(array_to_string(
                 list(CAST(token_id AS STRING) ORDER BY pos), ','))
             AS ids_digest,
           MIN(CASE WHEN pos = 1 THEN token_id END) AS first_id
    FROM enc
    GROUP BY doc_id
    """,
)
def text_encode_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = scoped_persist(
        d.select(
            "doc_id", F.posexplode(tokens("text")).alias("pos0", "term")
        )
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "term")
    )  # one tokenize pass feeds vocab AND encode
    from ..operators.ids import global_row_number

    # bounded top-K (TakeOrderedAndProject) + range-partitioned row
    # numbering — never a single-partition window over the whole vocab
    vtop = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("term"))
        .limit(VOCAB_K)
    )
    vocab = global_row_number(
        vtop, [F.desc("cnt"), F.asc("term")], "token_id"
    ).select("term", F.col("token_id").cast("long").alias("token_id"))
    enc = toks.join(F.broadcast(vocab), "term", "left").select(
        "doc_id", "pos", F.coalesce("token_id", F.lit(0)).alias("token_id")
    )
    return enc.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum((F.col("token_id") == 0).cast("long")).alias("n_oov"),
        F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("pos", "token_id"))
                    ),
                    lambda s: s.token_id.cast("string"),
                ),
            )
        ).alias("ids_digest"),
        F.min(F.when(F.col("pos") == 1, F.col("token_id"))).alias("first_id"),
    )
