"""Mergeable Bloom-filter membership — the constant-size "have we
seen this fingerprint before" structure every incremental ingest
pipeline keeps (Bloom 1970; Broder & Mitzenmacher's survey covers the
web-crawl usage; Spark itself ships the idea as
``DataFrameStatFunctions.bloomFilter`` and the runtime-filter
rewrite).  Unlike the exact band-store of ``dedup_incremental_*``,
the Bloom filter answers membership in O(1) space: per-partition
partial filters OR together into one corpus filter (bit_or is the
mergeable-sketch monoid, exactly like the HLL/KLL/theta family), so
at 100 TB the build is ONE map-side-combined aggregate down to a
fixed 16x32-bit frame and the probe side touches only that broadcast.

Key universe: re-crawl fingerprints are synthesized deterministically
(corpus pages carry key ``page-(doc_id % 150)``, the held-out batch
``page-((doc_id DIV 10) * 7 % 509)``), so batch-vs-corpus overlap,
genuinely-new keys, and repeat keys inside the corpus all exist at
every SF.  The filter is DELIBERATELY undersized (m = 512 bits,
k = 4) so the false-positive path is non-vacuous at sf0.01 —
production sizing (m = -n·ln p / ln²2) is a parameter, not a design
change.  The no-false-NEGATIVE invariant is emitted as a column
(``fn_violation``, constant false) so the driver hash-checks it on
every row.

Hashing parity: bit positions derive from md5 hex — 3 nibbles decoded
via ``instr('0123456789abcdef', ...)`` arithmetic (both engines lack
a shared hex->int cast; instr-decode is exact) — 4096 values folded
by % 512 (an exact divisor: unbiased).  Bit masks pack 32 bits
per bigint word (DuckDB raises on ``1 << 63``; 32-bit packing keeps
every mask positive and the ``bit_or``/``&`` arithmetic identical on
both engines).

Plan shape: build = explode 4 (word, mask) pairs per corpus row ->
16-group ``bit_or`` aggregate (one Exchange, map-side combined).
Probe = batch explodes its pairs, joins the 16-row filter broadcast,
rolls up ``bool_and`` per doc (one Exchange), and the exact-membership
check joins the distinct corpus-key frame (one aggregate Exchange +
broadcast).  Raw text never moves; everything that shuffles is a
fingerprint or smaller.

Reference lifecycle note: the reference dedups with an in-memory
pandas ``dropDuplicates`` per load (etl_process.py:213) and re-reads
the whole table to decide inserts; a Bloom pre-filter is the
constant-memory scale path for that exact insert-if-absent decision.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..hints import constant_size
from ..registry import register
from ..sources import load_table

M_BITS = 512          # deliberately small: FP path must fire at sf0.01
N_WORDS = M_BITS // 32
K_HASHES = 4

_SPARK_KEY = (
    "CASE WHEN doc_id % 10 = 0 "
    "THEN 'page-' || CAST((doc_id DIV 10) * 7 % 509 AS STRING) "
    "ELSE 'page-' || CAST(doc_id % 150 AS STRING) END"
)
_DUCK_KEY = _SPARK_KEY.replace("doc_id DIV 10", "doc_id // 10").replace(
    "AS STRING", "AS VARCHAR"
)


def _pos_expr(md5h: str) -> str:
    """Bit position 0..M_BITS-1 from the first 3 hex nibbles of
    ``md5h`` — identical text works on both engines (instr/substr
    share semantics)."""
    hv = "(instr('0123456789abcdef', substr({h}, {p}, 1)) - 1)"
    return (
        f"(256 * {hv.format(h=md5h, p=1)}"
        f" + 16 * {hv.format(h=md5h, p=2)}"
        f" + {hv.format(h=md5h, p=3)}) % {M_BITS}"
    )


_SPARK_MD5 = "md5(CAST(i AS STRING) || '|' || k)"
_DUCK_MD5 = "md5(CAST(i AS VARCHAR) || '|' || k)"


@register(
    "dedup_bloom_mergeable",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, {_DUCK_KEY} AS k FROM documents
    ),
    corpus AS (SELECT k FROM keyed WHERE doc_id % 10 <> 0),
    batch  AS (SELECT doc_id, k FROM keyed WHERE doc_id % 10 = 0),
    ins AS (
      SELECT {_pos_expr(_DUCK_MD5)} AS pos
      FROM corpus, LATERAL unnest(generate_series(0, {K_HASHES - 1})) t(i)
    ),
    bloom AS (
      SELECT pos // 32 AS word,
             bit_or(CAST(1 AS BIGINT) << (pos % 32)) AS w
      FROM ins GROUP BY 1
    ),
    probes AS (
      SELECT doc_id, {_pos_expr(_DUCK_MD5)} AS pos
      FROM batch, LATERAL unnest(generate_series(0, {K_HASHES - 1})) t(i)
    ),
    hits AS (
      SELECT p.doc_id,
             bool_and(COALESCE(
               (b.w & (CAST(1 AS BIGINT) << (p.pos % 32)))
                 = (CAST(1 AS BIGINT) << (p.pos % 32)), FALSE)) AS bloom_hit
      FROM probes p LEFT JOIN bloom b ON p.pos // 32 = b.word
      GROUP BY p.doc_id
    ),
    exact AS (
      SELECT b.doc_id, EXISTS (
        SELECT 1 FROM (SELECT DISTINCT k FROM corpus) c WHERE c.k = b.k
      ) AS exact_hit
      FROM batch b
    )
    SELECT h.doc_id, h.bloom_hit, e.exact_hit,
           CASE WHEN h.bloom_hit AND e.exact_hit THEN 'dup'
                WHEN h.bloom_hit THEN 'false_positive'
                ELSE 'new' END AS verdict,
           e.exact_hit AND NOT h.bloom_hit AS fn_violation
    FROM hits h JOIN exact e ON h.doc_id = e.doc_id
    """,
)
def dedup_bloom_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_SPARK_KEY).alias("k")
    )
    corpus = d.filter(F.col("doc_id") % 10 != 0).select("k")
    batch = d.filter(F.col("doc_id") % 10 == 0)

    idx = F.explode(F.sequence(F.lit(0), F.lit(K_HASHES - 1))).alias("i")
    pos = F.expr(_pos_expr(_SPARK_MD5)).alias("pos")

    bloom = (
        corpus.select("k", idx)
        .select(pos)
        .select(
            (F.col("pos") / 32).cast("int").alias("word"),
            F.expr("shiftleft(CAST(1 AS BIGINT), pos % 32)").alias("mask"),
        )
        .groupBy("word")
        .agg(F.expr("bit_or(mask)").alias("w"))
    )

    probes = (
        batch.select("doc_id", "k", idx)
        .select("doc_id", pos)
        .select(
            "doc_id",
            (F.col("pos") / 32).cast("int").alias("word"),
            F.expr("shiftleft(CAST(1 AS BIGINT), pos % 32)").alias("mask"),
        )
    )
    hits = (
        probes.join(constant_size(bloom), "word", "left")
        .withColumn(
            "bit_hit",
            F.coalesce(
                (F.col("w").bitwiseAND(F.col("mask")) == F.col("mask")),
                F.lit(False),
            ),
        )
        .groupBy("doc_id")
        .agg(F.expr("bool_and(bit_hit)").alias("bloom_hit"))
    )
    # the Bloom filter is the constant-size structure; the exact check
    # is the audit side, and its distinct corpus-key frame scales with
    # the corpus
    exact = batch.join(
        corpus.distinct().withColumn("seen", F.lit(True)), "k", "left"
    ).select("doc_id", F.coalesce("seen", F.lit(False)).alias("exact_hit"))

    return hits.join(exact, "doc_id").select(
        "doc_id",
        "bloom_hit",
        "exact_hit",
        F.when(F.col("bloom_hit") & F.col("exact_hit"), "dup")
        .when(F.col("bloom_hit"), "false_positive")
        .otherwise("new")
        .alias("verdict"),
        (F.col("exact_hit") & ~F.col("bloom_hit")).alias("fn_violation"),
    )
