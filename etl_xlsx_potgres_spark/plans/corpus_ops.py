"""Corpus-level curation operators: cross-document segment dedup,
BM25 lexical retrieval, unigram-LM quality scoring, embedding scalar
quantization, and a distributed k-means Lloyd step.

These are the corpus-wide passes of an LLM training-data pipeline that
the per-document text pack (``text_analysis``) doesn't cover — each
needs a corpus aggregate (segment frequency table, document-frequency
table, unigram counts, per-dimension ranges, centroid assignment)
joined back against the full corpus.

Scale shapes (100 TB):
- segment dedup shuffles once on the segment hash and once on doc_id —
  never all-pairs; the segment-frequency table is corpus-sized and is
  equi-joined, not broadcast.
- BM25 broadcasts only constant-size state (the query-term list, the
  per-term df rows, the 1-row corpus stats); per-doc tf shuffles on
  doc_id.
- unigram scoring equi-joins the vocabulary on the token (the vocab
  grows with the corpus — it must NOT be broadcast); the 1-row total
  is broadcast.
- quantization reduces to a 64-row per-dimension stats frame
  (constant in the data size) broadcast back over the vectors; the
  per-vector error is a sequential array fold, no explode-regroup
  shuffle of 64x the rows.
- the Lloyd step broadcasts the constant-K seed set and shuffles only
  the K-row per-cluster aggregate.

Numeric determinism (exact driver hash, both engines): transcendental
outputs go through the repo's floor-grid (``floor(ln(x)*1e6)/1e6``);
cross-row float sums are converted to integer micro/pico units first
(bigint sums are order-independent); per-vector distance folds are
the shared ``operators/vectors.py`` kernels.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import scoped_persist
from ..hints import constant_size
from ..operators.ann import KMEANS_K
from ..operators.rank import nearest, sql_nearest, top_n
from ..operators.text import sql_tokens, tokens
from ..operators.vectors import EMB_DIM, sq_dist, sql_sq_dist
from ..registry import register
from ..sources import load_table

SEG_TOKENS = 8  # tokens per dedup segment ("pseudo-paragraph")


# ---------------------------------------------------------------------------
# 1. Cross-document segment dedup — the RefinedWeb/CCNet "line dedup"
# pass re-expressed over token windows (the fixture corpus has no
# newlines, so the segmentation unit is a fixed token window instead
# of a physical line; the distributed shape is identical).
@register(
    "dedup_corpus_segments",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {sql_tokens()} AS toks FROM documents
      WHERE len({sql_tokens()}) > 0
    ),
    segs AS (
      SELECT doc_id,
             unhex(md5(unnest(list_transform(
               generate_series(0, CAST(ceil(len(toks) / {SEG_TOKENS}.0) AS INT) - 1),
               i -> array_to_string(
                      list_slice(toks, i * {SEG_TOKENS} + 1, i * {SEG_TOKENS} + {SEG_TOKENS}),
                      ' '))))) AS seg
      FROM t
    ),
    freq AS (
      SELECT seg, COUNT(DISTINCT doc_id) AS n_docs FROM segs GROUP BY seg
    )
    SELECT s.doc_id,
           COUNT(*) AS n_segments,
           CAST(SUM(CASE WHEN f.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_segments,
           CAST(SUM(CASE WHEN f.n_docs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS dup_ratio
    FROM segs s JOIN freq f USING (seg)
    GROUP BY s.doc_id
    """,
)
def dedup_corpus_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document fraction of token segments that also appear in at
    least one OTHER document — the filter signal behind corpus-level
    duplicated-span removal. One shuffle on the segment hash (the
    frequency table), one equi-join back, one doc_id aggregate.

    Shuffle key: the 16-byte BINARY md5 of the segment, never the
    segment text — md5/unhex are portable so the DuckDB oracle
    rebuilds the identical keys (an md5 collision would fold the same
    pair of segments on BOTH engines, leaving the differential exact;
    the dedup-signal semantics tolerate the ~n^2/2^129 odds). This
    closes the r8 caveat that kept segment text as the key for oracle
    reproducibility; at production scale ``xxhash64`` halves the key
    again at the cost of oracle portability."""
    d = load_table(spark, sf_dir, "documents")
    # zero-token/NULL-text guard: Spark's sequence(0, -1) counts DOWN
    # (two bogus segments) where DuckDB's generate_series(0, -1) is
    # empty — filtering tokenless docs on BOTH sides keeps the
    # engines aligned whatever the fixture contains
    segs = (
        d.select("doc_id", tokens("text").alias("toks"))
        .filter(F.size("toks") > 0)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform("
                    f"  sequence(0, cast(ceil(size(toks) / {SEG_TOKENS}.0) as int) - 1),"
                    f"  i -> array_join(slice(toks, i * {SEG_TOKENS} + 1, {SEG_TOKENS}), ' '))"
                )
            ).alias("seg_text"),
        )
        # hash before the shuffle: the generator must be a top-level
        # projection, so the digest lives in a collapsed follow-up
        .select("doc_id", F.unhex(F.md5("seg_text")).alias("seg"))
    )
    # One tokenize+explode pass total: collapse to one row per
    # (seg, doc) first (the only corpus-wide shuffle), persist that
    # much smaller frame, and derive BOTH the per-segment doc
    # frequency and the per-doc rollup from it — the same
    # single-scan discipline as text_oov_rate.
    per = scoped_persist(segs.groupBy("seg", "doc_id").agg(F.count(F.lit(1)).alias("k")))
    freq = per.groupBy("seg").agg(F.count(F.lit(1)).alias("n_docs"))
    dup = F.sum(
        F.when(F.col("n_docs") >= 2, F.col("k")).otherwise(0)
    ).cast("long")
    return (
        per.join(freq, "seg")
        .groupBy("doc_id")
        .agg(
            F.sum("k").cast("long").alias("n_segments"),
            dup.alias("n_dup_segments"),
        )
        .select(
            "doc_id",
            "n_segments",
            "n_dup_segments",
            (F.col("n_dup_segments").cast("double") / F.col("n_segments")).alias(
                "dup_ratio"
            ),
        )
    )


# ---------------------------------------------------------------------------
# 2. BM25 lexical retrieval (Lucene idf variant, k1=1.2, b=0.75) for a
# fixed keyword query — the classic sparse-retrieval scoring an LLM
# data pipeline uses for targeted corpus slicing. Scores are emitted
# in integer micro-units (per-term floor grid, then an exact bigint
# sum) so the cross-engine hash is bit-stable.
BM25_TERMS = ("spark", "join", "dup")
_TERMS_SQL = ", ".join(f"'{t}'" for t in BM25_TERMS)


@register(
    "text_bm25_search",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({sql_tokens()}) AS term FROM documents
    ),
    dl AS (SELECT doc_id, COALESCE(len({sql_tokens()}), 0) AS dl FROM documents),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
      FROM dl
    ),
    tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM toks WHERE term IN ({_TERMS_SQL}) GROUP BY doc_id, term
    ),
    df AS (
      SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
      FROM toks WHERE term IN ({_TERMS_SQL}) GROUP BY term
    ),
    scored AS (
      SELECT tf.doc_id,
             CAST(floor(
               (CAST(tf.tf AS DOUBLE) * 2.2
                / (CAST(tf.tf AS DOUBLE)
                   + 1.2 * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE) / s.avgdl))))
               * (floor(ln(1.0 + (CAST(s.n_docs AS DOUBLE) - CAST(df.df AS DOUBLE) + 0.5)
                                / (CAST(df.df AS DOUBLE) + 0.5)) * 1000000) / 1000000)
               * 1000000) AS BIGINT) AS term_score_micro
      FROM tf
      JOIN df USING (term)
      JOIN dl USING (doc_id)
      CROSS JOIN stats s
    ),
    ranked AS (
      SELECT doc_id, CAST(SUM(term_score_micro) AS BIGINT) AS score_micro
      FROM scored GROUP BY doc_id
    )
    SELECT doc_id, score_micro, rank FROM (
      SELECT doc_id, score_micro,
             row_number() OVER (ORDER BY score_micro DESC, doc_id) AS rank
      FROM ranked
    ) WHERE rank <= 20
    """,
)
def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 documents by BM25 for the fixed query terms. The term
    list, per-term df, and corpus stats are constant-size broadcasts;
    per-doc tf shuffles on doc_id; the final top-k is sort+limit."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(tokens("text")).alias("term")
    ).filter(F.col("term").isin(*BM25_TERMS))
    # greatest(.., 0): Spark size(NULL) is -1 where DuckDB len(NULL)
    # is NULL — both normalize to 0 so avgdl agrees on any fixture
    dl = d.select(
        "doc_id",
        F.greatest(F.size(tokens("text")), F.lit(0))
        .cast("long")
        .alias("dl"),
    )
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    # df derives from the (already per-doc-distinct) tf frame — one
    # explode pass, one shuffle, no second corpus tokenize.
    tf = scoped_persist(toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf")))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf_grid = (
        F.floor(
            F.log(
                F.lit(1.0)
                + (
                    F.col("n_docs").cast("double")
                    - F.col("df").cast("double")
                    + F.lit(0.5)
                )
                / (F.col("df").cast("double") + F.lit(0.5))
            )
            * 1000000
        )
        / 1000000
    )
    tf_part = (
        F.col("tf").cast("double")
        * 2.2
        / (
            F.col("tf").cast("double")
            + 1.2 * (0.25 + 0.75 * (F.col("dl").cast("double") / F.col("avgdl")))
        )
    )
    scored = (
        tf.join(constant_size(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(constant_size(stats))
        .select(
            "doc_id",
            F.floor(tf_part * idf_grid * 1000000)
            .cast("long")
            .alias("term_score_micro"),
        )
    )
    ranked = scored.groupBy("doc_id").agg(
        F.sum("term_score_micro").cast("long").alias("score_micro")
    )
    top = ranked.orderBy(F.desc("score_micro"), "doc_id").limit(20)
    from ..operators.ids import global_row_number

    return global_row_number(
        top, [F.desc("score_micro"), F.asc("doc_id")], "rank"
    ).select("doc_id", "score_micro", "rank")


# ---------------------------------------------------------------------------
# 3. Unigram-LM quality scoring — the perplexity-proxy filter: a
# corpus-derived maximum-likelihood unigram model scores each document
# by mean token log-probability. Per-token log-probs go through the
# floor grid into integer micro-nats; the per-document sum is an exact
# bigint aggregate.
@register(
    "text_unigram_logprob",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({sql_tokens()}) AS term FROM documents
    ),
    vocab AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY term),
    total AS (SELECT CAST(SUM(c) AS BIGINT) AS total FROM vocab),
    lp AS (
      SELECT term,
             CAST(floor(ln(CAST(c AS DOUBLE) / CAST(t.total AS DOUBLE)) * 1000000)
                  AS BIGINT) AS lp_micro
      FROM vocab CROSS JOIN total t
    ),
    tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM toks GROUP BY doc_id, term
    )
    SELECT tf.doc_id,
           CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
           CAST(SUM(tf.tf * lp.lp_micro) AS BIGINT) AS sum_lp_micro,
           CAST(SUM(tf.tf * lp.lp_micro) AS DOUBLE) / CAST(SUM(tf.tf) AS BIGINT)
             / 1000000.0 AS avg_logprob
    FROM tf JOIN lp USING (term)
    GROUP BY tf.doc_id
    """,
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean unigram log-probability per document. The vocabulary is
    corpus-derived and corpus-sized, so it is equi-joined on the token
    (one shuffle), never broadcast; only the 1-row total is."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens("text")).alias("term"))
    # One explode pass: the (doc, term) tf frame is the only
    # corpus-wide shuffle; the vocabulary (c = sum of tf) and the
    # corpus total both derive from it.
    tf = scoped_persist(toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf")))
    vocab = tf.groupBy("term").agg(F.sum("tf").cast("long").alias("c"))
    total = vocab.agg(F.sum("c").cast("long").alias("total"))
    lp = vocab.crossJoin(constant_size(total)).select(
        "term",
        F.floor(
            F.log(F.col("c").cast("double") / F.col("total").cast("double"))
            * 1000000
        )
        .cast("long")
        .alias("lp_micro"),
    )
    return (
        tf.join(lp, "term")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.sum(F.col("tf") * F.col("lp_micro")).cast("long").alias("sum_lp_micro"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "sum_lp_micro",
            (
                F.col("sum_lp_micro").cast("double")
                / F.col("n_tokens")
                / F.lit(1000000.0)
            ).alias("avg_logprob"),
        )
    )


# ---------------------------------------------------------------------------
# 4. Scalar (int8) quantization of the embedding table with exact
# reconstruction-error accounting — the storage/serving compression
# pass. Per-dimension ranges reduce to a constant 64-row frame
# (broadcast); the per-vector squared error is a sequential fold over
# the array (no 64x explode-regroup shuffle), floored into pico units
# so the aggregate hash is exact.
_Q_TERM_SPARK = f"""
transform(sequence(1, {EMB_DIM}), i ->
  cast(floor(
    power(
      cast(element_at(embedding, i) as double) -
      (case when element_at(maxs, i) - element_at(mins, i) = 0D
            then cast(element_at(embedding, i) as double)
            else element_at(mins, i)
                 + (least(255D, greatest(0D, floor(
                     (cast(element_at(embedding, i) as double) - element_at(mins, i))
                     * 255.0 / (element_at(maxs, i) - element_at(mins, i))))) + 0.5)
                   * (element_at(maxs, i) - element_at(mins, i)) / 256.0
       end),
      2D) * 1000000000000.0) as bigint))
"""

_Q_TERM_DUCK = f"""
list_transform(generate_series(1, {EMB_DIM}), i ->
  CAST(floor(
    pow(
      CAST(embedding[i] AS DOUBLE) -
      (CASE WHEN maxs[i] - mins[i] = 0 THEN CAST(embedding[i] AS DOUBLE)
            ELSE mins[i]
                 + (least(255.0, greatest(0.0, floor(
                     (CAST(embedding[i] AS DOUBLE) - mins[i])
                     * 255.0 / (maxs[i] - mins[i])))) + 0.5)
                   * (maxs[i] - mins[i]) / 256.0
       END),
      2) * 1000000000000.0) AS BIGINT))
"""


@register(
    "emb_scalar_quantize",
    oracle=f"""
    WITH dims AS (
      SELECT unnest(embedding) AS x,
             unnest(generate_series(1, len(embedding))) AS i
      FROM embeddings
    ),
    st AS (
      SELECT i, MIN(CAST(x AS DOUBLE)) AS mn, MAX(CAST(x AS DOUBLE)) AS mx
      FROM dims GROUP BY i
    ),
    arrs AS (
      SELECT list(mn ORDER BY i) AS mins, list(mx ORDER BY i) AS maxs FROM st
    )
    SELECT vec_id, label,
           CAST(list_sum({_Q_TERM_DUCK}) AS BIGINT) AS sse_pico,
           CAST(CAST(list_sum({_Q_TERM_DUCK}) AS BIGINT) AS DOUBLE)
             / {EMB_DIM}.0 / 1000000000000.0 AS mse
    FROM embeddings CROSS JOIN arrs
    """,
)
def emb_scalar_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization error per vector: global per-dimension
    [min, max] ranges, 256-level codes, midpoint reconstruction,
    squared error in exact pico units."""
    emb = load_table(spark, sf_dir, "embeddings")
    dims = emb.select(F.posexplode("embedding").alias("i", "x"))
    st = dims.groupBy("i").agg(
        F.min(F.col("x").cast("double")).alias("mn"),
        F.max(F.col("x").cast("double")).alias("mx"),
    )
    arrs = st.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "mn"))), lambda s: s.mn
        ).alias("mins"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "mx"))), lambda s: s.mx
        ).alias("maxs"),
    )
    terms = F.expr(
        f"aggregate({_Q_TERM_SPARK}, cast(0 as bigint), (a, t) -> a + t)"
    )
    return (
        emb.crossJoin(constant_size(arrs))
        .select("vec_id", "label", terms.alias("sse_pico"))
        .select(
            "vec_id",
            "label",
            "sse_pico",
            (
                F.col("sse_pico").cast("double")
                / F.lit(float(EMB_DIM))
                / F.lit(1.0e12)
            ).alias("mse"),
        )
    )


# ---------------------------------------------------------------------------
# 5. One distributed k-means Lloyd step with deterministic seeds — the
# clustering primitive behind semantic dedup and corpus bucketing.
# Seeds are the first K vectors by id (deterministic, no RNG); the
# assignment distance is a sequential fold; per-cluster inertia is an
# exact bigint micro-unit sum. K is KMEANS_K (operators/ann.py),
# shared with semantic dedup.


@register(
    "emb_kmeans_step",
    oracle=f"""
    WITH vecs AS (
      SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL
    ),
    seeds AS (
      SELECT vec_id AS seed_id, embedding AS sv FROM vecs
      WHERE vec_id < {KMEANS_K}
    ),
    assign AS (
      {sql_nearest("vecs e CROSS JOIN seeds s", ("e.vec_id",),
                   sql_sq_dist("e.embedding", "s.sv"), "s.seed_id", "seed_id")}
    )
    SELECT seed_id AS cluster_id,
           COUNT(*) AS n_members,
           CAST(SUM(CAST(floor(d2 * 1000000) AS BIGINT)) AS BIGINT)
             AS inertia_micro,
           CAST(CAST(SUM(CAST(floor(d2 * 1000000) AS BIGINT)) AS BIGINT) AS DOUBLE)
             / COUNT(*) / 1000000.0 AS mean_d2
    FROM assign
    GROUP BY seed_id
    """,
)
def emb_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign every vector to its nearest of K deterministic seeds and
    report per-cluster size + inertia. The K-row seed set is a
    constant-size broadcast; the only shuffles are the per-vector
    argmin (one partial-aggregated row per vector) and the K-row
    aggregate."""
    # NULL vectors out on both sides: a NULL distance in the argmin
    # sorts first in Spark's struct min, last in DuckDB's ORDER BY
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    seeds = emb.filter(F.col("vec_id") < KMEANS_K).select(
        F.col("vec_id").alias("seed_id"), F.col("embedding").alias("sv")
    )
    best = nearest(
        emb.crossJoin(constant_size(seeds)),
        ("vec_id",),
        sq_dist("embedding", "sv"),
        "seed_id",
        "seed_id",
    )
    return (
        best.groupBy(F.col("seed_id").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum(F.floor(F.col("d2") * 1000000).cast("long"))
            .cast("long")
            .alias("inertia_micro"),
        )
        .select(
            "cluster_id",
            "n_members",
            "inertia_micro",
            (
                F.col("inertia_micro").cast("double")
                / F.col("n_members")
                / F.lit(1000000.0)
            ).alias("mean_d2"),
        )
    )


# ---------------------------------------------------------------------------
# 6. BPE merge-pair counting — the first iteration of byte-pair-
# encoding tokenizer training: count adjacent character pairs inside
# every word across the corpus and surface the top merge candidates.
# Map-only explode + one count shuffle; the global top-k is
# sort + limit over the (tiny) pair-vocabulary frame.
@register(
    "text_bpe_pair_counts",
    oracle=f"""
    WITH words AS (
      SELECT unnest({sql_tokens()}) AS w FROM documents
    ),
    pairs AS (
      SELECT unnest(list_transform(
               generate_series(1, length(w) - 1), i -> substring(w, i, 2))) AS pair
      FROM words WHERE length(w) >= 2
    ),
    counted AS (
      SELECT pair, COUNT(*) AS n FROM pairs GROUP BY pair
    )
    SELECT pair, n, rank FROM (
      SELECT pair, n, row_number() OVER (ORDER BY n DESC, pair) AS rank
      FROM counted
    ) WHERE rank <= 20
    """,
)
def text_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 adjacent character pairs within words — the BPE merge
    table's first entry. Words shorter than 2 chars are excluded
    explicitly (Spark's ``sequence(1, 0)`` counts DOWN, DuckDB's
    ``generate_series(1, 0)`` is empty — the guard keeps both engines
    off that divergence)."""
    d = load_table(spark, sf_dir, "documents")
    pairs = (
        d.select(F.explode(tokens("text")).alias("w"))
        .filter(F.length("w") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"
                )
            ).alias("pair")
        )
    )
    counted = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("n"))
    top = counted.orderBy(F.desc("n"), "pair").limit(20)
    from ..operators.ids import global_row_number

    return global_row_number(top, [F.desc("n"), F.asc("pair")], "rank").select(
        "pair", "n", "rank"
    )


# ---------------------------------------------------------------------------
# 7. Inverted-index construction with salted two-phase top-k postings.
# The naive plan (window over term, keep rn<=10) sorts EVERY posting of
# a hot term in one task — the textbook skew wall at 100 TB. The
# salted shape bounds it: phase 1 takes a local top-10 within each of
# 64 salt shards of a term (each shard ~1/64 of the postings), phase 2
# re-ranks the <=640 survivors per term. Identical result (top-k is
# associative under the (tf DESC, doc_id) total order), bounded memory.
POSTINGS_K = 10
_SALTS = 64


@register(
    "text_inverted_index",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({sql_tokens()}) AS term FROM documents
    ),
    tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM toks GROUP BY doc_id, term
    ),
    ranked AS (
      SELECT term, doc_id, tf,
             row_number() OVER (
               PARTITION BY term ORDER BY tf DESC, doc_id) AS rn
      FROM tf
    )
    SELECT term,
           CAST(MAX(df) AS BIGINT) AS df,
           array_to_string(list(doc_id ORDER BY rn), ' ') AS postings
    FROM (
      SELECT r.term, r.doc_id, r.rn, d.df
      FROM ranked r
      JOIN (SELECT term, COUNT(*) AS df FROM tf GROUP BY term) d USING (term)
      WHERE r.rn <= {POSTINGS_K}
    )
    GROUP BY term
    """,
)
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-term document-frequency + top-{POSTINGS_K} posting list
    (by tf, doc_id-tiebroken), built with the salt-sharded two-phase
    top-k so no single task ever sorts a hot term's full posting
    list."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens("text")).alias("term"))
    # tf is per-doc-distinct, so df = row count per term — both the
    # frequency table and the posting ranking reuse the ONE persisted
    # tf shuffle (no second corpus tokenize).
    tf = scoped_persist(toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf")))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    salted = tf.withColumn("salt", F.pmod(F.hash("doc_id"), F.lit(_SALTS)))
    by_tf = (F.desc("tf"), "doc_id")
    survivors = top_n(salted, ("term", "salt"), by_tf, POSTINGS_K).drop("salt")
    top = top_n(survivors, ("term",), by_tf, POSTINGS_K, rank="rn")
    return (
        top.join(dfreq, "term")
        .groupBy("term")
        .agg(
            F.max("df").cast("long").alias("df"),
            # Space-joined scalar rather than array<bigint>: the driver's
            # pandas canonicalizer sorts result frames and cannot hash
            # list-typed cells (r8 red row) — and every other query in
            # the registry emits scalar columns for the same reason.
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("rn", "doc_id"))),
                    lambda s: s.doc_id.cast("string"),
                ),
                " ",
            ).alias("postings"),
        )
    )


# ---------------------------------------------------------------------------
# 8. One power-iteration step on the (uncentered) covariance X^T X —
# the distributed matvec behind PCA/spectral embedding analysis.
# w = X^T (X v0) with deterministic v0 = (1/8, ..., 1/8): the per-row
# projection is a sequential fold; the cross-row per-dimension sums go
# through the nano-unit integer grid so the reduce is exact.
_V0 = 1.0 / 8.0  # unit-norm uniform start vector for 64 dims

_PROJ_SPARK = f"""
aggregate(
  transform(embedding, x -> cast(x as double) * {_V0!r}D),
  0D, (a, t) -> a + t)
"""

_PROJ_DUCK = f"""
list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * {_V0!r}))
"""


@register(
    "emb_covariance_power_step",
    oracle=f"""
    WITH proj AS (
      SELECT vec_id, embedding, {_PROJ_DUCK} AS s FROM embeddings
    ),
    terms AS (
      SELECT unnest(generate_series(1, {EMB_DIM})) AS dim,
             unnest(list_transform(generate_series(1, {EMB_DIM}),
               i -> CAST(floor(s * CAST(embedding[i] AS DOUBLE)
                               * 1000000000.0) AS BIGINT))) AS t
      FROM proj
    )
    SELECT dim, CAST(SUM(t) AS BIGINT) AS w_nano,
           CAST(SUM(t) AS BIGINT) / 1000000000.0 AS w
    FROM terms GROUP BY dim
    """,
)
def emb_covariance_power_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One distributed matvec w = X^T(X v0): per-row projection
    (map-only fold), then a 64-group per-dimension exact integer
    reduce — partial aggregation makes the shuffle 64 rows per map
    task regardless of corpus size."""
    emb = load_table(spark, sf_dir, "embeddings")
    proj = emb.select("vec_id", "embedding", F.expr(_PROJ_SPARK).alias("s"))
    terms = proj.select(
        F.posexplode(
            F.expr(
                f"transform(sequence(1, {EMB_DIM}),"
                f" i -> cast(floor(s * cast(element_at(embedding, i) as double)"
                f" * 1000000000.0) as bigint))"
            )
        ).alias("dim0", "t")
    ).select((F.col("dim0") + 1).cast("long").alias("dim"), "t")
    return (
        terms.groupBy("dim")
        .agg(F.sum("t").cast("long").alias("w_nano"))
        .select(
            "dim",
            "w_nano",
            (F.col("w_nano") / F.lit(1.0e9)).alias("w"),
        )
    )
