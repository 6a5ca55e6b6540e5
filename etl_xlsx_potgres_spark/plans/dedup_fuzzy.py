"""Deduplication suite over the documents/embeddings tables: exact
(hash groupBy), n-gram Jaccard, MinHash+LSH, SimHash, and
embedding-cosine near-dup — the dedup stages of an LLM data pipeline.

Scale shapes (the whole point of each design):

- exact: one shuffle on the fingerprint; survivors via min(doc_id).
- n-gram Jaccard: NEVER all-pairs. Explode distinct shingles,
  self-join on shingle (shuffle co-locates equal shingles), count
  intersections per pair, compute |A∪B| = |A|+|B|−|A∩B|. Cost is
  Σ_shingle freq² — bounded by shingle-frequency capping at scale.
- MinHash+LSH: fixed-size signature per doc (map-only), band keys,
  shuffle on band key only. Candidate pairs = docs sharing ≥1 band,
  with hot buckets occupancy-capped (BAND_CAP) so no bucket can go
  quadratic. Hashes are md5-based and portable (operators/text.py) so
  the DuckDB oracle reproduces them bit-for-bit.
- SimHash: fixed 32-bit signature, map-only; banding on signature
  quarters for candidates.
- embedding cosine: label-blocked pairs (in production: LSH/IVF
  buckets) + exact cosine verify.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import scoped_persist
from ..operators.text import (
    fingerprint,
    shingles_long,
    sql_minhash_exprs,
    sql_simhash_expr,
    tokens,
)
from ..registry import register
from ..sources import load_table

_NORM = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'),"
    " '\\s+', ' ', 'g'))"
)
_DUCK_TOKENS = "list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '')"
_DUCK_SHINGLES = (
    f"CASE WHEN len({_DUCK_TOKENS}) >= 3 THEN "
    f"list_transform(generate_series(1, len({_DUCK_TOKENS}) - 2), "
    f"i -> array_to_string(list_slice({_DUCK_TOKENS}, i, i + 2), ' ')) "
    f"ELSE [] END"
)


@register(
    "dedup_exact_documents",
    oracle=f"""
    SELECT fp, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
    FROM (SELECT doc_id, md5({_NORM}) AS fp FROM documents)
    GROUP BY fp
    """,
)
def dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", fingerprint("text").alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, unnest(list_distinct({_DUCK_SHINGLES})) AS s
      FROM documents
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT d1, d2, inter,
           sa.n + sb.n - inter AS uni,
           CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
    FROM pairs JOIN sizes sa ON sa.doc_id = d1 JOIN sizes sb ON sb.doc_id = d2
    WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.05
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # cached: the distinct shingle set feeds three consumers (sizes +
    # both join sides); without the cache the pipeline runs 3x
    sh = scoped_persist(shingles_long(d, "text", 3).distinct())
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("doc_id").alias("d1"), "s")
    b = sh.select(F.col("doc_id").alias("d2"), "s")
    pairs = (
        a.join(b, "s")
        .filter(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("d1"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("d2"), F.col("n").alias("nb"))
    out = (
        pairs.join(sa, "d1")
        .join(sb, "d2")
        .withColumn("uni", F.col("na") + F.col("nb") - F.col("inter"))
        .withColumn("jaccard", F.col("inter").cast("double") / F.col("uni"))
        .filter(F.col("jaccard") >= 0.05)
    )
    return out.select("d1", "d2", "inter", "uni", "jaccard")


def _minhash_sig_df(d: DataFrame) -> DataFrame:
    """doc_id + mh0..mh7 via long-form shingles + groupBy-min: one md5
    per (shingle, seed), partial min map-side, the shuffle carries
    only (doc_id, 8 hashes) — the shape that survives 100 TB corpora
    (vs evaluating 8 interpreted array-fold expressions per row).
    Docs with no shingles are restored with NULL signatures (matching
    the array formulation and the oracle)."""
    sh = shingles_long(d, "text", 3)
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("s")))).alias(f"mh{i}")
        for i in range(8)
    ]
    sig = sh.groupBy("doc_id").agg(*aggs)
    return d.select("doc_id").join(sig, "doc_id", "left")


@register(
    "dedup_minhash_signatures",
    oracle=f"""
    SELECT doc_id, {", ".join(sql_minhash_exprs("text"))}
    FROM documents
    """,
)
def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _minhash_sig_df(load_table(spark, sf_dir, "documents"))


# Per-(band_id, band_key) occupancy cap for the LSH candidate
# generator.  Web corpora have hot bands BY CONSTRUCTION (boilerplate
# pages share whole signatures): a band bucket with B documents emits
# B(B-1)/2 candidate pairs, so without a cap the candidate join is
# quadratic in band occupancy — the one geometry that can melt a
# 100 TB dedup run even though every shuffle key is correct.  The cap
# keeps the top-K documents per bucket by doc_id (deterministic,
# engine-portable: row_number over an ORDER BY on the unique key),
# bounding the SELF-JOIN at K(K-1)/2 pairs per bucket.  Clipping
# alone, though, severs whole clusters (ADVICE r17): when documents
# share an entire signature — exactly the boilerplate pathology the
# cap targets — all their band buckets are the SAME hot bucket, the
# same smallest doc_ids win every one, and members beyond the cap
# lose every candidate edge.  So every bucket additionally emits STAR
# edges — (bucket minimum doc_id, member) for each member — which is
# B-1 rows per bucket (linear, a groupBy-min plus an equi-join on the
# band key the bucket is already shuffled on, never quadratic) and
# keeps every clipped member connected to its bucket's cluster for
# the components/calibration consumers.  `dedup_minhash_band_stats`
# reports both the clipping and the star volume as hash-checked data.
BAND_CAP = 8

# Shared oracle-side band geometry (single source of truth — the
# Spark twin is band_rows/capped_band_rows/lsh_candidate_pairs below;
# graph_components._PAIRS_SQL composes these same fragments).
_BANDS_SQL = f"""
    sig AS (
      SELECT doc_id, {", ".join(sql_minhash_exprs("text"))}
      FROM documents
      WHERE len({_DUCK_TOKENS}) >= 3
    ),
    bands AS (
      SELECT doc_id, 0 AS band_id, md5(mh0 || mh1) AS band_key FROM sig
      UNION ALL SELECT doc_id, 1, md5(mh2 || mh3) FROM sig
      UNION ALL SELECT doc_id, 2, md5(mh4 || mh5) FROM sig
      UNION ALL SELECT doc_id, 3, md5(mh6 || mh7) FROM sig
    ),
    capped_bands AS (
      SELECT doc_id, band_id, band_key FROM (
        SELECT doc_id, band_id, band_key,
               row_number() OVER (PARTITION BY band_id, band_key
                                  ORDER BY doc_id) AS band_rank
        FROM bands
      ) WHERE band_rank <= {BAND_CAP}
    )"""

_CAND_SQL = """
    band_mins AS (
      SELECT band_id, band_key, MIN(doc_id) AS leader
      FROM bands GROUP BY band_id, band_key
    ),
    cand AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, a.band_id
      FROM capped_bands a JOIN capped_bands b
        ON a.band_key = b.band_key AND a.band_id = b.band_id
       AND a.doc_id < b.doc_id
      UNION ALL
      SELECT m.leader AS d1, b.doc_id AS d2, b.band_id
      FROM bands b JOIN band_mins m
        ON m.band_id = b.band_id AND m.band_key = b.band_key
      WHERE b.doc_id > m.leader
    )"""


def band_rows(sig: DataFrame) -> DataFrame:
    """(doc_id, band_id, band_key): one pass — explode the 4 band keys
    from the signature row instead of unioning 4 recomputations of the
    signature subplan."""
    band_structs = F.array(
        *[
            F.struct(
                F.lit(i).alias("band_id"),
                F.md5(F.concat(F.col(f"mh{2 * i}"), F.col(f"mh{2 * i + 1}"))).alias(
                    "band_key"
                ),
            )
            for i in range(4)
        ]
    )
    return sig.select("doc_id", F.explode(band_structs).alias("b")).select(
        "doc_id",
        F.col("b.band_id").alias("band_id"),
        F.col("b.band_key").alias("band_key"),
    )


def ranked_band_rows(bands: DataFrame, cap: int = BAND_CAP) -> DataFrame:
    """Band rows with at most ``cap`` documents per (band_id, band_key)
    bucket (smallest doc_ids win — deterministic), band_rank kept so
    rank 1 doubles as the bucket leader for the star-edge leg.  The
    row_number window shuffles on exactly the key the candidate
    self-join needs, so the cap costs no extra Exchange on that side;
    within a hot bucket the window pass is linear in occupancy (the
    B² blowup it prevents was in the join, not here)."""
    from pyspark.sql import Window

    w = Window.partitionBy("band_id", "band_key").orderBy("doc_id")
    return bands.withColumn("band_rank", F.row_number().over(w)).filter(
        F.col("band_rank") <= cap
    )


def capped_band_rows(sig: DataFrame, cap: int = BAND_CAP) -> DataFrame:
    return ranked_band_rows(band_rows(sig), cap).drop("band_rank")


def star_edges(bands: DataFrame, ranked: DataFrame) -> DataFrame:
    """(d1, d2, band_id): one edge from each band bucket's minimum
    doc_id — the rank-1 survivor the cap already computed — to every
    other member: B-1 rows per bucket, LINEAR in occupancy, so clipped
    members of a hot bucket stay connected to its cluster (ADVICE r17:
    clipping alone severed exact-duplicate clusters whose every band
    is the same hot bucket).  Reusing the window's rank 1 instead of a
    fresh groupBy-min keeps the leader frame on the (band_id,
    band_key) partitioning the window produced, and the member side's
    join Exchange is byte-identical to the window's input Exchange —
    Spark reuses it, so the star leg adds no new shuffle pass over the
    band frame."""
    leaders = ranked.filter(F.col("band_rank") == 1).select(
        "band_id", "band_key", F.col("doc_id").alias("d1")
    )
    return (
        bands.join(leaders, ["band_id", "band_key"])
        .filter(F.col("doc_id") > F.col("d1"))
        .select("d1", F.col("doc_id").alias("d2"), "band_id")
    )


def pairs_from_bands(bands: DataFrame) -> DataFrame:
    """Banded self-join over prepared (doc_id, band_id, band_key) rows
    — callers that reuse the band frame on both sides should persist
    it so the signature+cap subtree runs once."""
    a = bands.select(F.col("doc_id").alias("d1"), "band_id", "band_key")
    b = bands.select(F.col("doc_id").alias("d2"), "band_id", "band_key")
    return (
        a.join(b, ["band_id", "band_key"])
        .filter(F.col("d1") < F.col("d2"))
        .select("d1", "d2", "band_id")
    )


def lsh_candidate_pairs(sig: DataFrame, cap: int = BAND_CAP) -> DataFrame:
    """(d1, d2, band_id) candidate pairs: the capped banded self-join
    (≤ cap(cap-1)/2 pairs per band bucket) UNION the linear star
    edges (leader→member per bucket, so clipped docs keep their
    cluster edge), shuffle keyed on (band_id, band_key) only.  Both
    legs read ONE persisted band frame (the signature subplan and the
    band explode run once); the capped frame is persisted too so the
    occupancy-cap window runs once, not per join side.  Shared by
    ``dedup_minhash_lsh_pairs``, ``dedup_minhash_calibration`` and
    ``dedup_connected_components`` (advice r16: one geometry, one
    place).  Emits duplicates across legs (a leader↔survivor pair
    appears in both) and across bands — consumers dedup by (d1, d2)
    or count distinct band_id, as before."""
    bands = scoped_persist(band_rows(sig))
    ranked = scoped_persist(ranked_band_rows(bands, cap))
    return pairs_from_bands(ranked.drop("band_rank")).unionByName(
        star_edges(bands, ranked)
    )


# LSH banding over the MinHash signature: 4 bands x 2 rows. Documents
# sharing any band key are near-dup candidates; at scale the only
# shuffle is on (band_id, band_key), and hot buckets are occupancy-
# capped (BAND_CAP) so candidates are bounded per bucket.
@register(
    "dedup_minhash_lsh_pairs",
    oracle=f"""
    WITH {_BANDS_SQL},
    {_CAND_SQL}
    SELECT d1, d2, COUNT(DISTINCT band_id) AS n_shared_bands
    FROM cand
    GROUP BY d1, d2
    """,
)
def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    sig = _minhash_sig_df(d).filter(F.col("mh0").isNotNull())
    # persistence lives inside lsh_candidate_pairs: both join sides
    # and the star leg read one cached band frame, and the
    # occupancy-cap window runs once (r17 plan audit), not per side
    return (
        lsh_candidate_pairs(sig)
        .groupBy("d1", "d2")
        .agg(F.countDistinct("band_id").alias("n_shared_bands"))
    )


# The cap's monitoring twin: the per-occupancy histogram of band
# buckets, with kept/clipped doc counts and capped-vs-uncapped
# candidate-pair totals — the cap reported as hash-checked DATA, so a
# corpus whose hot bands start clipping real volume shows up as a
# value change, not a silent perf cliff. (n*(n-1) is always even, so
# integer DIV 2 is exact in both engines.)  pairs_star counts the
# leader→member star edges each bucket emits (n-1, linear);
# pairs_effective is the distinct candidate-pair total after the
# star/self-join union — capped join pairs plus the star edges that
# reach CLIPPED members (leader↔survivor stars duplicate join pairs).
@register(
    "dedup_minhash_band_stats",
    oracle=f"""
    WITH {_BANDS_SQL},
    occ AS (
      SELECT band_id, band_key, COUNT(*) AS n
      FROM bands GROUP BY band_id, band_key
    )
    SELECT CAST(n AS BIGINT) AS occupancy,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(SUM(n) AS BIGINT) AS n_docs,
           CAST(SUM(LEAST(n, {BAND_CAP})) AS BIGINT) AS n_docs_kept,
           CAST(SUM(n - LEAST(n, {BAND_CAP})) AS BIGINT) AS n_docs_clipped,
           CAST(SUM(n * (n - 1) // 2) AS BIGINT) AS pairs_uncapped,
           CAST(SUM(LEAST(n, {BAND_CAP}) * (LEAST(n, {BAND_CAP}) - 1) // 2)
                AS BIGINT) AS pairs_capped,
           CAST(SUM(n - 1) AS BIGINT) AS pairs_star,
           CAST(SUM(LEAST(n, {BAND_CAP}) * (LEAST(n, {BAND_CAP}) - 1) // 2
                    + GREATEST(n - {BAND_CAP}, 0)) AS BIGINT)
             AS pairs_effective
    FROM occ GROUP BY n
    """,
)
def dedup_minhash_band_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    sig = _minhash_sig_df(d).filter(F.col("mh0").isNotNull())
    occ = band_rows(sig).groupBy("band_id", "band_key").agg(
        F.count(F.lit(1)).alias("n")
    )
    kept = F.least(F.col("n"), F.lit(BAND_CAP))
    return occ.groupBy(F.col("n").cast("long").alias("occupancy")).agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.sum("n").cast("long").alias("n_docs"),
        F.sum(kept).cast("long").alias("n_docs_kept"),
        F.sum(F.col("n") - kept).cast("long").alias("n_docs_clipped"),
        F.sum(F.expr("n * (n - 1) DIV 2")).cast("long").alias("pairs_uncapped"),
        F.sum(
            F.expr(
                f"LEAST(n, {BAND_CAP}) * (LEAST(n, {BAND_CAP}) - 1) DIV 2"
            )
        ).cast("long").alias("pairs_capped"),
        F.sum(F.col("n") - 1).cast("long").alias("pairs_star"),
        F.sum(
            F.expr(
                f"LEAST(n, {BAND_CAP}) * (LEAST(n, {BAND_CAP}) - 1) DIV 2"
                f" + GREATEST(n - {BAND_CAP}, 0)"
            )
        ).cast("long").alias("pairs_effective"),
    )


def _simhash_df(d: DataFrame) -> DataFrame:
    """(doc_id, simhash): 32-bit SimHash as a bit string.  Explode
    tokens -> one md5 per token -> 32 map-side-partial ±1 sums ->
    groupBy doc -> bit string. Same scale shape as MinHash: the
    shuffle carries (doc_id, 32 small ints).  Shared by the batch
    signature query below and the incremental store variant
    (``plans/dedup_incremental_more``)."""
    exploded = (
        d.select(
            "doc_id",
            F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("t"),
        )
        .filter(F.col("t") != "")
        .select("doc_id", F.md5("t").alias("h"))
    )
    sums = [
        F.sum(
            F.when(F.substring("h", j + 1, 1).isin(*"89abcdef"), 1).otherwise(-1)
        ).alias(f"b{j}")
        for j in range(32)
    ]
    # left join restores token-less docs (their bits coalesce to '0')
    per_doc = d.select("doc_id").join(
        exploded.groupBy("doc_id").agg(*sums), "doc_id", "left"
    )
    bits = F.concat(
        *[
            F.when(F.coalesce(F.col(f"b{j}"), F.lit(0)) > 0, F.lit("1")).otherwise(
                F.lit("0")
            )
            for j in range(32)
        ]
    )
    return per_doc.select("doc_id", bits.alias("simhash"))


@register(
    "dedup_simhash_signatures",
    oracle=f"""
    SELECT doc_id, {sql_simhash_expr("text")} AS simhash,
           substring({sql_simhash_expr("text")}, 1, 8) AS band0
    FROM documents
    """,
)
def dedup_simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return _simhash_df(d).select(
        "doc_id",
        "simhash",
        F.substring("simhash", 1, 8).alias("band0"),
    )


# Embedding-cosine near-duplicate pairs, blocked by label (the stand-in
# for an LSH/IVF bucket at scale), verified by exact cosine.
# Threshold note: the synthetic embeddings are near-orthogonal (max
# same-label cosine ~0.47 at sf0.01), so a classic 0.9 near-dup cut
# returns an empty — hence vacuous — result. 0.4 keeps the same plan
# shape while producing a small non-empty pair set at every test SF,
# so the gate genuinely compares values. Both engines compute the
# cosine with the identical sequential double fold (bit-exact), so
# the threshold boundary is engine-stable.
@register(
    "dedup_embedding_neardup",
    oracle="""
    WITH vecs AS (
      SELECT vec_id, embedding, label FROM embeddings
      WHERE embedding IS NOT NULL
        AND len(list_filter(embedding, x -> x IS NULL)) = 0
        AND list_sum(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0
        AND list_sum(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
            < 'infinity'::DOUBLE
    )
    SELECT a.vec_id AS v1, b.vec_id AS v2,
           list_sum(list_transform(list_zip(a.embedding, b.embedding),
                    p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
           / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))))
             AS cosine
    FROM vecs a JOIN vecs b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding),
                   p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
          / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
             * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))))
          >= 0.4
    """,
)
def dedup_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .similarity import norm_flat, valid_vecs

    # zero-norm/NULL guard (r19): a zero-norm side would make the pair
    # cosine NaN — and NaN >= 0.4 is TRUE on both engines, silently
    # promoting a degenerate vector to a near-dup of its whole block
    emb = valid_vecs(load_table(spark, sf_dir, "embeddings"))
    # Verify-stage shape, r9 re-adjudicated (isolated n=6 at sf0.1):
    # norms are per-VECTOR, computed once pre-join where the 64-term
    # norm_flat compiles fine on its own; the per-PAIR dot is the
    # sequential zip_with/aggregate HOF fold. The previous inlined
    # dot_flat + two norm_flats (192 element_at products inside the
    # broadcast-join consume method) failed janino's 64 KB limit, so
    # the whole stage silently ran INTERPRETED after a wasted compile
    # per run ("Code grows beyond 64 KB" in every r9 bench pass).
    # Measured: HOF 1.61 s < flat-interpreted 1.85 s < Arrow pandas
    # dot 2.30 s — the Arrow path loses HERE because label blocks
    # yield ~5M candidate pairs whose array shipping dominates
    # (dedup_embedding_lsh keeps pandas: its LSH buckets emit far
    # fewer pairs). The HOF is CodegenFallback per pair but the rest
    # of the stage still codegens, and the fold order is the same
    # left-assoc sequence as DuckDB list_sum — bit-exact.
    a = emb.select(
        F.col("vec_id").alias("v1"),
        F.col("embedding").alias("ea"),
        norm_flat("embedding").alias("na"),
        "label",
    )
    b = emb.select(
        F.col("vec_id").alias("v2"),
        F.col("embedding").alias("eb"),
        norm_flat("embedding").alias("nb"),
        "label",
    )
    dot = F.aggregate(
        F.zip_with("ea", "eb", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    cosine = dot / (F.col("na") * F.col("nb"))
    return (
        a.join(b, "label")
        .filter(F.col("v1") < F.col("v2"))
        .select("v1", "v2", cosine.alias("cosine"))
        .filter(F.col("cosine") >= 0.4)
    )

# Edit-distance near-dup: Levenshtein over blocked candidate pairs,
# cohort-scoped. Blocking notes for real corpora: pigeonhole segment
# blocking (split keys into k+1 segments; any dist<=k pair shares one
# exactly) is the scalable candidate generator — but it degenerates on
# THIS synthetic data, where names are sequential zero-padded ids: the
# variable region is a handful of trailing digits, so segment blocks
# are huge AND the true dist<=2 pair set itself grows quadratically
# (consecutive ids are near-dups by construction). The demo therefore
# bounds the cohort and blocks on nation.
@register(
    "dedup_levenshtein_pairs",
    oracle="""
    SELECT a.c_custkey AS k1, b.c_custkey AS k2,
           levenshtein(a.c_name, b.c_name) AS dist
    FROM customer a JOIN customer b
      ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
    WHERE a.c_custkey < 2000 AND b.c_custkey < 2000
      AND levenshtein(a.c_name, b.c_name) <= 2
    """,
)
def dedup_levenshtein_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") < 2000)
    a = c.select(
        F.col("c_custkey").alias("k1"), F.col("c_name").alias("n1"), "c_nationkey"
    )
    b = c.select(
        F.col("c_custkey").alias("k2"), F.col("c_name").alias("n2"), "c_nationkey"
    )
    # threshold form (r20): banded DP, O(k*n) per pair; -1 past the
    # bound, exact within it (see operators/edit_distance.py)
    dist = F.levenshtein("n1", "n2", 2)
    return (
        a.join(b, "c_nationkey")
        .filter(F.col("k1") < F.col("k2"))
        .select("k1", "k2", dist.alias("dist"))
        .filter(F.col("dist") >= 0)
    )


# General-path edit-distance dedup: pigeonhole segment blocking
# (operators/edit_distance.py) verified differentially against a
# brute-force all-pairs oracle on a bounded cohort. The operator never
# enumerates all pairs itself — candidates come from shared
# (length, segment_index, segment_text) keys — but on THIS synthetic
# corpus (sequential near-identical names) the true pair set is itself
# quadratic in the cohort, hence the c_custkey bound.
@register(
    "dedup_levenshtein_pigeonhole",
    oracle="""
    SELECT a.c_custkey AS d1, b.c_custkey AS d2,
           levenshtein(a.c_name, b.c_name) AS dist
    FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
    WHERE a.c_custkey < 600 AND b.c_custkey < 600
      AND levenshtein(a.c_name, b.c_name) <= 2
    """,
)
def dedup_levenshtein_pigeonhole(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.edit_distance import levenshtein_pairs_blocked

    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") < 600)
    return levenshtein_pairs_blocked(c, "c_custkey", "c_name", 2)


# Embedding near-dup, LSH-bucketed — the real scale path that the
# label-blocked variant above stands in for. Band keys come from the
# portable sign-plane signature (similarity.sign_plane_signature):
# 16 bits in 4 bands of 4; any pair sharing a band is a candidate
# (shuffle carries only (band_id, 4-bit key)), then candidates are
# verified with the exact cosine. Both the planes and the cosine are
# bit-identical across engines, so the whole pipeline — bucketing
# included — is oracle-checked, not just the verify step.
# Threshold 0.35: this synthetic corpus is near-orthogonal (max cos
# ~0.5), so a production 0.9 cut would pass vacuously; 0.35 keeps a
# small non-empty result at every test SF.
_EMB_LSH_THRESHOLD = 0.35

_DUCK_COS_AB = (
    "list_sum(list_transform(list_zip(ea, eb),"
    " p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    " / (sqrt(list_sum(list_transform(ea, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))"
    " * sqrt(list_sum(list_transform(eb, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))))"
)


def _broadcast_threshold_bytes(spark: SparkSession) -> int:
    raw = str(
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    ).strip().lower()
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40, "p": 1 << 50}
    for suffix, mult in units.items():
        for s in (suffix + "b", suffix):
            if raw.endswith(s):
                return int(raw[: -len(s)]) * mult
    if raw.endswith("b"):
        raw = raw[:-1]
    return int(raw)


def _size_aware_broadcast(
    spark: SparkSession, sf_dir: str, frame: DataFrame, table: str = "embeddings"
) -> DataFrame:
    """Broadcast ``frame`` only while the backing table is actually
    small: under autoBroadcastJoinThreshold (by on-disk parquet size)
    -> broadcast hint; above -> plain frame, so the planner does an
    id-keyed shuffle join. At 100 TB the embedding table is NOT
    broadcastable and the hint must not be hard-coded."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    try:
        size = (
            os.path.getsize(path)
            if os.path.isfile(path)
            else sum(
                os.path.getsize(os.path.join(root, f))
                for root, _, files in os.walk(path)
                for f in files
            )
        )
    except OSError:
        return frame
    if size <= _broadcast_threshold_bytes(spark):
        return F.broadcast(frame)
    return frame


def _emb_lsh_oracle() -> str:
    from .similarity import duck_valid, sql_sign_plane_signature

    return f"""
    WITH sig AS (
      SELECT vec_id, embedding,
             {sql_sign_plane_signature("embedding")} AS sig
      FROM embeddings WHERE {duck_valid()}
    ),
    bands AS (
      SELECT vec_id, embedding, b, substring(sig, b * 4 + 1, 4) AS bk
      FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b)
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2,
             a.embedding AS ea, b.embedding AS eb
      FROM bands a JOIN bands b
        ON a.b = b.b AND a.bk = b.bk AND a.vec_id < b.vec_id
    )
    SELECT v1, v2, cosine FROM (
      SELECT v1, v2, {_DUCK_COS_AB} AS cosine FROM cand
    ) WHERE cosine >= {_EMB_LSH_THRESHOLD}
    """


@register("dedup_embedding_lsh", oracle=_emb_lsh_oracle())
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .similarity import (
        dot_pairs_pandas,
        norm_flat,
        sign_plane_signature_pandas,
        valid_vecs,
    )

    # zero-norm/NULL guard (r19): a NULL embedding crashes the Arrow
    # signature UDF's np.stack, and a zero-norm one NaNs its cosines
    emb = valid_vecs(load_table(spark, sf_dir, "embeddings"))
    # band rows are SLIM (vec_id, band, 4-bit key): the candidate
    # shuffle and distinct never carry vectors — the arrays join back
    # afterwards (broadcast here; id-keyed shuffle join at 100 TB)
    # materialize the slim (vec_id, sig) frame: without a barrier,
    # project-collapsing inlines the wide signature expression into
    # each of the 4 band substrings (4x recompute and a codegen method
    # past janino's comfort zone). 16 bytes/row — cache is free here;
    # at 100 TB this is a checkpoint, same policy as plans/curation.
    sig = scoped_persist(
        emb.select("vec_id", sign_plane_signature_pandas("embedding").alias("sig"))
    )
    bands = sig.select(
        "vec_id",
        F.posexplode(
            F.array(*[F.substring("sig", b * 4 + 1, 4) for b in range(4)])
        ).alias("b", "bk"),
    )
    a = bands.select(F.col("vec_id").alias("v1"), "b", "bk")
    b = bands.select(F.col("vec_id").alias("v2"), "b", "bk")
    cand = (
        a.join(b, ["b", "bk"])
        .filter(F.col("v1") < F.col("v2"))
        .select("v1", "v2")
        .distinct()
    )
    # Verify-stage shape (this was the r3 bench regression): norms are
    # computed ONCE per vector on the small join build side, and the
    # per-pair dot runs as an Arrow-batched pandas UDF — inlining the
    # 64-term dot_flat chain into the join stage either fails janino's
    # 64 KB method limit (~10 s wasted on the first compile attempt,
    # then interpreted fallback; cold 14.8 s) or, with norms hoisted
    # out, compiles into a method too big for the JIT (never compiled,
    # ~24 us/pair). The UDF keeps per-row results bit-identical to the
    # oracle (sequential fold, see dot_pairs_pandas).
    emb_b = valid_vecs(load_table(spark, sf_dir, "embeddings"))
    e1 = emb_b.select(
        F.col("vec_id").alias("v1"),
        F.col("embedding").alias("ea"),
        norm_flat("embedding").alias("na"),
    )
    e2 = emb_b.select(
        F.col("vec_id").alias("v2"),
        F.col("embedding").alias("eb"),
        norm_flat("embedding").alias("nb"),
    )
    cosine = dot_pairs_pandas(F.col("ea"), F.col("eb")) / (
        F.col("na") * F.col("nb")
    )
    return (
        cand.join(_size_aware_broadcast(spark, sf_dir, e1), "v1")
        .join(_size_aware_broadcast(spark, sf_dir, e2), "v2")
        .select("v1", "v2", cosine.alias("cosine"))
        .filter(F.col("cosine") >= _EMB_LSH_THRESHOLD)
    )
