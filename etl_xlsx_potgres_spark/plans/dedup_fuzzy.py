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
  quadratic. The band kernels and their DuckDB twins live in
  operators/lsh.py; hashes are md5-based and portable, so the DuckDB
  oracle reproduces them bit-for-bit.
- SimHash: fixed 32-bit signature, map-only; banding on signature
  quarters for candidates.
- embedding cosine: label-blocked pairs (in production: LSH/IVF
  buckets) + exact cosine verify.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import scoped_persist
from ..operators.lsh import (
    BAND_CAP,
    SQL_BANDS,
    SQL_CANDIDATES,
    band_rows,
    lsh_candidate_pairs,
    minhash_signatures,
)
from ..operators.text import (
    fingerprint,
    shingles_long,
    sql_minhash_exprs,
    sql_normalize,
    sql_shingles,
    sql_simhash_expr,
    tokens,
)
from ..operators.vectors import (
    dot,
    dot_pairs_pandas,
    duck_valid,
    norm_flat,
    sign_plane_signature_pandas,
    sql_cosine,
    sql_sign_plane_signature,
    valid_vecs,
)
from ..registry import register
from ..sources import load_table


@register(
    "dedup_exact_documents",
    oracle=f"""
    SELECT fp, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
    FROM (SELECT doc_id, md5({sql_normalize()}) AS fp FROM documents)
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
      SELECT doc_id, unnest(list_distinct({sql_shingles()})) AS s
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


@register(
    "dedup_minhash_signatures",
    oracle=f"""
    SELECT doc_id, {", ".join(sql_minhash_exprs("text"))}
    FROM documents
    """,
)
def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_signatures(load_table(spark, sf_dir, "documents"))


# LSH banding over the MinHash signature: 4 bands x 2 rows. Documents
# sharing any band key are near-dup candidates; at scale the only
# shuffle is on (band_id, band_key), and hot buckets are occupancy-
# capped (BAND_CAP) so candidates are bounded per bucket.
@register(
    "dedup_minhash_lsh_pairs",
    oracle=f"""
    WITH {SQL_BANDS},
    {SQL_CANDIDATES}
    SELECT d1, d2, COUNT(DISTINCT band_id) AS n_shared_bands
    FROM cand
    GROUP BY d1, d2
    """,
)
def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    sig = minhash_signatures(d).filter(F.col("mh0").isNotNull())
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
    WITH {SQL_BANDS},
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
    sig = minhash_signatures(d).filter(F.col("mh0").isNotNull())
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
    shuffle carries (doc_id, 32 small ints)."""
    exploded = (
        d.select(
            "doc_id",
            F.explode(tokens("text")).alias("t"),
        )
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
    oracle=f"""
    WITH vecs AS (
      SELECT vec_id, embedding, label FROM embeddings WHERE {duck_valid()}
    )
    SELECT a.vec_id AS v1, b.vec_id AS v2,
           {sql_cosine("a.embedding", "b.embedding")} AS cosine
    FROM vecs a JOIN vecs b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {sql_cosine("a.embedding", "b.embedding")} >= 0.4
    """,
)
def dedup_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # zero-norm/NULL guard (r19): a zero-norm side would make the pair
    # cosine NaN — and NaN >= 0.4 is TRUE on both engines, silently
    # promoting a degenerate vector to a near-dup of its whole block
    emb = valid_vecs(load_table(spark, sf_dir, "embeddings"))
    # Verify-stage shape, r9 re-adjudicated (isolated n=6 at sf0.1):
    # norms are per-VECTOR, computed once pre-join where the 64-term
    # norm_flat compiles fine on its own; the per-PAIR dot is the
    # sequential zip_with/aggregate HOF fold (``dot``). The previous
    # inlined flat dot chain + two norm_flats (192 element_at products
    # inside the broadcast-join consume method) failed janino's 64 KB
    # limit, so the whole stage silently ran INTERPRETED after a wasted
    # compile per run ("Code grows beyond 64 KB" in every r9 bench pass).
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
    cosine = dot("ea", "eb") / (F.col("na") * F.col("nb"))
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
# portable sign-plane signature (operators.vectors.sign_plane_signature):
# 16 bits in 4 bands of 4; any pair sharing a band is a candidate
# (shuffle carries only (band_id, 4-bit key)), then candidates are
# verified with the exact cosine. Both the planes and the cosine are
# bit-identical across engines, so the whole pipeline — bucketing
# included — is oracle-checked, not just the verify step.
# Threshold 0.35: this synthetic corpus is near-orthogonal (max cos
# ~0.5), so a production 0.9 cut would pass vacuously; 0.35 keeps a
# small non-empty result at every test SF.
_EMB_LSH_THRESHOLD = 0.35

def _emb_lsh_oracle() -> str:
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
      SELECT v1, v2, {sql_cosine("ea", "eb")} AS cosine FROM cand
    ) WHERE cosine >= {_EMB_LSH_THRESHOLD}
    """


@register("dedup_embedding_lsh", oracle=_emb_lsh_oracle())
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    # 64-term flat dot chain into the join stage either fails janino's
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
        cand.join(e1, "v1")
        .join(e2, "v2")
        .select("v1", "v2", cosine.alias("cosine"))
        .filter(F.col("cosine") >= _EMB_LSH_THRESHOLD)
    )
