"""Incremental-store variants for the exact, SimHash, n-gram
Jaccard, and semantic dedup families — completing the production
posture ``dedup_incremental_newbatch`` established for MinHash
(VERDICT r15 task 4): EVERY dedup family now has a batch path whose
history side is a bucketed signature store read with NO Exchange —
the 100-TB history shuffle is paid once at write time, each new
ingest batch shuffles only itself into the store's bucketing.

Five stores, same lifecycle as the MinHash band store
(``operators/stores.py``: per-session dir, atexit cleanup,
stale-sibling sweep, provision cache) — the four dedup-family
signature stores below plus the r19 PQ-code companion of the semantic
cell store (see the incremental IVF-PQ section):

- Exact: history rows ``(doc_id, fp)`` — the ``dedup_exact_documents``
  md5-of-normalized-text fingerprint, bucketed on ``fp``: the
  cheapest tier, a pure key-probe (the verdict needs no verify
  stage).
- Semantic (SemDeDup-style): history rows ``(vec_id, cid, embedding,
  vrank, cell_n)`` bucketed on the cell id — cells are seeded by a
  MAP-ONLY md5-coin (no window, no sort; see the section comment), a
  new vector probes its top-{SEM_N_PROBE} cells (a per-vector
  ``top_n`` by cosine DESC, cell id) and
  compares exact cosines ONLY against each probed cell's coin-ranked
  first {SEM_VERIFY_CAP} members (``vrank``, denormalized at write
  time; cosine >= {COS_T}, the fixture-calibrated
  ``dedup_embedding_neardup`` threshold), with the cells' true
  occupancy (``cell_n``) reported as ``n_cand_unbounded`` so the
  clip is visible data; at production scale the cells are SemDeDup's
  K lists and the store scan per batch touches only probed buckets,
  each contributing a BOUNDED verify block however skewed realized
  occupancy gets.

- SimHash: history rows ``(doc_id, simhash, band)`` where ``band``
  fuses the band id into one 16-byte key —
  ``unhex(md5(i || ':' || substr(simhash, 16i+1, 16)))`` for the 4
  16-bit bands of a 64-BIT signature (Manku et al. 2007's geometry;
  the batch queries' 32-bit/8-bit fixture signature has only 256
  keys per band and went quadratic in the r16 scale probe — see the
  section comment).  Band collisions are the cheap candidate filter;
  candidates are then verified with the exact Hamming distance
  (<= {HAM_T} of 64) — the two-stage shape every simhash deployment
  runs, with the verify stage on candidate pairs only.
- n-gram Jaccard: history rows ``(doc_id, n, key)`` — one row per
  DISTINCT 3-token shingle, ``key = unhex(md5(shingle))`` (16-byte
  binary join keys: md5/unhex fold identically on both engines, so
  hashing long shingle text loses no oracle exactness), ``n`` the
  doc's distinct-shingle count denormalized for the Jaccard
  denominator.  A new doc's verdict needs history sizes WITHOUT
  touching history docs outside shared-shingle buckets — exactly
  what the denormalized ``n`` provides.

Both emit per new-batch document the candidate count, the verified
near-dup count, and the keep verdict; the DuckDB oracle recomputes
both sides from scratch, so any bucket-routing or verify-stage bug
flips the hash.  Fixture split: history = ``doc_id % 10 != 0``,
new batch = ``doc_id % 10 = 0`` (the ``dedup_incremental``
convention).

``tests/test_dedup_incremental_more.py`` asserts the executed plans
carry zero Exchange above each history store scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.text import (
    HEX6,
    fingerprint,
    hex_int,
    shingles_long,
    sql_hex_int,
    sql_normalize,
    sql_shingles,
    sql_tokens,
    tokens,
)
from ..operators.ann import (
    TOP_K,
    pq_encode,
    pq_lut,
    sql_pq_codes,
    sql_pq_lut,
    sql_subvectors,
    sql_trained_codebook_ctes,
    subvectors,
    train_codebook,
)
from ..operators.rank import top_n
from ..operators.stores import (
    append_to_store,
    cached_table,
    compact_store,
    provision_store,
    store_root,
)
from ..operators.vectors import cosine, duck_valid, sql_cosine, valid_vecs
from ..registry import register
from ..sources import load_table

HAM_T = 8          # max Hamming distance (of 64) for a simhash near-dup
JACCARD_T = 0.05   # the dedup_ngram_jaccard threshold
SIM_BITS = 64      # Manku et al. 2007: 64-bit fingerprints
SIM_BANDS = 4      # 4 bands x 16 bits — 65536-key band space
SIM_BAND_W = SIM_BITS // SIM_BANDS
SEM_MIN_CELLS = 16     # floor of the scaled cell count
SEM_CELL_SIZE = 64     # target history vectors per cell (cells ~ N/64)
SEM_N_PROBE = 2    # cells probed per new vector (IVF probe discipline)
COS_T = 0.4        # the dedup_embedding_neardup fixture threshold
# per-cell exact-verify bound (r19, VERDICT r18 task 5 — the third
# application of the BAND_CAP/VERIFY_TARGET discipline): the dedup
# verdict compares a new vector against AT MOST this many history
# vectors per probed cell — the coin-ranked first SEM_VERIFY_CAP of
# the cell (a uniform deterministic sample), so the exact-cosine
# verify volume is bounded by SEM_N_PROBE * SEM_VERIFY_CAP per new
# vector HOWEVER skewed realized cell occupancy gets (the residual
# super-sqrt term in the r18 100x probe).  The clip is visible as
# data: n_cand_unbounded carries the probed cells' true occupancy.
SEM_VERIFY_CAP = 4 * SEM_CELL_SIZE


# --- SimHash ---------------------------------------------------------
#
# 64-bit fingerprints with 4 x 16-bit bands — the Manku et al. 2007
# near-duplicate detection geometry.  The batch queries' 32-bit/8-bit
# fixture signature is NOT scale-safe here: an 8-bit band has only 256
# possible keys, so at N docs every bucket holds ~N/256 entries and
# the candidate verify stage goes quadratic (measured 14x wall at 10x
# data in the r16 probe).  16-bit bands give 65536 keys per band —
# bucket occupancy, and so candidate volume, drops 256x and tracks the
# corpus's true near-dup density.  md5 yields 32 hex chars, so bits
# 32-63 come from a second independent hash md5('2:' || t).


def _simhash64_df(d: DataFrame) -> DataFrame:
    """(doc_id, simhash): 64-bit SimHash as a bit string (two md5
    families, 64 map-side-partial ±1 sums, one doc_id shuffle)."""
    exploded = (
        d.select(
            "doc_id",
            F.explode(tokens("text")).alias("t"),
        )
        .select(
            "doc_id",
            F.md5("t").alias("h1"),
            F.md5(F.concat(F.lit("2:"), F.col("t"))).alias("h2"),
        )
    )
    sums = [
        F.sum(
            F.when(
                F.substring(
                    "h1" if j < 32 else "h2", (j % 32) + 1, 1
                ).isin(*"89abcdef"),
                1,
            ).otherwise(-1)
        ).alias(f"b{j}")
        for j in range(SIM_BITS)
    ]
    per_doc = d.select("doc_id").join(
        exploded.groupBy("doc_id").agg(*sums), "doc_id", "left"
    )
    bits = F.concat(
        *[
            F.when(
                F.coalesce(F.col(f"b{j}"), F.lit(0)) > 0, F.lit("1")
            ).otherwise(F.lit("0"))
            for j in range(SIM_BITS)
        ]
    )
    return per_doc.select("doc_id", bits.alias("simhash"))


def _sql_simhash64(text_expr: str) -> str:
    """DuckDB twin of :func:`_simhash64_df`."""
    toks = sql_tokens(text_expr)
    parts = []
    for j in range(SIM_BITS):
        src = "md5(t)" if j < 32 else "md5('2:' || t)"
        contrib = (
            f"list_sum(list_transform({toks}, t -> CASE WHEN "
            f"substring({src}, {(j % 32) + 1}, 1) IN "
            "('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END))"
        )
        parts.append(
            f"CASE WHEN COALESCE({contrib}, 0) > 0 THEN '1' ELSE '0' END"
        )
    return " || ".join(parts)


def _sim_bands(sig: DataFrame) -> DataFrame:
    """(doc_id, simhash, band): the 4 fused 16-byte band keys."""
    bands = F.array(
        *[
            F.unhex(
                F.md5(
                    F.concat(
                        F.lit(f"{i}:"),
                        F.substring("simhash", SIM_BAND_W * i + 1, SIM_BAND_W),
                    )
                )
            )
            for i in range(SIM_BANDS)
        ]
    )
    return sig.select("doc_id", "simhash", F.explode(bands).alias("band"))


_SIM_HAMMING_DUCK = (
    f"len(list_filter(generate_series(1, {SIM_BITS}),"
    " i -> substr(nsig, i, 1) <> substr(hsig, i, 1)))"
)

_SIM_ORACLE = f"""
WITH hist AS (
  SELECT doc_id, {_sql_simhash64("text")} AS sig FROM documents
  WHERE doc_id % 10 <> 0
),
newd AS (
  SELECT doc_id, {_sql_simhash64("text")} AS sig FROM documents
  WHERE doc_id % 10 = 0
),
g AS (SELECT unnest(generate_series(0, {SIM_BANDS - 1})) AS i),
hb AS (
  SELECT doc_id, sig,
         unhex(md5(CAST(i AS VARCHAR) || ':'
               || substr(sig, i * {SIM_BAND_W} + 1, {SIM_BAND_W}))) AS band
  FROM hist, g
),
nb AS (
  SELECT doc_id, sig,
         unhex(md5(CAST(i AS VARCHAR) || ':'
               || substr(sig, i * {SIM_BAND_W} + 1, {SIM_BAND_W}))) AS band
  FROM newd, g
),
cand AS (
  SELECT DISTINCT n.doc_id AS new_id, h.doc_id AS hist_id,
         n.sig AS nsig, h.sig AS hsig
  FROM nb n JOIN hb h ON h.band = n.band
),
per AS (
  SELECT new_id,
         CAST(COUNT(*) AS BIGINT) AS n_hist_candidates,
         CAST(SUM(CASE WHEN {_SIM_HAMMING_DUCK} <= {HAM_T}
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_hist_neardups
  FROM cand GROUP BY 1
)
SELECT d.doc_id,
       COALESCE(per.n_hist_candidates, 0) AS n_hist_candidates,
       COALESCE(per.n_hist_neardups, 0) AS n_hist_neardups,
       COALESCE(per.n_hist_neardups, 0) = 0 AS keep
FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d
LEFT JOIN per ON per.new_id = d.doc_id
"""

_SIM_HAMMING_SPARK = (
    "size(filter(sequence(1, 64),"
    " i -> substring(nsig, i, 1) <> substring(hsig, i, 1)))"
)


def _provision_simhash_store(spark: SparkSession, sf_dir: str) -> str:
    hist = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 10 != 0
    )
    return provision_store(
        spark, sf_dir, "simhash_band", _sim_bands(_simhash64_df(hist)), "band"
    )


@register("dedup_incremental_simhash", oracle=_SIM_ORACLE)
def dedup_incremental_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    store = _provision_simhash_store(spark, sf_dir)
    hist = spark.table(store).select(
        F.col("doc_id").alias("hist_id"), F.col("simhash").alias("hsig"),
        "band",
    )
    newd = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 10 == 0
    )
    new_bands = _sim_bands(_simhash64_df(newd)).select(
        F.col("doc_id").alias("new_id"), F.col("simhash").alias("nsig"),
        "band",
    )
    cand = (
        new_bands.join(hist, "band")
        .select("new_id", "hist_id", "nsig", "hsig")
        .distinct()
    )
    per = cand.groupBy("new_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_hist_candidates"),
        F.sum(
            F.when(F.expr(_SIM_HAMMING_SPARK) <= HAM_T, 1).otherwise(0)
        )
        .cast("long")
        .alias("n_hist_neardups"),
    )
    nd = F.coalesce(F.col("n_hist_neardups"), F.lit(0))
    return (
        newd.select("doc_id")
        .join(per, per["new_id"] == F.col("doc_id"), "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_hist_candidates"), F.lit(0)).alias(
                "n_hist_candidates"
            ),
            nd.alias("n_hist_neardups"),
            (nd == 0).alias("keep"),
        )
    )


# --- n-gram Jaccard --------------------------------------------------

def _shingle_keys(d: DataFrame) -> DataFrame:
    """(doc_id, n, key): distinct 3-shingles as 16-byte md5 keys with
    the doc's distinct-shingle count denormalized per row."""
    sh = shingles_long(d, "text", 3).distinct()
    sized = sh.join(
        sh.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n")),
        "doc_id",
    )
    return sized.select("doc_id", "n", F.unhex(F.md5("s")).alias("key"))


_NGRAM_ORACLE = f"""
WITH hs AS (
  SELECT doc_id, unnest(list_distinct({sql_shingles()})) AS s
  FROM documents WHERE doc_id % 10 <> 0
),
hist AS (
  SELECT doc_id, unhex(md5(s)) AS key,
         CAST(COUNT(*) OVER (PARTITION BY doc_id) AS BIGINT) AS n
  FROM hs
),
ns AS (
  SELECT doc_id, unnest(list_distinct({sql_shingles()})) AS s
  FROM documents WHERE doc_id % 10 = 0
),
newb AS (
  SELECT doc_id, unhex(md5(s)) AS key,
         CAST(COUNT(*) OVER (PARTITION BY doc_id) AS BIGINT) AS n
  FROM ns
),
pairs AS (
  SELECT n.doc_id AS new_id, h.doc_id AS hist_id,
         CAST(COUNT(*) AS BIGINT) AS inter,
         MAX(n.n) AS n_new, MAX(h.n) AS n_hist
  FROM newb n JOIN hist h ON h.key = n.key
  GROUP BY 1, 2
),
per AS (
  SELECT new_id,
         CAST(COUNT(*) AS BIGINT) AS n_hist_candidates,
         CAST(SUM(CASE WHEN CAST(inter AS DOUBLE)
                            / (n_new + n_hist - inter) >= {JACCARD_T}
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_hist_neardups
  FROM pairs GROUP BY 1
)
SELECT d.doc_id,
       COALESCE(per.n_hist_candidates, 0) AS n_hist_candidates,
       COALESCE(per.n_hist_neardups, 0) AS n_hist_neardups,
       COALESCE(per.n_hist_neardups, 0) = 0 AS keep
FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d
LEFT JOIN per ON per.new_id = d.doc_id
"""


def _provision_ngram_store(spark: SparkSession, sf_dir: str) -> str:
    hist = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 10 != 0
    )
    return provision_store(
        spark, sf_dir, "ngram_shingle", _shingle_keys(hist), "key"
    )


@register("dedup_incremental_ngram", oracle=_NGRAM_ORACLE)
def dedup_incremental_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    store = _provision_ngram_store(spark, sf_dir)
    hist = spark.table(store).select(
        F.col("doc_id").alias("hist_id"), F.col("n").alias("n_hist"), "key"
    )
    newd = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 10 == 0
    )
    new_keys = _shingle_keys(newd).select(
        F.col("doc_id").alias("new_id"), F.col("n").alias("n_new"), "key"
    )
    pairs = (
        new_keys.join(hist, "key")
        .groupBy("new_id", "hist_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("inter"),
            F.max("n_new").alias("n_new"),
            F.max("n_hist").alias("n_hist"),
        )
    )
    jac = F.col("inter").cast("double") / (
        F.col("n_new") + F.col("n_hist") - F.col("inter")
    )
    per = pairs.groupBy("new_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_hist_candidates"),
        F.sum(F.when(jac >= JACCARD_T, 1).otherwise(0))
        .cast("long")
        .alias("n_hist_neardups"),
    )
    nd = F.coalesce(F.col("n_hist_neardups"), F.lit(0))
    return (
        newd.select("doc_id")
        .join(per, per["new_id"] == F.col("doc_id"), "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_hist_candidates"), F.lit(0)).alias(
                "n_hist_candidates"
            ),
            nd.alias("n_hist_neardups"),
            (nd == 0).alias("keep"),
        )
    )


# --- Exact -----------------------------------------------------------
#
# The fixture corpus has NO exact duplicates across the 90/10 split
# (every normalized text is unique), so the new batch deterministically
# simulates RE-CRAWLS — the exact-dup event this tier exists for: a
# new doc with ``doc_id % 20 = 0`` presents the text of ``doc_id + 1``
# (a history doc), the rest keep their own text.  Both engines
# synthesize the batch identically, so the verdict fires both ways and
# stays an exact oracle pair.

_EXACT_ORACLE = f"""
WITH hist AS (
  SELECT doc_id, md5({sql_normalize()}) AS fp FROM documents WHERE doc_id % 10 <> 0
),
newbatch AS (
  SELECT d.doc_id, h.text
  FROM (SELECT doc_id,
               doc_id + CASE WHEN doc_id % 20 = 0 THEN 1 ELSE 0 END
                 AS src_id
        FROM documents WHERE doc_id % 10 = 0) d
  JOIN documents h ON h.doc_id = d.src_id
),
newd AS (
  SELECT doc_id, md5({sql_normalize()}) AS fp FROM newbatch
),
per AS (
  SELECT n.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hist_copies
  FROM newd n JOIN hist h ON h.fp = n.fp
  GROUP BY 1
)
SELECT d.doc_id,
       COALESCE(per.n_hist_copies, 0) AS n_hist_copies,
       COALESCE(per.n_hist_copies, 0) = 0 AS keep
FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d
LEFT JOIN per ON per.doc_id = d.doc_id
"""


def _provision_exact_store(spark: SparkSession, sf_dir: str) -> str:
    hist = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 10 != 0
    )
    frame = hist.select("doc_id", fingerprint("text").alias("fp"))
    return provision_store(spark, sf_dir, "exact_fp", frame, "fp")


def _recrawl_batch(d: DataFrame) -> DataFrame:
    """(doc_id, text): the synthesized new batch — every 2nd new doc
    re-presents its successor history doc's text."""
    ids = d.filter(F.col("doc_id") % 10 == 0).select(
        "doc_id",
        (
            F.col("doc_id")
            + F.when(F.col("doc_id") % 20 == 0, 1).otherwise(0)
        ).alias("src_id"),
    )
    src = d.select(F.col("doc_id").alias("src_id"), "text")
    return ids.join(src, "src_id").select("doc_id", "text")


@register("dedup_incremental_exact", oracle=_EXACT_ORACLE)
def dedup_incremental_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    store = _provision_exact_store(spark, sf_dir)
    hist = spark.table(store).select(
        F.col("doc_id").alias("hist_id"), "fp"
    )
    d = load_table(spark, sf_dir, "documents")
    newd = _recrawl_batch(d)
    new_fp = newd.select("doc_id", fingerprint("text").alias("fp"))
    per = (
        new_fp.join(hist, "fp")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hist_copies"))
    )
    n = F.coalesce(F.col("n_hist_copies"), F.lit(0))
    return (
        d.filter(F.col("doc_id") % 10 == 0)
        .select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            n.alias("n_hist_copies"),
            (n == 0).alias("keep"),
        )
    )


# --- Semantic (SemDeDup-style in-cell compare) ------------------------
#
# Centroid seeding is a MAP-ONLY md5-coin (r18, closing the r17
# verdict's last scale defect): a history vector is a cell seed iff
# its coin — the first 6 md5 hex digits as an integer, uniform in
# [0, 16^6) — clears a threshold of expected rate 1/SEM_CELL_SIZE
# (so K ~ N/64, the SemDeDup scaling knob), widened to
# SEM_MIN_CELLS/n for small histories.  Coarse seeds thin the SAME
# coin by a further 1/ceil(sqrt(K_expected)) so C ~ sqrt(K), keeping
# the two-level assignment at N x (C + K/C) evals.  The coin
# thresholds need exactly two data-dependent scalars — COUNT(*) and
# MIN(coin) over the history — computed as one tree-reduced aggregate
# and broadcast back: the only shuffle moves one partial-aggregate
# row per PARTITION (never a vector row), vs the r17 scheme's global
# no-partition row_number/count windows that sorted ALL history
# vectors in a single task.  MIN(coin) is the hard >=1 floor: the
# minimum-coin vector is always both a seed and a coarse seed, so
# seeding can never come up empty however the coins fall.  All
# threshold arithmetic is BIGINT and bit-exact across Spark and
# DuckDB, with every product PROVABLY in range (r19, ADVICE r18
# medium): the small-history widening terms ``coin * n (* cs)`` are
# gated on ``n < SEM_CELL_SIZE * SEM_MIN_CELLS`` — the only regime
# where they can fire at all (for larger n they are implied by the
# ungated rate terms: coin*n < HEX6*MIN_CELLS with n >= CELL*MIN
# forces coin*CELL < HEX6) — so their operands stay under 2^36,
# while the ungated ``coin * SEM_CELL_SIZE * cs`` term needs
# n > 2^72 history vectors to overflow.  The ungated Spark-side
# ``coin * n`` of an unguarded scheme would wrap silently past
# n ~ 2^39 (DuckDB raises), diverging exactly at scale.

_SEM_DUCK_COIN = sql_hex_int("md5(CAST(vec_id AS VARCHAR))")


def _coin_expr(col: str = "vec_id"):
    """The family's md5 coin as ONE Spark expression (ADVICE r19):
    first 6 md5 hex digits of the id as an integer, uniform in
    [0, HEX6).  Shared by centroid seeding (:func:`_sem_cents`), the
    store's write-time verify rank (:func:`_provision_semantic_store`)
    and its append-side continuation — the Spark twin of the oracle's
    ``_SEM_DUCK_COIN``; one definition, so the store rank and the
    oracle's replay can never silently diverge."""
    return hex_int(F.md5(F.col(col).cast("string")))

# the shared seeding/assignment/probe CTE chain (composed by BOTH the
# semantic-dedup oracle and the ann_incremental_ivf oracle below —
# one geometry, one place, the operators.lsh.SQL_BANDS discipline)
_SEM_CTES = f"""hvecs AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE {duck_valid()} AND vec_id % 10 <> 0
),
nvecs AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE {duck_valid()} AND vec_id % 10 = 0
),
hstats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         MIN({_SEM_DUCK_COIN}) AS mincoin
  FROM hvecs
),
coined AS (
  SELECT vec_id, embedding, {_SEM_DUCK_COIN} AS coin, s.n, s.mincoin,
         CAST(ceil(sqrt(greatest(s.n // {SEM_CELL_SIZE},
                                 {SEM_MIN_CELLS}))) AS BIGINT) AS cs
  FROM hvecs CROSS JOIN hstats s
),
cents AS (
  SELECT vec_id AS cid, embedding AS cv,
         (coin * {SEM_CELL_SIZE} * cs < {HEX6}
          OR (n < {SEM_CELL_SIZE * SEM_MIN_CELLS}
              AND coin * n * cs < {HEX6} * {SEM_MIN_CELLS})
          OR coin = mincoin) AS is_coarse
  FROM coined
  WHERE coin * {SEM_CELL_SIZE} < {HEX6}
     OR (n < {SEM_CELL_SIZE * SEM_MIN_CELLS}
         AND coin * n < {HEX6} * {SEM_MIN_CELLS})
     OR coin = mincoin
),
coarse AS (
  SELECT cid AS gid, cv AS gv FROM cents WHERE is_coarse
),
c2g AS (
  SELECT cid, cv, gid FROM (
    SELECT c.cid, c.cv, g.gid,
           row_number() OVER (PARTITION BY c.cid ORDER BY
             {sql_cosine("c.cv", "g.gv")} DESC, g.gid) AS grn
    FROM cents c CROSS JOIN coarse g) WHERE grn = 1
),
hv2g AS (
  SELECT vec_id, embedding, gid FROM (
    SELECT v.vec_id, v.embedding, g.gid,
           row_number() OVER (PARTITION BY v.vec_id ORDER BY
             {sql_cosine("v.embedding", "g.gv")} DESC, g.gid) AS grn
    FROM hvecs v CROSS JOIN coarse g) WHERE grn = 1
),
hassign AS (
  SELECT vec_id, embedding, cid FROM (
    SELECT v.vec_id, v.embedding, s.cid,
           row_number() OVER (PARTITION BY v.vec_id ORDER BY
             {sql_cosine("v.embedding", "s.cv")} DESC, s.cid) AS arn
    FROM hv2g v JOIN c2g s ON s.gid = v.gid) WHERE arn = 1
),
nv2g AS (
  SELECT vec_id, embedding, gid FROM (
    SELECT v.vec_id, v.embedding, g.gid,
           row_number() OVER (PARTITION BY v.vec_id ORDER BY
             {sql_cosine("v.embedding", "g.gv")} DESC, g.gid) AS grn
    FROM nvecs v CROSS JOIN coarse g) WHERE grn <= {SEM_N_PROBE}
),
nassign AS (
  SELECT vec_id, embedding, cid FROM (
    SELECT v.vec_id, v.embedding, s.cid,
           row_number() OVER (PARTITION BY v.vec_id ORDER BY
             {sql_cosine("v.embedding", "s.cv")} DESC, s.cid) AS arn
    FROM nv2g v JOIN c2g s ON s.gid = v.gid) WHERE arn <= {SEM_N_PROBE}
)"""

_SEM_ORACLE = f"""
WITH {_SEM_CTES},
hranked AS (
  SELECT vec_id, embedding, cid,
         row_number() OVER (PARTITION BY cid
                            ORDER BY {_SEM_DUCK_COIN}, vec_id) AS vrank,
         CAST(COUNT(*) OVER (PARTITION BY cid) AS BIGINT) AS cell_n
  FROM hassign
),
percell AS (
  SELECT n.vec_id, n.cid,
         CAST(COUNT(*) AS BIGINT) AS cnt,
         CAST(SUM(CASE WHEN {sql_cosine("n.embedding", "h.embedding")}
                       >= {COS_T} THEN 1 ELSE 0 END) AS BIGINT) AS dups,
         MAX(h.cell_n) AS n_cell
  FROM nassign n
  JOIN hranked h ON h.cid = n.cid AND h.vrank <= {SEM_VERIFY_CAP}
  GROUP BY 1, 2
),
per AS (
  SELECT vec_id,
         CAST(SUM(cnt) AS BIGINT) AS n_hist_candidates,
         CAST(SUM(dups) AS BIGINT) AS n_hist_neardups,
         CAST(SUM(n_cell) AS BIGINT) AS n_cand_unbounded
  FROM percell GROUP BY 1
)
SELECT d.vec_id,
       COALESCE(per.n_hist_candidates, 0) AS n_hist_candidates,
       COALESCE(per.n_hist_neardups, 0) AS n_hist_neardups,
       COALESCE(per.n_cand_unbounded, 0) AS n_cand_unbounded,
       COALESCE(per.n_hist_neardups, 0) = 0 AS keep
FROM (SELECT vec_id FROM nvecs) d
LEFT JOIN per ON per.vec_id = d.vec_id
"""


def _sem_cents(hist: DataFrame) -> DataFrame:
    """Md5-coin centroid seeds (cid, cv, is_coarse), count SCALED with
    the history (~{SEM_CELL_SIZE} vectors per cell — fixed cell counts
    make in-cell pairs quadratic in N; the r16 probe measured 16.6x
    wall at 10x data with 16 fixed cells).  MAP-ONLY (r18): each
    vector decides seedhood from its own coin plus two broadcast
    scalars (history count, minimum coin); the r17 hash-ordered
    row_number rank sorted ALL history vectors through one
    no-partition window — the single-task shape the 100-TB brief
    forbids.  The minimum-coin vector is always a (coarse) seed, so
    the cell set is never empty.  Mirrors SemDeDup's K scaling
    (production seeds come from sampled k-means); the oracle replays
    the identical integer coin arithmetic."""
    from ..hints import constant_size

    coined = hist.select("vec_id", "embedding", _coin_expr().alias("coin"))
    # 1-row scalar aggregate (count + min coin) broadcast back —
    # constant-size by construction at any history volume
    stats = coined.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("coin").alias("mincoin"),
    )
    seeded = coined.crossJoin(constant_size(stats)).withColumn(
        "cs",
        F.expr(
            f"CAST(ceil(sqrt(greatest(n DIV {SEM_CELL_SIZE},"
            f" {SEM_MIN_CELLS}))) AS BIGINT)"
        ),
    )
    from ..caching import scoped_persist

    is_floor = F.col("coin") == F.col("mincoin")
    # the widening terms are GATED on the small-history regime where
    # alone they can fire (see the section comment): ungated, coin * n
    # wraps BIGINT past n*cs ~ 2^39 — Spark wraps silently where
    # DuckDB raises, so the engines would diverge exactly at scale
    small = F.col("n") < SEM_CELL_SIZE * SEM_MIN_CELLS
    is_seed = (
        (F.col("coin") * SEM_CELL_SIZE < HEX6)
        | (small & (F.col("coin") * F.col("n") < HEX6 * SEM_MIN_CELLS))
        | is_floor
    )
    is_coarse = (
        (F.col("coin") * SEM_CELL_SIZE * F.col("cs") < HEX6)
        | (
            small
            & (F.col("coin") * F.col("n") * F.col("cs")
               < HEX6 * SEM_MIN_CELLS)
        )
        | is_floor
    )
    # persisted: the cents frame is centroid-sized (~N/64 rows) but
    # referenced by EVERY downstream consumer (coarse, c2g, both
    # probe argmins) — without the barrier each reference re-expands
    # the scan + scalar-aggregate subtree, multiplying the plan's
    # Exchange census ~5x (caught by tests/test_shuffle_budget.py)
    return scoped_persist(
        seeded.filter(is_seed).select(
            F.col("vec_id").alias("cid"),
            F.col("embedding").alias("cv"),
            is_coarse.alias("is_coarse"),
        )
    )


def _sem_coarse(cents: DataFrame) -> DataFrame:
    """The ~1/ceil(sqrt(K)) coin-thinned cells as coarse group seeds
    (gid, gv) — a pure filter on the cents frame's own is_coarse
    column, no window, no action."""
    return cents.filter("is_coarse").select(
        F.col("cid").alias("gid"), F.col("cv").alias("gv")
    )


def _sem_assign(vecs: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, embedding, cid): TWO-LEVEL nearest-centroid by cosine
    (r17, closing the r16 probe residual): vectors first pick the
    nearest of C = ceil(sqrt(K)) coarse seeds, then the nearest fine
    cell WITHIN that coarse group (cells pre-grouped by the same
    argmin rule).  The r16 flat scheme evaluated N x K cosines with
    K ∝ N (the SemDeDup scaling knob) — quadratic, 4.44x wall at 10x
    data even after the cell-count fix; two-level cuts evals to
    N x (C + K/C) ≈ 2N·sqrt(K), the ``plans/semantic_dedup``
    geometry. Membership near coarse boundaries can differ from the
    flat argmin; the oracle mirrors the SAME two-level rule, so the
    differential stays bit-exact."""
    coarse = _sem_coarse(cents)
    c2g = _sem_c2g(cents, coarse)
    # vector -> coarse group: N x C evals, one N-row shuffle
    v2g = top_n(
        vecs.crossJoin(coarse).withColumn("cos", cosine("embedding", "gv")),
        ("vec_id",),
        (F.desc("cos"), "gid"),
        1,
    ).select("vec_id", "embedding", "gid")
    # vector -> fine cell within its group: ~N x K/C evals
    return top_n(
        v2g.join(c2g, "gid").withColumn("cos", cosine("embedding", "cv")),
        ("vec_id",),
        (F.desc("cos"), "cid"),
        1,
    ).select("vec_id", "embedding", "cid")


def _sem_c2g(cents: DataFrame, coarse: DataFrame) -> DataFrame:
    """Fine cell -> coarse group (K x C evals, both centroid-sized;
    persisted — two consumers in the probe path), hinted while its K
    rows fit under the broadcast threshold."""
    from ..caching import scoped_persist
    from ..hints import broadcast_if_fits

    # K grows with history (~N/64 cells), and below the seeding cross
    # join Catalyst cannot size cents, coarse or c2g: counting the cells
    # materializes the shared cents cache (real sizes for the cross
    # joins) and gives c2g a byte estimate, ~600 B per (cid, vector,
    # gid) row
    k = cents.count()
    c2g = scoped_persist(
        top_n(
            cents.crossJoin(coarse).withColumn("cos", cosine("cv", "gv")),
            ("cid",),
            (F.desc("cos"), "gid"),
            1,
        ).select("cid", "cv", "gid")
    )
    return broadcast_if_fits(c2g, k * 600)


def _sem_probe(vecs: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, embedding, cid) x up to {SEM_N_PROBE} probed cells per
    NEW vector — IVF probe discipline (r18): the r17 single-cell
    assignment missed near-dup pairs whose two sides fall just either
    side of a cell boundary (the md5-coin reseeding surfaced this: the
    sf0.001 fixture's 10 true pairs all have cosine < 0.46, and ALL
    split across cells under top-1 probing).  The new batch probes its
    top-{SEM_N_PROBE} coarse groups, then the top-{SEM_N_PROBE} fine
    cells within their union — each level one per-vector ``top_n``
    over C resp. probe*K/C candidates, never the corpus.  History stays
    single-assigned (each history vector lives in exactly ONE store
    bucket), so probed cells are disjoint and per-vector candidate
    counts never double-count."""
    coarse = _sem_coarse(cents)
    c2g = _sem_c2g(cents, coarse)
    # top-2 coarse groups: N x C evals, one N-row shuffle
    probeg = top_n(
        vecs.crossJoin(coarse).withColumn("cos", cosine("embedding", "gv")),
        ("vec_id",),
        (F.desc("cos"), "gid"),
        SEM_N_PROBE,
    ).select("vec_id", "embedding", "gid")
    # candidate cells = the probed groups' cells: ~N*probe x K/C evals
    return top_n(
        probeg.join(c2g, "gid").withColumn("cos", cosine("embedding", "cv")),
        ("vec_id",),
        (F.desc("cos"), "cid"),
        SEM_N_PROBE,
    ).select("vec_id", "embedding", "cid")


def _semantic_rank(assign: DataFrame) -> DataFrame:
    """(vec_id, embedding, cid) -> + (vrank, cell_n): the store's
    write-time denormalizations — ``vrank`` orders each cell's members
    by their md5 coin (the shared :func:`_coin_expr`), ``cell_n``
    carries the cell's true occupancy.  Factored out of the one-shot
    provisioner so the append-side COMPACTION recomputes exactly the
    same columns (bit-identity between a compacted appended store and
    a one-shot build is this shared definition)."""
    from pyspark.sql import Window

    cell = Window.partitionBy("cid")
    return (
        assign.withColumn("coin", _coin_expr())
        .withColumn(
            "vrank", F.row_number().over(cell.orderBy("coin", "vec_id"))
        )
        .withColumn("cell_n", F.count(F.lit(1)).over(cell).cast("long"))
        .drop("coin")
    )


def _provision_semantic_store(
    spark: SparkSession, sf_dir: str, force: bool = False
) -> str:
    """The bucketed cell store, with the verify-cap rank DENORMALIZED
    at write time (r19): consumers that must bound their per-cell work
    filter ``vrank <= SEM_VERIFY_CAP`` as a pure SCAN predicate — zero
    probe-time window/shuffle; the one cid-partitioned window here
    rides the write-side shuffle the store already pays once.  r20:
    built once per session (provision cache) — the serving queries
    below pay the probe only; ``ann_ivfpq_provision`` forces the
    rebuild so the build cost stays measured."""
    hist = valid_vecs(load_table(spark, sf_dir, "embeddings")).filter(
        F.col("vec_id") % 10 != 0
    ).select("vec_id", "embedding")
    cents = _sem_cents(hist)
    assign = _sem_assign(hist, cents)
    return provision_store(
        spark, sf_dir, "semantic_cell", _semantic_rank(assign), "cid",
        force=force,
    )


def append_to_semantic_store(
    spark: SparkSession, name: str, batch: DataFrame
) -> None:
    """APPEND an accepted batch's assigned vectors ``(vec_id,
    embedding, cid)`` to the semantic cell store with RANK MAINTENANCE
    (VERDICT r19 task 1): the r19d verify cap READS the write-time
    denormalizations, and a spec-only append would let them go stale —
    silently un-bounding the verify volume the cap exists to bound.

    - ``vrank`` CONTINUES after the resident per-cell max: appended
      rows rank (coin, vec_id) within their installment, offset by the
      cell's resident maximum — ranks stay dense and unique per cell,
      so ``vrank <= SEM_VERIFY_CAP`` still selects exactly
      ``min(cell_n, SEM_VERIFY_CAP)`` members per cell at ANY
      occupancy skew.  Until compaction the cap's verify set is the
      arrival-TIERED coin sample (residents' coin order first, then
      each appended installment's) rather than the one-shot global
      coin order — a uniform sample either way.
    - ``cell_n`` is RE-SUMMED onto the appended rows (resident max +
      installment count); consumers take ``MAX(cell_n)`` per cell, so
      the freshest installment's total wins.  A cell the append never
      touches keeps its build-time count — exact again after
      :func:`compact_semantic_store`.

    The resident (max rank, occupancy) aggregate is a groupBy on the
    store's OWN bucket column — satisfied by the bucketed scan, no
    Exchange; only the batch shuffles (into the rank window, then into
    the store's bucketing — the ``append_to_store`` discipline).
    Exact one-shot invariants (global coin rank, uniform true
    ``cell_n`` on every row) are restored by the per-bucket re-rank
    compaction; ``tests/test_r20_properties.py`` pins
    half-write + half-append + compact == one-shot bit-identically,
    and the probe off that store against the UNCHANGED DuckDB oracle."""
    from pyspark.sql import Window

    resident = spark.table(name).groupBy("cid").agg(
        F.max("vrank").alias("base_rank"),
        F.max("cell_n").alias("base_n"),
    )
    cell = Window.partitionBy("cid")
    ranked = (
        batch.withColumn("coin", _coin_expr())
        .withColumn(
            "arank", F.row_number().over(cell.orderBy("coin", "vec_id"))
        )
        .withColumn("acount", F.count(F.lit(1)).over(cell).cast("long"))
        .join(resident, "cid", "left")
        .select(
            "vec_id",
            "embedding",
            "cid",
            (F.coalesce(F.col("base_rank"), F.lit(0)) + F.col("arank"))
            .alias("vrank"),
            (F.coalesce(F.col("base_n"), F.lit(0)) + F.col("acount"))
            .alias("cell_n"),
        )
    )
    append_to_store(name, ranked)


def compact_semantic_store(spark: SparkSession, name: str) -> str:
    """Per-bucket re-rank compaction of the semantic cell store: the
    generic per-bucket file merge (``compact_store`` — one task per
    bucket, no shuffle) with the store's OWN rank definition
    (:func:`_semantic_rank`) recomputed over the merged cells.  The
    cid window's clustering is satisfied by the bucketed scan (local
    sort, no Exchange), so the rewrite restores the exact one-shot
    invariants — global (coin, vec_id) rank and uniform true
    ``cell_n`` on EVERY row, including cells the appends never touched
    — while history bytes move once and never through a shuffle."""
    return compact_store(
        name,
        rewrite=lambda df: _semantic_rank(
            df.select("vec_id", "embedding", "cid")
        ),
    )


@register("dedup_incremental_semantic", oracle=_SEM_ORACLE)
def dedup_incremental_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    store = _provision_semantic_store(spark, sf_dir)
    return _sem_probe_verdict(spark, sf_dir, store)


def _sem_probe_verdict(
    spark: SparkSession, sf_dir: str, store: str
) -> DataFrame:
    """The serve-side probe against a named cell store — factored out
    of the registered query so the append lifecycle test probes the
    half-written + half-appended + compacted store through the exact
    code path the driver verifies."""
    # the verify arm reads AT MOST SEM_VERIFY_CAP coin-ranked members
    # per cell — a scan filter on the store's denormalized rank, so
    # the exact-cosine volume stays bounded under any occupancy skew;
    # cell_n rides along to report the unbounded volume as data
    hist = spark.table(store).filter(
        F.col("vrank") <= SEM_VERIFY_CAP
    ).select(
        F.col("vec_id").alias("hist_id"),
        F.col("embedding").alias("hemb"),
        "cid",
        "cell_n",
    )
    emb = valid_vecs(load_table(spark, sf_dir, "embeddings"))
    hist_src = emb.filter(F.col("vec_id") % 10 != 0).select(
        "vec_id", "embedding"
    )
    newv = emb.filter(F.col("vec_id") % 10 == 0).select(
        "vec_id", "embedding"
    )
    # the SAME deterministic centroid pick the store was built with,
    # probing SEM_N_PROBE cells per new vector (probed cells are
    # disjoint — history is single-assigned — so counts never
    # double-count a history vector)
    nassign = _sem_probe(newv, _sem_cents(hist_src))
    cos = cosine("embedding", "hemb")
    # two-stage rollup: the per-(vec, cell) stage rides the cid join's
    # partitioning (hash(cid) satisfies the (vec_id, cid) clustering —
    # no new Exchange); MAX(cell_n) dedups the denormalized occupancy
    # so the unbounded volume sums once per probed cell
    percell = (
        nassign.join(hist, "cid")
        .select(
            "vec_id", "cid",
            (cos >= COS_T).cast("int").alias("is_dup"),
            "cell_n",
        )
        .groupBy("vec_id", "cid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.sum("is_dup").cast("long").alias("dups"),
            F.max("cell_n").alias("n_cell"),
        )
    )
    per = percell.groupBy("vec_id").agg(
        F.sum("cnt").cast("long").alias("n_hist_candidates"),
        F.sum("dups").cast("long").alias("n_hist_neardups"),
        F.sum("n_cell").cast("long").alias("n_cand_unbounded"),
    )
    nd = F.coalesce(F.col("n_hist_neardups"), F.lit(0))
    return (
        newv.select("vec_id")
        .join(per, "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce(F.col("n_hist_candidates"), F.lit(0)).alias(
                "n_hist_candidates"
            ),
            nd.alias("n_hist_neardups"),
            F.coalesce(F.col("n_cand_unbounded"), F.lit(0)).alias(
                "n_cand_unbounded"
            ),
            (nd == 0).alias("keep"),
        )
    )


# --- Incremental IVF ANN serving (r18, VERDICT r17 task 7) ------------
#
# Every dedup family has an incremental-store path, but the ANN
# indexes were rebuilt per query.  This closes the matrix by serving
# top-k neighbor queries off the SAME bucketed cell store the
# semantic-dedup family maintains: the store (vec_id, embedding, cid)
# bucketed+sorted on cid IS a full-precision IVF index — one index,
# two consumers (near-dup verdicts and neighbor search), so the
# 100-TB history shuffle is paid once at write time for both.  A new
# batch assigns cells with the shared two-level md5-coin geometry,
# probes its top-SEM_N_PROBE cells (the `dedup_incremental_newbatch`
# probe discipline applied to ANN), and ranks ONLY the probed
# buckets' history by exact cosine — the history side of the probe
# join is Exchange-free (same plan assertion as the semantic probe).
# Cosines use the left-assoc HOF fold that is bit-identical to
# DuckDB's list_sum, so ranks and values hash-match exactly.


_ANN_IVF_ORACLE = f"""
WITH {_SEM_CTES},
scored AS (
  SELECT n.vec_id, h.vec_id AS neighbor_id,
         {sql_cosine("n.embedding", "h.embedding")} AS cosine
  FROM nassign n JOIN hassign h ON h.cid = n.cid
)
SELECT vec_id, rn, neighbor_id, cosine FROM (
  SELECT vec_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cosine DESC, neighbor_id) AS rn
  FROM scored) WHERE rn <= {TOP_K}
"""


@register("ann_incremental_ivf", oracle=_ANN_IVF_ORACLE)
def ann_incremental_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TOP_K} cosine neighbors from the bucketed history
    store for each new-batch vector, probing SEM_N_PROBE cells —
    probed cells are disjoint (history is single-assigned), so no
    neighbor appears twice and the per-vector rank window runs over
    a bounded candidate list, never the corpus."""
    store = _provision_semantic_store(spark, sf_dir)
    hist = spark.table(store).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("hemb"),
        "cid",
    )
    emb = valid_vecs(load_table(spark, sf_dir, "embeddings"))
    hist_src = emb.filter(F.col("vec_id") % 10 != 0).select(
        "vec_id", "embedding"
    )
    newv = emb.filter(F.col("vec_id") % 10 == 0).select(
        "vec_id", "embedding"
    )
    nassign = _sem_probe(newv, _sem_cents(hist_src))
    cos = cosine("embedding", "hemb")
    return top_n(
        nassign.join(hist, "cid").select(
            "vec_id", "neighbor_id", cos.alias("cosine")
        ),
        ("vec_id",),
        (F.desc("cosine"), "neighbor_id"),
        TOP_K,
        rank="rn",
    ).select("vec_id", F.col("rn").cast("long").alias("rn"),
             "neighbor_id", "cosine")


# --- Incremental IVF-PQ ANN serving (r19, VERDICT r18 task 3) ----------
#
# ``ann_incremental_ivf`` serves full-precision vectors off the cell
# store; at 100 TB of embeddings the servable posture compresses the
# lists (Jegou et al. 2011 SIV): the index artifact becomes (a) a PQ
# codebook trained on HISTORY ONLY — new batches must not leak into
# training, or index quality silently depends on query order — and
# (b) a bucketed CODE store (vec_id, cid, m, k): 4 small codes per
# vector instead of 64 floats, bucketed on the same cell geometry.  A
# new batch probes its top-SEM_N_PROBE cells, ADC-scans ONLY the
# probed buckets' codes against its per-query lookup table (raw
# history floats never enter the scan), exactly re-ranks the
# IVFPQ_SHORTLIST best ADC candidates with true cosines fetched by a
# second bucket probe of the raw-vector store, and ships the overlap
# with the FULL-PRECISION probed top-k (= the ann_incremental_ivf
# twin, computed as the in-query verifier) as hash-checked data —
# "recall went up" can never silently mean "we scanned raw floats".
#
# Plan shape: codebook is an M*K-row constant (constant_size hint);
# the LUT is new-batch x M*K slim bigint rows (an equi-join, never a
# hard broadcast — the batch scales); both bucket probes join the
# stores on cid with the history side Exchange-free (plan-asserted);
# the ADC sum is a two-key groupBy riding the probe join's
# partitioning.  The oracle replays the history-only training split,
# the encode argmin, the ADC sum, and both rank stages bit-exactly
# (integer micro-unit LUTs, (score, id) tiebreaks).

IVFPQ_SHORTLIST = 32  # ADC candidates exactly re-ranked per query


# the history-only PQ index: the trained codebook over the history
# store's subvectors, and every history vector's codes with its cell
_HIST_PQ_CTES = f"""subs AS (
  {sql_subvectors("hassign")}
),
{sql_trained_codebook_ctes()},
hcodes AS (
  SELECT c.vec_id, a.cid, c.m, c.k
  FROM ({sql_pq_codes("subs")}) c JOIN hassign a ON a.vec_id = c.vec_id
)"""


def _ivfpq_oracle() -> str:
    return f"""
WITH {_SEM_CTES},
{_HIST_PQ_CTES},
qsubs AS (
  {sql_subvectors("nvecs")}
),
lut AS (
  {sql_pq_lut("qsubs")}
),
adc AS (
  SELECT n.vec_id AS qid, h.vec_id AS nbr, h.cid,
         CAST(SUM(l.lut_micro) AS BIGINT) AS adc_micro
  FROM nassign n
  JOIN hcodes h ON h.cid = n.cid
  JOIN lut l ON l.qid = n.vec_id AND l.m = h.m AND l.k = h.k
  GROUP BY 1, 2, 3
),
shortlist AS (
  SELECT qid, nbr, cid, adc_micro FROM (
    SELECT qid, nbr, cid, adc_micro,
           row_number() OVER (PARTITION BY qid
                              ORDER BY adc_micro, nbr) AS srn
    FROM adc) WHERE srn <= {IVFPQ_SHORTLIST}
),
rerank AS (
  SELECT qid, nbr, adc_micro, cosine, rn FROM (
    SELECT s.qid, s.nbr, s.adc_micro,
           {sql_cosine("q.embedding", "h.embedding")} AS cosine,
           row_number() OVER (PARTITION BY s.qid ORDER BY
             {sql_cosine("q.embedding", "h.embedding")} DESC, s.nbr) AS rn
    FROM shortlist s
    JOIN hassign h ON h.cid = s.cid AND h.vec_id = s.nbr
    JOIN nvecs q ON q.vec_id = s.qid) WHERE rn <= {TOP_K}
),
fullp AS (
  SELECT qid, nbr FROM (
    SELECT n.vec_id AS qid, h.vec_id AS nbr,
           row_number() OVER (PARTITION BY n.vec_id ORDER BY
             {sql_cosine("n.embedding", "h.embedding")} DESC, h.vec_id)
             AS rn
    FROM nassign n JOIN hassign h ON h.cid = n.cid)
  WHERE rn <= {TOP_K}
),
hits AS (
  SELECT r.qid,
         CAST(SUM(CASE WHEN f.nbr IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_hits_fullprec
  FROM rerank r
  LEFT JOIN fullp f ON f.qid = r.qid AND f.nbr = r.nbr
  GROUP BY 1
)
SELECT r.qid AS vec_id, CAST(r.rn AS BIGINT) AS rn,
       r.nbr AS neighbor_id, r.adc_micro, r.cosine, h.n_hits_fullprec
FROM rerank r JOIN hits h ON h.qid = r.qid
"""


def _encode_cells(frame: DataFrame, cb: DataFrame) -> DataFrame:
    """(vec_id, cid, m, k): the store's vectors encoded against the
    codebook, keeping the cell id for the bucketed code layout."""
    keys = ("vec_id", "cid", "m")
    return pq_encode(subvectors(frame, ("vec_id", "cid")), cb, keys).select(
        *keys, "k"
    )


def _provision_semantic_pq(
    spark: SparkSession, sf_dir: str, raw_store: str | None = None,
    force: bool = False,
) -> tuple[str, str]:
    """(code store, codebook table): train the PQ codebook on the
    HISTORY-ONLY raw-vector store, encode every stored vector, and
    write the codes bucketed on the SAME cell geometry.  The codebook
    is persisted as its own tiny table — it is part of the index
    artifact, and query time must read it, never retrain.  Pass
    ``raw_store`` when the caller already provisioned the raw-vector
    store (one assignment pass, not two).  r20: both artifacts go
    through the provision cache — serving reads them; ``force=True``
    (the ``ann_ivfpq_provision`` build query) retrains and re-encodes
    unconditionally.  Codes are ``operators.ann.pq_encode`` against
    the stored codebook, so the append path encodes exactly by the
    build-time rule."""
    store = raw_store or _provision_semantic_store(spark, sf_dir)
    sf = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    cb_name = f"semantic_pqcb_{sf.replace('.', '_').replace('-', '_')}"

    def build_cb() -> None:
        base = spark.table(store).select("vec_id", "cid", "embedding")
        cb = train_codebook(subvectors(base))
        cb_path = os.path.join(store_root(spark), cb_name)
        spark.sql(f"DROP TABLE IF EXISTS {cb_name}")
        (
            cb.write.mode("overwrite").option("path", cb_path)
            .format("parquet").saveAsTable(cb_name)
        )

    cached_table(
        spark, cb_name, os.path.abspath(sf_dir), build_cb, force=force
    )
    base = spark.table(store).select("vec_id", "cid", "embedding")
    codes = _encode_cells(base, spark.table(cb_name))
    code_store = provision_store(
        spark, sf_dir, "semantic_pqcode", codes, "cid", force=force
    )
    return code_store, cb_name


def append_to_semantic_pq(
    spark: SparkSession, code_store: str, cb_name: str, batch: DataFrame
) -> None:
    """APPEND an accepted batch's PQ codes: encode the assigned
    vectors ``(vec_id, embedding, cid)`` against the EXISTING codebook
    (never retrain inside an append — codebook refresh is a scheduled
    re-provision, triggered by the ``ann_ivfpq_provision`` drift
    metric) and append per-bucket on the shared cell geometry.  Codes
    carry no write-time denormalization, so — unlike the raw cell
    store — an appended code store is BIT-IDENTICAL in content to a
    one-shot encode of the union (pinned in
    ``tests/test_r20_properties.py``); compaction is only the file
    merge that restores single sorted runs."""
    codes = _encode_cells(batch, spark.table(cb_name))
    append_to_store(code_store, codes)


@register("ann_incremental_ivfpq", oracle=_ivfpq_oracle())
def ann_incremental_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TOP_K} neighbors per new-batch vector off the
    COMPRESSED cell store: probe -> ADC over probed buckets' codes ->
    exact re-rank of the {IVFPQ_SHORTLIST}-deep shortlist -> overlap
    with the full-precision probed top-k as ``n_hits_fullprec``.

    r20 (VERDICT r19 task 3 — the build/serve split's serve half):
    this query is READ-ONLY against the session's provisioned
    artifacts — the raw cell store, the trained codebook, and the
    bucketed code store come from the provision cache (built by the
    first consumer or by ``ann_ivfpq_provision``, the build half), so
    an invocation pays probe + ADC + re-rank only.  That is the
    production posture the r19 verdict asked to measure separately:
    at 100 TB the index build is a scheduled provisioning job and
    every serving query is two Exchange-free bucket probes."""
    from ..caching import scoped_persist

    raw_store = _provision_semantic_store(spark, sf_dir)
    code_store, cb_name = _provision_semantic_pq(spark, sf_dir, raw_store)
    emb = valid_vecs(load_table(spark, sf_dir, "embeddings"))
    hist_src = emb.filter(F.col("vec_id") % 10 != 0).select(
        "vec_id", "embedding"
    )
    newv = emb.filter(F.col("vec_id") % 10 == 0).select(
        "vec_id", "embedding"
    )
    # probed cells per query — TWO consumers (ADC scan + the
    # full-precision verifier twin), so the probe computes once
    nassign = scoped_persist(
        _sem_probe(newv, _sem_cents(hist_src))
    )
    # per-query subspace LUT: new-batch x M*K slim bigint rows — an
    # equi-join at scale, NOT a hard broadcast (the batch grows)
    lut = pq_lut(subvectors(newv), spark.table(cb_name))
    # ADC over probed buckets only: history side Exchange-free
    codes = spark.table(code_store)
    cand_codes = nassign.select(
        F.col("vec_id").alias("qid"), "cid"
    ).join(codes.withColumnRenamed("vec_id", "nbr"), "cid")
    adc = (
        cand_codes.join(lut, ["qid", "m", "k"])
        .groupBy("qid", "cid", "nbr")
        .agg(F.sum("lut_micro").cast("long").alias("adc_micro"))
    )
    shortlist = top_n(adc, ("qid",), ("adc_micro", "nbr"), IVFPQ_SHORTLIST)
    # exact re-rank: fetch raw vectors by a SECOND bucket probe of the
    # raw store (join on cid, filter to the shortlisted id — history
    # side Exchange-free), query vectors re-joined from the slim batch
    raw = spark.table(raw_store).select(
        F.col("vec_id").alias("nbr_chk"),
        F.col("embedding").alias("hemb"),
        "cid",
    )
    qv = newv.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"))
    cos = cosine("qv", "hemb")
    # persisted: rerank feeds BOTH the hit-count rollup and the final
    # projection — without the barrier the whole ADC+shortlist subtree
    # (two bucket probes, the LUT join, two windows) computes twice
    rerank = scoped_persist(
        top_n(
            shortlist.join(raw, "cid")
            .filter(F.col("nbr_chk") == F.col("nbr"))
            .join(qv, "qid")
            .select("qid", "nbr", "adc_micro", cos.alias("cosine")),
            ("qid",),
            (F.desc("cosine"), "nbr"),
            TOP_K,
            rank="rn",
        )
    )
    # full-precision twin within the SAME probed cells — the verifier
    # (at production scale only the ADC path runs; the twin is the
    # recall instrument, same honesty policy as pq_search)
    hist_raw = spark.table(raw_store).select(
        F.col("vec_id").alias("nbr"),
        F.col("embedding").alias("hemb"),
        "cid",
    )
    fcos = cosine("embedding", "hemb")
    fullp = top_n(
        nassign.join(hist_raw, "cid").select(
            F.col("vec_id").alias("qid"), "nbr", fcos.alias("fc")
        ),
        ("qid",),
        (F.desc("fc"), "nbr"),
        TOP_K,
    ).select("qid", F.col("nbr").alias("fnbr"))
    hits = (
        rerank.join(
            fullp,
            (rerank["qid"] == fullp["qid"]) & (rerank["nbr"] == fullp["fnbr"]),
            "left",
        )
        .groupBy(rerank["qid"].alias("qid"))
        .agg(
            F.sum(F.when(F.col("fnbr").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_hits_fullprec")
        )
    )
    # hits is one row PER QUERY — it scales with the batch, so no
    # broadcast hint (AQE still broadcasts it at small SF)
    return rerank.join(hits, "qid").select(
        F.col("qid").alias("vec_id"),
        F.col("rn").cast("long").alias("rn"),
        F.col("nbr").alias("neighbor_id"),
        "adc_micro",
        "cosine",
        "n_hits_fullprec",
    )


# --- IVF-PQ provision + codebook drift (r20, VERDICT r19 tasks 3/4) ---
#
# The build half of the build/serve split: ``ann_incremental_ivfpq``
# above is read-only against the session's provisioned artifacts, so
# the amortization claim ("serving probes like the full-precision
# twin") needs the BUILD measured and attested separately — this query
# force-rebuilds the whole index (raw cell store -> history-only PQ
# training -> bucketed code store) and returns the index ARTIFACT
# STATS as oracle-checked data: per subspace the codebook cardinality
# and its micro-unit component sum (a bit-exact attestation of the
# trained centroids — any training leak of new-batch vectors flips
# it), the code store's row/cell counts, and the training size.
#
# Riding the same per-m rows: the CODEBOOK DRIFT metric (task 4) — the
# classic IVF-PQ re-train trigger.  An appended batch is encoded
# against the EXISTING codebook (the append discipline,
# ``append_to_semantic_pq``); if the appended distribution has drifted
# from training, its code-usage histogram diverges, and reconstruction
# error silently grows until a re-provision retrains.  The metric is
# total-variation distance between the history code histogram and an
# appended batch's, in basis points, computed ENTIRELY in BIGINT
# (counts and cross-products; one final integer division) so both
# engines agree bit-exactly — no log/float PSI in the oracle-checked
# path (a production monitor can layer float PSI on the same
# histograms as advisory data).  Two batches ship per subspace:
# ``tv_drift_bp`` for a SEEDED drifted append (the new batch under a
# deterministic affine shift x -> 0.5x + 0.25 — same corpus, shifted
# distribution) and ``tv_plain_bp`` for the unshifted new batch — the
# instrument is non-vacuous by construction (drifted >> plain, pinned
# in tests) and the pair shows the trigger separates drift from
# sampling noise.
#
# Overflow bound: the cross-products |ch*Nd - cd*Nh| sum to at most
# 2*Nh*Nd, so the 10^4 scaling stays in BIGINT for Nh*Nd < ~4.6e14
# (Nh, Nd ~ 2e7 vectors) — far above any test SF.  At 100-TB corpus
# sizes the same histograms are tiny (M*K rows) but the totals want
# the division reordered or DECIMAL — a provisioning-job concern, not
# a serve-path one.

_DRIFT_SHIFT_DUCK = (
    "list_transform(embedding, x -> CAST(x AS DOUBLE)"
    " * CAST(0.5 AS DOUBLE) + CAST(0.25 AS DOUBLE))"
)
_DRIFT_SHIFT_SPARK = (
    "transform(embedding, x -> cast(x as double)"
    " * CAST(0.5 AS DOUBLE) + CAST(0.25 AS DOUBLE))"
)


def _batch_codes_duck(tag: str, src: str) -> str:
    """CTEs encoding batch ``src`` (vec_id, embedding) against the
    trained codebook: {tag}subs -> {tag}codes (argmin d2, k)."""
    return f"""{tag}subs AS (
  {sql_subvectors(src)}
),
{tag}codes AS (
  {sql_pq_codes(f"{tag}subs")}
)"""


def _ivfpq_provision_oracle() -> str:
    return f"""
WITH {_SEM_CTES},
{_HIST_PQ_CTES},
drifted AS (
  SELECT vec_id, {_DRIFT_SHIFT_DUCK} AS embedding FROM nvecs
),
{_batch_codes_duck("d", "drifted")},
{_batch_codes_duck("p", "nvecs")},
hh AS (SELECT m, k, CAST(COUNT(*) AS BIGINT) AS c FROM hcodes GROUP BY 1, 2),
hd AS (SELECT m, k, CAST(COUNT(*) AS BIGINT) AS c FROM dcodes GROUP BY 1, 2),
hp AS (SELECT m, k, CAST(COUNT(*) AS BIGINT) AS c FROM pcodes GROUP BY 1, 2),
dom AS (SELECT DISTINCT m, k FROM codebook),
joined AS (
  SELECT dom.m, dom.k,
         COALESCE(hh.c, 0) AS ch,
         COALESCE(hd.c, 0) AS cd,
         COALESCE(hp.c, 0) AS cp
  FROM dom
  LEFT JOIN hh ON hh.m = dom.m AND hh.k = dom.k
  LEFT JOIN hd ON hd.m = dom.m AND hd.k = dom.k
  LEFT JOIN hp ON hp.m = dom.m AND hp.k = dom.k
),
tots AS (
  SELECT m, CAST(SUM(ch) AS BIGINT) AS nh,
         CAST(SUM(cd) AS BIGINT) AS nd,
         CAST(SUM(cp) AS BIGINT) AS np
  FROM joined GROUP BY 1
),
tv AS (
  SELECT j.m,
         CAST(SUM(abs(j.ch * t.nd - j.cd * t.nh)) AS BIGINT) AS sd,
         CAST(SUM(abs(j.ch * t.np - j.cp * t.nh)) AS BIGINT) AS sp
  FROM joined j JOIN tots t ON t.m = j.m GROUP BY 1
),
cbstats AS (
  SELECT m, CAST(COUNT(DISTINCT k) AS BIGINT) AS n_centroids,
         CAST(SUM(CAST(floor(x * 1000000) AS BIGINT)) AS BIGINT)
           AS cb_micro
  FROM (SELECT m, k, unnest(csub) AS x FROM codebook) GROUP BY 1
),
codestats AS (
  SELECT m, CAST(COUNT(*) AS BIGINT) AS n_codes,
         CAST(COUNT(DISTINCT cid) AS BIGINT) AS n_cells
  FROM hcodes GROUP BY 1
)
SELECT CAST(cs.m AS BIGINT) AS m, cb.n_centroids, cb.cb_micro,
       cs.n_codes, cs.n_cells, t.nh AS n_train,
       (10000 * v.sd) // (2 * t.nh * t.nd) AS tv_drift_bp,
       (10000 * v.sp) // (2 * t.nh * t.np) AS tv_plain_bp
FROM codestats cs
JOIN cbstats cb ON cb.m = cs.m
JOIN tots t ON t.m = cs.m
JOIN tv v ON v.m = cs.m
"""


def _batch_code_hist(newv: DataFrame, cb: DataFrame) -> DataFrame:
    """(m, k, c): code-usage histogram of a batch encoded against the
    EXISTING codebook — M*K rows however large the batch."""
    codes = pq_encode(subvectors(newv), cb)
    return codes.groupBy("m", "k").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )


@register("ann_ivfpq_provision", oracle=_ivfpq_provision_oracle())
def ann_ivfpq_provision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Force-rebuild the IVF-PQ index (raw cell store, history-only
    codebook, bucketed code store) and return per-subspace artifact
    stats + the codebook drift metric — see the section comment."""
    from ..hints import constant_size

    raw_store = _provision_semantic_store(spark, sf_dir, force=True)
    code_store, cb_name = _provision_semantic_pq(
        spark, sf_dir, raw_store, force=True
    )
    cb = spark.table(cb_name)
    emb = valid_vecs(load_table(spark, sf_dir, "embeddings"))
    newv = emb.filter(F.col("vec_id") % 10 == 0).select(
        "vec_id", "embedding"
    )
    drifted = newv.select(
        "vec_id", F.expr(_DRIFT_SHIFT_SPARK).alias("embedding")
    )
    codes = spark.table(code_store)
    hh = codes.groupBy("m", "k").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    hd = _batch_code_hist(drifted, cb)
    hp = _batch_code_hist(newv, cb)
    # all histogram frames are <= M*K = 32 rows by construction —
    # constant-size at any corpus or batch volume
    dom = cb.select("m", "k").distinct()
    joined = (
        dom
        .join(constant_size(hh.withColumnRenamed("c", "ch")), ["m", "k"], "left")
        .join(constant_size(hd.withColumnRenamed("c", "cd")), ["m", "k"], "left")
        .join(constant_size(hp.withColumnRenamed("c", "cp")), ["m", "k"], "left")
        .select(
            "m", "k",
            F.coalesce("ch", F.lit(0).cast("long")).alias("ch"),
            F.coalesce("cd", F.lit(0).cast("long")).alias("cd"),
            F.coalesce("cp", F.lit(0).cast("long")).alias("cp"),
        )
    )
    from ..caching import scoped_persist

    # two consumers (totals + the per-k terms) of a 32-row frame
    joined = scoped_persist(joined)
    tots = joined.groupBy("m").agg(
        F.sum("ch").cast("long").alias("nh"),
        F.sum("cd").cast("long").alias("nd"),
        F.sum("cp").cast("long").alias("np"),
    )
    tv = (
        joined.join(constant_size(tots), "m")
        .groupBy("m")
        .agg(
            F.sum(F.abs(F.col("ch") * F.col("nd") - F.col("cd") * F.col("nh")))
            .cast("long")
            .alias("sd"),
            F.sum(F.abs(F.col("ch") * F.col("np") - F.col("cp") * F.col("nh")))
            .cast("long")
            .alias("sp"),
        )
    )
    cbstats = (
        cb.select("m", "k", F.explode("csub").alias("x"))
        .groupBy("m")
        .agg(
            F.countDistinct("k").cast("long").alias("n_centroids"),
            F.sum(F.expr("CAST(floor(x * 1000000) AS BIGINT)"))
            .cast("long")
            .alias("cb_micro"),
        )
    )
    codestats = codes.groupBy("m").agg(
        F.count(F.lit(1)).cast("long").alias("n_codes"),
        F.countDistinct("cid").cast("long").alias("n_cells"),
    )
    return (
        codestats.join(constant_size(cbstats), "m")
        .join(constant_size(tots), "m")
        .join(constant_size(tv), "m")
        .select(
            F.col("m").cast("long").alias("m"),
            "n_centroids",
            "cb_micro",
            "n_codes",
            "n_cells",
            F.col("nh").alias("n_train"),
            F.expr("(10000 * sd) DIV (2 * nh * nd)").alias("tv_drift_bp"),
            F.expr("(10000 * sp) DIV (2 * nh * np)").alias("tv_plain_bp"),
        )
    )
