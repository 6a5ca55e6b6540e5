"""MinHash/LSH-band kernels of the near-duplicate family: the 8-hash
MinHash signature, its 4 bands x 2 rows, the occupancy-capped band
self-join with its star edges, and the fused single-column band key
of the incremental band stores.

Every kernel has its Spark form (over DataFrames) and its DuckDB form
(``SQL_*``/``sql_*``, CTE text) side by side: one banding rule, band
``i`` keyed ``md5(mh{2i} || mh{2i+1})`` (:func:`band_key`), so the pair
generator, the calibration audit, the connected components and the
band stores cannot desynchronize.  Hashes are md5-based and portable
(:mod:`.text`), so the DuckDB oracles reproduce them bit for bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import scoped_persist
from .rank import sql_top_n, top_n
from .stores import provision_store
from .text import shingles_long, sql_minhash_exprs, sql_tokens

N_BANDS = 4

# Per-(band_id, band_key) occupancy cap for the LSH candidate
# generator.  Web corpora have hot bands BY CONSTRUCTION (boilerplate
# pages share whole signatures): a band bucket with B documents emits
# B(B-1)/2 candidate pairs, so without a cap the candidate join is
# quadratic in band occupancy — the one geometry that can melt a
# 100 TB dedup run even though every shuffle key is correct.  The cap
# keeps the top-K documents per bucket by doc_id (deterministic,
# engine-portable: row_number over an ORDER BY on the unique key),
# bounding the SELF-JOIN at K(K-1)/2 pairs per bucket.  Clipping
# alone, though, severs whole clusters: when documents
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


def minhash_signatures(d: DataFrame) -> DataFrame:
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


def band_key(i: int) -> F.Column:
    """Band ``i``'s key over the signature row.  DuckDB twin:
    :func:`sql_band_key`."""
    return F.md5(F.concat(F.col(f"mh{2 * i}"), F.col(f"mh{2 * i + 1}")))


def band_rows(sig: DataFrame) -> DataFrame:
    """(doc_id, band_id, band_key): one pass — explode the 4 band keys
    from the signature row instead of unioning 4 recomputations of the
    signature subplan."""
    band_structs = F.array(
        *[
            F.struct(F.lit(i).alias("band_id"), band_key(i).alias("band_key"))
            for i in range(N_BANDS)
        ]
    )
    return sig.select("doc_id", F.explode(band_structs).alias("b")).select(
        "doc_id",
        F.col("b.band_id").alias("band_id"),
        F.col("b.band_key").alias("band_key"),
    )


def fused_bands(sig: DataFrame) -> DataFrame:
    """(doc_id, band): the 4 bands of :func:`band_rows` fused to one
    join key per row, ``md5(band_id || ':' || band_key)`` — the key of
    the bucketed band stores.  Unsigned (NULL-signature) docs have no
    bands.  DuckDB twin: :func:`sql_fused_bands`."""
    bands = F.array(
        *[F.md5(F.concat(F.lit(f"{i}:"), band_key(i))) for i in range(N_BANDS)]
    )
    return sig.filter(F.col("mh0").isNotNull()).select(
        "doc_id", F.explode(bands).alias("band")
    )


def ranked_band_rows(bands: DataFrame, cap: int = BAND_CAP) -> DataFrame:
    """Band rows with at most ``cap`` documents per (band_id, band_key)
    bucket (smallest doc_ids win — deterministic), band_rank kept so
    rank 1 doubles as the bucket leader for the star-edge leg.  The
    row_number window shuffles on exactly the key the candidate
    self-join needs, so the cap costs no extra Exchange on that side;
    within a hot bucket the window pass is linear in occupancy (the
    B² blowup it prevents was in the join, not here)."""
    return top_n(
        bands, ("band_id", "band_key"), ("doc_id",), cap, rank="band_rank"
    )


def capped_band_rows(sig: DataFrame, cap: int = BAND_CAP) -> DataFrame:
    return ranked_band_rows(band_rows(sig), cap).drop("band_rank")


def star_edges(bands: DataFrame, ranked: DataFrame) -> DataFrame:
    """(d1, d2, band_id): one edge from each band bucket's minimum
    doc_id — the rank-1 survivor the cap already computed — to every
    other member: B-1 rows per bucket, LINEAR in occupancy, so clipped
    members of a hot bucket stay connected to its cluster (clipping
    alone severed exact-duplicate clusters whose every band is the
    same hot bucket).  Reusing the window's rank 1 instead of a
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
    ``dedup_connected_components`` (one geometry, one place).  Emits duplicates across legs (a leader↔survivor pair
    appears in both) and across bands — consumers dedup by (d1, d2)
    or count distinct band_id.  DuckDB twin: :data:`SQL_CANDIDATES`."""
    bands = scoped_persist(band_rows(sig))
    ranked = scoped_persist(ranked_band_rows(bands, cap))
    return pairs_from_bands(ranked.drop("band_rank")).unionByName(
        star_edges(bands, ranked)
    )


def provision_band_store(
    spark: SparkSession, sf_dir: str, hist: DataFrame
) -> str:
    """The ``hist`` documents' :func:`fused_bands` as the bucketed band
    store ``dedup_band_store_{sf}`` (:func:`.stores.provision_store`)."""
    return provision_store(
        spark, sf_dir, "dedup_band", fused_bands(minhash_signatures(hist)), "band"
    )


def probe_band_store(store: DataFrame, batch: DataFrame) -> DataFrame:
    """(doc_id, n_hist_candidates, keep) per ``batch`` document: the
    distinct history documents of the band ``store`` sharing one of its
    fused bands; a document without candidates is kept.  Only the
    batch side shuffles into the store's bucketing.  DuckDB twin:
    :func:`sql_band_store_probe`."""
    hits = (
        fused_bands(minhash_signatures(batch))
        .join(store.select(F.col("doc_id").alias("hist_doc_id"), "band"), "band")
        .groupBy("doc_id")
        .agg(F.countDistinct("hist_doc_id").alias("n_hist_candidates"))
    )
    n = F.coalesce(F.col("n_hist_candidates"), F.lit(0))
    return (
        batch.select("doc_id")
        .join(hits, "doc_id", "left")
        .select("doc_id", n.alias("n_hist_candidates"), (n == 0).alias("keep"))
    )


# --- DuckDB renderings ----------------------------------------------


def sql_band_key(i: int) -> str:
    """DuckDB twin of :func:`band_key`."""
    return f"md5(mh{2 * i} || mh{2 * i + 1})"


def _sql_sig(where: str) -> str:
    """SELECT body of the signed documents matching ``where``."""
    return (
        f"SELECT doc_id, {', '.join(sql_minhash_exprs('text'))}"
        f" FROM documents WHERE {where}len({sql_tokens()}) >= 3"
    )


# ``sig``, ``bands`` and ``capped_bands`` over ``documents``.  ``bands``
# is MATERIALIZED: DuckDB inlines a CTE at every reference, and a
# recursive consumer (the connected-components walk) would otherwise
# re-run the whole signature subtree on every step.
SQL_BANDS = f"""
    sig AS (
      {_sql_sig("")}
    ),
    bands AS MATERIALIZED (
      SELECT doc_id, 0 AS band_id, {sql_band_key(0)} AS band_key FROM sig
      {" ".join(
          f"UNION ALL SELECT doc_id, {i}, {sql_band_key(i)} FROM sig"
          for i in range(1, N_BANDS)
      )}
    ),
    capped_bands AS (
      {sql_top_n("doc_id, band_id, band_key", "bands", ("band_id", "band_key"),
                 "doc_id", BAND_CAP)}
    )"""

# ``band_mins`` and ``cand`` (d1, d2, band_id) over :data:`SQL_BANDS`
SQL_CANDIDATES = """
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

# the distinct candidate ``pairs`` (d1, d2) with their band CTEs
SQL_PAIRS = f"""
    {SQL_BANDS},
    {SQL_CANDIDATES},
    pairs AS (
      SELECT DISTINCT d1, d2 FROM cand
    )
"""


def sql_fused_bands(where: str, tag: str) -> str:
    """CTEs ``sig_{tag}`` and ``bands_{tag}`` (doc_id, band): the twin
    of :func:`fused_bands` over the ``documents`` rows matching
    ``where``."""
    bands = " UNION ALL ".join(
        f"SELECT doc_id, md5('{i}:' || {sql_band_key(i)}) AS band"
        f" FROM sig_{tag}"
        for i in range(N_BANDS)
    )
    return (
        f"sig_{tag} AS ({_sql_sig(f'({where}) AND ')}), "
        f"bands_{tag} AS ({bands})"
    )


def sql_band_store_probe(hist: str, new: str) -> str:
    """The :func:`probe_band_store` verdicts of the ``documents`` rows
    matching ``new`` against those matching ``hist``."""
    return f"""
    WITH {sql_fused_bands(hist, "hist")},
    {sql_fused_bands(new, "new")},
    hits AS (
      SELECT n.doc_id, COUNT(DISTINCT h.doc_id) AS n_hist_candidates
      FROM bands_new n JOIN bands_hist h ON h.band = n.band
      GROUP BY n.doc_id
    )
    SELECT d.doc_id,
           COALESCE(hits.n_hist_candidates, 0) AS n_hist_candidates,
           COALESCE(hits.n_hist_candidates, 0) = 0 AS keep
    FROM (SELECT doc_id FROM documents WHERE {new}) d
    LEFT JOIN hits ON hits.doc_id = d.doc_id
"""
