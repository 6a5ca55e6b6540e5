"""End-to-end corpus curation pipeline — the flagship composition the
training-data extensions exist for, as ONE lazily-planned DataFrame
program: quality filter → exact dedup → near-dup removal → split
assignment → per-split audit.

Each stage reuses the already-verified building blocks (operators/
text.py, dedup_fuzzy's jaccard join shape, training_data's hash
split), so Catalyst fuses the whole pipeline into a single plan:
the quality filter prunes before any shuffle, the fingerprint dedup
is one hash shuffle, the jaccard stage only sees survivors, and the
split assignment is a map-side expression. At 100 TB this is the
plan you want — filters first, each shuffle on the minimal surviving
set, no intermediate materialization beyond the explicit policy
below.

Materialization policy: two intermediates (the exact-dedup survivor
set and its distinct shingle set) each feed multiple consumers, so
recomputing them repeats the most expensive map work. ``materialize``
makes the 100 TB posture explicit code, not a docstring:

- ``"cache"`` (default, right for SF-scale tests and memory-rich
  clusters): executor block-manager storage, cheapest when it fits.
- ``"checkpoint"``: truncate lineage and persist partition files via
  ``localCheckpoint`` — the posture for 100 TB runs, where a cached
  corpus would evict under memory pressure and a lineage re-compute
  of a multi-stage dedup is catastrophic. (On a real cluster, a
  reliable ``checkpoint()`` with an HDFS/S3 dir replaces
  ``localCheckpoint``; local mode has no such dir.)
- ``"none"``: pure lazy plan — lets Catalyst see the whole program;
  correct but recomputes shared stages.

The reference's pipeline (clean → dedup → normalize → load,
/root/reference/etl_process.py:194-224) is the same composition shape
at 1200-row scale; this is its corpus-scale analogue.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import scoped_persist
from ..operators.text import (
    fingerprint,
    shingles_long,
    sql_normalize,
    sql_shingles,
    sql_tokens,
    token_count,
)
from ..operators.splits import SQL_SPLIT, with_split
from ..registry import register
from ..sources import load_table

_MIN_TOKENS = 20
_JACCARD_HI = 0.8

MATERIALIZE_MODES = ("cache", "checkpoint", "none")


def _materialize(df: DataFrame, mode: str) -> DataFrame:
    if mode == "cache":
        return scoped_persist(df)
    if mode == "checkpoint":
        # lazy: materializes on first use, then cuts lineage
        return df.localCheckpoint(eager=False)
    if mode == "none":
        return df
    raise ValueError(f"materialize must be one of {MATERIALIZE_MODES}: {mode!r}")


def curate_corpus(
    spark: SparkSession, sf_dir: str, materialize: str = "cache"
) -> DataFrame:
    """Survivor documents (doc_id, lang, text, n_toks) after quality
    gate → exact dedup → jaccard near-dup removal."""
    d = load_table(spark, sf_dir, "documents")

    # Stage 1 — quality gate (map-side, prunes before any shuffle).
    q = d.withColumn("n_toks", token_count("text")).filter(
        F.col("n_toks") >= _MIN_TOKENS
    )

    # Stage 2 — exact dedup: min-doc_id survivor per content hash.
    # r21 (guide §8 "decide with small rows, move big rows once"): the
    # keep DECISION runs over a meta frame of (fp, doc_id) only — the
    # fp exchange carries 40-odd bytes per row — and survivors attach
    # back by a doc_id semi-join, so document TEXT never rides the
    # fingerprint shuffle (the previous window-over-fp formulation
    # shuffled every surviving row's text). Row set is identical: each
    # doc_id can only be the min of its own fp group. Interleaved A/B
    # at sf0.1 (n=5): 1.76 s vs 1.91 s warm median, 2.10 vs 6.96 cold
    # (the window plan recompiled a much larger stage chain).
    keepers = (
        q.select("doc_id", fingerprint("text").alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    exact = _materialize(q.join(keepers, "doc_id", "left_semi"), materialize)

    # Stage 3 — near-dup removal: 3-gram jaccard >= 0.8 pairs via the
    # shingle equi-join (never all-pairs); drop the larger id of each
    # pair. Shingle set materialized: it feeds sizes + both join sides.
    sh = _materialize(shingles_long(exact, "text", 3).distinct(), materialize)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    pairs = (
        sh.select(F.col("doc_id").alias("d1"), "s")
        .join(sh.select(F.col("doc_id").alias("d2"), "s"), "s")
        .filter(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    drops = (
        pairs.join(sizes.select(F.col("doc_id").alias("d1"), F.col("n").alias("na")), "d1")
        .join(sizes.select(F.col("doc_id").alias("d2"), F.col("n").alias("nb")), "d2")
        .filter(
            F.col("inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("inter"))
            >= _JACCARD_HI
        )
        .select(F.col("d2").alias("doc_id"))
        .distinct()
    )
    return exact.join(drops, "doc_id", "left_anti")


def curation_stats(kept: DataFrame) -> DataFrame:
    """Stage 4 — deterministic split + per-(split, lang) audit rollup."""
    return (
        with_split(kept)
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").alias("total_tokens"),
            F.min("doc_id").alias("min_doc"),
        )
        .orderBy("split", "lang")
    )


@register(
    "curation_pipeline_stats",
    oracle=f"""
    WITH q AS (
      SELECT doc_id, lang, text, len({sql_tokens()}) AS n_toks
      FROM documents
      WHERE len({sql_tokens()}) >= {_MIN_TOKENS}
    ),
    exact AS (
      SELECT doc_id, lang, text, n_toks
      FROM (SELECT *, md5({sql_normalize()}) AS fp FROM q)
      QUALIFY doc_id = MIN(doc_id) OVER (PARTITION BY fp)
    ),
    sh AS (
      SELECT doc_id, unnest(list_distinct({sql_shingles()})) AS s FROM exact
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    drops AS (
      SELECT DISTINCT d2 FROM (
        SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id)
      JOIN sizes sa ON sa.doc_id = d1
      JOIN sizes sb ON sb.doc_id = d2
      WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= {_JACCARD_HI}
    ),
    kept AS (
      SELECT doc_id, lang, n_toks, {SQL_SPLIT} AS split
      FROM exact WHERE doc_id NOT IN (SELECT d2 FROM drops)
    )
    SELECT split, lang, COUNT(*) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS total_tokens, MIN(doc_id) AS min_doc
    FROM kept
    GROUP BY split, lang
    ORDER BY split, lang
    """,
)
def curation_pipeline_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return curation_stats(curate_corpus(spark, sf_dir, materialize="cache"))
