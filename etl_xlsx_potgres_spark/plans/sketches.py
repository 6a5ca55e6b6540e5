"""Count-min sketch heavy hitters — the mergeable frequency estimator
(Cormode & Muthukrishnan 2005) a 100 TB pipeline uses when exact
per-term counts would need an unbounded-cardinality shuffle: the
sketch is a CONSTANT (d x w) integer grid regardless of vocabulary
size, partial grids merge by cell-wise addition (it composes with
Spark's partial aggregation for free), and point estimates are min
over d cells — always >= the true count.

Differential design: bucket hashes are the PORTABLE md5-hex family
already used by the sign-plane LSH / negative-sampling queries
(``operators.text``'s ``hex_int``/``sql_hex_int``), so DuckDB
rebuilds the IDENTICAL grid — the oracle replicates the sketch and
the estimates exactly, not within a tolerance band. On top the query
self-verifies the one deterministic CM invariant per heavy hitter
(estimate >= exact count), the ``agg_approx_sketches`` pattern.

Plan shape: ONE tokenize pass feeds both sides (persisted term-count
frame), the grid aggregate reduces |vocab| rows to <= d*w = 192
cells, and the estimate join broadcasts the constant-size grid. At
scale only the term-count aggregate touches corpus-sized data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import scoped_persist
from ..hints import constant_size
from ..operators.text import hex_int, sql_hex_int, sql_tokens, tokens
from ..registry import register
from ..sources import load_table

D = 3  # hash rows
W = 64  # buckets per row
TOP_K = 20


def _spark_bucket() -> F.Column:
    key = F.concat(
        F.lit("cm"), F.col("row_id").cast("string"), F.lit("|"), F.col("term")
    )
    return (hex_int(F.md5(key)) % W).alias("bucket")


def _duck_bucket(row: str, term: str) -> str:
    h = f"md5('cm' || CAST({row} AS STRING) || '|' || {term})"
    return f"{sql_hex_int(h)} % {W}"


@register(
    "agg_countmin_heavy_hitters",
    oracle=f"""
    WITH tc AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS exact_cnt
      FROM (SELECT unnest({sql_tokens()}) AS term FROM documents)
      GROUP BY term
    ),
    cells AS (
      SELECT row_id, {_duck_bucket("row_id", "term")} AS bucket,
             SUM(exact_cnt) AS cell_sum
      FROM tc, (SELECT unnest(generate_series(0, {D - 1})) AS row_id)
      GROUP BY 1, 2
    ),
    topk AS (
      SELECT term, exact_cnt FROM tc
      ORDER BY exact_cnt DESC, term LIMIT {TOP_K}
    )
    SELECT t.term, t.exact_cnt,
           CAST(MIN(c.cell_sum) AS BIGINT) AS cm_estimate,
           MIN(c.cell_sum) >= t.exact_cnt AS est_ge_exact
    FROM topk t
    JOIN cells c ON c.bucket = {_duck_bucket("c.row_id", "t.term")}
    GROUP BY t.term, t.exact_cnt
    """,
)
def agg_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tc = scoped_persist(
        d.select(F.explode(tokens("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
    )  # exact side AND sketch input: one tokenize pass
    rows = spark.range(D).select(F.col("id").cast("int").alias("row_id"))
    cells = (
        tc.crossJoin(constant_size(rows))
        .select("row_id", _spark_bucket(), "exact_cnt")
        .groupBy("row_id", "bucket")
        .agg(F.sum("exact_cnt").alias("cell_sum"))
    )
    topk = tc.orderBy(F.desc("exact_cnt"), F.asc("term")).limit(TOP_K)
    return (
        topk.crossJoin(constant_size(rows))
        .select("term", "exact_cnt", "row_id", _spark_bucket())
        .join(constant_size(cells), ["row_id", "bucket"])
        .groupBy("term", "exact_cnt")
        .agg(F.min("cell_sum").alias("cm_estimate"))
        .select(
            "term",
            "exact_cnt",
            "cm_estimate",
            (F.col("cm_estimate") >= F.col("exact_cnt")).alias("est_ge_exact"),
        )
    )
