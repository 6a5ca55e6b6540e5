"""URL parsing pack — ``parse_url`` is the workhorse of web-corpus
curation (domain mixing weights, TLD filters, per-site dedup keys all
start from HOST/PATH/QUERY extraction). The fixture tables carry no
URL column, so the pack synthesizes a deterministic URL per order row
from real key columns (same approach as the fn_* packs' derived
probes), then parses it back with Spark's native ``parse_url`` —
JVM-side, map-only — while the oracle re-derives every component with
portable regexes over the identically-synthesized string.

The round-trip through synthesize -> parse is what's attested: a
parse_url component that disagreed with the regex ground truth
(scheme/host/path/query/param/registered-domain) fails the hash.

Reference lifecycle note: the reference engine (a pandas->Postgres
loader, ``etl_process.py:1-235``) has no URL stage; this extends the
driver-mandated text/curation pack.

At 100 TB this is a pure projection (zero shuffles); domain-level
rollups downstream group on the extracted registered domain exactly
like ``mixture_weights_by_source`` groups on ``source``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..sources import load_table

# Synthesized from key columns: host varies (7 shards), path carries
# the status, the query string carries two params (one numeric, one
# with a '-' needing no escaping).
_URL_SQL = (
    # STRING is a VARCHAR alias in DuckDB and the native name in Spark;
    # the space in '4-NOT SPECIFIED' must be encoded or java.net.URI
    # (behind parse_url) rejects the whole URL
    "'https://shop-' || CAST(o_orderkey % 7 AS STRING) "
    "|| '.example.com/cat/' || o_orderstatus || '/item?id=' "
    "|| CAST(o_orderkey AS STRING) || '&p=' "
    "|| replace(o_orderpriority, ' ', '_')"
)


@register(
    "fn_url_pack",
    oracle=f"""
    SELECT o_orderkey, url,
           regexp_extract(url, '^([a-z0-9+.-]+)://', 1) AS scheme,
           regexp_extract(url, '^[a-z]+://([^/?#]+)', 1) AS host,
           regexp_extract(url, '^[a-z]+://[^/?#]+([^?#]*)', 1) AS path,
           regexp_extract(url, '\\?([^#]*)', 1) AS query,
           regexp_extract(url, '[?&]id=([^&#]*)', 1) AS param_id,
           regexp_extract(url, '[?&]p=([^&#]*)', 1) AS param_p,
           regexp_extract(regexp_extract(url, '^[a-z]+://([^/?#]+)', 1),
                          '([^.]+\\.[^.]+)$', 1) AS registered_domain
    FROM (SELECT o_orderkey, {_URL_SQL} AS url FROM orders)
    """,
)
def fn_url_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    base = o.selectExpr("o_orderkey", f"{_URL_SQL} AS url")
    host = F.parse_url("url", F.lit("HOST"))
    return base.select(
        "o_orderkey",
        "url",
        F.parse_url("url", F.lit("PROTOCOL")).alias("scheme"),
        host.alias("host"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY")).alias("query"),
        F.parse_url("url", F.lit("QUERY"), F.lit("id")).alias("param_id"),
        F.parse_url("url", F.lit("QUERY"), F.lit("p")).alias("param_p"),
        # registered domain = last two host labels (the corpus-mixing
        # group key); regexp on the parsed host, same as the oracle
        F.regexp_extract(host, r"([^.]+\.[^.]+)$", 1).alias(
            "registered_domain"
        ),
    )
