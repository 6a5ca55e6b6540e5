"""URL-canonicalization dedup — the cheapest, first-line dedup of
every web-corpus pipeline (CCNet/RefinedWeb run it before any
content hashing): crawls reach the same page through case-variant
hosts, explicit default ports, fragments, and tracking parameters,
and canonicalizing the URL collapses those refetches at string cost,
shrinking the corpus BEFORE the expensive MinHash/SimHash passes.

The fixture carries no URL column, so each document synthesizes a
deterministic DIRTY url (the ``fn_url_pack`` convention) exercising
exactly the variations canonicalization must collapse: entity
``k = doc_id DIV 4`` appears as four variants — mixed-case host,
``HTTPS`` + explicit ``:443`` + UPPERCASE ``UTM_source`` +
``#fragment``, a genuinely reordered two-param query with
``utm_campaign`` interleaved, and an ``/amp`` path variant that must
NOT collapse (distinct path = distinct page).  Variants 0-2 of each
entity canonicalize identically; variant 3 stays a singleton — the
dedup is non-vacuous in both directions, and variants 1/2 each
collapse ONLY because the utm check is case-folded and the surviving
params are sorted (either fix alone leaves a variant uncollapsed).

Canonical form: ``lower(scheme)://lower(authority)`` with the
scheme-DEFAULT port stripped (:443/https, :80/http) but any OTHER
port kept — :8080 is a different origin (parse_url's HOST would drop
every port, so AUTHORITY is used) — + path + the query minus
``utm_*`` params (checked via CASE-FOLDED ``lower(substr(...))`` —
LIKE's ``_`` wildcard and regex escapes are engine-divergent, and
``UTM_source=`` must strip like ``utm_source=``), the survivors
SORTED (``array_sort``/``list_sort``, both binary-collation ASC on
this ASCII fixture) so param order never splits a canonical group;
a query-less URL's NULL QUERY is coalesced so it can't NULL the
whole concat (tests/test_url_canon_parity.py covers these edges).  Spark side is native ``parse_url``
(JVM, map-only); the oracle re-derives each component with portable
regexes over the identically synthesized string, so the pair
attests the canonicalizer itself.

Plan shape: synthesis + canonicalization are a pure projection; the
dedup verdict is ONE window over ``canonical_url`` (min doc_id +
group count in the same pass — no join-back, no second shuffle).
At 100 TB the canonical string is a near-uniform shuffle key (it
embeds the entity id), and the output feeds content dedup with the
corpus already shrunk ~3x.

Reference lifecycle note: the reference has no URL surface
(``etl_process.py:1-235``); this extends the mandated dedup family
(exact, MinHash, SimHash, semantic, incremental) with its standard
cheapest tier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import register
from ..sources import load_table

# DIV/% are truncating on both engines for the non-negative doc_id
_K = "doc_id"  # entity id = doc_id DIV 4, spelled per engine below

_SPARK_URL = """
CASE doc_id % 4
  WHEN 0 THEN 'https://News-' || CAST((doc_id DIV 4) % 4 AS STRING)
              || '.Example.com/article/' || CAST(doc_id DIV 4 AS STRING)
              || '?id=' || CAST(doc_id DIV 4 AS STRING) || '&lang=en'
  WHEN 1 THEN 'HTTPS://news-' || CAST((doc_id DIV 4) % 4 AS STRING)
              || '.example.com:443/article/' || CAST(doc_id DIV 4 AS STRING)
              || '?id=' || CAST(doc_id DIV 4 AS STRING)
              || '&UTM_source=feed&lang=en#frag'
  WHEN 2 THEN 'https://news-' || CAST((doc_id DIV 4) % 4 AS STRING)
              || '.example.com/article/' || CAST(doc_id DIV 4 AS STRING)
              || '?lang=en&utm_campaign=x&id=' || CAST(doc_id DIV 4 AS STRING)
  ELSE 'https://news-' || CAST((doc_id DIV 4) % 4 AS STRING)
              || '.example.com/article/' || CAST(doc_id DIV 4 AS STRING)
              || '/amp?id=' || CAST(doc_id DIV 4 AS STRING)
END
"""

_DUCK_URL = _SPARK_URL.replace("doc_id DIV 4", "doc_id // 4")

# canonical = lower(scheme)://lower(authority with scheme-DEFAULT port
# stripped — :8080 is a different origin and must survive) + path +
# '?' + query sans utm_*.  parse_url QUERY is NULL on query-less URLs
# (it would NULL the whole concat) — coalesced to ''.
_SPARK_CANON = """
lower(parse_url(url, 'PROTOCOL')) || '://'
|| CASE
     WHEN lower(parse_url(url, 'PROTOCOL')) = 'https'
          AND endswith(parse_url(url, 'AUTHORITY'), ':443')
       THEN lower(substring(parse_url(url, 'AUTHORITY'), 1,
                            length(parse_url(url, 'AUTHORITY')) - 4))
     WHEN lower(parse_url(url, 'PROTOCOL')) = 'http'
          AND endswith(parse_url(url, 'AUTHORITY'), ':80')
       THEN lower(substring(parse_url(url, 'AUTHORITY'), 1,
                            length(parse_url(url, 'AUTHORITY')) - 3))
     ELSE lower(parse_url(url, 'AUTHORITY'))
   END
|| parse_url(url, 'PATH')
|| CASE WHEN array_join(array_sort(filter(
             split(coalesce(parse_url(url, 'QUERY'), ''), '&'),
             p -> lower(substr(p, 1, 4)) <> 'utm_')), '&') <> ''
        THEN '?' || array_join(array_sort(filter(
             split(coalesce(parse_url(url, 'QUERY'), ''), '&'),
             p -> lower(substr(p, 1, 4)) <> 'utm_')), '&')
        ELSE '' END
"""

_DUCK_CANON = """
lower(regexp_extract(url, '^([A-Za-z0-9+.-]+)://', 1)) || '://'
|| CASE
     WHEN lower(regexp_extract(url, '^([A-Za-z0-9+.-]+)://', 1)) = 'https'
          AND ends_with(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1),
                        ':443')
       THEN lower(substr(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1), 1,
                  len(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)) - 4))
     WHEN lower(regexp_extract(url, '^([A-Za-z0-9+.-]+)://', 1)) = 'http'
          AND ends_with(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1),
                        ':80')
       THEN lower(substr(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1), 1,
                  len(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)) - 3))
     ELSE lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1))
   END
|| regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1)
|| CASE WHEN array_to_string(list_sort(list_filter(
         string_split(regexp_extract(url, '\\?([^#]*)', 1), '&'),
         p -> lower(substr(p, 1, 4)) <> 'utm_')), '&') <> ''
        THEN '?' || array_to_string(list_sort(list_filter(
         string_split(regexp_extract(url, '\\?([^#]*)', 1), '&'),
         p -> lower(substr(p, 1, 4)) <> 'utm_')), '&')
        ELSE '' END
"""


@register(
    "dedup_url_canonical",
    oracle=f"""
    WITH urls AS (
      SELECT doc_id, {_DUCK_URL} AS url FROM documents
    ),
    canon AS (
      SELECT doc_id, url, {_DUCK_CANON} AS canonical_url FROM urls
    )
    SELECT doc_id, url, canonical_url,
           MIN(doc_id) OVER (PARTITION BY canonical_url)
             AS canonical_doc_id,
           CAST(COUNT(*) OVER (PARTITION BY canonical_url) AS BIGINT)
             AS group_size,
           doc_id = MIN(doc_id) OVER (PARTITION BY canonical_url) AS keep
    FROM canon
    """,
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    canon = d.select(
        "doc_id",
        F.expr(_SPARK_URL).alias("url"),
    ).select("doc_id", "url", F.expr(_SPARK_CANON).alias("canonical_url"))
    w = Window.partitionBy("canonical_url")
    return canon.select(
        "doc_id",
        "url",
        "canonical_url",
        F.min("doc_id").over(w).alias("canonical_doc_id"),
        F.count(F.lit(1)).over(w).cast("long").alias("group_size"),
        (F.col("doc_id") == F.min("doc_id").over(w)).alias("keep"),
    )
