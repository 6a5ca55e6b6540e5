"""C4 cleaning rules (Raffel et al. 2020, "Exploring the Limits of
Transfer Learning", §2.2 — the public C4 heuristics): keep only lines
that end in a terminal punctuation mark, contain at least five words,
and do not mention ``javascript``; then drop any page with fewer than
three sentences, any page containing ``lorem ipsum``, and any page
containing a curly brace.  This is the third quality tier next to the
Gopher rules (``gopher_quality`` / ``gopher_lines`` /
``gopher_composite``) and the CCNet perplexity gate — the classic
pre-LLM web-cleaning pass.

Multi-line synthesis: the fixture's documents are single-line token
streams, so (exactly like ``gopher_lines``) both engines rebuild the
SAME structured page as a pure function of (doc_id, text): tokens are
chunked into 8-token lines, and the C4-relevant structure is SEEDED
deterministically — every 5th line is truncated to 3 tokens (fails
the >=5-word rule), lines of ``(doc_id + i) % 3 = 0`` get no terminal
period (fail the punctuation rule), ``doc_id % 11 = 0`` pages carry
``lorem ipsum``, ``doc_id % 19 = 0`` pages carry a ``javascript``
line, and ``doc_id % 13 = 0`` pages carry a curly brace.  Every rule
therefore fires non-vacuously in both directions at sf0.01 (verified:
kept and dropped pages both exist, and each predicate flips at least
one page).

Plan shape: ENTIRELY row-local — line construction, the line filter,
and every page metric are higher-order array functions over the row's
own tokens, so the query is map-only with ZERO Exchanges at any
corpus size; on a 100 TB corpus this runs as a single scan->project
pass with full whole-stage codegen and no Python.

Engine-parity notes: sentence counting uses a replace-chain
(``len(s) - len(replace(...))``) rather than ``translate`` so both
engines share one unambiguous semantics; Spark ``sequence(1, 0)``
DESCENDS so the line constructor guards emptiness; DuckDB
``list_slice`` is end-inclusive while Spark ``slice`` takes a length
— both spelled explicitly below; DuckDB ``array_to_string([])`` is
NULL where Spark ``array_join`` gives ``''`` — the oracle coalesces
(a page whose every line is dropped must count 0 sentences, not
NULL-propagate into the keep verdict).

Reference lifecycle note: the reference ETL (etl_process.py:1-235)
has no corpus-quality stage; this module is north-star surface for
the LLM-curation pipeline the driver mandates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.text import sql_tokens, tokens
from ..registry import register
from ..sources import load_table

LINE_TOKENS = 8     # tokens per synthesized line
SHORT_TOKENS = 3    # every 5th line is truncated to this (< 5 words)
MIN_WORDS = 5       # C4: retain lines with >= 5 words
MIN_SENTENCES = 3   # C4: drop pages with < 3 sentences

# ---- synthesized page (per engine, identical semantics) ----

_SPARK_LINES = (
    "CASE WHEN size(toks) >= 1 THEN "
    "transform(sequence(1, (size(toks) + 7) DIV 8), i -> concat("
    "  array_join(slice(toks, (i - 1) * 8 + 1,"
    "             CASE WHEN i % 5 = 0 THEN 3 ELSE 8 END), ' '),"
    "  CASE WHEN doc_id % 11 = 0 AND i = 1 THEN ' lorem ipsum' ELSE '' END,"
    "  CASE WHEN doc_id % 19 = 0 AND i = 2 THEN ' javascript' ELSE '' END,"
    "  CASE WHEN doc_id % 13 = 0 AND i = 3 THEN ' {' ELSE '' END,"
    "  CASE WHEN (doc_id + i) % 3 <> 0 THEN '.' ELSE '' END)) "
    "ELSE CAST(array() AS ARRAY<STRING>) END"
)

_DUCK_LINES = (
    "list_transform(generate_series(1, (len(toks) + 7) // 8), i -> "
    "  array_to_string(list_slice(toks, (i - 1) * 8 + 1,"
    "      CASE WHEN i % 5 = 0 THEN (i - 1) * 8 + 3 ELSE i * 8 END), ' ')"
    "  || CASE WHEN doc_id % 11 = 0 AND i = 1 THEN ' lorem ipsum' ELSE '' END"
    "  || CASE WHEN doc_id % 19 = 0 AND i = 2 THEN ' javascript' ELSE '' END"
    "  || CASE WHEN doc_id % 13 = 0 AND i = 3 THEN ' {' ELSE '' END"
    "  || CASE WHEN (doc_id + i) % 3 <> 0 THEN '.' ELSE '' END)"
)

# ---- the C4 line filter (l = line variable name) ----

_SPARK_KEEP_LINE = (
    "l -> right(l, 1) IN ('.', '!', '?', '\"')"
    f" AND size(split(l, ' ')) >= {MIN_WORDS}"
    " AND NOT contains(l, 'javascript')"
)

_DUCK_KEEP_LINE = (
    "l -> right(l, 1) IN ('.', '!', '?', '\"')"
    f" AND len(string_split(l, ' ')) >= {MIN_WORDS}"
    " AND NOT contains(l, 'javascript')"
)


def _punct_count(s: str) -> str:
    """Portable sentence counter: occurrences of . ! ? via a
    replace-chain (identical on both engines)."""
    return (
        f"CAST(length({s}) - length("
        f"replace(replace(replace({s}, '.', ''), '!', ''), '?', ''))"
        f" AS BIGINT)"
    )


@register(
    "quality_c4_filters",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, {sql_tokens()} AS toks FROM documents
    ),
    paged AS (
      SELECT doc_id, {_DUCK_LINES} AS lines FROM base
    ),
    filtered AS (
      SELECT doc_id, lines,
             list_filter(lines, {_DUCK_KEEP_LINE}) AS kept
      FROM paged
    ),
    m AS (
      SELECT doc_id,
             CAST(len(lines) AS BIGINT) AS n_lines,
             CAST(len(kept) AS BIGINT) AS n_kept_lines,
             COALESCE(array_to_string(lines, chr(10)), '') AS raw_text,
             COALESCE(array_to_string(kept, chr(10)), '') AS kept_text
      FROM filtered
    )
    SELECT doc_id, n_lines, n_kept_lines,
           {_punct_count('kept_text')} AS n_sentences,
           CAST(len(kept_text) AS BIGINT) AS kept_chars,
           contains(raw_text, 'lorem ipsum') AS has_lorem,
           contains(raw_text, '{{') AS has_brace,
           {_punct_count('kept_text')} >= {MIN_SENTENCES}
             AND NOT contains(raw_text, 'lorem ipsum')
             AND NOT contains(raw_text, '{{') AS c4_keep
    FROM m
    """,
)
def quality_c4_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    paged = d.select(
        "doc_id", tokens("text").alias("toks")
    ).withColumn("lines", F.expr(_SPARK_LINES))
    filtered = paged.withColumn(
        "kept", F.expr(f"filter(lines, {_SPARK_KEEP_LINE})")
    )
    m = filtered.select(
        "doc_id",
        F.size("lines").cast("long").alias("n_lines"),
        F.size("kept").cast("long").alias("n_kept_lines"),
        F.array_join("lines", "\n").alias("raw_text"),
        F.array_join("kept", "\n").alias("kept_text"),
    )
    return m.select(
        "doc_id",
        "n_lines",
        "n_kept_lines",
        F.expr(_punct_count("kept_text")).alias("n_sentences"),
        F.length("kept_text").cast("long").alias("kept_chars"),
        F.expr("contains(raw_text, 'lorem ipsum')").alias("has_lorem"),
        F.expr("contains(raw_text, '{')").alias("has_brace"),
        (
            (F.expr(_punct_count("kept_text")) >= MIN_SENTENCES)
            & ~F.expr("contains(raw_text, 'lorem ipsum')")
            & ~F.expr("contains(raw_text, '{')")
        ).alias("c4_keep"),
    )
