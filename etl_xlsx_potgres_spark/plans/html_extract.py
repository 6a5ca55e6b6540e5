"""HTML boilerplate extraction — the one standard pre-tokenization
stage the curation pack lacked: CCNet / RefinedWeb (Penedo et al.
2023) start from raw crawled HTML, strip markup, and drop
boilerplate blocks by LINK DENSITY (navigation chrome is mostly
anchor text; article prose is not) before any quality scoring.

Deterministic fixture: both engines rebuild the SAME HTML document
from the fixture text — tokens chunked into 10-token blocks, every
``i % 3 = 1`` block wrapped as a ``<nav>`` whose entire text is one
link (density 1.0 → boilerplate), every ``i % 5 = 2`` paragraph
carrying one INLINE link around its first token (partial density →
usually kept, unless the block is a single short token — a real
edge both sides must agree on), the rest plain ``<p>`` prose, plus
a ``<script>`` whose body must contribute no text.  Because the
HTML is a pure function of (doc_id, text), the DuckDB oracle can
state the expected extraction directly from the generative formula
— while the Spark side genuinely PARSES the HTML with the stdlib
``html.parser`` inside an Arrow-batched ``mapInPandas``.  Any
parser drift (entity handling, nesting, script suppression, link
attribution) breaks the value hash.

Block verdict: keep iff ``2 * link_chars <= text_chars`` (link
density <= 0.5) — an exact INTEGER comparison, so the pair is
bit-identical with no float thresholds.  Synthesis XML-escapes each
token (``& < >`` → entities) and the parser's ``convert_charrefs``
unescapes them back, so parsed text equals the RAW token text and
the oracle's generative formula needs no markup awareness — a
markup-bearing fixture round-trips instead of silently diverging
(ADVICE r15; ``tests/test_html_extract_robust.py`` feeds markup
tokens through both sides).

Plan shape: map-only end to end — JVM expression synthesis, one
Arrow-batched Python stage (the parser is genuinely Python work:
this is the mapInPandas tier of the Python-boundary matrix), no
shuffle, no collect.  At 100 TB the stage scales per-partition; the
extracted text feeds the dedup/quality stages with boilerplate
already gone.

Reference lifecycle note: the reference has no HTML surface
(``etl_process.py:1-235``); this adds the standard extraction head
of a web-corpus pipeline in front of the existing curation stack.
"""

from __future__ import annotations

from html.parser import HTMLParser
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.text import sql_tokens, tokens
from ..registry import register
from ..sources import load_table

BLOCK_TOKENS = 10


def _esc(expr: str) -> str:
    """XML-escape a text expression before embedding it in synthesized
    HTML (ADVICE r15): '&' first, then '<'/'>'.  The parser's
    convert_charrefs unescapes these back, so parsed text equals the
    RAW token text and the oracle's generative formula (over raw toks)
    needs no change — a markup-bearing fixture can no longer make the
    two sides silently diverge."""
    return (
        "replace(replace(replace(" + expr
        + ", '&', '&amp;'), '<', '&lt;'), '>', '&gt;')"
    )


_SPARK_BLOCK = f"""
CASE WHEN i % 3 = 1 THEN
  '<nav><a href="/x">'
  || {_esc(f"array_join(slice(toks, (i - 1) * {BLOCK_TOKENS} + 1, {BLOCK_TOKENS}), ' ')")}
  || '</a></nav>'
WHEN i % 5 = 2 THEN
  '<p><a href="/y">'
  || {_esc(f"element_at(toks, CAST((i - 1) * {BLOCK_TOKENS} + 1 AS INT))")}
  || '</a>'
  || CASE WHEN size(slice(toks, (i - 1) * {BLOCK_TOKENS} + 2,
                          {BLOCK_TOKENS - 1})) > 0
          THEN ' ' || {_esc(f"array_join(slice(toks, (i - 1) * {BLOCK_TOKENS} + 2, {BLOCK_TOKENS - 1}), ' ')")}
          ELSE '' END
  || '</p>'
ELSE
  '<p>'
  || {_esc(f"array_join(slice(toks, (i - 1) * {BLOCK_TOKENS} + 1, {BLOCK_TOKENS}), ' ')")}
  || '</p>'
END
"""

_SPARK_HTML = f"""
'<html><body><script>var x = 1;</script>'
|| CASE WHEN size(toks) >= 1 THEN
     array_join(transform(
       sequence(1, (size(toks) + {BLOCK_TOKENS - 1}) DIV {BLOCK_TOKENS}),
       i -> {_SPARK_BLOCK}), '')
   ELSE '' END
|| '</body></html>'
"""

# expected per-block (text, link_chars) straight from the generator
_DUCK_BLOCKS = f"""
list_transform(
  generate_series(1, (len(toks) + {BLOCK_TOKENS - 1}) // {BLOCK_TOKENS}),
  i -> struct_pack(
    t := array_to_string(
      list_slice(toks, (i - 1) * {BLOCK_TOKENS} + 1, i * {BLOCK_TOKENS}), ' '),
    a := CASE
      WHEN i % 3 = 1 THEN len(array_to_string(
        list_slice(toks, (i - 1) * {BLOCK_TOKENS} + 1, i * {BLOCK_TOKENS}),
        ' '))
      WHEN i % 5 = 2 THEN len(toks[(i - 1) * {BLOCK_TOKENS} + 1])
      ELSE 0 END))
"""


class _BlockParser(HTMLParser):
    """Collects (text, link_chars) per top-level nav/p block;
    suppresses script bodies; attributes data inside <a> to the
    enclosing block's link mass."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[tuple[str, int]] = []
        self._parts: list[str] | None = None
        self._link = 0
        self._a_depth = 0
        self._script_depth = 0

    def handle_starttag(self, tag, attrs):
        if tag in ("nav", "p"):
            self._parts, self._link, self._a_depth = [], 0, 0
        elif tag == "a":
            self._a_depth += 1
        elif tag == "script":
            self._script_depth += 1

    def handle_endtag(self, tag):
        if tag in ("nav", "p") and self._parts is not None:
            self.blocks.append(("".join(self._parts), self._link))
            self._parts = None
        elif tag == "a" and self._a_depth > 0:
            self._a_depth -= 1
        elif tag == "script" and self._script_depth > 0:
            self._script_depth -= 1

    def handle_data(self, data):
        if self._script_depth > 0 or self._parts is None:
            return
        self._parts.append(data)
        if self._a_depth > 0:
            self._link += len(data)


def _extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out = {
            "doc_id": [], "n_blocks": [], "n_kept": [],
            "text_chars": [], "link_chars": [],
            "extracted_text": [], "extracted_chars": [],
        }
        for doc_id, html in zip(pdf["doc_id"], pdf["html"]):
            p = _BlockParser()
            p.feed(html)
            p.close()
            kept = [t for t, a in p.blocks if 2 * a <= len(t)]
            extracted = " ".join(kept)
            out["doc_id"].append(doc_id)
            out["n_blocks"].append(len(p.blocks))
            out["n_kept"].append(len(kept))
            out["text_chars"].append(sum(len(t) for t, _ in p.blocks))
            out["link_chars"].append(sum(a for _, a in p.blocks))
            out["extracted_text"].append(extracted)
            out["extracted_chars"].append(len(extracted))
        yield pd.DataFrame(out)


@register(
    "html_extract_boilerplate",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, {sql_tokens()} AS toks FROM documents
    ),
    bl AS (
      SELECT doc_id, {_DUCK_BLOCKS} AS blocks FROM base
    ),
    ex AS (
      SELECT doc_id, blocks,
             COALESCE(array_to_string(list_transform(
               list_filter(blocks, b -> 2 * b.a <= len(b.t)),
               b -> b.t), ' '), '') AS extracted_text
      FROM bl
    )
    SELECT doc_id,
           CAST(len(blocks) AS BIGINT) AS n_blocks,
           CAST(len(list_filter(blocks, b -> 2 * b.a <= len(b.t)))
                AS BIGINT) AS n_kept,
           COALESCE(CAST(list_sum(list_transform(blocks, b -> len(b.t)))
                AS BIGINT), 0) AS text_chars,
           COALESCE(CAST(list_sum(list_transform(blocks, b -> b.a))
                AS BIGINT), 0) AS link_chars,
           extracted_text,
           CAST(len(extracted_text) AS BIGINT) AS extracted_chars
    FROM ex
    """,
)
def html_extract_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    html = d.select(
        "doc_id", tokens("text").alias("toks")
    ).select("doc_id", F.expr(_SPARK_HTML).alias("html"))
    return html.mapInPandas(
        _extract_batches,
        "doc_id long, n_blocks long, n_kept long, text_chars long,"
        " link_chars long, extracted_text string, extracted_chars long",
    )
