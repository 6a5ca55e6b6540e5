r"""Text-analysis operators for training-data pipelines: tokenization,
normalization, fingerprinting, shingling, MinHash, language ID,
quality scoring.

All pure Catalyst expressions (split/transform/aggregate/regexp_*) —
no Python UDFs, so they run vectorized JVM-side and scale to 100 TB
document corpora. MinHash uses md5-of-(seed||shingle) with
*lexicographic* min: md5 hex strings compare identically in any
engine, which makes signatures portable to the DuckDB oracle (and any
other SQL system) without relying on engine hash functions.

Every expression shared with an oracle is defined here once, with its
renderings side by side (``tokens``/``sql_tokens``/``py_tokens``/
``arrow_token_count``, ``shingles``/``sql_shingles``,
``normalize_text``/``sql_normalize``, ``hex_int``/``sql_hex_int``);
plan modules import them instead of spelling their own copies.

The tokenizer rule, in every rendering: lowercase, split on runs of
Java's ``\s`` written out — ``[ \t\n\x0b\f\r]`` — and drop empty
tokens.  There is no Unicode trim: the empty-token filter absorbs
leading and trailing separators, and every other character (``\xa0``,
U+3000, U+2028, ``\x1c``, ``\x85``) stays inside its token.  The one
residual gap, DuckDB's ``lower``, is documented at :func:`sql_tokens`.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# CJK unified ideographs range, embedded as literal characters so the
# same pattern source works in both Java regex and RE2.
CJK_RANGE = f"[{chr(0x4E00)}-{chr(0x9FFF)}]"

# Language marker stopwords for the n-gram-free heuristic language ID.
LANG_MARKERS: dict[str, str] = {
    "en": r"\b(the|and|of|to|in|is)\b",
    "de": r"\b(der|die|und|das|ist|nicht)\b",
    "es": r"\b(el|la|de|que|los|es)\b",
    "fr": r"\b(le|les|et|des|est|une)\b",
}


# The tokenizer's whitespace class: Java's \s (what Spark's r"\s" means)
# spelled out for RE2 and Python, whose own \s differ from it.
_WS = r" \t\n\x0b\f\r"
_PY_WS = re.compile(f"[{_WS}]+")

HEX6 = 16**6  # the md5-coin space: first 6 hex digits as an integer


def _c(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def split_ws(c: Column | str) -> Column:
    """Case-kept whitespace split, empties kept: trim spaces, split on
    runs of the tokenizer's class.  DuckDB twin: :func:`sql_split_ws`."""
    return F.split(F.trim(_c(c)), r"\s+")


def sql_split_ws(text_expr: str = "text") -> str:
    """DuckDB twin of :func:`split_ws` (``trim(x, ' ')`` is Spark's
    space-only trim; DuckDB's bare ``trim`` also strips Unicode Zs)."""
    return f"string_split_regex(trim({text_expr}, ' '), '[{_WS}]+')"


def tokens(c: Column | str) -> Column:
    """Whitespace tokenization of lowercased text; empty-safe."""
    return F.filter(F.split(F.trim(F.lower(_c(c))), r"\s+"), lambda x: x != "")


def sql_tokens(text_expr: str = "text") -> str:
    """DuckDB twin of :func:`tokens`.  One gap remains, asserted by the
    parity test: DuckDB's ``lower`` maps code point by code point, so
    'İ' lowercases to 'i' (Java and Python: 'i' + U+0307) and a
    word-final 'Σ' to 'σ' (Java and Python: 'ς')."""
    return (
        f"list_filter(string_split_regex(lower({text_expr}), '[{_WS}]+'),"
        " x -> x <> '')"
    )


def py_tokens(s: str | None) -> list[str] | None:
    """Python twin of :func:`tokens`, for UDFs and UDTFs; None stays
    None, as the engines' NULL does."""
    if s is None:
        return None
    return [t for t in _PY_WS.split(s.lower()) if t]


def arrow_token_count(text):
    """pyarrow.compute twin of ``size(tokens(c))`` over a string array
    (int64; NULL stays NULL): the count of maximal runs outside the
    class.  Lowercasing never makes or removes whitespace, so it is
    skipped."""
    import pyarrow as pa
    import pyarrow.compute as pc

    return pc.cast(pc.count_substring_regex(text, f"[^{_WS}]+"), pa.int64())


def token_count(c: Column | str) -> Column:
    return F.size(tokens(c))


def normalize_text(c: Column | str) -> Column:
    """Canonical form for exact dedup: lowercase, strip non-alnum
    (keeping spaces), collapse runs of whitespace."""
    lowered = F.lower(_c(c))
    alnum = F.regexp_replace(lowered, r"[^a-z0-9\s]", "")
    return F.trim(F.regexp_replace(alnum, r"\s+", " "))


def sql_normalize(text_expr: str = "text") -> str:
    """DuckDB twin of :func:`normalize_text`."""
    alnum = f"regexp_replace(lower({text_expr}), '[^a-z0-9{_WS}]', '', 'g')"
    return f"trim(regexp_replace({alnum}, '[{_WS}]+', ' ', 'g'))"


def hex_int(c: Column | str, n: int = 6) -> Column:
    """The first ``n`` hex digits of ``c`` (an md5 hex digest) as a
    bigint — the portable md5 bucket.  DuckDB twin: :func:`sql_hex_int`."""
    return F.conv(F.substring(_c(c), 1, n), 16, 10).cast("long")


def sql_hex_int(h: str, n: int = 6) -> str:
    """DuckDB twin of :func:`hex_int` (DuckDB has no ``conv``)."""
    terms = [
        f"(strpos('0123456789abcdef', substring({h}, {i + 1}, 1)) - 1)"
        f" * {16 ** (n - 1 - i)}"
        for i in range(n)
    ]
    return "(" + " + ".join(terms) + ")"


def fingerprint(c: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text.
    Portable across engines (md5 of identical UTF-8 bytes)."""
    return F.md5(normalize_text(c))


def shingles(c: Column | str, k: int = 3) -> Column:
    """Word k-gram shingles as an array<string>; empty when the text
    has fewer than k tokens."""
    toks = tokens(c)
    n = F.size(toks)
    return F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def sql_shingles(text_expr: str = "text", k: int = 3) -> str:
    """DuckDB twin of :func:`shingles`."""
    toks = sql_tokens(text_expr)
    return (
        f"CASE WHEN len({toks}) >= {k} THEN "
        f"list_transform(generate_series(1, len({toks}) - {k - 1}), "
        f"i -> array_to_string(list_slice({toks}, i, i + {k - 1}), ' ')) "
        f"ELSE [] END"
    )


def minhash_signature(c: Column | str, n_hashes: int = 8, k: int = 3) -> list[Column]:
    """Portable MinHash: for seed i, min over shingles of
    md5('<i>|' || shingle) (lexicographic). Returns one column per
    hash, aliased mh0..mh{n-1}. NULL when the doc has no shingles.

    Callers with more than one signature should materialize the
    shingle array once (``df.withColumn("sh", shingles(c))``) and use
    :func:`minhash_from_shingles` — otherwise each of the n hash
    expressions re-derives tokenization+shingling, which multiplies
    both codegen size and per-row work by n."""
    return minhash_from_shingles(shingles(c, k), n_hashes)


def minhash_from_shingles(sh: Column | str, n_hashes: int = 8) -> list[Column]:
    """MinHash columns over a pre-materialized shingle array column."""
    shc = _c(sh)

    def seeded(i: int):
        return lambda s: F.md5(F.concat(F.lit(f"{i}|"), s))

    return [
        F.array_min(F.transform(shc, seeded(i))).alias(f"mh{i}")
        for i in range(n_hashes)
    ]


def sql_minhash_exprs(text_expr: str, n_hashes: int = 8, k: int = 3) -> list[str]:
    """DuckDB twin of :func:`minhash_signature` (same seeds/format)."""
    sh = sql_shingles(text_expr, k)
    return [
        f"list_min(list_transform({sh}, s -> md5('{i}|' || s))) AS mh{i}"
        for i in range(n_hashes)
    ]


def simhash_bits(c: Column | str, n_bits: int = 32) -> Column:
    """SimHash over whitespace tokens, emitted as an ``n_bits``-char
    '0'/'1' string (portable across engines; callers band on
    substrings of it). Bit j is set when the majority-weighted j-th
    md5 nibble of the doc's tokens is >= 8."""
    return simhash_from_md5s(F.transform(tokens(c), F.md5), n_bits)


def simhash_from_md5s(md5s: Column | str, n_bits: int = 32) -> Column:
    """SimHash bits over a pre-materialized array of per-token md5
    hex digests (one md5 per token total, instead of one per token
    per bit — callers should ``withColumn`` the digest array first)."""
    hc = _c(md5s)

    # weight +1 if nibble j of the token digest >= 8 else -1
    def nibble_weight(j: int):
        return lambda acc, h: acc + F.when(
            F.substring(h, j + 1, 1).isin(*"89abcdef"), F.lit(1)
        ).otherwise(F.lit(-1))

    bits = []
    for j in range(n_bits):
        contrib = F.aggregate(hc, F.lit(0), nibble_weight(j))
        bits.append(F.when(contrib > 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def sql_simhash_expr(text_expr: str, n_bits: int = 32) -> str:
    """DuckDB twin of :func:`simhash_bits`."""
    toks = sql_tokens(text_expr)
    parts = []
    for j in range(n_bits):
        contrib = (
            f"list_sum(list_transform({toks}, t -> CASE WHEN "
            f"substring(md5(t), {j + 1}, 1) IN "
            "('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END))"
        )
        parts.append(f"CASE WHEN COALESCE({contrib}, 0) > 0 THEN '1' ELSE '0' END")
    return " || ".join(parts)


def shingles_long(df, text_col: str = "text", k: int = 3, id_col: str = "doc_id"):
    """Long-form word k-gram shingles: (id_col, s) — one row per
    shingle occurrence.

    All-codegen shape: posexplode the token split, then window
    ``lead`` to stitch k-grams. Higher-order array functions
    (transform/filter/aggregate) evaluate interpreted per-row in
    Spark, so the array-based :func:`shingles` costs ~4x more wall
    time at corpus scale; this form also feeds groupBy/join consumers
    directly without a second explode. One shuffle on id_col (the
    window), which downstream groupBys reuse.

    Documents with fewer than k tokens produce no rows — callers
    needing every document left-join back to the document list.
    """
    from pyspark.sql import Window

    toks = df.select(
        id_col,
        F.posexplode(split_ws(F.lower(F.col(text_col)))).alias("pos", "t"),
    ).filter(F.col("t") != "")
    w = Window.partitionBy(id_col).orderBy("pos")
    leads = [F.lead("t", i).over(w).alias(f"t{i}") for i in range(1, k)]
    stitched = toks.select(id_col, F.col("t"), *leads)
    gram_cols = ["t", *[f"t{i}" for i in range(1, k)]]
    return (
        stitched.filter(F.col(f"t{k - 1}").isNotNull())
        .select(id_col, F.concat_ws(" ", *gram_cols).alias("s"))
    )
