"""Language identification over the label-localized corpus: the
deterministic per-token localization of the language-neutral fixture
text and the marker-count identifier cascade, with their Spark and
DuckDB renderings side by side.  Shared by ``text_lang_id`` and the
confusion audit ``text_lang_confusion``, which scores the cascade
verbatim.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import CJK_RANGE, LANG_MARKERS, split_ws, sql_split_ws

# The synthetic documents carry a `lang` label over language-NEUTRAL
# text (one shared vocabulary), so any content-based identifier is
# blind on the raw fixture — the r16 confusion audit proved the
# heuristic routed 100% of documents to 'en'. The fixture is given
# as is, so the marker-bearing surface the label claims is derived
# IN-QUERY (the same seeded-synthesis discipline as gopher_lines'
# multi-line pages and bloom's undersized filter): a deterministic
# per-token localization replaces the shared function words
# ('the'/'a') with the label language's article, and injects one of 8
# language-typical function words at pseudo-random positions
# ((p*37 + doc_id) % 9 == 0 — about one token in nine). The word
# lists deliberately contain genuine cross-language collisions ('des'
# is German genitive AND a French article; 'la'/'de' are Spanish AND
# French function words), and short documents can draw zero markers —
# so the identifier sees realistic confusable text and the confusion
# matrix is non-trivial: off-diagonal mass appears for de→fr, fr→es,
# and low-signal→en, and a regression in the identifier moves
# hash-checked rates. The identifier itself (marker counts + tiebreak
# cascade) never sees the label.
_LOC_WORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "on", "it"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "des", "ein"],
    "es": ["el", "la", "de", "que", "los", "es", "un", "con"],
    "fr": ["le", "les", "et", "des", "est", "une", "la", "de"],
    "zh": ["的", "是", "了", "在", "和", "有", "不", "人"],
}
_LOC_ARTICLE = {"en": "the", "de": "der", "es": "el", "fr": "le", "zh": "的"}
_LOC_INDEF = {"en": "a", "de": "ein", "es": "un", "fr": "une", "zh": "一"}


def localized_text() -> F.Column:
    """Spark twin of ``_SQL_LOC``: deterministic localization of the
    `text` column by the `lang` label (pure Catalyst — transform with
    index + literal-array element_at; no UDF)."""

    def word_case(choices) -> F.Column:
        expr = None
        for lang, val in choices:
            cond = F.col("lang") == lang
            expr = (
                F.when(cond, val) if expr is None else expr.when(cond, val)
            )
        return expr

    def one_token(t: F.Column, i: F.Column) -> F.Column:
        p = i + 1
        inject = (p * 37 + F.col("doc_id")) % 9 == 0
        idx = ((F.col("doc_id") + p) % 8 + 1).cast("int")
        marker = word_case(
            [
                (lang, F.element_at(F.array(*[F.lit(w) for w in words]), idx))
                for lang, words in _LOC_WORDS.items()
            ]
        ).otherwise(t)
        article = word_case(
            [(lang, F.lit(w)) for lang, w in _LOC_ARTICLE.items()]
        ).otherwise(t)
        indef = word_case(
            [(lang, F.lit(w)) for lang, w in _LOC_INDEF.items()]
        ).otherwise(t)
        return (
            F.when(inject, marker)
            .when(t == "the", article)
            .when(t == "a", indef)
            .otherwise(t)
        )

    toks = split_ws("text")
    return F.concat_ws(" ", F.transform(toks, one_token))


def _duck_list(words: list[str]) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


def _duck_lang_case(choices: list[tuple[str, str]]) -> str:
    whens = " ".join(f"WHEN '{lang}' THEN {val}" for lang, val in choices)
    return f"CASE lang {whens} ELSE toks[p] END"


_SQL_LOC = f"""array_to_string(list_transform(
      generate_series(1, len(toks)),
      p -> CASE
        WHEN (p * 37 + doc_id) % 9 = 0 THEN {_duck_lang_case([
            (lang, f"list_extract({_duck_list(words)}, "
                   f"CAST((doc_id + p) % 8 + 1 AS INT))")
            for lang, words in _LOC_WORDS.items()
        ])}
        WHEN toks[p] = 'the' THEN {_duck_lang_case(
            [(lang, f"'{w}'") for lang, w in _LOC_ARTICLE.items()]
        )}
        WHEN toks[p] = 'a' THEN {_duck_lang_case(
            [(lang, f"'{w}'") for lang, w in _LOC_INDEF.items()]
        )}
        ELSE toks[p] END), ' ')"""

# the localized corpus as a reusable CTE body (text replaced by its
# marker-bearing derivation)
SQL_LOC_DOCS = f"""
    tok AS (
      SELECT doc_id, lang, {sql_split_ws()} AS toks
      FROM documents
    ),
    loc AS (
      SELECT doc_id, lang, {_SQL_LOC} AS text FROM tok
    )"""


def lang_id(d: DataFrame) -> DataFrame:
    """(doc_id, labeled_lang, predicted_lang, c_en, c_de, c_es, c_fr):
    the marker-count cascade over the localized documents ``d`` — the
    identifier never sees the label.  DuckDB twin: :data:`SQL_LANG_ID`."""
    d = d.select("doc_id", "lang", localized_text().alias("text"))
    low = F.lower("text")
    counts = d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        F.regexp_count(low, F.lit(LANG_MARKERS["en"])).cast("long").alias("c_en"),
        F.regexp_count(low, F.lit(LANG_MARKERS["de"])).cast("long").alias("c_de"),
        F.regexp_count(low, F.lit(LANG_MARKERS["es"])).cast("long").alias("c_es"),
        F.regexp_count(low, F.lit(LANG_MARKERS["fr"])).cast("long").alias("c_fr"),
        F.regexp_count(F.col("text"), F.lit(CJK_RANGE)).cast("long").alias("c_zh"),
    )
    pred = (
        F.when(F.col("c_zh") > 0, "zh")
        .when(F.col("c_en") >= F.greatest("c_de", "c_es", "c_fr"), "en")
        .when(F.col("c_de") >= F.greatest("c_es", "c_fr"), "de")
        .when(F.col("c_es") >= F.col("c_fr"), "es")
        .otherwise("fr")
    )
    return counts.select(
        "doc_id",
        "labeled_lang",
        pred.alias("predicted_lang"),
        "c_en",
        "c_de",
        "c_es",
        "c_fr",
    )


SQL_LANG_ID = f"""WITH {SQL_LOC_DOCS}
    SELECT doc_id, lang AS labeled_lang,
           CASE WHEN c_zh > 0 THEN 'zh'
                WHEN c_en >= greatest(c_de, c_es, c_fr) THEN 'en'
                WHEN c_de >= greatest(c_es, c_fr) THEN 'de'
                WHEN c_es >= c_fr THEN 'es'
                ELSE 'fr' END AS predicted_lang,
           c_en, c_de, c_es, c_fr
    FROM (
      SELECT doc_id, lang,
             len(regexp_extract_all(lower(text), '{LANG_MARKERS["en"]}')) AS c_en,
             len(regexp_extract_all(lower(text), '{LANG_MARKERS["de"]}')) AS c_de,
             len(regexp_extract_all(lower(text), '{LANG_MARKERS["es"]}')) AS c_es,
             len(regexp_extract_all(lower(text), '{LANG_MARKERS["fr"]}')) AS c_fr,
             len(regexp_extract_all(text, '{CJK_RANGE}')) AS c_zh
      FROM loc
    )"""
