"""The Arrow token counter (``text_tokcount_arrow``) claims bit-exact
parity with its DuckDB oracle ``len(sql_tokens())``.  The fixture's
single-line ASCII text can't falsify that claim on the characters where
the engines' own whitespace notions disagree: DuckDB's bare trim()
strips the Unicode Zs category (\\xa0, \\u3000, ...), Arrow's
utf8_trim_whitespace strips all Unicode whitespace, and RE2's \\s lacks
\\x0b — the one tokenizer trims nothing and splits on Java's \\s.
This test feeds ``_count_batches`` the adversarial strings directly and
compares against the oracle expression running in DuckDB."""

from __future__ import annotations

import duckdb
import pyarrow as pa

from etl_xlsx_potgres_spark.operators.text import sql_tokens
from etl_xlsx_potgres_spark.plans.arrow_ops import _count_batches

_ADVERSARIAL = [
    "\xa0 a",               # Zs lead: \xa0 is a token, not trimmed
    "a\t",                  # trailing tab: a separator
    "a\x0b b",              # \x0b is a separator (Java's \s)
    "a\x0bb",
    " a ",
    "\x0ba",
    "a\fb",
    "a\rb",
    "a\nb",
    "",
    "\xa0",                 # Zs-only doc -> one token
    "\u3000ideographic\u3000",
    "\u2028line sep",  # U+2028 is not a separator
    "a\x1cb",
    "  double  spaced  ",
    "\t\n mixed \r\n ws \t",
    "plain ascii words",
]


def test_arrow_counter_matches_duckdb_oracle_on_adversarial_text():
    batch = pa.record_batch(
        [
            pa.array(list(range(len(_ADVERSARIAL))), type=pa.int64()),
            pa.array(_ADVERSARIAL, type=pa.string()),
        ],
        names=["doc_id", "text"],
    )
    got = {}
    for out in _count_batches([batch]):
        for row in out.to_pylist():
            got[row["doc_id"]] = (row["n_chars"], row["n_tokens"])

    con = duckdb.connect()
    for i, text in enumerate(_ADVERSARIAL):
        n_chars, n_tokens = con.execute(
            "SELECT CAST(len(text) AS BIGINT),"
            f" CAST(len({sql_tokens()}) AS BIGINT)"
            " FROM (SELECT ?::VARCHAR AS text)",
            [text],
        ).fetchone()
        assert got[i] == (n_chars, n_tokens), (
            f"doc {i} {text!r}: arrow={got[i]}"
            f" oracle=({n_chars}, {n_tokens})"
        )
