"""The UDTF chunker and the JVM declarative chunker claim identical
semantics ("the two implementations pin each other"). The shared
DuckDB oracle only proves that on fixture text — this test proves it
on the adversarial inputs where Python and Java actually disagree:
Unicode whitespace (\\xa0: Java's \\s is ASCII-only, Python's is
Unicode-aware), vertical tab (\\x0b: IN Java's \\s, NOT in RE2's),
leading/trailing separators (Python's .strip() eats Unicode space
Java's trim leaves), empty and sub-window documents."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_xlsx_potgres_spark.operators.text import tokens
from etl_xlsx_potgres_spark.plans.chunking import STRIDE, WINDOW, ChunkTokensUdtf

_ADVERSARIAL = [
    "a\xa0b c",              # no-break space inside a token (Java keeps)
    "\xa0lead unicode ws",   # leading \xa0 — trim/strip divergence trap
    "x\x0by z",              # vertical tab IS Java whitespace
    "  double  spaced  ",
    "\t\n mixed \r\n ws \t",
    "",
    "one",
    " ".join(f"t{i}" for i in range(WINDOW + STRIDE + 3)),  # 2 chunks
    "UPPER Case MiX",
]


def test_udtf_matches_jvm_chunker_on_adversarial_text(spark):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(_ADVERSARIAL)], "doc_id long, text string"
    )
    # JVM declarative twin (the text_chunk_documents body inlined)
    with_toks = df.select("doc_id", tokens("text").alias("toks")).filter(
        F.size("toks") > 0
    )
    chunks = with_toks.select(
        "doc_id",
        F.explode(
            F.sequence(
                F.lit(0),
                F.ceil(
                    F.greatest(F.size("toks") - WINDOW, F.lit(0)) / STRIDE
                ).cast("long"),
            )
        ).alias("chunk_id"),
        "toks",
    )
    jvm = chunks.select(
        "doc_id",
        "chunk_id",
        F.concat_ws(
            " ",
            F.slice("toks", (F.col("chunk_id") * STRIDE + 1).cast("int"), WINDOW),
        ).alias("chunk_text"),
        F.least(
            F.lit(WINDOW), F.size("toks") - F.col("chunk_id") * STRIDE
        ).cast("long").alias("n_tokens"),
    )

    spark.udtf.register("chunk_tokens_udtf_parity", ChunkTokensUdtf)
    df.createOrReplaceTempView("parity_docs")
    udtf = spark.sql(
        """
        SELECT d.doc_id, c.chunk_id, c.chunk_text, c.n_tokens
        FROM parity_docs d, LATERAL chunk_tokens_udtf_parity(d.text) c
        """
    )
    left = sorted(map(tuple, jvm.collect()))
    right = sorted(map(tuple, udtf.collect()))
    assert left == right
