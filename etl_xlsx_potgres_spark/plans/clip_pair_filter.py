"""Image-text pair curation by embedding agreement — the DataComp /
LAION recipe (Schuhmann et al. 2021; Gadre et al. 2023): multimodal
training pairs are kept or dropped by the cosine between the image
embedding and the caption embedding ("CLIP score"), THE
quality-filter of web-scale image-text corpora.  The engine side is
real end to end: the embeddings table plays the image tower's output
(the ``mm_*`` convention of typed opaque media), the caption tower is
a deterministic hash projection of the document's tokens (two md5
digests per token give 64 signed nibble weights — the portable
sign-plane discipline of ``similarity.sign_plane_signature``, summed
instead of thresholded), and the pair join + cosine + threshold
verdict is exactly the production plan shape.

Why the caption tower is an Arrow-batched pandas_udf and not a JVM
expression: the first implementation spelled the projection as
``transform(sequence(1, 64), d -> aggregate(digs, ...))`` — 64
interpreted higher-order folds per row, which measured **26 s at
sf0.1** in BENCH (the worst query in the suite by 5x; nested-lambda
HOFs do not reach whole-stage codegen).  The projection is exactly
the "model tower" shape the guide reserves Pandas UDFs for: per-row
numeric batch work with no relational structure.  The UDF hashes each
token once (hashlib.md5 — bit-identical to the engines' md5),
decodes the 64 nibbles with one numpy threshold per document, and
returns float64 arrays over Arrow — ~2 s at sf0.1, and the caption
never leaves the executor.  Tokenization is
``operators.text.py_tokens``, the Python rendering of the oracle's
``sql_tokens`` — NOT Python ``str.split``, whose Unicode whitespace set
is wider and silently diverges.

Determinism: the synthesized caption embedding is integer sums turned
double; the cosine is ``operators.vectors.cosine``/``sql_cosine``
(both engines fold row-locally in index order); the keep verdict compares against 0.0, where random pairs
split ~half/half so both verdict paths are non-vacuous at every SF.
NULL scores (a zero-norm tower output) map to keep=false on both
engines via an explicit coalesce.

Plan shape: caption embeddings are built ROW-LOCALLY in the Arrow
batch; the only corpus movement is the pair equi-join on the id key
(one shuffle per side, or zero with co-bucketed layouts).  Never
all-pairs: this is a 1:1 keyed join, not a similarity search.

Reference lifecycle note: the reference (etl_process.py:1-235) has no
multimodal surface; pair curation is north-star machinery for the
multimodal corpus stages the driver mandates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, DoubleType

from ..operators.text import py_tokens, sql_tokens
from ..operators.vectors import (
    EMB_DIM,
    cosine,
    sq_norm,
    sql_cosine,
    sql_sq_norm,
)
from ..registry import register
from ..sources import load_table

_DUCK_DIGS = (
    f"list_transform({sql_tokens()}, w -> md5('0|' || w) || md5('1|' || w))"
)
_DUCK_TEXT_EMB = (
    f"list_transform(generate_series(1, {EMB_DIM}), d ->"
    " CAST(COALESCE(list_sum(list_transform(digs, h ->"
    " CASE WHEN substring(h, d, 1) >= '8' THEN 1 ELSE -1 END)), 0)"
    " AS DOUBLE))"
)


@pandas_udf(ArrayType(DoubleType()))
def _caption_emb(text):
    import hashlib

    import numpy as np
    import pandas as pd

    out = []
    for t in text:
        # NULL text must behave like empty text (zero vector), not the
        # literal string 'None' — the oracle NULL-propagates to []
        toks = py_tokens(t) if isinstance(t, str) else None
        if not toks:
            out.append([0.0] * EMB_DIM)
            continue
        digs = b"".join(
            hashlib.md5(b"0|" + w.encode()).hexdigest().encode()
            + hashlib.md5(b"1|" + w.encode()).hexdigest().encode()
            for w in toks
        )
        arr = np.frombuffer(digs, dtype=np.uint8).reshape(-1, EMB_DIM)
        # hex chars >= '8' (0x38; 'a'-'f' are higher still) weigh +1
        out.append(
            np.where(arr >= 0x38, 1, -1).sum(axis=0).astype(np.float64).tolist()
        )
    return pd.Series(out)


@register(
    "mm_clip_pair_filter",
    oracle=f"""
    WITH cap AS (
      SELECT doc_id, {_DUCK_DIGS} AS digs FROM documents
    ),
    te AS (
      SELECT doc_id, {_DUCK_TEXT_EMB} AS temb FROM cap
    ),
    scored AS (
      SELECT t.doc_id,
             CASE WHEN {sql_sq_norm("t.temb")} > 0
                   AND {sql_sq_norm("e.embedding")} > 0
                  THEN {sql_cosine("t.temb", "e.embedding")}
             END AS clip_score
      FROM te t JOIN embeddings e ON e.vec_id = t.doc_id
    )
    SELECT doc_id, clip_score,
           COALESCE(clip_score >= 0.0, FALSE) AS keep
    FROM scored
    """,
)
def mm_clip_pair_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    te = d.select("doc_id", _caption_emb("text").alias("temb"))
    pairs = te.join(e, te.doc_id == e.vec_id)
    # norm > 0 guard on BOTH engines: a zero-norm side divides by zero,
    # which is NULL in Spark but NaN (IEEE) in DuckDB — the explicit
    # NULL makes the score engine-stable on degenerate captions
    score = F.when(
        (sq_norm("temb") > 0) & (sq_norm("embedding") > 0),
        cosine("temb", "embedding"),
    )
    return pairs.select(
        "doc_id",
        score.alias("clip_score"),
        F.coalesce(score >= 0.0, F.lit(False)).alias("keep"),
    )
