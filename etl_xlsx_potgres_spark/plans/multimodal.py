"""Multimodal queries: binary-column stats and the mapInPandas decode
pipeline — BOTH oracle-checked. The pseudo-decode's md5-derived
dimensions (operators/multimodal._fake_meta) are pure hex arithmetic,
so the DuckDB oracle recomputes them with ``sql_hex_int``: the Arrow-batched Python path is differentially proven to
agree with a declarative restatement, which is exactly the guarantee
you want before trusting a Python codec stage at 100 TB."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.multimodal import attach_binary_payload, decode_image_meta
from ..operators.text import sql_hex_int
from ..registry import register
from ..sources import load_table


@register(
    "mm_binary_stats",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           md5(text) AS content_md5,
           'application/octet-stream' AS mime
    FROM documents
    """,
)
def mm_binary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = attach_binary_payload(load_table(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        F.octet_length("payload").cast("long").alias("n_bytes"),
        F.md5("payload").alias("content_md5"),
        "mime",
    )


@register(
    "mm_decode_image_meta",
    oracle=f"""
    WITH m AS (
      SELECT doc_id, md5(text) AS dg,
             octet_length(encode(text)) AS n_bytes
      FROM documents
    )
    SELECT doc_id,
           CAST(n_bytes AS BIGINT) AS n_bytes,
           dg AS content_md5,
           CAST(16 * (1 + {sql_hex_int("dg", 2)} % 64)
                AS INTEGER) AS width,
           CAST(16 * (1 + {sql_hex_int("substr(dg, 3)", 2)} % 64)
                AS INTEGER) AS height,
           CAST(1 + {sql_hex_int("substr(dg, 5)", 1)} % 4 AS INTEGER) AS channels
    FROM m
    """,
)
def mm_decode_image_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = attach_binary_payload(load_table(spark, sf_dir, "documents"))
    return decode_image_meta(d)


# REAL decode, end to end: Spark synthesizes a genuine binary-PPM
# payload per document (2x2 RGB, every pixel byte = doc_id % 128 —
# chr() of 0..127 is a single UTF-8 byte, so the binary plane is
# byte-exact), then operators/multimodal.decode_image_real actually
# parses it (PIL when importable, stdlib PNM parser otherwise — both
# yield identical dimensions/means, so the oracle is codec-agnostic).
# Differentially proves the real-decode mapInPandas stage: container
# parsing, Arrow batch shape, and the pixel statistics math.
@register(
    "mm_decode_image_real",
    oracle="""
    SELECT doc_id,
           2 AS width, 2 AS height, 3 AS channels,
           CAST(doc_id % 128 AS DOUBLE) AS pixel_mean,
           CAST(11 + 12 AS BIGINT) AS n_bytes
    FROM documents
    """,
)
def mm_decode_image_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import decode_image_real

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.encode(F.lit("P6\n2 2\n255\n"), "UTF-8"),
            F.encode(
                F.repeat(F.expr("char(CAST(doc_id % 128 AS INT))"), 12), "UTF-8"
            ),
        ).alias("payload"),
    )
    return decode_image_real(d).select(
        "doc_id", "width", "height", "channels", "pixel_mean", "n_bytes"
    )


# REAL audio decode: Spark synthesizes a genuine 16-bit PCM WAV per
# document — the 44-byte RIFF header is constant for fixed
# (frames, rate, channels) and ships as an unbase64 literal; the
# sample plane is 4 frames of value doc_id % 128 (low byte = value,
# high byte = 0, both chr()-safe single UTF-8 bytes). The stdlib
# `wave` parser in operators/multimodal.decode_audio_real reads it
# back, so dims and RMS (= the constant sample value, exactly) are
# differentially provable.
@register(
    "mm_decode_audio_real",
    oracle="""
    SELECT doc_id,
           CAST(44 + 8 AS BIGINT) AS n_bytes,
           8000 AS sample_rate, 1 AS channels, 2 AS sample_width,
           CAST(4 AS BIGINT) AS n_frames,
           CAST(4 AS DOUBLE) / 8000 AS duration_sec,
           CAST(doc_id % 128 AS DOUBLE) AS rms
    FROM documents
    """,
)
def mm_decode_audio_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    import base64

    from ..operators.multimodal import decode_audio_real, wav_header

    header_b64 = base64.b64encode(wav_header(n_frames=4)).decode()
    sample = F.concat(
        F.expr("char(CAST(doc_id % 128 AS INT))"), F.expr("char(0)")
    )
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.unbase64(F.lit(header_b64)),
            F.encode(F.repeat(sample, 4), "UTF-8"),
        ).alias("payload"),
    )
    return decode_audio_real(d)


# Asset sampling downstream of the decode stage: deterministic ~1/10
# md5-threshold sample of decoded assets (operators/multimodal.
# frame_sample). The filter is a scan-pushable expression over the
# already-proven decode output, so the oracle re-derives the metadata
# AND the sampling decision.
@register(
    "mm_frame_sample",
    oracle=f"""
    WITH m AS (
      SELECT doc_id, md5(text) AS dg FROM documents
    )
    SELECT doc_id, dg AS content_md5,
           CAST(16 * (1 + {sql_hex_int("dg", 2)} % 64)
                AS INTEGER) AS width,
           CAST(16 * (1 + {sql_hex_int("substr(dg, 3)", 2)} % 64)
                AS INTEGER) AS height
    FROM m WHERE substr(dg, 1, 4) < '1999'
    """,
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import frame_sample

    d = attach_binary_payload(load_table(spark, sf_dir, "documents"))
    meta = decode_image_meta(d)
    return frame_sample(meta, every_n=10).select(
        "doc_id", "content_md5", "width", "height"
    )
