"""Streaming workbook intake under driver attestation — the THIRD
leg of the xlsx Python Data Source (batch scan: ``xlsx_distributed``;
distributed export: ``xlsx_export``; this: ``readStream``).

The reference polls an uploads/ directory and loads one workbook at a
time on the driver (``importador.py:40-47``); here the same landing
dir is a Structured Streaming source with real offset tracking
(``sources/xlsx_datasource.py::_XlsxStreamReader``: append-only
lexicographic file offsets, one executor task per workbook per
micro-batch, restart replay via readBetweenOffsets). The query
replays the 6-workbook fixture of ``xlsx_datasource_ingest`` through
a bounded run into a memory sink and aggregates with the
exact-decimal policy — SAME oracle as the batch scan, so the stream
path must reproduce the batch path bit-for-bit: an offset slice that
drops or double-reads a file, a type coerced differently on the
stream read path, or rows lost at a micro-batch boundary all flip
the counts/sums.

Scale posture: micro-batch parallelism is the number of newly-landed
files (the zip-container grain again); the aggregate on top is the
ordinary 4-key partial-agg shuffle. State is just the offset — the
source itself is stateless beyond the listing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.numeric import msum
from ..operators.workbooks import SQL_LEDGER_TOTALS, provision_ledgers
from ..registry import register
from ..sources.xlsx_datasource import register_xlsx_source

_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("cat", T.StringType()),
        T.StructField("qty", T.LongType()),
        T.StructField("price", T.DoubleType()),
    ]
)


@register("xlsx_stream_ingest", oracle=SQL_LEDGER_TOTALS)
def xlsx_stream_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_xlsx_source(spark)
    landing = provision_ledgers()
    name = "xlsx_stream_sink"
    for q in spark.streams.active:
        if q.name == name:
            q.stop()
    stream = (
        spark.readStream.format("xlsx")
        .schema(_SCHEMA)  # explicit: inference would race arrivals
        .load(landing)
    )
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).groupBy("cat").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("qty").cast("long").alias("qty_sum"),
        msum(F.col("price"), "price_sum"),
    )
