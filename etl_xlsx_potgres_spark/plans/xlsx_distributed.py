"""Distributed multi-workbook ingestion under driver attestation.

``xlsx_roundtrip_ingest`` attests ONE workbook through the
driver-side reader (the reference's shape,
``/root/reference/importador.py:47``). This query attests the
*landing-directory* shape instead: 6 deterministic workbooks are
provisioned once, scanned through the ``xlsx`` Python Data Source
(``sources/xlsx_datasource.py`` — one executor task per file, Arrow
batches, schema inferred from typed OOXML cells), and aggregated with
the exact-decimal policy. The DuckDB oracle re-derives the same
aggregate from the generating formula, so a file dropped by the glob,
a sheet parsed with wrong types, or a batch boundary that loses rows
all flip counts and sums.

Scale posture: the scan parallelism is ``n_files`` (an xlsx zip is
not splittable), which is exactly the property that makes a 10k-file
intake a 10k-task scan instead of a driver loop; the aggregate on top
is an ordinary partial-agg shuffle on the 4-value category key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numeric import msum
from ..operators.workbooks import SQL_LEDGER_TOTALS, provision_ledgers
from ..registry import register


@register("xlsx_datasource_ingest", oracle=SQL_LEDGER_TOTALS)
def xlsx_datasource_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.xlsx_datasource import register_xlsx_source

    register_xlsx_source(spark)
    scan = spark.read.format("xlsx").load(provision_ledgers())
    return scan.groupBy("cat").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("qty").cast("long").alias("qty_sum"),
        msum(F.col("price"), "price_sum"),
    )
