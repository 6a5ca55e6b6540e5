"""The deterministic train/val/test split of the documents, with its
Spark and DuckDB renderings side by side: a document's split is a pure
function of its ``doc_id``, stable under re-runs, repartitioning and
corpus growth (unlike ``randomSplit``/``rand(seed)``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# Split thresholds over the first md5 hex byte (256 buckets):
# train < 'd0' (208/256 = 81.25%), val < 'e8' (+9.4%), test rest.
_TRAIN_HI, _VAL_HI = "d0", "e8"

_BUCKET = "substring(md5(CAST(doc_id AS VARCHAR)), 1, 2)"
SQL_SPLIT = f"""
  CASE WHEN {_BUCKET} < '{_TRAIN_HI}' THEN 'train'
       WHEN {_BUCKET} < '{_VAL_HI}' THEN 'val'
       ELSE 'test' END
"""


def with_split(d: DataFrame) -> DataFrame:
    """``d`` with its ``split`` column.  DuckDB twin: :data:`SQL_SPLIT`."""
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    return d.withColumn(
        "split",
        F.when(bucket < _TRAIN_HI, "train")
        .when(bucket < _VAL_HI, "val")
        .otherwise("test"),
    )
