"""Document corpus source (training-data pipeline inputs).

A plain parquet load of the driver-provided table; at production scale
this would be an Iceberg table scan — the query code is identical either
way (DataFrame in, DataFrame out), column pruning and predicate pushdown
reach the scan either way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def documents_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")
