"""Table-format abstraction: Iceberg when available, parquet fallback.

The north rule targets Iceberg tables (per-sink Iceberg tables, snapshot
-based resume). This container has no Iceberg runtime jars (offline), so
every sink/table call goes through this module:

  * ``iceberg_available(spark)`` probes the runtime once;
  * with Iceberg: ``writeTo(table).append()`` / ``overwritePartitions()``
    — snapshot-isolated, idempotent-by-snapshot;
  * without: parquet with ``partitionOverwriteMode=dynamic`` — an
    overwrite touches ONLY the partitions present in the incoming data,
    which is the parquet-level analog of Iceberg's overwritePartitions
    and keeps re-runs idempotent (a batch run resumes by rerunning).

All query code is format-agnostic: DataFrame in, DataFrame out; scans
get column pruning + predicate pushdown either way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg DataSource is on the classpath."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.source.IcebergSource"
        )
        return True
    except Exception:
        return False


class SinkCatalog:
    """Per-sink table writer/reader with Iceberg-or-parquet backing."""

    def __init__(self, spark: SparkSession, base: str, *, fmt: str | None = None):
        self.spark = spark
        self.base = base.rstrip("/")
        if fmt is None:
            fmt = "iceberg" if iceberg_available(spark) else "parquet"
        self.fmt = fmt

    def _path(self, table: str) -> str:
        return f"{self.base}/{table}"

    def overwrite_partitions(
        self, df: DataFrame, table: str, *, partition_by: list[str]
    ) -> None:
        """Idempotent write: replace exactly the partitions present in
        ``df`` (Iceberg overwritePartitions / parquet dynamic mode)."""
        if self.fmt == "iceberg":
            df.writeTo(table).overwritePartitions()
            return
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*partition_by)
            .parquet(self._path(table))
        )

    def append(self, df: DataFrame, table: str, *, partition_by: list[str]) -> None:
        if self.fmt == "iceberg":
            df.writeTo(table).append()
            return
        (
            df.write.mode("append")
            .partitionBy(*partition_by)
            .parquet(self._path(table))
        )

    def read(self, table: str) -> DataFrame:
        if self.fmt == "iceberg":
            return self.spark.read.format("iceberg").load(table)
        return self.spark.read.parquet(self._path(table))
