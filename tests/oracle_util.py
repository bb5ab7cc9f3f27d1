"""Shared Spark-vs-DuckDB comparison harness (mirrors the driver's gate:
row count + schema + order-insensitive value comparison, columns sorted
by name)."""

from __future__ import annotations

import datetime
import math

import duckdb

# the two tables TRANSCRIPTS_SQL and CONV_DIM_SQL read
TABLES = ("events", "customer")


def duck_con(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _norm(v):
    try:
        import pandas as pd

        if v is None or v is pd.NaT or (isinstance(v, float) and math.isnan(v)):
            return None
        if isinstance(v, pd.Timestamp):
            v = v.to_pydatetime()
    except (TypeError, ValueError):
        pass
    if isinstance(v, float):
        return round(v, 6)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return v


def compare(spark_df, con, sql: str) -> tuple[bool, str]:
    sdf = spark_df.toPandas()
    ddf = con.execute(sql).df()
    if sorted(map(str.lower, sdf.columns)) != sorted(map(str.lower, ddf.columns)):
        return False, f"schema mismatch: {sorted(sdf.columns)} vs {sorted(ddf.columns)}"
    cols = sorted(sdf.columns, key=str.lower)
    srows = sorted(
        (
            tuple(_norm(v) for v in row)
            for row in sdf[cols].itertuples(index=False, name=None)
        ),
        key=repr,
    )
    dcols = sorted(ddf.columns, key=str.lower)
    drows = sorted(
        (
            tuple(_norm(v) for v in row)
            for row in ddf[dcols].itertuples(index=False, name=None)
        ),
        key=repr,
    )
    if len(srows) != len(drows):
        return False, f"row count {len(srows)} vs {len(drows)}"
    if srows != drows:
        diff = next((i, a, b) for i, (a, b) in enumerate(zip(srows, drows)) if a != b)
        return False, f"value mismatch at sorted row {diff[0]}:\n  spark={diff[1]}\n  duck ={diff[2]}"
    return True, f"ok ({len(srows)} rows)"
