"""Correctness checks against DuckDB, run outside every timed region.

Batch: DuckDB runs the repository's own oracle SQL
(``__spark_entry__.oracle_sql()`` ``route_per_sink_counts`` and
``routed_rows``) over the generated ``events``/``customer`` files; the
benchmark compares per-sink counts and the routed-row set on
``(sink, conv_id, turn_idx, text)``.

Streaming: a DuckDB query applies the streaming job's log-context routes
(errors -> errors+audit, high-risk tool -> risky_tools, else catchall)
to the dropped transcript files; per-sink counts of the rows the job
wrote must match.
"""

from __future__ import annotations

import os

import duckdb

ROUTED_COLS = "sink, conv_id, turn_idx, text"


def _glob(path: str) -> str:
    return os.path.join(path, "*.parquet") if os.path.isdir(path) else path


def batch_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    for table in ("events", "customer"):
        src = _glob(os.path.join(sf_dir, f"{table}.parquet"))
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{src}')")
    return con


class BatchOracle:
    """Expected per-sink counts and routed rows for one generated input."""

    def __init__(self, sf_dir: str):
        import __spark_entry__ as entry

        sql = entry.oracle_sql()
        self.con = batch_connection(sf_dir)
        self.counts = dict(self.con.execute(sql["route_per_sink_counts"]).fetchall())
        self.con.execute(f"CREATE TABLE expected AS {sql['routed_rows']}")

    def counts_match(self, counts: dict) -> bool:
        return {k: int(v) for k, v in counts.items()} == self.counts

    def routed_rows_match(self, routed_dir: str) -> bool:
        """Set equality of the routed rows written under ``routed_dir``
        (``sink=<name>/`` partitions) with the oracle's routed rows."""
        self.con.execute(
            "CREATE OR REPLACE VIEW actual AS SELECT "
            f"{ROUTED_COLS} FROM read_parquet('{routed_dir}/*/*.parquet', "
            "hive_partitioning = true)"
        )
        missing, extra = self.con.execute(
            f"SELECT (SELECT count(*) FROM (SELECT {ROUTED_COLS} FROM expected "
            f"EXCEPT ALL SELECT {ROUTED_COLS} FROM actual)), "
            f"(SELECT count(*) FROM (SELECT {ROUTED_COLS} FROM actual "
            f"EXCEPT ALL SELECT {ROUTED_COLS} FROM expected))"
        ).fetchone()
        return missing == 0 and extra == 0

    def close(self) -> None:
        self.con.close()


def stream_expected_counts(input_dir: str) -> dict[str, int]:
    from opentelemetry_collector_contrib_spark.schema import PARSE_PATTERN
    from opentelemetry_collector_contrib_spark.sources.transcripts import TOOL_DIM_SQL

    pat = PARSE_PATTERN.replace("'", "''")
    sql = f"""
    WITH tool_dim AS ({TOOL_DIM_SQL}),
    t AS (SELECT * FROM read_parquet('{input_dir}/*.parquet')),
    p AS (SELECT t.*, CASE WHEN regexp_matches(text, '{pat}')
                 THEN regexp_extract(text, '{pat}', 2) END AS level FROM t),
    tagged AS (
      SELECT CASE
        WHEN level IN ('ERROR', 'FATAL') THEN 'errors'
        WHEN p.tool <> '' AND td.risk_tier = 'high' THEN 'risky_tools'
        ELSE 'default' END AS route
      FROM p LEFT JOIN tool_dim td ON p.tool = td.tool)
    SELECT sink, count(*) FROM (
                SELECT 'errors' AS sink FROM tagged WHERE route = 'errors'
      UNION ALL SELECT 'audit' FROM tagged WHERE route = 'errors'
      UNION ALL SELECT 'risky_tools' FROM tagged WHERE route = 'risky_tools'
      UNION ALL SELECT 'catchall' FROM tagged WHERE route = 'default')
    GROUP BY sink
    """
    with duckdb.connect() as con:
        return dict(con.execute(sql).fetchall())


def stream_written_counts(routed_dir: str) -> dict[str, int]:
    if not os.path.isdir(routed_dir):
        return {}
    with duckdb.connect() as con:
        return dict(
            con.execute(
                f"SELECT sink, count(*) FROM read_parquet('{routed_dir}/*/*.parquet', "
                "hive_partitioning = true) GROUP BY sink"
            ).fetchall()
        )
