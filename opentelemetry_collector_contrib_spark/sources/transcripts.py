"""Deterministic transcript source + enrichment dims, shared Spark/DuckDB.

The driver's correctness gate runs our Spark queries against DuckDB oracle
SQL over the same parquet tables. To make the comparison airtight, the
``transcripts`` table (BASELINE.json input_hint shape: conv_id, turn_idx,
role, text, tool, ts) and both dimension tables are derived from the
driver-provided parquet (events / customer) through ONE dialect-portable
SQL string that both engines execute verbatim — zero drift by construction.

Only portable constructs are used: ``||`` concat, lpad, substr, replace,
cast, floor, row_number() OVER, CASE, VALUES. Verified against both
Spark SQL and DuckDB.

Reference analogy: this module plays the role of the filelog receiver +
``generate`` input operator (pkg/stanza/operator/input/generate) — a
deterministic source of log-like records. ~70%% of ``text`` values match
the canonical parse pattern; the rest are freeform/JSON-ish lines that
exercise the on_error send/drop paths
(pkg/stanza/operator/helper/transformer.go:105-132).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# ---------------------------------------------------------------------------
# transcripts: one row per turn. turn_idx is dense 0..n-1 per conv_id,
# ordered by event_id (unique => total order, deterministic in both engines).
# The window partitions by conv_id itself (computed in the subquery), not
# by user_id: Spark then hash-partitions the turns by conv_id once, and the
# pipeline's resource-context window reuses that exchange.
# ``{events}`` is a placeholder: Spark binds it to the parquet DataFrame,
# DuckDB to its plain ``events`` table (see oracle_ctes).
# ---------------------------------------------------------------------------
TRANSCRIPTS_SQL = """
SELECT
  conv_id,
  cast(row_number() OVER (PARTITION BY conv_id ORDER BY event_id) - 1 AS int)
    AS turn_idx,
  CASE cast(event_id % 4 AS int)
    WHEN 0 THEN 'user' WHEN 1 THEN 'assistant'
    WHEN 2 THEN 'system' ELSE 'tool' END AS role,
  CASE
    WHEN event_id % 10 >= 7
      THEN 'freeform ' || event_type || ' ' || props
    ELSE
      replace(substr(cast(ts AS string), 1, 19), ' ', 'T') || 'Z '
      || CASE
           WHEN event_type = 'error' AND event_id % 13 = 0 THEN 'FATAL'
           WHEN event_type = 'error' THEN 'ERROR'
           WHEN event_type = 'signup' OR event_type = 'purchase' THEN 'INFO'
           WHEN event_type = 'click' THEN 'DEBUG'
           ELSE 'WARN'
         END
      || ' svc-' || cast(event_id % 7 AS string)
      || ': handled ' || event_type
      || ' user=' || cast(user_id AS string)
      || ' items=' || cast(cast(floor(value) AS bigint) AS string)
  END AS text,
  CASE cast(event_id % 5 AS int)
    WHEN 0 THEN 'bash' WHEN 1 THEN 'search'
    WHEN 2 THEN 'browser' WHEN 3 THEN 'editor' ELSE '' END AS tool,
  ts
FROM (
  SELECT *, 'conv-' || lpad(cast(user_id AS string), 8, '0') AS conv_id
  FROM {events}
) AS e
"""

#: the ``events`` parquet is read with this schema, so that building
#: a source runs no schema-inference job
EVENTS_SCHEMA = (
    "event_id bigint, ts timestamp_ntz, user_id bigint, event_type string, "
    "value double, props string"
)

# ---------------------------------------------------------------------------
# conv_dim: k8sattributes-style resource enrichment keyed on conv_id
# (analog: pod metadata informer cache,
# processor/k8sattributesprocessor/processor.go:121-194). ~90% of convs
# present — missing conv => row passes through unenriched.
# ---------------------------------------------------------------------------
CONV_DIM_SQL = """
SELECT
  'conv-' || lpad(cast(c_custkey AS string), 8, '0') AS conv_id,
  'team-' || substr('abcde', cast(c_custkey % 5 AS int) + 1, 1) AS team,
  CASE cast(c_custkey % 3 AS int)
    WHEN 0 THEN 'prod' WHEN 1 THEN 'staging' ELSE 'dev' END AS env,
  'region-' || cast(c_nationkey % 5 AS string) AS region
FROM {customer}
WHERE c_custkey % 10 <> 0
"""

#: the only ``customer`` columns CONV_DIM_SQL reads: the read is pruned to
#: them and needs no schema-inference job
CUSTOMER_SCHEMA = "c_custkey bigint, c_nationkey int"

# tool_dim: keyed on tool. '' (no tool) is deliberately absent — the count
# connector's missing-attr exclusion (connector/countconnector/counter.go:71-73)
# is exercised through it.
TOOL_DIM_SQL = """
SELECT * FROM (VALUES
  ('bash',    'shell', 'high'),
  ('search',  'web',   'low'),
  ('browser', 'web',   'medium'),
  ('editor',  'ide',   'low')
) AS tool_dim(tool, tool_family, risk_tier)
"""


def transcripts_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turns derived from ``events`` by TRANSCRIPTS_SQL.

    ``events`` is read with EVENTS_SCHEMA. Its ``ts`` is a parquet
    timestamp without UTC adjustment (pyarrow's ``timestamp("us")``),
    which Spark reads as ``timestamp_ntz``. A UTC-adjusted ``ts`` is
    read as ``timestamp_ntz`` too, without error: its UTC wall-clock
    time."""
    # a DataFrame argument binds under a uuid-named view that spark.sql
    # drops after analysis, so building a source leaves the session's
    # temp views as they were
    events = spark.read.schema(EVENTS_SCHEMA).parquet(f"{sf_dir}/events.parquet")
    return spark.sql(TRANSCRIPTS_SQL, events=events)


def with_file_attrs(df: DataFrame) -> DataFrame:
    """Attach the source-file resource attributes the filelog receiver
    adds (`log.file.name`/`log.file.path`,
    pkg/stanza/fileconsumer/attrs/attrs.go:14-17,37-70) from the file
    source's metadata column — zero-cost, no extra scan."""
    from pyspark.sql import functions as F

    return df.withColumn("log_file_path", F.col("_metadata.file_path")).withColumn(
        "log_file_name", F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1)
    )


def conv_dim_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = spark.read.schema(CUSTOMER_SCHEMA).parquet(
        f"{sf_dir}/customer.parquet"
    )
    return spark.sql(CONV_DIM_SQL, customer=customer)


def tool_dim_df(spark: SparkSession) -> DataFrame:
    return spark.sql(TOOL_DIM_SQL)


def oracle_ctes(*, transcripts: bool = True, dims: bool = False) -> str:
    """``WITH ...`` prefix for DuckDB oracle SQL using the same derivations
    over the plain ``events``/``customer`` tables."""
    parts = []
    if transcripts:
        parts.append(
            f"transcripts AS ({TRANSCRIPTS_SQL.format(events='events')})"
        )
    if dims:
        parts.append(
            f"conv_dim AS ({CONV_DIM_SQL.format(customer='customer')})"
        )
        parts.append(f"tool_dim AS ({TOOL_DIM_SQL})")
    return "WITH " + ",\n".join(parts) + "\n"
