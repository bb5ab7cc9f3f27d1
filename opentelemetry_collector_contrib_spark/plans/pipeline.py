"""The flagship parse -> enrich -> route -> aggregate pipeline.

One config (``FLAGSHIP``) lists the stages of the reference's logs path
(SURVEY.md north rule); ``config_pipeline.build_from_config`` compiles
it, as the reference builds its pipeline from config
(pkg/stanza/pipeline/directed.go:29-67). Batch and streaming compile the
same config:

  filelog receiver (transcripts source)
    -> regex_parser (vectorized; on_error=send => parse_ok column)
    -> key_value_parser on the message tail
    -> severity_parser
    -> k8sattributes-style broadcast enrich (conv_dim, tool_dim cascade)
    -> routing connector (first-match-wins tag; resource-context route)
    -> per-sink exporters + count/sum connectors

Scale design (the same plan on local[N] or a cluster):
  * The fact table is shuffled once: the source numbers the turns in a
    window hash-partitioned by conv_id, and the resource-context route
    (``max(cond) OVER (PARTITION BY conv_id)``) reuses that exchange.
    Parse and enrich are narrow (dims broadcast), so `.explain` shows one
    exchange, one scan of events and one of customer below the write.
  * Order-sensitive stages (recombine, per-turn equality) sort an array
    per group instead of trusting shuffle order — correct on any cluster.
  * Aggregations are map-side partial; per-sink writes use one
    partitionBy("sink") write rather than N filtered scans.
  * ``run`` routes the input once: the write (or, without an output
    dir, one metric aggregate) is the only pass over the fact table.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators import connectors
from ..schema import PARSE_PATTERN, PARSE_GROUPS
from .config_pipeline import build_from_config
from .lineage import Lineage


@dataclass
class PipelineResult:
    parsed: DataFrame
    enriched: DataFrame
    tagged: DataFrame
    sink_map: dict[str, list[str]]
    lineage: Lineage


#: The flagship job as one config, compiled by ``build`` (batch) and by
#: ``streaming.pipeline.build_stream`` (its ``context == "log"`` routes).
#: Routes match in order, first match wins; conditions are Spark SQL, so
#: the table needs no live session.
FLAGSHIP = {
    "processors": [
        # parse stage (regex_parser; on_error=send => parse_ok column)
        {"type": "regex_parser", "pattern": PARSE_PATTERN, "groups": PARSE_GROUPS},
        {"type": "key_value_parser", "parse_from": "msg", "out": "kv"},
        {"type": "severity_parser", "parse_from": "level",
         "observe": {"name": "parse",
                     "parse_errors": "sum(cast(NOT parse_ok AS long))"}},
        # enrich stage (k8sattributes analog, conv -> tool cascade)
        {"type": "enrich", "dim": "conv_dim", "on": "conv_id"},
        {"type": "enrich", "dim": "tool_dim", "on": "tool",
         "observe": {"name": "enrich"}},
    ],
    "routes": [
        # row-level: ERROR/FATAL turns -> errors + audit (route duplication)
        {"name": "errors", "condition": "level IN ('ERROR','FATAL')",
         "context": "log", "sinks": ["errors", "audit"]},
        # resource-level: any FATAL in the conversation -> whole conv to incident
        {"name": "incident", "condition": "level = 'FATAL'",
         "context": "resource", "sinks": ["incident"]},
        # row-level: risky tool usage
        {"name": "risky_tools", "condition": "tool <> '' AND risk_tier = 'high'",
         "context": "log", "sinks": ["risky_tools"]},
    ],
    "default_sinks": ["catchall"],
}


def build(
    spark: SparkSession, sf_dir: str, *, lineage: Lineage | None = None
) -> PipelineResult:
    """Compile ``FLAGSHIP``; nothing executes until an action. The
    resource-context route's window reuses the source's conv_id
    exchange."""
    lin = lineage or Lineage()
    tagged, sink_map = build_from_config(spark, sf_dir, FLAGSHIP, lineage=lin)
    tagged = lin.observe(tagged, "route")
    return PipelineResult(
        lin.frames["parse"], lin.frames["enrich"], tagged, sink_map, lin
    )


#: The north star's aggregate block as one countconnector config: per-sink
#: record counts plus per-sink/per-role and per-tool turn histograms.
METRICS = {
    "records.per_sink": connectors.MetricSpec(attrs=["sink"]),
    "turns.per_sink_role": connectors.MetricSpec(attrs=["sink", "role"]),
    "turns.per_tool": connectors.MetricSpec(
        attrs=["tool"], defaults={"tool": "none"}
    ),
}

#: the only columns METRICS reads: the read-back schema of written sinks
#: (explicit, so reading them needs no schema-inference job)
METRICS_SCHEMA = "role string, tool string, sink string"


def per_sink_counts(result: PipelineResult) -> DataFrame:
    """countconnector over the routed stream: rows per sink."""
    routed = connectors.routed_union(result.tagged, result.sink_map)
    return routed.groupBy("sink").agg(F.count(F.lit(1)).alias("n")).orderBy("sink")


def pipeline_metrics(result: PipelineResult) -> DataFrame:
    """The ``METRICS`` block as ONE multi-metric countconnector pass over
    the routed stream (one scan, one shuffle; see
    connectors.count_connector_multi)."""
    routed = connectors.routed_union(result.tagged, result.sink_map)
    return connectors.count_connector_multi(routed, METRICS)


def run(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str | None = None,
    *,
    with_histograms: bool = False,
) -> dict:
    """Execute end-to-end; optionally write per-sink tables; return metrics.

    The routed rows are computed once: by the write with ``out_dir``, by
    one ``METRICS`` aggregate without it. With ``out_dir`` the ``METRICS``
    block comes from one column-pruned aggregate over the parquet just
    written. ``per_sink_counts`` is its ``records.per_sink`` slice;
    ``with_histograms`` adds the whole block under ``out["metrics"]``.
    ``lineage`` holds the stage counters of the routed action."""
    result = build(spark, sf_dir)
    if out_dir:
        paths = connectors.write_routed(result.tagged, result.sink_map, out_dir)
        written = spark.read.schema(METRICS_SCHEMA).parquet(
            f"{out_dir.rstrip('/')}/routed"
        )
        block = connectors.count_connector_multi(written, METRICS)
    else:
        block = pipeline_metrics(result)
    metrics = block.collect()
    counts = dict(
        sorted(
            (r["sink"], r["value"])
            for r in metrics
            if r["metric"] == "records.per_sink"
        )
    )
    out = {"per_sink_counts": counts}
    if with_histograms:
        out["metrics"] = [r.asDict() for r in metrics]
    if out_dir:
        out["sink_paths"] = paths
    out["lineage"] = result.lineage.collect()
    return out
