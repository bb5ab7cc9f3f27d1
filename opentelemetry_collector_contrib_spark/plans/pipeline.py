"""The flagship parse -> enrich -> route -> aggregate pipeline.

This composes the operator stages exactly as the reference's logs path
does (SURVEY.md north rule):

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

from ..operators import connectors, parsers, processors
from ..schema import PARSE_PATTERN, PARSE_GROUPS, PARSE_PATTERN_NAMED
from ..sources import transcripts as src
from .lineage import Lineage


@dataclass
class PipelineResult:
    parsed: DataFrame
    enriched: DataFrame
    tagged: DataFrame
    sink_map: dict[str, list[str]]
    lineage: Lineage


def default_routes() -> list[connectors.Route]:
    """The flagship routing table, in match order (first match wins).
    Batch uses all of it; streaming takes the ``context == "log"``
    subset. A function, not a constant: ``F.col`` needs a live session."""
    return [
        # row-level: ERROR/FATAL turns -> errors + audit (route duplication)
        connectors.Route(
            condition=F.col("level").isin("ERROR", "FATAL"),
            sinks=["errors", "audit"],
            context="log",
            name="errors",
        ),
        # resource-level: any FATAL in the conversation -> whole conv to incident
        connectors.Route(
            condition=F.col("level") == "FATAL",
            sinks=["incident"],
            context="resource",
            name="incident",
        ),
        # row-level: risky tool usage
        connectors.Route(
            condition=(F.col("tool") != "") & (F.col("risk_tier") == "high"),
            sinks=["risky_tools"],
            context="log",
            name="risky_tools",
        ),
    ]


def build(
    spark: SparkSession,
    sf_dir: str,
    *,
    parse_mode: str = "native",
    lineage: Lineage | None = None,
) -> PipelineResult:
    """Assemble the full logical plan; nothing executes until an action."""
    lin = lineage or Lineage()

    turns = src.transcripts_df(spark, sf_dir)

    # ---- parse stage (regex_parser; on_error=send) ----
    if parse_mode == "arrow":
        parsed = parsers.regex_parse_arrow(turns, PARSE_PATTERN_NAMED)
    else:
        parsed = parsers.regex_parse(turns, PARSE_PATTERN, PARSE_GROUPS)
    parsed = parsers.key_value_parse(
        parsed, parse_from="msg", pair_delim=" ", kv_delim="=", out="kv"
    )
    parsed = parsers.severity_parse(parsed, parse_from="level")
    parsed = lin.observe(
        parsed, "parse", parse_errors=F.sum((~F.col("parse_ok")).cast("long"))
    )

    # ---- enrich stage (k8sattributes analog, conv -> tool cascade) ----
    conv_dim = src.conv_dim_df(spark, sf_dir)
    tool_dim = src.tool_dim_df(spark)
    enriched = processors.enrich_lookup(parsed, conv_dim, on="conv_id")
    enriched = processors.enrich_lookup(enriched, tool_dim, on="tool")
    enriched = lin.observe(enriched, "enrich")

    # ---- route stage (routing connector) ----
    # the resource-context window reuses the source's conv_id exchange
    tagged, sink_map = connectors.route_logs(
        enriched,
        default_routes(),
        default_sinks=["catchall"],
        resource_strategy="window",
    )
    tagged = lin.observe(tagged, "route")

    return PipelineResult(parsed, enriched, tagged, sink_map, lin)


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
    parse_mode: str = "native",
    with_histograms: bool = False,
) -> dict:
    """Execute end-to-end; optionally write per-sink tables; return metrics.

    The routed rows are computed once: by the write with ``out_dir``, by
    one ``METRICS`` aggregate without it. With ``out_dir`` the ``METRICS``
    block comes from one column-pruned aggregate over the parquet just
    written. ``per_sink_counts`` is its ``records.per_sink`` slice;
    ``with_histograms`` adds the whole block under ``out["metrics"]``.
    ``lineage`` holds the stage counters of the routed action."""
    result = build(spark, sf_dir, parse_mode=parse_mode)
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
