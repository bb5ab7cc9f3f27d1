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
  * The fact table is never shuffled before routing: parse/enrich/tag are
    all narrow (dims broadcast).  `.explain` shows one WholeStageCodegen
    span from scan to tag when using the native parse path.
  * Order-sensitive stages (recombine, per-turn equality) sort an array
    per group instead of trusting shuffle order — correct on any cluster.
  * Aggregations are map-side partial; per-sink writes use a single
    partitionBy("sink") job rather than N filtered scans.
"""

from __future__ import annotations

from dataclasses import dataclass, field

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
    tagged, sink_map = connectors.route_logs(
        enriched, default_routes(), default_sinks=["catchall"]
    )
    tagged = lin.observe(tagged, "route")

    return PipelineResult(parsed, enriched, tagged, sink_map, lin)


def per_sink_counts(result: PipelineResult) -> DataFrame:
    """countconnector over the routed stream: rows per sink."""
    routed = connectors.routed_union(result.tagged, result.sink_map)
    return routed.groupBy("sink").agg(F.count(F.lit(1)).alias("n")).orderBy("sink")


def pipeline_metrics(result: PipelineResult) -> DataFrame:
    """The north star's batch-processor aggregate block — per-sink record
    counts PLUS per-sink/per-role and per-tool turn histograms — as ONE
    multi-metric countconnector pass over the routed stream (one scan,
    one shuffle; see connectors.count_connector_multi)."""
    routed = connectors.routed_union(result.tagged, result.sink_map)
    return connectors.count_connector_multi(
        routed,
        {
            "records.per_sink": connectors.MetricSpec(attrs=["sink"]),
            "turns.per_sink_role": connectors.MetricSpec(
                attrs=["sink", "role"]
            ),
            "turns.per_tool": connectors.MetricSpec(
                attrs=["tool"], defaults={"tool": "none"}
            ),
        },
    )


def run(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str | None = None,
    *,
    parse_mode: str = "native",
    with_histograms: bool = False,
) -> dict:
    """Execute end-to-end; optionally write per-sink tables; return metrics.

    ``with_histograms`` adds the full metric block (per-sink counts +
    per-sink/role + per-tool histograms) computed in one extra pass via
    the multi-metric connector, under ``out["metrics"]``."""
    result = build(spark, sf_dir, parse_mode=parse_mode)
    counts = {r["sink"]: r["n"] for r in per_sink_counts(result).collect()}
    out = {"per_sink_counts": counts}
    if with_histograms:
        out["metrics"] = [r.asDict() for r in pipeline_metrics(result).collect()]
    if out_dir:
        paths = connectors.write_routed(result.tagged, result.sink_map, out_dir)
        out["sink_paths"] = paths
    out["lineage"] = result.lineage.collect()
    return out
