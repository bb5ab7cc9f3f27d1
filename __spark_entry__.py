"""Driver contract: flagship entry + per-operator queries + DuckDB oracles.

Every query here is an operator from SURVEY.md §2 applied to the
deterministic ``transcripts`` table (BASELINE.json input_hint shape),
which both engines derive from the driver's parquet through ONE portable
SQL string (opentelemetry_collector_contrib_spark/sources/transcripts.py)
— so oracle comparisons check operator semantics, not generator drift.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from opentelemetry_collector_contrib_spark.operators import (
    connectors,
    parsers,
    processors,
    transformers,
)
from opentelemetry_collector_contrib_spark.plans import pipeline
from opentelemetry_collector_contrib_spark.schema import (
    PARSE_PATTERN,
    PARSE_GROUPS,
    PARSE_PATTERN_NAMED,
    SEVERITY_ALIASES,
    SEVERITY_TEXT_TO_NUM,
)
from opentelemetry_collector_contrib_spark.sources import transcripts as src

SF0001 = "/root/testdata/sf0.001"

# DuckDB-flavored pattern (same regex, backslashes literal in duckdb strings)
_PAT_SQL = PARSE_PATTERN.replace("'", "''")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full parse→enrich→route→aggregate, per-sink counts."""
    result = pipeline.build(spark, SF0001)
    return pipeline.per_sink_counts(result)


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def _parsed(spark: SparkSession, sf_dir: str, mode: str = "native") -> DataFrame:
    turns = src.transcripts_df(spark, sf_dir)
    if mode == "arrow":
        return parsers.regex_parse_arrow(turns, PARSE_PATTERN_NAMED)
    return parsers.regex_parse(turns, PARSE_PATTERN, PARSE_GROUPS)


def q_parse_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _parsed(spark, sf_dir).select(
        "conv_id", "turn_idx", "parse_ok", "ts_raw", "level", "component", "msg"
    )


def q_parse_regex_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _parsed(spark, sf_dir, "arrow").select(
        "conv_id", "turn_idx", "parse_ok", "ts_raw", "level", "component", "msg"
    )


def q_parse_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """on_error=drop path: failed rows filtered out (counted in lineage)."""
    turns = src.transcripts_df(spark, sf_dir)
    df = parsers.regex_parse(turns, PARSE_PATTERN, PARSE_GROUPS, on_error="drop")
    return df.select("conv_id", "turn_idx", "level", "msg")


def q_kv_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _parsed(spark, sf_dir)
    df = parsers.key_value_parse(df, parse_from="msg", out="kv")
    return df.select(
        "conv_id",
        "turn_idx",
        F.element_at("kv", "user").alias("kv_user"),
        F.element_at("kv", "items").alias("kv_items"),
    )


#: custom severity mapping exercised by q_severity: an HTTP-status-like
#: code column mapped through ranges + "Nxx" specials
#: (helper/severity_builder.go:113-165)
_SEV_MAPPING = {
    "info": ["2xx"],
    "warn3": [{"min": 300, "max": 399}],
    "error": ["4xx"],
    "fatal": ["5xx"],
}


def q_severity(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = parsers.severity_parse(_parsed(spark, sf_dir), parse_from="level")
    # user-defined mapping path: code in 200..599 resolved through the
    # custom ranges, with overwrite_text yielding the canonical name
    df = df.withColumn("code", ((F.col("turn_idx") % 400) + 200).cast("string"))
    df = parsers.severity_parse(
        df.withColumnRenamed("severity_num", "_sn")
        .withColumnRenamed("severity_text", "_st"),
        parse_from="code",
        mapping=_SEV_MAPPING,
        overwrite_text=True,
    )
    return df.select(
        "conv_id",
        "turn_idx",
        F.col("_st").alias("severity_text"),
        F.col("_sn").alias("severity_num"),
        F.col("severity_num").alias("custom_num"),
        F.col("severity_text").alias("custom_text"),
    )


def q_time_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """strptime + gotime + epoch layouts in one stage
    (operator/helper/time.go:19-26)."""
    df = parsers.time_parse(_parsed(spark, sf_dir), parse_from="ts_raw")
    df = parsers.time_parse(
        df, parse_from="ts_raw", layout="2006-01-02T15:04:05Z",
        layout_type="gotime", out="gotime_ts",
    )
    df = df.withColumn("epoch_ms", F.unix_millis(F.col("ts").cast("timestamp")))
    df = parsers.time_parse(
        df, parse_from="epoch_ms", layout="ms", layout_type="epoch", out="epoch_ts"
    )
    return df.select("conv_id", "turn_idx", "event_ts", "gotime_ts", "epoch_ts")


def q_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast enrich + insert-if-absent in one pass: env is pre-set
    for system rows and must WIN over the dimension value
    (k8sattributesprocessor/processor.go:189-194)."""
    df = _parsed(spark, sf_dir)
    df = df.withColumn(
        "env", F.when(F.col("role") == "system", F.lit("forced-env"))
    )
    df = processors.enrich_lookup(df, src.conv_dim_df(spark, sf_dir), on="conv_id")
    df = processors.enrich_lookup(df, src.tool_dim_df(spark), on="tool")
    return df.select(
        "conv_id", "turn_idx", "team", "env", "region", "tool_family", "risk_tier"
    )



def q_route_per_sink_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    result = pipeline.build(spark, sf_dir)
    return pipeline.per_sink_counts(result)


def q_routed_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Routed-row set equality incl. per-turn text — the north-rule check."""
    result = pipeline.build(spark, sf_dir)
    routed = connectors.routed_union(result.tagged, result.sink_map)
    return routed.select("sink", "conv_id", "turn_idx", "text")


def q_count_multi_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """countconnector FULL config shape: one block emits N named metrics,
    each with own conditions/attributes/default_value, in ONE pass over
    the stream (connector/countconnector/config.go:35-51, counter.go:38-128).
    Covers the round-1/2 single-metric queries as metrics #1 and #2:
    missing-attr exclusion (counter.go:71-73) and default_value
    substitution (config.go:186-190); metric #3 exercises an OTTL
    condition string compiled by the connector itself; metric #4 (the
    former ``errors_per_team`` query, folded in round 4 to free a board
    slot) is a conditional count over a parse+enrich upstream, proving
    the one-pass block composes with derived attributes. All four
    metrics still share ONE scan + ONE shuffle (grouping sets)."""
    df = _parsed(spark, sf_dir)
    df = processors.enrich_lookup(df, src.conv_dim_df(spark, sf_dir), on="conv_id")
    out = connectors.count_connector_multi(
        df,
        {
            "turns.by_tool_role": connectors.MetricSpec(attrs=["tool", "role"]),
            "turns.by_tool_role_default": connectors.MetricSpec(
                attrs=["tool", "role"], defaults={"tool": "none"}
            ),
            "assistant.turns": connectors.MetricSpec(
                attrs=["role"], conditions=['role == "assistant"']
            ),
            "errors.per_team": connectors.MetricSpec(
                attrs=["team"], conditions=['level == "ERROR"']
            ),
        },
    )
    return out.select("metric", "tool", "role", "team", F.col("value").alias("n"))


def q_groupbyattrs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupbyattrsprocessor (processor/groupbyattrsprocessor/processor.go:
    63-100): regroup records under a new identity keyed by an attribute.
    Spark-first analog = repartition on the keys; this query proves the
    stage preserves content (per-turn text equality) AND that the
    regrouped identity is consistent — group_size counted per key AFTER
    the stage equals the key's true cardinality."""
    df = _parsed(spark, sf_dir)
    g = processors.group_by_attrs(df, ["tool"])
    w = Window.partitionBy("tool")
    return g.select(
        "conv_id",
        "turn_idx",
        "tool",
        F.count(F.lit(1)).over(w).alias("group_size"),
        "text",
    )


def q_sum_items_by_team(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sumconnector (sumconnector/config.go:33-44)."""
    df = _parsed(spark, sf_dir)
    df = parsers.key_value_parse(df, parse_from="msg", out="kv")
    df = processors.enrich_lookup(df, src.conv_dim_df(spark, sf_dir), on="conv_id")
    return connectors.sum_connector(
        df.filter(F.col("parse_ok")),
        F.element_at("kv", "items").cast("long"),
        ["team"],
        name="sum_items",
    )


def q_log_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """logdedup processor, BOTH config shapes in one board row (round-4
    slot merge): collapse dup (role, level, tool) rows, and the
    exclude_fields variant (processor/logdedupprocessor) where the
    excluded key must not split groups. Variant-tagged union."""
    df = _parsed(spark, sf_dir)
    full = processors.log_dedup(df, ["role", "level", "tool"], ts_col="ts")
    excl = processors.log_dedup(
        df, ["role", "level", "tool"], ts_col="ts", exclude=["tool"]
    ).withColumn("tool", F.lit(None).cast("string"))
    return full.withColumn("variant", F.lit("full")).unionByName(
        excl.withColumn("variant", F.lit("exclude_tool"))
    )


def q_filter_transformer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """filter transformer drops matching rows (transformer/filter)."""
    turns = src.transcripts_df(spark, sf_dir)
    out = transformers.filter_drop(turns, F.col("role") == "system")
    return out.select("conv_id", "turn_idx", "role")


def q_recombine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recombine transformer: merge turns into blocks ending at every
    5th turn (is_last_entry semantics, recombine/transformer.go:130-151)."""
    turns = src.transcripts_df(spark, sf_dir)
    out = transformers.recombine(
        turns,
        is_last=(F.col("turn_idx") % 5 == 4),
        combine_with="\n",
    )
    return out.select("conv_id", "turn_idx", "text", "n_combined")


def q_attributes_actions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """attributesprocessor action list: UPSERT + HASH + EXTRACT + CONVERT
    (internal/coreinternal/attraction/attraction.go:287-342)."""
    df = _parsed(spark, sf_dir)
    df = processors.attr_upsert(df, "pipeline", "logs")
    df = processors.attr_hash(df.withColumn("conv_hash", F.col("conv_id")), "conv_hash")
    df = processors.attr_extract(df, "component", r"^svc-(\d+)$", ["svc_num"])
    df = processors.attr_convert(df, "svc_num", "int")
    return df.select("conv_id", "turn_idx", "pipeline", "conv_hash", "svc_num")


def q_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """redactionprocessor: allowed-key column drop + blocked-value
    masking + summary attributes (processor.go:193+,320-340) in one
    projection."""
    turns = src.transcripts_df(spark, sf_dir)
    out = processors.redact(
        turns,
        allowed_keys=["conv_id", "turn_idx", "role", "text"],
        mask_patterns={"user_ids": r"user=\d+"},
        mask_cols=["text"],
        summary="debug",
    )
    return out.select(
        "conv_id",
        "turn_idx",
        "role",
        F.col("text").alias("redacted"),
        F.col("`redaction.masked.count`").alias("masked_count"),
        F.col("`redaction.masked.keys`").alias("masked_keys"),
        F.col("`redaction.redacted.count`").alias("redacted_count"),
        F.col("`redaction.redacted.keys`").alias("redacted_keys"),
    )


# ---------------------------------------------------------------------------
# wider parser / transformer / processor coverage. Inputs the transcripts
# table lacks (syslog lines, container logs, JSON, CSV, URIs) are
# synthesized IN the query from transcript columns via portable
# constructions both engines mirror — the operator under test is the
# parser, not the generator.
# ---------------------------------------------------------------------------

_SYSLOG_LINE = (
    "'<' || cast(turn_idx % 192 AS string) || '>1 2024-01-01T12:30:0' "
    "|| cast(turn_idx % 10 AS string) || 'Z host' "
    "|| cast(turn_idx % 5 AS string) || ' app-' || role || ' ' "
    "|| cast(turn_idx AS string) || ' m1 - ' || text"
)


def q_syslog_rfc5424(spark: SparkSession, sf_dir: str) -> DataFrame:
    turns = src.transcripts_df(spark, sf_dir)
    lines = turns.select(
        "conv_id", "turn_idx", F.expr(_SYSLOG_LINE).alias("text")
    )
    out = parsers.syslog_parse(lines, protocol="rfc5424")
    return out.select(
        "conv_id", "turn_idx", "parse_ok", "hostname", "appname",
        "facility", "severity", "message",
    )


_CRI_LINE = (
    "'2024-01-01T00:00:0' || cast(turn_idx % 10 AS string) || 'Z ' "
    "|| (CASE WHEN turn_idx % 2 = 0 THEN 'stdout' ELSE 'stderr' END) "
    "|| ' ' || (CASE WHEN turn_idx % 3 = 2 THEN 'F' ELSE 'P' END) "
    "|| ' seg-' || cast(turn_idx AS string) || '-' || role"
)
_DOCKER_LINE = (
    "'{\"log\":\"line-' || cast(turn_idx AS string) || '-' || role "
    "|| '\",\"stream\":\"stdout\",\"time\":\"2024-01-01T00:00:00Z\"}'"
)
_CONTAINER_LINE = (
    f"CASE WHEN turn_idx % 2 = 0 THEN {_DOCKER_LINE} ELSE {_CRI_LINE} END"
)


def q_container_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    turns = src.transcripts_df(spark, sf_dir)
    lines = turns.select(
        "conv_id", "turn_idx", F.expr(_CONTAINER_LINE).alias("text")
    )
    out = parsers.container_parse(lines)
    return out.select(
        "conv_id", "turn_idx", "container_format", "container_time",
        "stream", "logtag", "log",
    )


def q_container_recombine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRI partial-line merge: P segments concatenate into the next F
    (operator/parser/container/config.go:63-68,84-89)."""
    turns = src.transcripts_df(spark, sf_dir)
    lines = turns.select(
        "conv_id", "turn_idx", F.expr(_CRI_LINE).alias("text")
    )
    out = parsers.container_parse(lines, recombine_partials=True)
    return out.select("conv_id", "turn_idx", "log", "n_combined")


GROK_QUERY_PATTERN = (
    "%{TIMESTAMP_ISO8601:g_ts} %{LOGLEVEL:g_level} "
    "svc-%{INT:g_svc}: %{GREEDYDATA:g_rest}"
)

# SQL-embedded mirrors of the parser regexes (shared strings => zero drift)
from opentelemetry_collector_contrib_spark.operators import grok as _grokmod  # noqa: E402
from opentelemetry_collector_contrib_spark.operators.parsers import (  # noqa: E402
    _CRI_PATTERN as _CRI_SQL,
    _RFC5424 as _RFC5424_SQL,
)

_GROK_SQL = _grokmod.grok_to_regex(GROK_QUERY_PATTERN)


def q_grok_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from opentelemetry_collector_contrib_spark.operators import grok

    turns = src.transcripts_df(spark, sf_dir)
    out = grok.grok_parse(turns, GROK_QUERY_PATTERN)
    return out.select(
        "conv_id", "turn_idx", "parse_ok", "g_ts", "g_level", "g_svc", "g_rest"
    )


_JSON_LINE = (
    "'{\"a\":' || cast(turn_idx AS string) || ',\"b\":\"' || role || '\"}'"
)


# three CSV shapes: quoted field with embedded delimiter (the case a
# bare split mis-parses, operator/parser/csv/parser_test.go), a valid
# trailing empty field, and a short row (Go csv.Reader errors -> on_error)
_CSV_LINE = (
    "CASE WHEN turn_idx % 7 = 0 THEN role "
    "WHEN turn_idx % 7 = 3 THEN role || ',\"' || tool || ',q\",' "
    "ELSE role || ',\"' || tool || ',q\",' || cast(turn_idx AS string) END"
)

_URI_LINE = (
    "'https://host' || cast(turn_idx % 3 AS string) "
    "|| '.example.com/path/' || role || '?q=' || cast(turn_idx AS string)"
)


def q_json_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """json_parser (operator/parser/json/parser.go): typed extraction
    through an explicit schema."""
    turns = src.transcripts_df(spark, sf_dir)
    lines = turns.select("conv_id", "turn_idx", F.expr(_JSON_LINE).alias("jline"))
    out = parsers.json_parse(lines, "a long, b string", parse_from="jline")
    return out.select("conv_id", "turn_idx", "parse_ok", "a", "b")


def q_csv_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """csv_parser (operator/parser/csv/parser.go): quoted fields, a
    trailing empty field and a short row that fails the parse."""
    turns = src.transcripts_df(spark, sf_dir)
    lines = turns.select("conv_id", "turn_idx", F.expr(_CSV_LINE).alias("cline"))
    out = parsers.csv_parse(lines, ["c_role", "c_tool", "c_idx"], parse_from="cline")
    return out.select("conv_id", "turn_idx", "parse_ok", "c_role", "c_tool", "c_idx")


def q_uri_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """uri_parser (operator/parser/uri/parser.go): parse_url splitting."""
    turns = src.transcripts_df(spark, sf_dir)
    lines = turns.select("conv_id", "turn_idx", F.expr(_URI_LINE).alias("uri"))
    out = parsers.uri_parse(lines)
    return out.select("conv_id", "turn_idx", "scheme", "host", "path", "query")


def q_transformer_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """add/copy/move/unquote/regex_replace in one chain (stanza
    transformer family, SURVEY.md §2.3)."""
    turns = src.transcripts_df(spark, sf_dir)
    out = transformers.add(turns, "pipeline", "logs")
    out = transformers.add(
        out, "env_kind", F.lit("sys"), if_cond=F.col("role") == "system"
    )
    out = transformers.copy(out, "conv_id", "conv_copy")
    out = transformers.move(out, "role", "actor")
    out = out.withColumn("quoted_tool", F.concat(F.lit('"'), F.col("tool"), F.lit('"')))
    out = transformers.unquote(out, "quoted_tool")
    out = transformers.regex_replace(out, "text", r"\d", "#")
    return out.select(
        "conv_id", "turn_idx", "pipeline", "env_kind", "conv_copy",
        "actor", "quoted_tool", F.col("text").alias("masked"),
    )


def q_assign_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """assign_keys (transformer/assignkeys/transformer.go:30): zip a list
    with key names into a map."""
    turns = src.transcripts_df(spark, sf_dir)
    out = turns.withColumn("vals", F.array("role", "tool"))
    out = transformers.assign_keys(out, "vals", ["k_role", "k_tool"], "m")
    return out.select(
        "conv_id", "turn_idx",
        F.element_at("m", "k_role").alias("v_role"),
        F.element_at("m", "k_tool").alias("v_tool"),
    )


def q_attr_insert_update_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """attributesprocessor INSERT/UPDATE/DELETE actions
    (attraction.go:287-311)."""
    turns = src.transcripts_df(spark, sf_dir)
    df = turns.withColumn(
        "env", F.when(F.col("role") == "system", F.lit("pre-set"))
    )
    df = processors.attr_insert(df, "env", "inserted")        # only where null
    df = processors.attr_update(df, "env", F.upper(F.col("env")))  # only where set
    df = processors.attr_insert(df, "note", "fresh")           # absent -> created
    df = processors.attr_delete(df, "tool")
    assert "tool" not in df.columns
    return df.select("conv_id", "turn_idx", "env", "note")


def q_filter_processor_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """filterprocessor: drop rows matching ANY OTTL condition (OR'd,
    processor/filterprocessor/logs.go:68-99)."""
    turns = src.transcripts_df(spark, sf_dir)
    out = processors.filter_logs(
        turns,
        F.col("role") == "system",
        F.col("tool") == "bash",
    )
    return out.select("conv_id", "turn_idx", "role", "tool")


_OTLP_LINE = (
    "'{\"body\":\"' || role || '\",\"severityText\":\"INFO\",'"
    " || '\"attributes\":{\"tool\":\"' || tool || '\"}}'"
)


def q_otlpjson_connector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """otlpjson connector (connector/otlpjsonconnector/): logs-as-OTLP-JSON
    -> parsed records via from_json with explicit schema."""
    turns = src.transcripts_df(spark, sf_dir)
    lines = turns.select("conv_id", "turn_idx", F.expr(_OTLP_LINE).alias("text"))
    schema = "body string, severityText string, attributes struct<tool: string>"
    out = parsers.json_parse(lines, schema)
    return out.select(
        "conv_id", "turn_idx", "body", "severityText",
        F.col("attributes.tool").alias("attr_tool"),
    )


_JSONARR_LINE = "'[\"' || role || '\",\"' || tool || '\"]'"


def q_jsonarray_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """jsonarray_parser (operator/parser/jsonarray/): JSON array string ->
    slice -> element access."""
    turns = src.transcripts_df(spark, sf_dir)
    lines = turns.select("conv_id", "turn_idx", F.expr(_JSONARR_LINE).alias("text"))
    arr = F.from_json(F.col("text"), "array<string>")
    return lines.select(
        "conv_id", "turn_idx",
        F.element_at(arr, 1).alias("e1"), F.element_at(arr, 2).alias("e2"),
    )


def q_flatten_retain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """flatten + retain transformers (transformer/{flatten,retain})."""
    turns = src.transcripts_df(spark, sf_dir)
    nested = turns.select(
        "conv_id", "turn_idx", F.struct("role", "tool").alias("nested")
    )
    flat = transformers.flatten(nested, "nested")
    return transformers.retain(flat, ["conv_id", "turn_idx", "role", "tool"])





def q_resource_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """resourcedetectionprocessor with the REAL `system` detector: the
    environment is probed once on the driver (hostname cascade, os.type
    enum, semconv arch) and stamped with override=false semantics; the
    oracle interpolates the same probe, so the row verifies the actual
    detected values, not config literals."""
    det = processors.detect_system()
    turns = src.transcripts_df(spark, sf_dir)
    df = turns.withColumn(
        "host_name", F.when(F.col("role") == "system", F.lit("pinned-host"))
    )
    df = processors.resource_detect(
        df,
        {
            "os_type": det["os.type"],
            "cloud_provider": "none",
            "host_name": det["host.name"],
            "host_arch": det["host.arch"],
        },
    )
    return df.select(
        "conv_id", "turn_idx", "os_type", "cloud_provider", "host_name", "host_arch"
    )


def q_conv_text_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-turn text equality under stable turn ordering (north_rule
    invariant): order-insensitive-to-shuffle per-conv digest, in BOTH
    forms — flat and hierarchical (block-parallel, the hot-conversation-
    proof variant; block=8 so sf0.001 convs span several blocks)."""
    from opentelemetry_collector_contrib_spark.plans import ordering

    turns = src.transcripts_df(spark, sf_dir)
    flat = ordering.conv_text_digest(turns)
    hier = ordering.conv_text_digest_hier(turns, block=8).select(
        "conv_id", F.col("digest").alias("digest_hier")
    )
    return flat.join(hier, "conv_id")


def q_salted_count_by_role(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation == plain groupBy (skew hardening)."""
    from opentelemetry_collector_contrib_spark.plans import ordering

    turns = src.transcripts_df(spark, sf_dir)
    return ordering.salted_count(turns, ["role"], n_salt=16)


def q_ottl_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transformprocessor statement sequence compiled to Column ops
    (processor/transformprocessor/config.go:40-46; pkg/ottl grammar)."""
    from opentelemetry_collector_contrib_spark.operators import ottl

    turns = src.transcripts_df(spark, sf_dir)
    out = ottl.apply_statements(
        turns,
        [
            "set(pipeline, 'logs')",
            "set(norm_role, ToUpperCase(role))",
            "replace_pattern(body, 'user=[0-9]+', 'user=****')",
            "set(conv_hash, SHA256(conv_id)) where role == 'assistant'",
        ],
    )
    return out.select(
        "conv_id",
        "turn_idx",
        "pipeline",
        "norm_role",
        F.col("text").alias("redacted"),
        "conv_hash",
    )


def q_trace_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """trace_parser (operator/helper/trace.go): hex ids -> bytes. Ids
    synthesized deterministically (md5 of conv_id = 16-byte trace id,
    its first 8 bytes = span id)."""
    turns = src.transcripts_df(spark, sf_dir)
    with_hex = turns.select(
        "conv_id",
        "turn_idx",
        F.md5(F.col("conv_id")).alias("trace_id_hex"),
        F.substring(F.md5(F.col("conv_id")), 1, 16).alias("span_id_hex"),
    )
    out = parsers.trace_parse(
        with_hex, trace_field="trace_id_hex", span_field="span_id_hex"
    )
    # Return hex STRINGS, not raw bytes: the driver canonicalizer sorts
    # result columns in pandas, which cannot hash bytearray cells. The
    # unhex round-trip is still exercised: hex(unhex(x)) == upper(x)
    # only when trace_parse produced the right bytes.
    return out.select(
        "conv_id",
        "turn_idx",
        F.hex("trace_id").alias("trace_id"),
        F.hex("span_id").alias("span_id"),
    )


_AV_SCALAR_T = parsers._OTLP_ANYVALUE_SCALAR
_AV_ARRAY_T = f"struct<values: array<{_AV_SCALAR_T}>>"
_AV_KV_T = (
    f"struct<values: array<struct<key: string, value: {_AV_SCALAR_T}>>>"
)


def _avs(string=None, intv=None, doublev=None, bytesv=None):
    """Scalar AnyValue struct (null-padded so arrays stay homogeneous)."""
    def _c(x, t):
        return (x if x is not None else F.lit(None)).cast(t)

    return F.struct(
        _c(string, "string").alias("stringValue"),
        _c(intv, "string").alias("intValue"),
        F.lit(None).cast("boolean").alias("boolValue"),
        _c(doublev, "double").alias("doubleValue"),
        _c(bytesv, "string").alias("bytesValue"),
    )


def _av(string=None, intv=None, doublev=None, bytesv=None, arr=None, kv=None):
    """Full AnyValue struct incl. arrayValue/kvlistValue variants."""
    base = _avs(string, intv, doublev, bytesv)
    scalar_fields = (
        "stringValue", "intValue", "boolValue", "doubleValue", "bytesValue"
    )
    return F.struct(
        *[base[f].alias(f) for f in scalar_fields],
        (
            F.struct(arr.alias("values"))
            if arr is not None
            else F.lit(None).cast(_AV_ARRAY_T)
        ).alias("arrayValue"),
        (
            F.struct(kv.alias("values"))
            if kv is not None
            else F.lit(None).cast(_AV_KV_T)
        ).alias("kvlistValue"),
    )


def q_otlpjson_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full OTLP-JSON logs envelope round-trip
    (connector/otlpjsonconnector/connector_logs.go; fixture shape in
    testdata/logsToLogs/input-log.yaml): transcripts are packed into
    resourceLogs[].scopeLogs[].logRecords[] envelopes (one per
    conversation), then parsed back through the explicit nested schema +
    explodes. The flattened records must equal the flat origin — the
    strongest evidence the envelope parse is lossless.

    Exercises the COMPLETE AnyValue model (pdata/pcommon/value.go): a
    deterministic fifth of bodies are kvlistValue (structured bodies);
    the ``meta`` attribute cycles kvlist / array / bytes / double / int,
    each flattened per Value.AsString (maps+slices to compact JSON with
    sorted keys, bytes staying base64)."""
    turns = src.transcripts_df(spark, sf_dir)
    m5 = F.col("turn_idx") % 5
    body = F.when(
        m5 == 0,
        _av(
            kv=F.array(
                F.struct(
                    F.lit("t").alias("key"),
                    _avs(string=F.col("text")).alias("value"),
                )
            )
        ),
    ).otherwise(_av(string=F.col("text")))
    meta = (
        F.when(
            m5 == 0,
            _av(
                kv=F.array(
                    F.struct(
                        F.lit("i").alias("key"),
                        _avs(intv=F.col("turn_idx").cast("string")).alias("value"),
                    ),
                    F.struct(
                        F.lit("r").alias("key"),
                        _avs(string=F.col("role")).alias("value"),
                    ),
                )
            ),
        )
        .when(
            m5 == 1,
            _av(
                arr=F.array(
                    _avs(string=F.col("role")),
                    _avs(intv=F.col("turn_idx").cast("string")),
                )
            ),
        )
        .when(m5 == 2, _av(bytesv=F.base64(F.col("role").cast("binary"))))
        .when(m5 == 3, _av(doublev=F.col("turn_idx") + 0.5))
        .otherwise(_av(intv=F.col("turn_idx").cast("string")))
    )
    rec = F.struct(
        F.lpad(F.col("turn_idx").cast("string"), 6, "0").alias("timeUnixNano"),
        F.lit("INFO").alias("severityText"),
        body.alias("body"),
        F.array(
            F.struct(F.lit("turn_idx").alias("key"),
                     _av(string=F.col("turn_idx").cast("string")).alias("value")),
            F.struct(F.lit("role").alias("key"),
                     _av(string=F.col("role")).alias("value")),
            F.struct(F.lit("meta").alias("key"), meta.alias("value")),
        ).alias("attributes"),
    )
    env = (
        turns.groupBy("conv_id")
        .agg(F.array_sort(F.collect_list(rec)).alias("logRecords"))
        .select(
            "conv_id",
            F.to_json(
                F.struct(
                    F.array(
                        F.struct(
                            F.struct(
                                F.array(
                                    F.struct(
                                        F.lit("conv.id").alias("key"),
                                        F.struct(
                                            F.col("conv_id").alias("stringValue")
                                        ).alias("value"),
                                    )
                                ).alias("attributes")
                            ).alias("resource"),
                            F.array(
                                F.struct(
                                    F.struct(
                                        F.lit("transcripts").alias("name"),
                                        F.lit("1").alias("version"),
                                    ).alias("scope"),
                                    F.col("logRecords").alias("logRecords"),
                                )
                            ).alias("scopeLogs"),
                        )
                    ).alias("resourceLogs")
                )
            ).alias("text"),
        )
    )
    out = parsers.otlp_json_parse(env.select("text"))
    return out.select(
        F.col("resource_attrs")["conv.id"].alias("conv_id"),
        F.col("attributes")["turn_idx"].cast("int").alias("turn_idx"),
        F.col("attributes")["role"].alias("role"),
        F.col("body").alias("text"),
        F.col("attributes")["meta"].alias("meta"),
        "severity_text",
        "scope_name",
        "scope_version",
    )


#: ottl_extended statement corpus — the round-2 converter/editor tail
#: (ottlfuncs func_duration/weekday/formattime/to_key_value_string/
#: slice_to_map/delete_matching_keys/flatten/limit), each surfaced as a
#: string/number column both engines can mirror
_OTTL_EXT_STATEMENTS = [
    'set(dur_ns, Duration(durline))',
    'set(dur_min, Minutes(Duration(durline)))',
    'set(wd, Weekday(ts))',
    'set(fmtd, FormatTime(ts, "%Y/%m/%d %H:%M"))',
    'set(kvmap, ParseKeyValue(kvline))',
    'delete_matching_keys(kvmap, "^drop")',
    'limit(kvmap, 2, ["ck"])',
    'set(kv_str, ToKeyValueString(kvmap, "=", " ", true))',
    'set(s2m_str, ToKeyValueString(SliceToMap(arr, "name", "v"), "=", " ", true))',
    'flatten(nested, "pre")',
    'set(nested_str, ToKeyValueString(nested, "=", " ", true))',
    'set(xmlp, ParseXML(xmlline))',
    'set(csvmap_str, ToKeyValueString(ParseCSV(csvline, "h1,h2"), "=", " ", true))',
]


def q_ottl_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    from opentelemetry_collector_contrib_spark.operators import ottl

    turns = src.transcripts_df(spark, sf_dir)
    base = turns.select(
        "conv_id",
        "turn_idx",
        "role",
        "ts",
        F.concat(
            (F.col("turn_idx") % 3).cast("string"),
            F.lit("h"),
            (F.col("turn_idx") % 60).cast("string"),
            F.lit("m"),
        ).alias("durline"),
        F.concat(
            F.lit("ak="), F.col("role"),
            F.lit(" ck=keep dropme=x bk="), (F.col("turn_idx") % 5).cast("string"),
        ).alias("kvline"),
        F.array(
            F.create_map(F.lit("name"), F.lit("n1"), F.lit("v"), F.col("role")),
            F.create_map(
                F.lit("name"), F.lit("n2"), F.lit("v"),
                (F.col("turn_idx") % 9).cast("string"),
            ),
        ).alias("arr"),
        F.create_map(
            F.lit("outer"),
            F.create_map(F.lit("in1"), F.col("role"), F.lit("in2"), F.lit("z")),
        ).alias("nested"),
        F.concat(
            F.lit('<r a="1"><t>'), F.col("role"), F.lit("</t></r>")
        ).alias("xmlline"),
        F.concat(F.col("role"), F.lit(',"x,'), (F.col("turn_idx") % 4).cast("string"),
                 F.lit('"')).alias("csvline"),
    )
    out = ottl.apply_statements(base, _OTTL_EXT_STATEMENTS)
    return out.select(
        "conv_id", "turn_idx", "dur_ns", "dur_min", "wd", "fmtd",
        "kv_str", "s2m_str", "nested_str", "xmlp", "csvmap_str",
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # 38 entries (the driver contract allows at most 50), one per operator.
    # Each has an oracle_sql() row of the same name.
    return {
        "parse_regex": q_parse_regex,
        "parse_regex_arrow": q_parse_regex_arrow,
        "parse_on_error_drop": q_parse_drop,
        "kv_parse": q_kv_parse,
        "severity_parse": q_severity,
        "time_parse": q_time_parse,
        "trace_parse": q_trace_parse,
        "enrich_broadcast": q_enrich,
        "route_per_sink_counts": q_route_per_sink_counts,
        "routed_rows": q_routed_rows,
        "count_multi_metric": q_count_multi_metric,
        "groupbyattrs": q_groupbyattrs,
        "sum_items_by_team": q_sum_items_by_team,
        "log_dedup": q_log_dedup,
        "filter_transformer": q_filter_transformer,
        "recombine": q_recombine,
        "attributes_actions": q_attributes_actions,
        "redaction": q_redaction,
        "ottl_transform": q_ottl_transform,
        "conv_text_digest": q_conv_text_digest,
        "salted_count_by_role": q_salted_count_by_role,
        "jsonarray_parse": q_jsonarray_parse,
        "flatten_retain": q_flatten_retain,
        "resource_detection": q_resource_detection,
        "syslog_rfc5424": q_syslog_rfc5424,
        "container_parse": q_container_parse,
        "container_recombine": q_container_recombine,
        "grok_parse": q_grok_parse,
        "json_parse": q_json_parse,
        "csv_parse": q_csv_parse,
        "uri_parse": q_uri_parse,
        "transformer_chain": q_transformer_chain,
        "assign_keys": q_assign_keys,
        "attr_insert_update_delete": q_attr_insert_update_delete,
        "filter_processor_multi": q_filter_processor_multi,
        "otlpjson_connector": q_otlpjson_connector,
        "otlpjson_envelope": q_otlpjson_envelope,
        "ottl_extended": q_ottl_extended,
    }


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB dialect, backslashes literal)
# ---------------------------------------------------------------------------

_T = src.oracle_ctes(transcripts=True, dims=False)
_TD = src.oracle_ctes(transcripts=True, dims=True)

_PARSED_CTE = f"""
parsed AS (
  SELECT t.*,
    regexp_matches(text, '{_PAT_SQL}') AS parse_ok,
    CASE WHEN regexp_matches(text, '{_PAT_SQL}')
         THEN regexp_extract(text, '{_PAT_SQL}', 1) END AS ts_raw,
    CASE WHEN regexp_matches(text, '{_PAT_SQL}')
         THEN regexp_extract(text, '{_PAT_SQL}', 2) END AS level,
    CASE WHEN regexp_matches(text, '{_PAT_SQL}')
         THEN regexp_extract(text, '{_PAT_SQL}', 3) END AS component,
    CASE WHEN regexp_matches(text, '{_PAT_SQL}')
         THEN regexp_extract(text, '{_PAT_SQL}', 4) END AS msg
  FROM transcripts t
)
"""

_ENRICHED_CTE = f"""
enriched AS (
  SELECT p.*, cd.team, cd.env, cd.region, td.tool_family, td.risk_tier
  FROM parsed p
  LEFT JOIN conv_dim cd ON p.conv_id = cd.conv_id
  LEFT JOIN tool_dim td ON p.tool = td.tool
)
"""

_TAGGED_CTE = """
tagged AS (
  SELECT e.*,
    CASE
      WHEN level IN ('ERROR','FATAL') THEN 'errors'
      WHEN max(CASE WHEN level = 'FATAL' THEN 1 ELSE 0 END)
           OVER (PARTITION BY conv_id) = 1 THEN 'incident'
      WHEN tool <> '' AND risk_tier = 'high' THEN 'risky_tools'
      ELSE 'default'
    END AS _route
  FROM enriched e
)
"""

_ROUTED_CTE = """
routed AS (
            SELECT 'errors' AS sink, * FROM tagged WHERE _route = 'errors'
  UNION ALL SELECT 'audit', * FROM tagged WHERE _route = 'errors'
  UNION ALL SELECT 'incident', * FROM tagged WHERE _route = 'incident'
  UNION ALL SELECT 'risky_tools', * FROM tagged WHERE _route = 'risky_tools'
  UNION ALL SELECT 'catchall', * FROM tagged WHERE _route = 'default'
)
"""

_SEV_CASE = " ".join(
    [f"WHEN '{k}' THEN {v}" for k, v in SEVERITY_TEXT_TO_NUM.items()]
    + [f"WHEN '{a}' THEN {SEVERITY_TEXT_TO_NUM[c]}" for a, c in SEVERITY_ALIASES.items()]
)


def oracle_sql() -> dict[str, str]:
    parse_select = (
        "SELECT conv_id, turn_idx, parse_ok, ts_raw, level, component, msg FROM parsed"
    )
    _DET = processors.detect_system()
    return {
        "parse_regex": f"{_T}, {_PARSED_CTE} {parse_select}",
        "parse_regex_arrow": f"{_T}, {_PARSED_CTE} {parse_select}",
        "parse_on_error_drop": f"{_T}, {_PARSED_CTE} "
        "SELECT conv_id, turn_idx, level, msg FROM parsed WHERE parse_ok",
        "kv_parse": f"{_T}, {_PARSED_CTE} "
        "SELECT conv_id, turn_idx, "
        "CASE WHEN msg IS NOT NULL THEN regexp_extract(msg, 'user=([0-9]+)', 1) END AS kv_user, "
        "CASE WHEN msg IS NOT NULL THEN regexp_extract(msg, 'items=(-?[0-9]+)', 1) END AS kv_items "
        "FROM parsed",
        "severity_parse": f"{_T}, {_PARSED_CTE} "
        f"SELECT conv_id, turn_idx, upper(level) AS severity_text, "
        f"coalesce(CASE upper(level) {_SEV_CASE} END, 0) AS severity_num, "
        "CASE WHEN (turn_idx % 400) + 200 < 300 THEN 9 "
        "WHEN (turn_idx % 400) + 200 < 400 THEN 15 "
        "WHEN (turn_idx % 400) + 200 < 500 THEN 17 ELSE 21 END AS custom_num, "
        "CASE WHEN (turn_idx % 400) + 200 < 300 THEN 'INFO' "
        "WHEN (turn_idx % 400) + 200 < 400 THEN 'WARN3' "
        "WHEN (turn_idx % 400) + 200 < 500 THEN 'ERROR' ELSE 'FATAL' END "
        "AS custom_text FROM parsed",
        "time_parse": f"{_T}, {_PARSED_CTE} "
        "SELECT conv_id, turn_idx, "
        "CASE WHEN ts_raw IS NOT NULL THEN "
        "cast(replace(replace(ts_raw, 'T', ' '), 'Z', '') AS timestamp) END AS event_ts, "
        "CASE WHEN ts_raw IS NOT NULL THEN "
        "cast(replace(replace(ts_raw, 'T', ' '), 'Z', '') AS timestamp) END AS gotime_ts, "
        "date_trunc('milliseconds', ts) AS epoch_ts "
        "FROM parsed",
        "trace_parse": f"{_T} "
        "SELECT conv_id, turn_idx, hex(unhex(md5(conv_id))) AS trace_id, "
        "hex(unhex(substr(md5(conv_id), 1, 16))) AS span_id FROM transcripts",
        "enrich_broadcast": f"{_TD}, {_PARSED_CTE}, {_ENRICHED_CTE} "
        "SELECT conv_id, turn_idx, team, "
        "coalesce(CASE WHEN role = 'system' THEN 'forced-env' END, env) AS env, "
        "region, tool_family, risk_tier FROM enriched",
        "route_per_sink_counts": f"{_TD}, {_PARSED_CTE}, {_ENRICHED_CTE}, {_TAGGED_CTE}, {_ROUTED_CTE} "
        "SELECT sink, count(*) AS n FROM routed GROUP BY sink ORDER BY sink",
        "routed_rows": f"{_TD}, {_PARSED_CTE}, {_ENRICHED_CTE}, {_TAGGED_CTE}, {_ROUTED_CTE} "
        "SELECT sink, conv_id, turn_idx, text FROM routed",
        "count_multi_metric": f"{_TD}, {_PARSED_CTE}, "
        "ec AS (SELECT p.*, cd.team FROM parsed p "
        "LEFT JOIN conv_dim cd ON p.conv_id = cd.conv_id) "
        "SELECT 'turns.by_tool_role' AS metric, tool, role, "
        "cast(NULL AS string) AS team, "
        "cast(count(*) AS bigint) AS n FROM ec "
        "WHERE tool IS NOT NULL AND tool <> '' GROUP BY tool, role "
        "UNION ALL "
        "SELECT 'turns.by_tool_role_default', "
        "CASE WHEN tool IS NULL OR tool = '' THEN 'none' ELSE tool END, "
        "role, cast(NULL AS string), cast(count(*) AS bigint) "
        "FROM ec GROUP BY 2, 3 "
        "UNION ALL "
        "SELECT 'assistant.turns', NULL, role, cast(NULL AS string), "
        "cast(count(*) AS bigint) "
        "FROM ec WHERE role = 'assistant' "
        "AND role IS NOT NULL AND role <> '' GROUP BY role "
        "UNION ALL "
        "SELECT 'errors.per_team', NULL, NULL, team, "
        "cast(count(*) AS bigint) FROM ec "
        "WHERE level = 'ERROR' AND team IS NOT NULL AND team <> '' "
        "GROUP BY team",
        "groupbyattrs": f"{_T}, {_PARSED_CTE} "
        "SELECT conv_id, turn_idx, tool, "
        "cast(count(*) OVER (PARTITION BY tool) AS bigint) AS group_size, "
        "text FROM parsed",
        "sum_items_by_team": f"{_TD}, {_PARSED_CTE} "
        "SELECT cd.team, cast(sum(cast(regexp_extract(p.msg, 'items=(-?[0-9]+)', 1) "
        "AS bigint)) AS bigint) "
        "AS sum_items FROM parsed p "
        "JOIN conv_dim cd ON p.conv_id = cd.conv_id "
        "WHERE p.parse_ok AND cd.team IS NOT NULL AND cd.team <> '' GROUP BY cd.team",
        "log_dedup": f"{_T}, {_PARSED_CTE} "
        "SELECT role, level, tool, count(*) AS log_count, "
        "min(ts) AS first_observed_ts, max(ts) AS last_observed_ts, "
        "'full' AS variant FROM parsed GROUP BY role, level, tool "
        "UNION ALL "
        "SELECT role, level, cast(NULL AS string), count(*), min(ts), "
        "max(ts), 'exclude_tool' FROM parsed GROUP BY role, level",
        "filter_transformer": f"{_T} "
        "SELECT conv_id, turn_idx, role FROM transcripts WHERE NOT (role = 'system')",
        "recombine": f"{_T} "
        "SELECT conv_id, min(turn_idx) AS turn_idx, "
        "string_agg(text, chr(10) ORDER BY turn_idx) AS text, "
        "count(*) AS n_combined FROM ("
        "  SELECT t.*, coalesce(sum(CASE WHEN turn_idx % 5 = 4 THEN 1 ELSE 0 END) "
        "  OVER (PARTITION BY conv_id ORDER BY turn_idx "
        "        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS gid "
        "  FROM transcripts t) GROUP BY conv_id, gid",
        "attributes_actions": f"{_T}, {_PARSED_CTE} "
        "SELECT conv_id, turn_idx, 'logs' AS pipeline, sha256(conv_id) AS conv_hash, "
        "cast(CASE WHEN regexp_matches(component, '^svc-([0-9]+)$') "
        "THEN regexp_extract(component, '^svc-([0-9]+)$', 1) END AS bigint) AS svc_num "
        "FROM parsed",
        "redaction": f"{_T} "
        "SELECT conv_id, turn_idx, role, "
        "regexp_replace(text, 'user=[0-9]+', '****', 'g') AS redacted, "
        "CASE WHEN regexp_matches(text, 'user=[0-9]+') THEN 1 ELSE 0 END "
        "AS masked_count, "
        "CASE WHEN regexp_matches(text, 'user=[0-9]+') THEN 'text' ELSE '' END "
        "AS masked_keys, "
        "2 AS redacted_count, 'tool,ts' AS redacted_keys FROM transcripts",
        "jsonarray_parse": f"{_T} "
        "SELECT conv_id, turn_idx, role AS e1, tool AS e2 FROM transcripts",
        "flatten_retain": f"{_T} "
        "SELECT conv_id, turn_idx, role, tool FROM transcripts",
        # the oracle runs the SAME driver-side probe (same host, same
        # values) so the row checks the real detector output
        "resource_detection": f"{_T} "
        f"SELECT conv_id, turn_idx, '{_DET['os.type']}' AS os_type, "
        "'none' AS cloud_provider, "
        "CASE WHEN role = 'system' THEN 'pinned-host' ELSE "
        f"'{_DET['host.name']}' END AS host_name, "
        f"'{_DET['host.arch']}' AS host_arch FROM transcripts",
        "syslog_rfc5424": f"{_T}, "
        f"lines AS (SELECT conv_id, turn_idx, {_SYSLOG_LINE} AS text FROM transcripts) "
        f"SELECT conv_id, turn_idx, regexp_matches(text, '{_RFC5424_SQL}') AS parse_ok, "
        + ", ".join(
            f"CASE WHEN regexp_matches(text, '{_RFC5424_SQL}') THEN "
            f"regexp_extract(text, '{_RFC5424_SQL}', {i}) END AS {name}"
            for i, name in ((4, "hostname"), (5, "appname"), (9, "message"))
        )
        + f", CASE WHEN regexp_matches(text, '{_RFC5424_SQL}') THEN "
        f"cast(floor(cast(regexp_extract(text, '{_RFC5424_SQL}', 1) AS int) / 8) AS int) END "
        "AS facility, "
        f"CASE WHEN regexp_matches(text, '{_RFC5424_SQL}') THEN "
        f"cast(regexp_extract(text, '{_RFC5424_SQL}', 1) AS int) % 8 END AS severity "
        "FROM lines",
        "container_parse": f"{_T}, "
        f"lines AS (SELECT conv_id, turn_idx, {_CONTAINER_LINE} AS text FROM transcripts) "
        "SELECT conv_id, turn_idx, "
        "CASE WHEN text LIKE '{%' THEN 'docker' "
        f"WHEN regexp_matches(text, '{_CRI_SQL}') THEN 'cri' ELSE 'unknown' END "
        "AS container_format, "
        "CASE WHEN text LIKE '{%' THEN json_extract_string(text, '$.time') "
        f"ELSE regexp_extract(text, '{_CRI_SQL}', 1) END AS container_time, "
        "CASE WHEN text LIKE '{%' THEN json_extract_string(text, '$.stream') "
        f"ELSE regexp_extract(text, '{_CRI_SQL}', 2) END AS stream, "
        "CASE WHEN text LIKE '{%' THEN 'F' "
        f"ELSE regexp_extract(text, '{_CRI_SQL}', 3) END AS logtag, "
        "CASE WHEN text LIKE '{%' THEN json_extract_string(text, '$.log') "
        f"ELSE regexp_extract(text, '{_CRI_SQL}', 4) END AS log "
        "FROM lines",
        "container_recombine": f"{_T}, "
        f"lines AS (SELECT conv_id, turn_idx, {_CRI_LINE} AS text FROM transcripts), "
        f"parsed AS (SELECT conv_id, turn_idx, "
        f"regexp_extract(text, '{_CRI_SQL}', 4) AS log, "
        "CASE WHEN turn_idx % 3 = 2 THEN 1 ELSE 0 END AS is_f FROM lines), "
        "gids AS (SELECT *, coalesce(sum(is_f) OVER (PARTITION BY conv_id "
        "ORDER BY turn_idx ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) "
        "AS gid FROM parsed) "
        "SELECT conv_id, min(turn_idx) AS turn_idx, "
        "string_agg(log, '' ORDER BY turn_idx) AS log, count(*) AS n_combined "
        "FROM gids GROUP BY conv_id, gid",
        "grok_parse": f"{_T} "
        f"SELECT conv_id, turn_idx, regexp_matches(text, '{_GROK_SQL}') AS parse_ok, "
        + ", ".join(
            f"CASE WHEN regexp_matches(text, '{_GROK_SQL}') THEN "
            f"regexp_extract(text, '{_GROK_SQL}', {i + 1}) END AS {g}"
            for i, g in enumerate(["g_ts", "g_level", "g_svc", "g_rest"])
        )
        + " FROM transcripts",
        "json_parse": f"{_T}, "
        f"lines AS (SELECT conv_id, turn_idx, {_JSON_LINE} AS jline FROM transcripts) "
        "SELECT conv_id, turn_idx, TRUE AS parse_ok, "
        "cast(json_extract(jline, '$.a') AS bigint) AS a, "
        "json_extract_string(jline, '$.b') AS b FROM lines",
        # expected CSV fields computed from the ORIGIN columns — the
        # quoted-field/short-row/trailing-empty semantics under test
        # can't be mirrored by split_part, which is the point
        "csv_parse": f"{_T} "
        "SELECT conv_id, turn_idx, turn_idx % 7 <> 0 AS parse_ok, "
        "role AS c_role, "
        "CASE WHEN turn_idx % 7 = 0 THEN NULL ELSE tool || ',q' END AS c_tool, "
        "CASE WHEN turn_idx % 7 = 0 THEN NULL WHEN turn_idx % 7 = 3 THEN '' "
        "ELSE cast(turn_idx AS string) END AS c_idx FROM transcripts",
        "uri_parse": f"{_T}, "
        f"lines AS (SELECT conv_id, turn_idx, {_URI_LINE} AS uri FROM transcripts) "
        "SELECT conv_id, turn_idx, "
        "regexp_extract(uri, '^([a-z]+)://', 1) AS scheme, "
        "regexp_extract(uri, '^[a-z]+://([^/?#]+)', 1) AS host, "
        "regexp_extract(uri, '^[a-z]+://[^/?#]+([^?#]*)', 1) AS path, "
        "regexp_extract(uri, '\\?([^#]*)', 1) AS query FROM lines",
        "transformer_chain": f"{_T} "
        "SELECT conv_id, turn_idx, 'logs' AS pipeline, "
        "CASE WHEN role = 'system' THEN 'sys' END AS env_kind, "
        "conv_id AS conv_copy, role AS actor, tool AS quoted_tool, "
        "regexp_replace(text, '\\d', '#', 'g') AS masked FROM transcripts",
        "assign_keys": f"{_T} "
        "SELECT conv_id, turn_idx, role AS v_role, tool AS v_tool FROM transcripts",
        "attr_insert_update_delete": f"{_T} "
        "SELECT conv_id, turn_idx, "
        "CASE WHEN role = 'system' THEN 'PRE-SET' ELSE 'INSERTED' END AS env, "
        "'fresh' AS note FROM transcripts",
        "filter_processor_multi": f"{_T} "
        "SELECT conv_id, turn_idx, role, tool FROM transcripts "
        "WHERE NOT (role = 'system' OR tool = 'bash')",
        "otlpjson_connector": f"{_T} "
        "SELECT conv_id, turn_idx, role AS body, 'INFO' AS severityText, "
        "tool AS attr_tool FROM transcripts",
        # envelope round-trip: encoding + parsing must be lossless, so the
        # expected rows are simply the flat origin plus the constant
        # resource/scope metadata the encoder stamps
        "otlpjson_envelope": f"{_T} "
        "SELECT conv_id, turn_idx, role, "
        "CASE WHEN turn_idx % 5 = 0 "
        "THEN '{\"t\":' || to_json(text) || '}' ELSE text END AS text, "
        "CASE turn_idx % 5 "
        "WHEN 0 THEN '{\"i\":' || turn_idx || ',\"r\":' || to_json(role) || '}' "
        "WHEN 1 THEN '[' || to_json(role) || ',' || turn_idx || ']' "
        "WHEN 2 THEN to_base64(encode(role)) "
        "WHEN 3 THEN cast(turn_idx + 0.5 AS varchar) "
        "ELSE cast(turn_idx AS varchar) END AS meta, "
        "'INFO' AS severity_text, "
        "'transcripts' AS scope_name, '1' AS scope_version FROM transcripts",
        "ottl_extended": f"{_T} "
        "SELECT conv_id, turn_idx, "
        "cast((turn_idx % 3) * 3600000000000 + (turn_idx % 60) * 60000000000 "
        "AS bigint) AS dur_ns, "
        "cast((turn_idx % 3) * 60 + (turn_idx % 60) AS double) AS dur_min, "
        "cast(dayofweek(ts) AS bigint) AS wd, "
        "strftime(ts, '%Y/%m/%d %H:%M') AS fmtd, "
        "'ak=' || role || ' ck=keep' AS kv_str, "
        "'n1=' || role || ' n2=' || cast(turn_idx % 9 AS string) AS s2m_str, "
        "'pre.outer.in1=' || role || ' pre.outer.in2=z' AS nested_str, "
        "'{\"attributes\":{\"a\":\"1\"},\"children\":[{\"content\":\"' || role || "
        "'\",\"tag\":\"t\"}],\"tag\":\"r\"}' AS xmlp, "
        "'h1=' || role || ' h2=x,' || cast(turn_idx % 4 AS string) AS csvmap_str "
        "FROM transcripts",
        "conv_text_digest": f"{_T}, "
        "flat AS (SELECT conv_id, count(*) AS n_turns, "
        "md5(string_agg(text, chr(10) ORDER BY turn_idx)) AS digest "
        "FROM transcripts GROUP BY conv_id), "
        "sub AS (SELECT conv_id, cast(floor(turn_idx / 8) AS bigint) AS blk, "
        "md5(string_agg(text, chr(10) ORDER BY turn_idx)) AS subd "
        "FROM transcripts GROUP BY 1, 2), "
        "hier AS (SELECT conv_id, "
        "md5(string_agg(subd, chr(10) ORDER BY blk)) AS digest_hier "
        "FROM sub GROUP BY conv_id) "
        "SELECT f.conv_id, f.n_turns, f.digest, h.digest_hier "
        "FROM flat f JOIN hier h ON f.conv_id = h.conv_id",
        "salted_count_by_role": f"{_T} "
        "SELECT role, count(*) AS n FROM transcripts GROUP BY role",
        "ottl_transform": f"{_T} "
        "SELECT conv_id, turn_idx, 'logs' AS pipeline, upper(role) AS norm_role, "
        "regexp_replace(text, 'user=[0-9]+', 'user=****', 'g') AS redacted, "
        "CASE WHEN role = 'assistant' THEN sha256(conv_id) END AS conv_hash "
        "FROM transcripts",
    }
