"""Config-driven pipeline assembly — the collector-service analog.

The reference wires receivers/processors/connectors/exporters from YAML
(operator registry pkg/stanza/operator/registry.go; pipeline DAG build
pkg/stanza/pipeline/directed.go:29-67). Here a plain dict (load it from
YAML/JSON upstream if desired) declares the same stages and compiles to
ONE logical DataFrame plan — stage order is the list order, conditions
are Spark SQL strings (`F.expr`), so a user migrating a collector
config rewrites each operator block one-to-one.

Example::

    CONFIG = {
        "processors": [
            {"type": "regex_parser", "pattern": ..., "groups": [...]},
            {"type": "key_value_parser", "parse_from": "msg", "out": "kv"},
            {"type": "severity_parser", "parse_from": "level",
             "observe": {"name": "parse",
                         "parse_errors": "sum(cast(NOT parse_ok AS long))"}},
            {"type": "enrich", "dim": "conv_dim", "on": "conv_id"},
            {"type": "ottl", "statements": ["set(x, 'y') where ..."]},
            {"type": "filter", "drop_where": "role = 'system'"},
        ],
        "routes": [
            {"name": "errors", "condition": "level IN ('ERROR','FATAL')",
             "context": "log", "sinks": ["errors", "audit"]},
        ],
        "default_sinks": ["catchall"],
    }

Unknown processor types fail at build time (registry.go semantics), not
mid-job. The flagship job is one such config (``plans.pipeline.FLAGSHIP``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators import connectors, ottl, parsers, processors, transformers
from ..sources import transcripts as src
from .lineage import Lineage


def _stage_regex_parser(df, spark, sf_dir, cfg):
    return parsers.regex_parse(
        df, cfg["pattern"], cfg["groups"],
        parse_from=cfg.get("parse_from", "text"),
        on_error=cfg.get("on_error", "send"),
    )


def _stage_grok_parser(df, spark, sf_dir, cfg):
    from ..operators import grok

    return grok.grok_parse(
        df, cfg["pattern"], definitions=cfg.get("definitions"),
        parse_from=cfg.get("parse_from", "text"),
        on_error=cfg.get("on_error", "send"),
    )


def _stage_kv(df, spark, sf_dir, cfg):
    return parsers.key_value_parse(
        df, parse_from=cfg.get("parse_from", "text"),
        pair_delim=cfg.get("pair_delim", " "),
        kv_delim=cfg.get("kv_delim", "="),
        out=cfg.get("out", "kv"),
    )


def _stage_severity(df, spark, sf_dir, cfg):
    return parsers.severity_parse(
        df, parse_from=cfg.get("parse_from", "level"),
        mapping=cfg.get("mapping"),
        overwrite_text=cfg.get("overwrite_text", False),
    )


def _stage_time(df, spark, sf_dir, cfg):
    return parsers.time_parse(
        df, parse_from=cfg.get("parse_from", "ts_raw"),
        layout=cfg.get("layout", "%Y-%m-%dT%H:%M:%SZ"),
        layout_type=cfg.get("layout_type", "strptime"),
    )


def _stage_csv(df, spark, sf_dir, cfg):
    return parsers.csv_parse(
        df, cfg["header"],
        parse_from=cfg.get("parse_from", "text"),
        delimiter=cfg.get("delimiter", ","),
        lazy_quotes=cfg.get("lazy_quotes", True),
    )


def _stage_json(df, spark, sf_dir, cfg):
    return parsers.json_parse(
        df, cfg["schema"], parse_from=cfg.get("parse_from", "text"),
        prefix=cfg.get("prefix", ""),
    )


def _stage_uri(df, spark, sf_dir, cfg):
    return parsers.uri_parse(df, parse_from=cfg.get("parse_from", "uri"))


def _stage_trace(df, spark, sf_dir, cfg):
    return parsers.trace_parse(
        df, trace_field=cfg.get("trace_field", "trace_id_hex"),
        span_field=cfg.get("span_field"),
    )


def _stage_syslog(df, spark, sf_dir, cfg):
    return parsers.syslog_parse(
        df, protocol=cfg.get("protocol", "rfc5424"),
        parse_from=cfg.get("parse_from", "text"),
        on_error=cfg.get("on_error", "send"),
    )


def _stage_container(df, spark, sf_dir, cfg):
    return parsers.container_parse(
        df, parse_from=cfg.get("parse_from", "text"),
        recombine_partials=cfg.get("recombine_partials", False),
    )


def _stage_otlpjson(df, spark, sf_dir, cfg):
    return parsers.otlp_json_parse(df, parse_from=cfg.get("parse_from", "text"))


def _stage_recombine(df, spark, sf_dir, cfg):
    kw = {}
    if "is_first" in cfg:
        kw["is_first"] = F.expr(cfg["is_first"])
    if "is_last" in cfg:
        kw["is_last"] = F.expr(cfg["is_last"])
    return transformers.recombine(
        df, source_col=cfg.get("source_col", "conv_id"),
        order_col=cfg.get("order_col", "turn_idx"),
        combine_field=cfg.get("combine_field", "text"),
        combine_with=cfg.get("combine_with", "\n"),
        max_batch_size=cfg.get("max_batch_size"),
        max_log_size=cfg.get("max_log_size"),
        overwrite_with=cfg.get("overwrite_with", "oldest"),
        **kw,
    )


def _stage_log_dedup(df, spark, sf_dir, cfg):
    return processors.log_dedup(
        df, cfg["key_cols"], ts_col=cfg.get("ts_col", "ts"),
        exclude=cfg.get("exclude_fields"),
    )


#: attributes-processor action list (attraction.go:22-88): each entry is
#: {action: insert|update|upsert|delete|hash|extract|convert, key: ..., ...}
def _stage_attributes(df, spark, sf_dir, cfg):
    for a in cfg["actions"]:
        act = a["action"]
        if act == "insert":
            df = processors.attr_insert(df, a["key"], a["value"])
        elif act == "update":
            df = processors.attr_update(df, a["key"], a["value"])
        elif act == "upsert":
            df = processors.attr_upsert(df, a["key"], a["value"])
        elif act == "delete":
            df = processors.attr_delete(df, a["key"])
        elif act == "hash":
            df = processors.attr_hash(df, a["key"], algo=a.get("algo", "sha256"))
        elif act == "extract":
            df = processors.attr_extract(df, a["key"], a["pattern"], a["groups"])
        elif act == "convert":
            df = processors.attr_convert(df, a["key"], a["to"])
        else:
            raise ValueError(f"unknown attributes action {act!r}")
    return df


_DIMS = {
    "conv_dim": lambda spark, sf_dir: src.conv_dim_df(spark, sf_dir),
    "tool_dim": lambda spark, sf_dir: src.tool_dim_df(spark),
}


def _stage_enrich(df, spark, sf_dir, cfg):
    dim = _DIMS[cfg["dim"]](spark, sf_dir)
    return processors.enrich_lookup(
        df, dim, on=cfg["on"],
        insert_if_absent=cfg.get("insert_if_absent", True),
        key_regex=cfg.get("key_regex"),
    )


def _stage_groupbyattrs(df, spark, sf_dir, cfg):
    return processors.group_by_attrs(df, cfg["keys"])


def _stage_ottl(df, spark, sf_dir, cfg):
    return ottl.apply_statements(
        df, cfg["statements"], error_mode=cfg.get("error_mode", "propagate")
    )


def _stage_filter(df, spark, sf_dir, cfg):
    return transformers.filter_drop(
        df, F.expr(cfg["drop_where"]), drop_ratio=cfg.get("drop_ratio", 1.0)
    )


def _stage_redact(df, spark, sf_dir, cfg):
    return processors.redact(
        df, allowed_keys=cfg.get("allowed_keys"),
        mask_patterns=cfg.get("mask_patterns"),
        mask_cols=cfg.get("mask_cols"),
        summary=cfg.get("summary"),
    )


def _stage_resource_detect(df, spark, sf_dir, cfg):
    # reference config shape: detectors is a LIST of detector names
    # ([system, env]); a dict of literal attrs is the static form
    dets = cfg["detectors"]
    if isinstance(dets, list):
        attrs = processors.resolve_detectors(dets)
        attrs.update(cfg.get("attributes", {}))  # static overrides
        return processors.resource_detect(df, attrs)
    return processors.resource_detect(df, dets)


def _stage_logstransform(df, spark, sf_dir, cfg):
    """logstransform processor (processor/logstransformprocessor/
    config.go:18-26: a processor whose config embeds a stanza operator
    pipeline): each entry of ``operators`` is any registered stage
    config, applied in order inside this one processor slot. The
    deprecated Go processor exists because the collector needed a
    bridge between its two operator runtimes; here both "runtimes" are
    the same DataFrame compiler, so the bridge is literal composition —
    but the config SHAPE (operators nested under one processor) is
    accepted verbatim."""
    for op in cfg.get("operators", []):
        if op["type"] not in STAGE_REGISTRY:
            raise ValueError(f"unknown logstransform operator {op['type']!r}")
        df = STAGE_REGISTRY[op["type"]](df, spark, sf_dir, op)
    return df


STAGE_REGISTRY = {
    "resource_detect": _stage_resource_detect,
    "logstransform": _stage_logstransform,
    "regex_parser": _stage_regex_parser,
    "grok_parser": _stage_grok_parser,
    "key_value_parser": _stage_kv,
    "severity_parser": _stage_severity,
    "time_parser": _stage_time,
    "csv_parser": _stage_csv,
    "json_parser": _stage_json,
    "uri_parser": _stage_uri,
    "trace_parser": _stage_trace,
    "syslog_parser": _stage_syslog,
    "container_parser": _stage_container,
    "otlpjson": _stage_otlpjson,
    "recombine": _stage_recombine,
    "logdedup": _stage_log_dedup,
    "attributes": _stage_attributes,
    "enrich": _stage_enrich,
    "groupbyattrs": _stage_groupbyattrs,
    "ottl": _stage_ottl,
    "filter": _stage_filter,
    "redact": _stage_redact,
}

#: config keys a stage reads without a default, checked before any stage runs
_REQUIRED_KEYS = {
    "regex_parser": ("pattern", "groups"),
    "grok_parser": ("pattern",),
    "csv_parser": ("header",),
    "json_parser": ("schema",),
    "logdedup": ("key_cols",),
    "attributes": ("actions",),
    "enrich": ("dim", "on"),
    "groupbyattrs": ("keys",),
    "ottl": ("statements",),
    "filter": ("drop_where",),
    "resource_detect": ("detectors",),
}


def load_config(path: str) -> dict:
    """Load a pipeline config from YAML or JSON — the collector-YAML
    entry point. YAML is optional (json fallback keeps the engine free
    of hard extra deps)."""
    import json

    with open(path) as f:
        text = f.read()
    if path.endswith((".yaml", ".yml")):
        import yaml

        return yaml.safe_load(text)
    return json.loads(text)


def build_from_config(
    spark: SparkSession,
    sf_dir: str,
    config: dict,
    *,
    source: DataFrame | None = None,
    lineage: Lineage | None = None,
    request_metadata: dict | None = None,
) -> tuple[DataFrame, dict[str, list[str]]]:
    """Compile a config dict to (tagged DataFrame, sink_map).

    A processor's ``observe`` entry, ``{"name": stage, metric: sql, ...}``,
    counts the rows leaving it under ``stage`` plus one aggregate per
    extra key (``lineage.observe(df, stage, metric=F.expr(sql))``). Stages
    are observed only when a ``lineage`` is given: Spark rejects an
    ``Observation`` on a streaming DataFrame.

    ``request_metadata`` feeds request-context routes (``context:
    request`` entries keep their condition as the raw
    ``request["k"] == "v"`` string, resolved per run on the driver)."""
    # validate the WHOLE config before any stage runs — including
    # operators nested inside logstransform — so a typo'd type or a
    # missing required key in an externally supplied config fails here
    # with the stage named, not as a bare KeyError from inside the
    # plan build
    def _check(entries, what):
        for p in entries:
            if p["type"] not in STAGE_REGISTRY:
                raise ValueError(f"unknown {what} type {p['type']!r}")
            for key in _REQUIRED_KEYS.get(p["type"], ()):
                if key not in p:
                    raise ValueError(
                        f"{what} {p['type']!r} is missing required key {key!r}"
                    )
            obs = p.get("observe")
            if obs is not None and not (isinstance(obs, dict) and "name" in obs):
                raise ValueError(
                    f"{what} {p['type']!r} observe entry needs a 'name'"
                )
            if p["type"] == "logstransform":
                _check(p.get("operators", []), "logstransform operator")
            elif "operators" in p:
                # only logstransform executes a nested operator list —
                # accepting it elsewhere would validate config the stage
                # then silently ignores
                raise ValueError(
                    f"'operators' is only valid under logstransform, "
                    f"found on {p['type']!r}"
                )

    _check(config.get("processors", []), "processor")

    df = source if source is not None else src.transcripts_df(spark, sf_dir)
    for p in config.get("processors", []):
        df = STAGE_REGISTRY[p["type"]](df, spark, sf_dir, p)
        if lineage is not None and "observe" in p:
            extra = {k: F.expr(v) for k, v in p["observe"].items() if k != "name"}
            df = lineage.observe(df, p["observe"]["name"], **extra)

    routes = [
        connectors.Route(
            condition=(
                r["condition"]
                if r.get("context") == "request"
                else F.expr(r["condition"])
            ),
            sinks=list(r["sinks"]),
            context=r.get("context", "log"),
            name=r.get("name"),
            attach=r.get("attach"),
        )
        for r in config.get("routes", [])
    ]
    if routes:
        return connectors.route_logs(
            df, routes,
            default_sinks=config.get("default_sinks"),
            request_metadata=request_metadata,
        )
    return df, {}
