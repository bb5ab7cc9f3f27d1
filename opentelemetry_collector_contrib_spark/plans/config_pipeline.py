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
            {"type": "severity_parser", "parse_from": "level"},
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
mid-job.
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


# --- training-data stages (functions/) — the corpus-prep ops exposed
# with the same declarative shape as the collector operators, so one
# config can express "clean → dedup → sample → shuffle" as a stage
# list (the reference's operator-DAG idiom applied to the
# data-pipeline tier). All thresholds/keys come from the stage dict.


def _stage_quality_gate(df, spark, sf_dir, cfg):
    from ..functions import text as tx

    df = tx.quality_score(df, col=cfg.get("col", "text"))
    return df.filter(F.col("quality") >= cfg.get("min_quality", 0.5))


def _stage_lang_gate(df, spark, sf_dir, cfg):
    from ..functions import text as tx

    df = tx.lang_id(df, col=cfg.get("col", "text"))
    return df.filter(F.col("pred_lang") == cfg.get("keep_lang", "en"))


def _stage_gopher_gates(df, spark, sf_dir, cfg):
    from ..functions import text as tx

    kw = {
        k: cfg[k]
        for k in (
            "min_words", "max_words", "max_symbol_word_ratio",
            "max_bullet_line_frac", "max_ellipsis_line_frac",
            "min_alpha_word_frac",
        )
        if k in cfg
    }
    df = tx.gopher_gates(df, col=cfg.get("col", "text"), **kw)
    return df.filter(F.col("gopher_ok")) if cfg.get("drop", True) else df


def _stage_repetition_gates(df, spark, sf_dir, cfg):
    from ..functions import text as tx

    # compute ONLY the n-gram families a configured threshold actually
    # gates (same trick as functions.corpus.clean_corpus): each family
    # rides the (doc, n, term) explode+shuffle, so defaulting to all
    # five would push ~5x the token volume through the exchange for
    # gates nobody asked for
    top_ns = tuple(n for n in (2, 3, 4) if f"max_top{n}gram_frac" in cfg)
    dup_ns = tuple(n for n in (5, 10) if f"max_dup{n}gram_frac" in cfg)
    reps = tx.repetition_signals(
        df, col=cfg.get("col", "text"), id_col=cfg.get("id_col", "doc_id"),
        top_ns=top_ns, dup_ns=dup_ns,
    )
    cond = F.lit(True)
    for key, col in (
        ("max_dup_line_frac", "dup_line_frac"),
        ("max_dup_line_char_frac", "dup_line_char_frac"),
        ("max_top2gram_frac", "top2gram_char_frac"),
        ("max_top3gram_frac", "top3gram_char_frac"),
        ("max_top4gram_frac", "top4gram_char_frac"),
        ("max_dup5gram_frac", "dup5gram_char_frac"),
        ("max_dup10gram_frac", "dup10gram_char_frac"),
    ):
        if key in cfg:
            cond = cond & (F.col(col) <= cfg[key])
    keep = reps.filter(cond).select(cfg.get("id_col", "doc_id"))
    return df.join(keep, cfg.get("id_col", "doc_id"), "left_semi")


def _stage_dedup_exact(df, spark, sf_dir, cfg):
    # keep-min-id exact dedup (same normalization as
    # functions.dedup.exact_dedup, but row-preserving so the stage
    # composes: the frame flows on with all its columns). ONE window
    # shuffle on the content hash — NOT a groupBy(min) + self-join,
    # which references the input twice and re-executes every upstream
    # stage (the PII regex chain, gopher gates...) per action.
    # NULL text hashes to a sentinel (its own bucket: one survivor, not
    # silently dropped as null join keys would be), and ties on
    # (hash, id) — duplicate-id inputs — break on the full row's JSON
    # hash so the survivor is retry-stable, never partition-order luck.
    from pyspark.sql import Window

    id_col = cfg.get("id_col", "doc_id")
    h = F.coalesce(
        F.md5(
            F.lower(F.regexp_replace(F.col(cfg.get("col", "text")), r"\s+", " "))
        ),
        F.lit("__null_text__"),
    )
    tiebreak = F.xxhash64(F.to_json(F.struct(*df.columns)))
    w = Window.partitionBy("_h").orderBy(F.col(id_col), tiebreak)
    return (
        df.withColumn("_h", h)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_h", "_rn")
    )


def _stage_dedup_minhash(df, spark, sf_dir, cfg):
    from ..functions import dedup as dd

    id_col = cfg.get("id_col", "doc_id")
    sh = dd.shingles(
        df, w=cfg.get("shingle_w", 3), col=cfg.get("col", "text"),
        id_col=id_col, distinct=False,
    )
    sigs = dd.minhash_signatures(sh, k=cfg.get("minhash_k", 12), id_col=id_col)
    pairs = dd.lsh_pairs(
        sigs, k=cfg.get("minhash_k", 12), bands=cfg.get("lsh_bands", 4)
    )
    if cfg.get("components", False):
        # transitive-closure dedup: ONE survivor (min id) per connected
        # component of the near-dup graph — pair-wise doc_b dropping
        # under-drops chained duplicates (A~B, B~C with no A~C pair)
        comp = dd.duplicate_components(pairs)
        drops = comp.filter(F.col("doc_id") != F.col("component_id")).select(
            F.col("doc_id").alias(id_col)
        )
    else:
        drops = pairs.select(F.col("doc_b").alias(id_col)).distinct()
    return df.join(drops, id_col, "left_anti")


def _stage_sample(df, spark, sf_dir, cfg):
    from ..functions import sampling as sp

    key = cfg.get("key", "doc_id")
    if "strata_col" in cfg:
        return sp.stratified_sample(
            df, cfg["strata_col"], k=cfg.get("k"),
            fractions=cfg.get("fractions"), key=key,
            seed=cfg.get("seed", 0),
        )
    return sp.exact_sample(
        df, cfg["k"], key, seed=cfg.get("seed", 0),
        large_k=cfg.get("large_k", False),
        materialize=cfg.get("materialize", False),
    )


def _stage_global_shuffle(df, spark, sf_dir, cfg):
    from ..functions import sampling as sp

    return sp.global_shuffle(
        df, cfg.get("key", "doc_id"), seed=cfg.get("seed", 0),
        num_partitions=cfg.get("num_partitions"),
    )


#: published-recipe PII patterns (the C4/RefinedWeb-style scrub):
#: order matters — the more-specific dotted/dashed numeric shapes (IPv4,
#: SSN) run BEFORE the phone rule, or "255.255.255.255" reads as a phone
#: prefix; each is a (java_regex, replacement) pair. The phone rule's
#: last separator is INSIDE the optional digit group so a match never
#: consumes the whitespace after the number (which would merge words),
#: and it starts with a (?<!\w) lookbehind, NOT \b — \b cannot match
#: between a space and '(' or '+' (both non-word), which made the
#: parenthesized-area-code and international-prefix branches dead and
#: leaked "(555)" / "+" in front of the mask.
#: Bare unseparated digit runs ("5551234567") are deliberately NOT
#: masked: a 10-digit rule is indistinguishable from unix timestamps,
#: order ids and similar, and corrupting those in log-derived corpora
#: costs more than the marginal recall. An explicit '+' IS unambiguous,
#: so '+'-prefixed numbers get their own rule: country code (1-3
#: digits), at most one [-. ] separator, then an unseparated national
#: part — 7..15 total digits, the E.164 bounds ("+15551234567",
#: "+123456789012345", "+44 7911123456").
PII_PATTERNS = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    (r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    (r"(?<!\w)\+\d{1,3}[-. ]?\d{6,12}\b", "<PHONE>"),
    (r"(?<!\w)(?:\+?\d{1,3}[-. ])?(?:\(\d{2,4}\)[-. ]?)?\d{3}[-. ]\d{3,4}(?:[-. ]\d{1,4})?\b",
     "<PHONE>"),
    (r"\b(?:sk|pk|api|key|token)[-_][A-Za-z0-9]{16,}\b", "<KEY>"),
]


def _stage_pii_scrub(df, spark, sf_dir, cfg):
    """Mask common PII in the text column — emails, phone numbers,
    IPv4s, SSN-shaped ids, API-key-shaped tokens. Pure chained
    ``regexp_replace`` (JVM, codegen) so the scrub rides the same scan
    as its neighbors; pass ``patterns`` to override the default list."""
    col = cfg.get("col", "text")
    out = F.col(col)
    for pat, repl in cfg.get("patterns", PII_PATTERNS):
        out = F.regexp_replace(out, pat, repl)
    return df.withColumn(col, out)


def _stage_checkpoint(df, spark, sf_dir, cfg):
    """Materialization boundary. Some training-data stages are
    multi-pass over their input (minhash components iteration, any
    stage pair that both scan the frame): without a boundary each pass
    re-executes the entire upstream DAG, turning a linear pipeline into
    a quadratic one. A real deployment writes intermediate tables
    between phases — this stage is that, declaratively. ``mode:
    parquet`` (+ ``path``) is the durable cluster form; the default
    ``localCheckpoint`` keeps the boundary in executor storage (fast,
    non-durable)."""
    if cfg.get("mode") == "parquet":
        df.write.mode("overwrite").parquet(cfg["path"])
        return spark.read.parquet(cfg["path"])
    return df.localCheckpoint(eager=cfg.get("eager", True))


def _stage_span_dedup(df, spark, sf_dir, cfg):
    """C4 three-sentence-span dedup (Raffel et al. 2020 §2.2) as a
    composable stage: REWRITES the text column in place (first global
    occurrence of a span survives, later ones are cut) and drops
    documents the rewrite empties. Other columns flow through via the
    id join."""
    from ..functions import dedup as dd

    id_col = cfg.get("id_col", "doc_id")
    col = cfg.get("col", "text")
    rewritten = dd.span_dedup(
        df, col=col, id_col=id_col, span=cfg.get("span", 3)
    )
    return df.drop(col).join(
        rewritten.select(id_col, F.col("clean_text").alias(col)), id_col
    )


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
    # training-data tier
    "quality_gate": _stage_quality_gate,
    "lang_gate": _stage_lang_gate,
    "gopher_gates": _stage_gopher_gates,
    "repetition_gates": _stage_repetition_gates,
    "checkpoint": _stage_checkpoint,
    "dedup_exact": _stage_dedup_exact,
    "dedup_minhash": _stage_dedup_minhash,
    "span_dedup": _stage_span_dedup,
    "pii_scrub": _stage_pii_scrub,
    "sample": _stage_sample,
    "global_shuffle": _stage_global_shuffle,
}

#: config keys a stage reads without a default, checked before any stage
#: runs; ``sample`` and ``checkpoint`` need a key only in one mode (see
#: _required_keys)
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


def _required_keys(stage: dict) -> tuple[str, ...]:
    if stage["type"] == "sample" and "strata_col" not in stage:
        return ("k",)
    if stage["type"] == "checkpoint" and stage.get("mode") == "parquet":
        return ("path",)
    return _REQUIRED_KEYS.get(stage["type"], ())


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

    ``request_metadata`` feeds request-context routes (``context:
    request`` entries keep their condition as the raw
    ``request["k"] == "v"`` string, resolved per run on the driver)."""
    lin = lineage or Lineage()
    # validate the WHOLE config before any stage runs — including
    # operators nested inside logstransform — so a typo'd type or a
    # missing required key can never fail mid-job after upstream
    # side-effecting stages (eager checkpoint writes) already executed
    def _check(entries, what):
        for p in entries:
            if p["type"] not in STAGE_REGISTRY:
                raise ValueError(f"unknown {what} type {p['type']!r}")
            for key in _required_keys(p):
                if key not in p:
                    raise ValueError(
                        f"{what} {p['type']!r} is missing required key {key!r}"
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
    for i, p in enumerate(config.get("processors", [])):
        df = STAGE_REGISTRY[p["type"]](df, spark, sf_dir, p)
        if p.get("observe"):
            df = lin.observe(df, f"{i}:{p['type']}")

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
            resource_strategy=config.get("resource_strategy", "broadcast"),
            request_metadata=request_metadata,
        )
    return df, {}
