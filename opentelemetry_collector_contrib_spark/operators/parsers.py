"""Stanza parser operators re-expressed as Spark column stages.

Shared parser semantics (pkg/stanza/operator/helper/parser.go:26-35):
``parse_from`` field -> parse -> write results to ``parse_to``; an ``if``
predicate gates the operator; ``on_error`` decides what happens to rows
that fail to parse (helper/transformer.go:105-132):

  * ``send``  — the *unparsed* row continues downstream (parse_ok=False,
                extracted columns null);
  * ``drop``  — the row is filtered out (lineage should count it).

We model this with a ``parse_ok`` boolean column; no exceptions, ever —
a thrown exception in a 100 TB job kills the stage, the reference's
error-channel contract keeps the pipeline flowing.

Two implementations of the regex parse stage:

  * ``regex_parse`` — pure Catalyst (`F.regexp_extract`), whole-stage
    codegen, zero Python in the hot path.  The oracle-checked default.
  * ``regex_parse_arrow`` — one Arrow-batched pandas UDF doing
    ``Series.str.extract`` returning a struct; demonstrates the
    vectorized-UDF stage the north star names.  Identical results.

Reference: operator/parser/regex/parser.go:34-67 (match semantics),
config.go:63-74 (named groups required — we validate at build time too).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..schema import severity_num_col

__all__ = [
    "regex_parse",
    "regex_parse_arrow",
    "json_parse",
    "csv_parse",
    "key_value_parse",
    "uri_parse",
    "severity_parse",
    "time_parse",
    "trace_parse",
    "syslog_parse",
    "container_parse",
    "otlp_json_parse",
    "validate_regex_config",
    "strptime_to_java",
    "gotime_to_java",
    "OTLP_LOGS_SCHEMA",
]


def validate_regex_config(pattern: str) -> list[str]:
    """Build-time validation: >=1 named capture group required
    (operator/parser/regex/config.go:63-74). Returns group names in order."""
    compiled = re.compile(pattern)
    if not compiled.groupindex:
        raise ValueError(
            "invalid pattern: no named capture groups "
            "(regex_parser requires at least one)"
        )
    return [g for g, _ in sorted(compiled.groupindex.items(), key=lambda kv: kv[1])]


def regex_parse(
    df: DataFrame,
    pattern: str,
    groups: list[str],
    *,
    parse_from: str = "text",
    on_error: str = "send",
    prefix: str = "",
) -> DataFrame:
    """Vectorized JVM-side regex parse: one ``rlike`` gate + one
    ``regexp_extract`` per named group. The regex match is not shared:
    the generated code runs one ``Matcher.find`` for the gate and one
    per group. The whole stage stays inside WholeStageCodegen."""
    src = F.col(parse_from)
    # null input is a parse FAILURE (false, not null): error-channel
    # routing filters on parse_ok and must see every row exactly once
    ok = src.isNotNull() & src.rlike(pattern)
    cols = [
        F.when(ok, F.regexp_extract(src, pattern, i + 1)).alias(prefix + g)
        for i, g in enumerate(groups)
    ]
    out = df.select("*", ok.alias("parse_ok"), *cols)
    if on_error == "drop":
        out = out.filter(F.col("parse_ok"))
    return out


def _make_extract_udf(pattern: str, groups: list[str], *, batch_dedup: bool = False):
    """Arrow-batched pandas UDF: batch-of-strings -> struct of group matches.

    ``Series.str.extract`` is a single vectorized C call per batch — the
    'no per-row Python' contract from the north rule.  Regex is compiled
    once per executor (closure), mirroring the reference's compile-once
    OTTL closures (pkg/ottl/parser.go:146-160).

    ``batch_dedup`` is the columnar analog of the regex parser's LRU
    match cache (operator/parser/regex/config.go:81-88, regex/cache.go):
    log streams repeat lines heavily, so each Arrow batch extracts only
    its DISTINCT values and maps results back by join — pure pandas
    (hash-join), still zero per-row Python. Off by default: it only pays
    when the duplicate factor is high.
    """
    schema = T.StructType([T.StructField(g, T.StringType()) for g in groups])
    compiled = re.compile(pattern)

    @pandas_udf(schema)
    def extract(s: pd.Series) -> pd.DataFrame:
        if batch_dedup:
            uniq = pd.Series(s.dropna().unique())
            ext = uniq.str.extract(compiled)
            ext.columns = groups
            ext["_v"] = uniq
            out = (
                s.rename("_v")
                .to_frame()
                .merge(ext, on="_v", how="left")[groups]
            )
            out.index = s.index
            return out
        out = s.str.extract(compiled)
        out.columns = groups
        return out

    return extract


def regex_parse_arrow(
    df: DataFrame,
    pattern: str,
    *,
    parse_from: str = "text",
    on_error: str = "send",
    prefix: str = "",
    batch_dedup: bool = False,
) -> DataFrame:
    """Same contract as :func:`regex_parse` but via one pandas UDF."""
    groups = validate_regex_config(pattern)
    udf = _make_extract_udf(pattern, groups, batch_dedup=batch_dedup)
    tmp = "_parsed"
    out = df.withColumn(tmp, udf(F.col(parse_from)))
    # match <=> first group non-null (pattern is fully anchored)
    ok = F.col(f"{tmp}.{groups[0]}").isNotNull()
    out = out.select(
        *df.columns,
        ok.alias("parse_ok"),
        *[F.col(f"{tmp}.{g}").alias(prefix + g) for g in groups],
    )
    if on_error == "drop":
        out = out.filter(F.col("parse_ok"))
    return out


def json_parse(
    df: DataFrame,
    schema: T.StructType | str,
    *,
    parse_from: str = "text",
    prefix: str = "",
) -> DataFrame:
    """json_parser (operator/parser/json/parser.go:34): JSON string field ->
    typed columns via ``from_json`` (JVM-side Jackson, codegen-friendly)."""
    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    parsed = F.from_json(F.col(parse_from), schema)
    return df.select(
        "*",
        parsed.isNotNull().alias("parse_ok"),
        *[parsed[f.name].alias(prefix + f.name) for f in schema.fields],
    )


def csv_parse(
    df: DataFrame,
    header: list[str],
    *,
    parse_from: str = "text",
    delimiter: str = ",",
    lazy_quotes: bool = True,
) -> DataFrame:
    """csv_parser (operator/parser/csv/parser.go): delimited fields ->
    named cols, via the JVM CSV parser (``from_csv``) so QUOTED fields —
    including embedded delimiters, escaped quotes, and quoted empty
    strings — parse like encoding/csv, not like a bare split.

    ``lazy_quotes`` mirrors the reference's LazyQuotes knob
    (csv/config.go): a bare quote inside an unquoted field is literal
    (univocity handles this by default).

    Field-count semantics: Go's csv.Reader errors when a row has too few
    fields (-> on_error channel). ``from_csv`` leaves missing trailing
    fields null, so parse_ok = all fields present — with one refinement:
    a line ENDING in the delimiter is a valid trailing empty field
    (encoding/csv agrees), surfaced as '' rather than a parse failure."""
    del lazy_quotes  # accepted for config parity; default behavior already lazy
    src = F.col(parse_from)
    # Go csv.Reader ErrFieldCount parity, BOTH directions: the true
    # field count comes from counting delimiters OUTSIDE quoted regions
    # (strip "..." spans — including any delimiters inside them — then
    # split). Empty unquoted fields are VALID ("a,,c" = 3 fields), which
    # the CSV reader alone can't distinguish from missing fields (it
    # nulls both); the count disambiguates, and null fields on valid
    # rows coalesce to '' exactly as encoding/csv returns them.
    stripped = F.regexp_replace(src, '"[^"]*"', "")
    n_fields = F.size(F.split(stripped, re.escape(delimiter), -1))
    parse_ok = src.isNotNull() & (n_fields == len(header))
    # nullValue sentinel keeps quoted-empty fields as '' in the parser
    schema = ", ".join(f"`{h}` STRING" for h in header)
    # escape='"' selects RFC-4180 doubled-quote escaping ("wi""th"),
    # the encoding/csv dialect, over Spark's default backslash escape
    parsed_col = F.from_csv(
        src, schema, {"sep": delimiter, "nullValue": "\x01", "escape": '"'}
    )
    tmp = "_csv"
    out = df.withColumn(tmp, parsed_col).withColumn("parse_ok", parse_ok)
    fields = [
        F.when(
            F.col("parse_ok"), F.coalesce(F.col(f"{tmp}.{h}"), F.lit(""))
        ).otherwise(F.col(f"{tmp}.{h}")).alias(h)
        for h in header
    ]
    return out.select(*df.columns, "parse_ok", *fields)


def key_value_parse(
    df: DataFrame,
    *,
    parse_from: str = "text",
    pair_delim: str = " ",
    kv_delim: str = "=",
    out: str = "kv",
) -> DataFrame:
    """key_value_parser (operator/parser/keyvalue/parser.go:32-41) ->
    ``str_to_map`` (JVM built-in)."""
    return df.withColumn(out, F.expr(
        f"str_to_map({parse_from}, '{pair_delim}', '{kv_delim}')"
    ))


def uri_parse(df: DataFrame, *, parse_from: str = "uri") -> DataFrame:
    """uri_parser (operator/parser/uri/parser.go:45) -> parse_url per part."""
    src = F.col(parse_from)
    return df.select(
        "*",
        F.parse_url(src, F.lit("PROTOCOL")).alias("scheme"),
        F.parse_url(src, F.lit("HOST")).alias("host"),
        F.parse_url(src, F.lit("PATH")).alias("path"),
        F.parse_url(src, F.lit("QUERY")).alias("query"),
    )


def severity_parse(
    df: DataFrame,
    *,
    parse_from: str = "level",
    mapping: dict[str, list] | None = None,
    overwrite_text: bool = False,
) -> DataFrame:
    """severity_parser (operator/helper/severity.go:23-33): raw string ->
    24-level enum number + canonical text. Pure literal-map lookup.

    ``mapping`` adds user-defined values/ranges (severity_builder.go:
    113-165); ``overwrite_text`` replaces the text with the canonical
    enum name of the resolved number (SeverityConfig.OverwriteText)."""
    from ..schema import SEVERITY_TEXT_TO_NUM

    num = severity_num_col(parse_from, mapping=mapping)
    out = df.withColumn("severity_num", num)
    if overwrite_text:
        pairs: list = []
        for k, v in SEVERITY_TEXT_TO_NUM.items():
            pairs += [F.lit(v), F.lit(k)]
        rev = F.create_map(*pairs)
        text = F.coalesce(rev[F.col("severity_num")], F.lit("DEFAULT"))
    else:
        text = F.upper(F.col(parse_from))
    return out.withColumn("severity_text", text)


# strptime -> Java DateTimeFormatter directive translation
# (operator/helper/time.go:19-26 supports strptime/gotime/epoch layouts)
_STRPTIME_TO_JAVA = {
    "%Y": "yyyy", "%y": "yy", "%m": "MM", "%d": "dd", "%H": "HH",
    "%I": "hh", "%M": "mm", "%S": "ss", "%f": "SSSSSS", "%j": "DDD",
    "%p": "a", "%z": "XX", "%Z": "zz", "%a": "EEE", "%A": "EEEE",
    "%b": "MMM", "%B": "MMMM", "%%": "%",
}


def strptime_to_java(layout: str) -> str:
    out, i = [], 0
    while i < len(layout):
        if layout[i] == "%" and i + 1 < len(layout):
            tok = layout[i : i + 2]
            out.append(_STRPTIME_TO_JAVA.get(tok, tok))
            i += 2
        else:
            ch = layout[i]
            # literal letters must be quoted for DateTimeFormatter
            out.append(f"'{ch}'" if ch.isalpha() else ch)
            i += 1
    return "".join(out)


# Go reference-time layout tokens -> Java DateTimeFormatter, ordered
# longest-first so e.g. "2006" wins over "06" and "Jan" over "1"
# (operator/helper/time.go:19-26 names gotime as a first-class layout
# type; the magic tokens are Go's time.Layout reference date)
_GOTIME_TO_JAVA = [
    ("2006", "yyyy"),
    ("January", "MMMM"),
    ("Monday", "EEEE"),
    (".000000000", ".SSSSSSSSS"),
    (".000000", ".SSSSSS"),
    (".000", ".SSS"),
    ("Z07:00", "XXX"),
    ("Z0700", "XX"),
    ("-07:00", "XXX"),
    ("-0700", "XX"),
    ("-07", "X"),
    ("Jan", "MMM"),
    ("Mon", "EEE"),
    ("MST", "zzz"),
    ("15", "HH"),
    ("01", "MM"),
    ("02", "dd"),
    ("03", "hh"),
    ("04", "mm"),
    ("05", "ss"),
    ("06", "yy"),
    ("PM", "a"),
    ("pm", "a"),
    ("_2", "d"),
    ("1", "M"),
    ("2", "d"),
    ("3", "h"),
    ("4", "m"),
    ("5", "s"),
]


def gotime_to_java(layout: str) -> str:
    """Translate a Go time.Parse layout (e.g. ``2006-01-02 15:04:05``)
    to a Java DateTimeFormatter pattern, once, on the driver.

    Day-of-week names (``Mon``/``Monday`` -> EEE/EEEE) translate for
    FORMATTING; Spark's non-legacy datetime parser rejects them on the
    parse side (they are redundant with the date fields anyway)."""
    out, i = [], 0
    while i < len(layout):
        for tok, java in _GOTIME_TO_JAVA:
            if layout.startswith(tok, i):
                out.append(java)
                i += len(tok)
                break
        else:
            ch = layout[i]
            out.append(f"'{ch}'" if ch.isalpha() else ch)
            i += 1
    return "".join(out)


def time_parse(
    df: DataFrame,
    *,
    parse_from: str = "ts_raw",
    layout: str = "%Y-%m-%dT%H:%M:%SZ",
    layout_type: str = "strptime",
    out: str = "event_ts",
    location: str | None = None,
) -> DataFrame:
    """time_parser (operator/helper/time.go:54-75): strptime / gotime /
    epoch layouts.

    strptime and gotime layouts are translated to a Java format once on
    the driver; parsing itself is the JVM ``to_timestamp``.

    ``location`` (time.go:43,116-123): a zone-less wall time is read in
    the named IANA zone instead of the default. Implemented as
    ``to_utc_timestamp`` over the parsed wall clock — exact under the
    engine's UTC session timezone convention (the verify recipe pins
    ``spark.sql.session.timeZone=UTC``; a non-UTC session renders the
    wall clock differently before reinterpretation).
    """
    src = F.col(parse_from)
    if layout_type == "gotime":
        col = F.to_timestamp(src, gotime_to_java(layout))
        if location:
            col = F.to_utc_timestamp(col, location)
        return df.withColumn(out, col)
    if layout_type == "epoch":
        unit = layout  # s | ms | us | ns
        div = {"s": 1, "ms": 1_000, "us": 1_000_000, "ns": 1_000_000_000}[unit]
        col = F.timestamp_micros(
            (src.cast("decimal(30,0)") * (1_000_000 // div)).cast("long")
            if div <= 1_000_000
            else (src.cast("decimal(30,0)") / 1_000).cast("long")
        )
    else:
        col = F.to_timestamp(src, strptime_to_java(layout))
        if location:
            col = F.to_utc_timestamp(col, location)
    return df.withColumn(out, col)


def trace_parse(
    df: DataFrame, *, trace_field: str = "trace_id_hex", span_field: str | None = None
) -> DataFrame:
    """trace_parser (operator/helper/trace.go): hex string -> id bytes."""
    out = df.withColumn("trace_id", F.unhex(F.col(trace_field)))
    if span_field:
        out = out.withColumn("span_id", F.unhex(F.col(span_field)))
    return out


# RFC5424: <PRI>VERSION TS HOSTNAME APP-NAME PROCID MSGID [SD] MSG
_RFC5424 = (
    r"^<(\d{1,3})>(\d) (\S+) (\S+) (\S+) (\S+) (\S+) "
    r"(-|(?:\[[^\]]*\])+) ?(.*)$"
)
_RFC5424_GROUPS = [
    "pri_raw", "version", "sl_ts", "hostname", "appname",
    "proc_id", "msg_id", "structured_data", "message",
]

# RFC3164: <PRI>MMM dd HH:MM:SS HOSTNAME TAG[pid]: MSG
_RFC3164 = (
    r"^<(\d{1,3})>([A-Z][a-z]{2} [ \d]\d \d{2}:\d{2}:\d{2}) (\S+) "
    r"([^\[:]+)(?:\[(\d+)\])?: ?(.*)$"
)
_RFC3164_GROUPS = ["pri_raw", "sl_ts", "hostname", "appname", "proc_id", "message"]


def syslog_parse(
    df: DataFrame, *, protocol: str = "rfc5424", parse_from: str = "text",
    on_error: str = "send",
) -> DataFrame:
    """syslog_parser (operator/parser/syslog/): RFC3164/RFC5424 structured
    parse. Priority decomposes as facility = pri >> 3, severity = pri & 7
    (syslog protocol semantics the reference delegates to
    influxdata/go-syslog). One regex bundle, whole-stage codegen."""
    if protocol == "rfc5424":
        pat, groups = _RFC5424, _RFC5424_GROUPS
    elif protocol == "rfc3164":
        pat, groups = _RFC3164, _RFC3164_GROUPS
    else:
        raise ValueError(protocol)
    out = regex_parse(df, pat, groups, parse_from=parse_from, on_error=on_error)
    pri = F.col("pri_raw").cast("int")
    return (
        out.withColumn("facility", F.floor(pri / 8).cast("int"))
        .withColumn("severity", pri % 8)
        .drop("pri_raw")
    )


# --------------------------------------------------------------------------
# OTLP-JSON logs envelope (connector/otlpjsonconnector/connector_logs.go:
# the connector unmarshals full plog JSON — resourceLogs[].scopeLogs[].
# logRecords[] — and re-emits per-signal records; fixture shape in
# connector/otlpjsonconnector/testdata/logsToLogs/input-log.yaml)
# --------------------------------------------------------------------------

#: OTLP/JSON AnyValue carries one of these representations; ints arrive
#: as JSON strings per the protobuf JSON mapping, bytes as base64.
#: arrayValue/kvlistValue nest one level of scalar AnyValues — the
#: pcommon model is fully recursive, but from_json needs a closed
#: schema; one level covers the collector's own golden fixtures
#: (connector/otlpjsonconnector/testdata/) and deeper nests still parse
#: their scalar leaves (pdata/pcommon AnyValue; connector_logs.go:40-83).
_OTLP_ANYVALUE_SCALAR = (
    "STRUCT<stringValue: STRING, intValue: STRING, boolValue: BOOLEAN, "
    "doubleValue: DOUBLE, bytesValue: STRING>"
)
_OTLP_ANYVALUE = (
    "STRUCT<stringValue: STRING, intValue: STRING, boolValue: BOOLEAN, "
    "doubleValue: DOUBLE, bytesValue: STRING, "
    f"arrayValue: STRUCT<values: ARRAY<{_OTLP_ANYVALUE_SCALAR}>>, "
    "kvlistValue: STRUCT<values: ARRAY<STRUCT<key: STRING, "
    f"value: {_OTLP_ANYVALUE_SCALAR}>>>>"
)
_OTLP_KV = f"ARRAY<STRUCT<key: STRING, value: {_OTLP_ANYVALUE}>>"


def _json_quote(c: Column) -> Column:
    """JSON-encode one string (quotes + escapes) JVM-side: to_json of a
    1-element array, brackets stripped."""
    j = F.to_json(F.array(c))
    return F.regexp_replace(F.regexp_replace(j, r"^\[", ""), r"\]$", "")


def _go_double_str(d: Column) -> Column:
    """Render a double the way Go json.Marshal does for the common case:
    integral values print WITHOUT the trailing ``.0`` (json.Marshal(2.0)
    = "2"). Residual divergence: scientific-notation formatting for very
    large/small magnitudes ("1.0E7" here vs Go "1e+07") — documented,
    not load-bearing for collector fixtures."""
    as_long = d.cast("long")
    integral = (d == as_long.cast("double")) & (F.abs(d) < F.lit(1.0e15))
    return F.when(integral, as_long.cast("string")).otherwise(d.cast("string"))


def _scalar_as_json(v: Column) -> Column:
    """Scalar AnyValue -> its JSON fragment (Value.AsRaw then
    json.Marshal, pdata/pcommon/value.go): strings/bytes quoted, ints
    bare numbers (they arrive as JSON strings), bools/doubles bare."""
    return F.coalesce(
        F.when(v["stringValue"].isNotNull(), _json_quote(v["stringValue"])),
        v["intValue"],
        v["boolValue"].cast("string"),
        _go_double_str(v["doubleValue"]),
        F.when(v["bytesValue"].isNotNull(), _json_quote(v["bytesValue"])),
    )


def _anyvalue_as_string(v: Column) -> Column:
    """Value.AsString (pdata/pcommon/value.go): scalars render bare
    (bytes stay base64 — OTLP/JSON already carries them encoded), maps
    and slices render as compact JSON with map keys sorted (Go
    json.Marshal of the AsRaw map sorts keys)."""
    kvs = v["kvlistValue"]["values"]
    kv_json = F.concat(
        F.lit("{"),
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(kvs),
                lambda kv: F.concat(
                    _json_quote(kv["key"]), F.lit(":"), _scalar_as_json(kv["value"])
                ),
            ),
        ),
        F.lit("}"),
    )
    arr = v["arrayValue"]["values"]
    arr_json = F.concat(
        F.lit("["),
        F.concat_ws(",", F.transform(arr, _scalar_as_json)),
        F.lit("]"),
    )
    return F.coalesce(
        v["stringValue"],
        v["intValue"],
        v["boolValue"].cast("string"),
        _go_double_str(v["doubleValue"]),
        v["bytesValue"],
        F.when(kvs.isNotNull(), kv_json),
        F.when(arr.isNotNull(), arr_json),
    )

OTLP_LOGS_SCHEMA = f"""
resourceLogs ARRAY<STRUCT<
  resource: STRUCT<attributes: {_OTLP_KV}, droppedAttributesCount: INT>,
  schemaUrl: STRING,
  scopeLogs: ARRAY<STRUCT<
    scope: STRUCT<name: STRING, version: STRING, attributes: {_OTLP_KV}>,
    schemaUrl: STRING,
    logRecords: ARRAY<STRUCT<
      timeUnixNano: STRING,
      observedTimeUnixNano: STRING,
      severityNumber: INT,
      severityText: STRING,
      body: {_OTLP_ANYVALUE},
      attributes: {_OTLP_KV},
      droppedAttributesCount: INT,
      traceId: STRING,
      spanId: STRING
    >>
  >>
>>
"""


def _otlp_attrs_map(attrs: Column) -> Column:
    """OTLP key/value attribute list -> map<string,string> (every
    AnyValue variant — scalar, bytes, kvlist, array — flattened to its
    string form exactly as pcommon Value.AsString does)."""
    return F.map_from_entries(
        F.transform(
            attrs,
            lambda a: F.struct(
                a["key"].alias("key"),
                _anyvalue_as_string(a["value"]).alias("value"),
            ),
        )
    )


def otlp_json_parse(df: DataFrame, *, parse_from: str = "text") -> DataFrame:
    """Parse full OTLP-JSON log envelopes into one row per logRecord.

    Spark-first: one ``from_json`` with the explicit nested schema, then
    three generator explodes — all JVM-side; resource/scope attributes
    flatten onto each record exactly as the collector's
    ``plog.JSONUnmarshaler`` + per-record iteration does
    (connector_logs.go logsToLogs loop). Invalid JSON -> parse_ok=false
    rows with null fields (the connector's error channel analog)."""
    env = F.from_json(F.col(parse_from), OTLP_LOGS_SCHEMA)
    out = (
        df.withColumn("parse_ok", env["resourceLogs"].isNotNull())
        .withColumn("_rl", F.explode_outer(env["resourceLogs"]))
        .withColumn("_sl", F.explode_outer(F.col("_rl.scopeLogs")))
        .withColumn("_lr", F.explode_outer(F.col("_sl.logRecords")))
    )
    return out.select(
        *df.columns,
        "parse_ok",
        _otlp_attrs_map(F.col("_rl.resource.attributes")).alias("resource_attrs"),
        F.col("_sl.scope.name").alias("scope_name"),
        F.col("_sl.scope.version").alias("scope_version"),
        F.col("_rl.schemaUrl").alias("resource_schema_url"),
        F.col("_sl.schemaUrl").alias("scope_schema_url"),
        F.col("_lr.timeUnixNano").cast("long").alias("time_unix_nano"),
        F.col("_lr.observedTimeUnixNano").cast("long").alias(
            "observed_time_unix_nano"
        ),
        F.col("_lr.severityNumber").alias("severity_number"),
        F.col("_lr.severityText").alias("severity_text"),
        _anyvalue_as_string(F.col("_lr.body")).alias("body"),
        _otlp_attrs_map(F.col("_lr.attributes")).alias("attributes"),
        F.col("_lr.droppedAttributesCount").alias("dropped_attributes_count"),
        F.col("_lr.traceId").alias("trace_id_hex"),
        F.col("_lr.spanId").alias("span_id_hex"),
    )


# container operator (operator/parser/container/): format auto-detect +
# parse; partial-line recombine is composed separately via
# transformers.recombine(is_last = logtag == 'F').
_CRI_PATTERN = r"^(\S+) (stdout|stderr) ([PF]) ?(.*)$"


def container_parse(
    df: DataFrame, *, parse_from: str = "text", order_col: str = "turn_idx",
    source_col: str = "conv_id", recombine_partials: bool = False,
) -> DataFrame:
    """container parser (operator/parser/container/config.go:22-89):
    detect docker-JSON vs containerd/CRI-O per line (a when-chain — the
    reference detects format from the first line, per-line dispatch is
    strictly more general), extract (time, stream, logtag, log).

    With ``recombine_partials`` the CRI partial-line convention is
    applied: logtag 'P' lines merge forward into the next 'F' line
    (config.go:63-68,84-89), via the standard recombine stage."""
    src = F.col(parse_from)
    is_docker = src.startswith("{")
    cri_ok = src.rlike(_CRI_PATTERN)
    g = lambda i: F.regexp_extract(src, _CRI_PATTERN, i)  # noqa: E731
    out = df.select(
        "*",
        F.when(is_docker, F.lit("docker"))
        .when(cri_ok, F.lit("cri"))
        .otherwise(F.lit("unknown"))
        .alias("container_format"),
        F.coalesce(
            F.when(is_docker, F.get_json_object(src, "$.time")),
            F.when(cri_ok, g(1)),
        ).alias("container_time"),
        F.coalesce(
            F.when(is_docker, F.get_json_object(src, "$.stream")),
            F.when(cri_ok, g(2)),
        ).alias("stream"),
        # docker JSON lines are always complete records => logtag F
        F.when(is_docker, F.lit("F")).when(cri_ok, g(3)).alias("logtag"),
        F.coalesce(
            F.when(is_docker, F.get_json_object(src, "$.log")),
            F.when(cri_ok, g(4)),
        ).alias("log"),
    )
    out = out.withColumn("parse_ok", F.col("container_format") != "unknown")
    if recombine_partials:
        from .transformers import recombine

        out = recombine(
            out.filter(F.col("parse_ok")),
            source_col=source_col,
            order_col=order_col,
            combine_field="log",
            combine_with="",
            is_last=F.col("logtag") == "F",
        )
    return out
