"""Data model: transcript schema, severity enum, canonical parse pattern.

Reference mapping (see SURVEY.md §1):
  * entry.Entry / plog.LogRecord (pkg/stanza/entry/entry.go:14-26) -> one
    DataFrame row with promoted, typed top-level columns (Catalyst can
    prune/filter them, unlike an opaque map).
  * Severity enum, 24 levels Trace..Fatal4 (pkg/stanza/entry/severity.go:43-73)
    -> severity_text + severity_num int column via a literal lookup map.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

# --------------------------------------------------------------------------
# Input table shape (BASELINE.json input_hint)
# --------------------------------------------------------------------------
TRANSCRIPT_SCHEMA = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", IntegerType(), False),
        StructField("role", StringType(), True),
        StructField("text", StringType(), True),
        StructField("tool", StringType(), True),
        # zoneless, as the batch source derives it from events parquet
        StructField("ts", TimestampNTZType(), True),
    ]
)

# --------------------------------------------------------------------------
# Severity model — OTel log data model severity numbers (1..24), same scale
# the stanza enum maps onto (entry/severity.go:43-73): TRACE=1, DEBUG=5,
# INFO=9, WARN=13, ERROR=17, FATAL=21, each with 2..4 variants at +1..+3.
# --------------------------------------------------------------------------
_BASES = {"TRACE": 1, "DEBUG": 5, "INFO": 9, "WARN": 13, "ERROR": 17, "FATAL": 21}

SEVERITY_TEXT_TO_NUM: dict[str, int] = {}
for _name, _base in _BASES.items():
    SEVERITY_TEXT_TO_NUM[_name] = _base
    for _i in (2, 3, 4):
        SEVERITY_TEXT_TO_NUM[f"{_name}{_i}"] = _base + (_i - 1)

#: aliases accepted by the severity parser's default preset
#: (pkg/stanza/operator/helper/severity_builder.go:113-144)
SEVERITY_ALIASES = {
    "WARNING": "WARN",
    "ERR": "ERROR",
    "CRITICAL": "FATAL",
    "EMERGENCY": "FATAL4",
    "NOTICE": "INFO2",
}


#: "2xx".."5xx" special range keys (severity_builder.go HTTP2xx..HTTP5xx)
_HTTP_RANGES = {f"{d}xx": (d * 100, d * 100 + 99) for d in (2, 3, 4, 5)}


def _canonical_severity(name: str) -> int:
    up = name.upper()
    if up in SEVERITY_TEXT_TO_NUM:
        return SEVERITY_TEXT_TO_NUM[up]
    if up in SEVERITY_ALIASES:
        return SEVERITY_TEXT_TO_NUM[SEVERITY_ALIASES[up]]
    raise ValueError(f"unknown severity {name!r}")


def severity_num_col(
    text_col: str = "level", mapping: dict[str, list] | None = None
) -> F.Column:
    """Severity text -> number as a literal map lookup (no shuffle, no UDF).

    ``mapping`` is the user-defined severity config
    (helper/severity_builder.go:113-165, ``SeverityConfig.Mapping``):
    severity name -> list of parseable values, each a literal string, an
    int, a ``{"min": lo, "max": hi}`` range, or an HTTP special key
    ("2xx".."5xx" = that status class). Custom entries are checked first
    (they ADD to / override the builtin preset, operatorMapping.add).
    """
    pairs: list = []
    for k, v in SEVERITY_TEXT_TO_NUM.items():
        pairs += [F.lit(k), F.lit(v)]
    for alias, canon in SEVERITY_ALIASES.items():
        pairs += [F.lit(alias), F.lit(SEVERITY_TEXT_TO_NUM[canon])]
    m = F.create_map(*pairs)
    builtin = F.coalesce(m[F.upper(F.col(text_col))], F.lit(0))
    if not mapping:
        return builtin
    src = F.col(text_col)
    num = src.cast("string").try_cast("bigint")
    chain = None
    for sev_name, values in mapping.items():
        sev = _canonical_severity(sev_name)
        if not isinstance(values, (list, tuple)):
            values = [values]
        cond = F.lit(False)
        for v in values:
            if isinstance(v, dict):
                lo, hi = int(v["min"]), int(v["max"])
                cond = cond | num.between(lo, hi)
            elif isinstance(v, int):
                cond = cond | (num == v)
            elif isinstance(v, str) and v.lower() in _HTTP_RANGES:
                lo, hi = _HTTP_RANGES[v.lower()]
                cond = cond | num.between(lo, hi)
            else:
                cond = cond | (F.upper(src.cast("string")) == str(v).upper())
        chain = F.when(cond, F.lit(sev)) if chain is None else chain.when(cond, F.lit(sev))
    return chain.otherwise(builtin)


# --------------------------------------------------------------------------
# Canonical parse pattern (regex_parser semantics: named groups required,
# non-match => parse failure; operator/parser/regex/config.go:63-74).
# Spark's regexp_extract is index-based, so we keep an ordered group list.
# --------------------------------------------------------------------------
PARSE_PATTERN = (
    r"^(\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}Z) "
    r"(TRACE|DEBUG|INFO|WARN|ERROR|FATAL) "
    r"(svc-[\w.-]+): (.*)$"
)
PARSE_GROUPS = ["ts_raw", "level", "component", "msg"]

#: python `re` flavor with named groups, for the pandas-UDF (Arrow) parse path
PARSE_PATTERN_NAMED = (
    r"^(?P<ts_raw>\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}Z) "
    r"(?P<level>TRACE|DEBUG|INFO|WARN|ERROR|FATAL) "
    r"(?P<component>svc-[\w.-]+): (?P<msg>.*)$"
)
