"""Round-2 parser/processor coverage: CSV quote semantics, gotime
layouts, severity custom mapping, OTLP-JSON envelope, redaction summary,
chained enrich cascade (k8sattributes association depth)."""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from opentelemetry_collector_contrib_spark.operators import (  # noqa: E402
    parsers,
    processors,
)


# ---------------------------------------------------------------------------
# csv_parse (operator/parser/csv/parser_test.go shapes)
# ---------------------------------------------------------------------------

def test_csv_quoted_field_with_delimiter(spark):
    d = spark.createDataFrame([('a,"b,1",c',)], ["text"])
    r = parsers.csv_parse(d, ["f1", "f2", "f3"]).collect()[0]
    assert r["parse_ok"] and (r["f1"], r["f2"], r["f3"]) == ("a", "b,1", "c")


def test_csv_short_row_fails_parse(spark):
    d = spark.createDataFrame([("x,y",)], ["text"])
    r = parsers.csv_parse(d, ["f1", "f2", "f3"]).collect()[0]
    assert not r["parse_ok"] and r["f3"] is None


def test_csv_trailing_empty_field_is_valid(spark):
    d = spark.createDataFrame([("p,q,",)], ["text"])
    r = parsers.csv_parse(d, ["f1", "f2", "f3"]).collect()[0]
    assert r["parse_ok"] and r["f3"] == ""


def test_csv_quoted_empty_field(spark):
    d = spark.createDataFrame([('p,"",r',)], ["text"])
    r = parsers.csv_parse(d, ["f1", "f2", "f3"]).collect()[0]
    assert r["parse_ok"] and r["f2"] == ""


def test_csv_lazy_quote_in_unquoted_field(spark):
    d = spark.createDataFrame([('la"zy,m,z',)], ["text"])
    r = parsers.csv_parse(d, ["f1", "f2", "f3"]).collect()[0]
    assert r["parse_ok"] and r["f1"] == 'la"zy'


def test_csv_on_error_drop_equivalent_semantics(spark):
    d = spark.createDataFrame([("a,b,c",), ("short",)], ["text"])
    out = parsers.csv_parse(d, ["f1", "f2", "f3"]).filter(F.col("parse_ok"))
    assert out.count() == 1


# ---------------------------------------------------------------------------
# gotime layouts (operator/helper/time.go:19-26)
# ---------------------------------------------------------------------------

@pytest.mark.parametrize(
    "layout,value",
    [
        ("2006-01-02 15:04:05", "2024-03-05 10:20:30"),
        ("02/Jan/2006:15:04:05", "05/Mar/2024:10:20:30"),
        ("2006-01-02T15:04:05Z", "2024-03-05T10:20:30Z"),
        ("02-Jan-06 15:04:05", "05-Mar-24 10:20:30"),
    ],
)
def test_gotime_layouts(spark, layout, value):
    d = spark.createDataFrame([(value,)], ["ts_raw"])
    r = parsers.time_parse(d, layout=layout, layout_type="gotime").collect()[0]
    assert str(r["event_ts"]) == "2024-03-05 10:20:30", layout


def test_gotime_translation_table():
    assert parsers.gotime_to_java("2006-01-02") == "yyyy-MM-dd"
    assert parsers.gotime_to_java("15:04:05.000") == "HH:mm:ss.SSS"
    assert parsers.gotime_to_java("Jan 2 2006") == "MMM d yyyy"


# ---------------------------------------------------------------------------
# severity custom mapping (helper/severity_builder.go:113-165)
# ---------------------------------------------------------------------------

def test_severity_custom_values_ranges_and_specials(spark):
    d = spark.createDataFrame(
        [("oops",), ("404",), ("250",), ("333",), ("warn",), ("mystery",)],
        ["level"],
    )
    out = parsers.severity_parse(
        d,
        mapping={
            "error": ["oops", "4xx"],
            "info": [{"min": 200, "max": 299}],
            "warn3": [333],
        },
        overwrite_text=True,
    )
    got = {r["level"]: (r["severity_num"], r["severity_text"]) for r in out.collect()}
    assert got["oops"] == (17, "ERROR")
    assert got["404"] == (17, "ERROR")
    assert got["250"] == (9, "INFO")
    assert got["333"] == (15, "WARN3")
    assert got["warn"] == (13, "WARN")  # builtin preset still applies
    assert got["mystery"] == (0, "DEFAULT")


def test_severity_unknown_mapping_name_raises():
    with pytest.raises(ValueError):
        from opentelemetry_collector_contrib_spark.schema import _canonical_severity

        _canonical_severity("not-a-severity")


# ---------------------------------------------------------------------------
# OTLP-JSON envelope (connector/otlpjsonconnector/connector_logs.go)
# ---------------------------------------------------------------------------

_ENV = (
    '{"resourceLogs":[{"resource":{"attributes":[{"key":"svc","value":'
    '{"stringValue":"api"}}]},"scopeLogs":[{"scope":{"name":"s","version":"2"},'
    '"logRecords":[{"timeUnixNano":"123","severityNumber":9,"severityText":"Info",'
    '"body":{"stringValue":"msg-a"},"attributes":[{"key":"n","value":'
    '{"intValue":"7"}},{"key":"ok","value":{"boolValue":true}}],'
    '"traceId":"0804","spanId":"0102"},'
    '{"timeUnixNano":"456","severityText":"Warn","body":{"stringValue":"msg-b"},'
    '"attributes":[]}]}]}]}'
)


def test_otlp_envelope_explodes_records(spark):
    d = spark.createDataFrame([(_ENV,)], ["text"])
    out = parsers.otlp_json_parse(d).collect()
    assert len(out) == 2
    a = next(r for r in out if r["body"] == "msg-a")
    assert a["resource_attrs"] == {"svc": "api"}
    assert a["scope_name"] == "s" and a["scope_version"] == "2"
    assert a["time_unix_nano"] == 123
    assert a["attributes"] == {"n": "7", "ok": "true"}
    assert a["trace_id_hex"] == "0804"
    b = next(r for r in out if r["body"] == "msg-b")
    assert b["severity_text"] == "Warn" and b["attributes"] == {}


def test_otlp_envelope_invalid_json_flows_as_error_row(spark):
    d = spark.createDataFrame([("not json at all",)], ["text"])
    out = parsers.otlp_json_parse(d).collect()
    assert len(out) == 1 and not out[0]["parse_ok"] and out[0]["body"] is None


# ---------------------------------------------------------------------------
# redaction summary (redactionprocessor/processor.go:193+,320-340)
# ---------------------------------------------------------------------------

def test_redact_summary_debug_and_info(spark):
    d = spark.createDataFrame(
        [("user=5 hi", "tok123", "keep"), ("clean", "abc", "keep")],
        ["msg", "token", "other"],
    )
    dbg = processors.redact(
        d,
        allowed_keys=["msg", "token"],
        mask_patterns={"num": r"\d+"},
        summary="debug",
    )
    rows = {r["msg"].split(" ")[0]: r.asDict() for r in dbg.collect()}
    masked = rows["user=****"]
    assert masked["redaction.masked.count"] == 2
    assert masked["redaction.masked.keys"] == "msg,token"
    assert masked["redaction.redacted.count"] == 1
    assert masked["redaction.redacted.keys"] == "other"
    clean = rows["clean"]
    assert clean["redaction.masked.count"] == 0
    info = processors.redact(
        d, mask_patterns={"num": r"\d+"}, summary="info"
    )
    assert "redaction.masked.keys" not in info.columns
    assert "redaction.masked.count" in info.columns


# ---------------------------------------------------------------------------
# chained enrich cascade: second lookup keys on a column PRODUCED by the
# first (k8sattributes pod->namespace->node association depth,
# processor.go:121-194), insert-if-absent preserved through the chain
# ---------------------------------------------------------------------------

def test_enrich_cascade_chained_lookup(spark):
    facts = spark.createDataFrame(
        [("p1", None), ("p2", None), ("p3", "pre-set")],
        ["pod", "node"],
    )
    pods = spark.createDataFrame(
        [("p1", "ns-a"), ("p2", "ns-b"), ("p3", "ns-b")], ["pod", "ns"]
    )
    namespaces = spark.createDataFrame(
        [("ns-a", "node-1", "team-x"), ("ns-b", "node-2", "team-y")],
        ["ns", "node", "team"],
    )
    out = processors.enrich_lookup(facts, pods, on="pod")
    out = processors.enrich_lookup(out, namespaces, on="ns")
    got = {r["pod"]: r.asDict() for r in out.collect()}
    assert got["p1"]["ns"] == "ns-a" and got["p1"]["node"] == "node-1"
    assert got["p1"]["team"] == "team-x"
    assert got["p2"]["node"] == "node-2"
    # insert-if-absent: the pre-set node survives the level-2 lookup
    assert got["p3"]["node"] == "pre-set" and got["p3"]["team"] == "team-y"


# ---------------------------------------------------------------------------
# round-2 review regressions
# ---------------------------------------------------------------------------

def test_parse_ok_is_false_not_null_for_null_input(spark):
    from opentelemetry_collector_contrib_spark.operators import grok
    from opentelemetry_collector_contrib_spark.schema import (
        PARSE_GROUPS,
        PARSE_PATTERN,
    )

    d = spark.createDataFrame([("x",), (None,)], "text string")
    r = parsers.regex_parse(d, PARSE_PATTERN, PARSE_GROUPS)
    vals = [row["parse_ok"] for row in r.collect()]
    assert vals.count(False) == 2 and None not in vals
    g = grok.grok_parse(d, "%{WORD:w}")
    gv = sorted((row["parse_ok"] for row in g.collect()), key=str)
    assert None not in gv


def test_csv_extra_fields_fail_parse(spark):
    d = spark.createDataFrame([("a,b,c,extra",), ("a,b,c",)], ["text"])
    rows = {r["f1"]: r["parse_ok"] for r in
            parsers.csv_parse(d, ["f1", "f2", "f3"]).collect()}
    # Go csv.Reader raises ErrFieldCount for too MANY fields as well
    got = [r.asDict() for r in parsers.csv_parse(d, ["f1", "f2", "f3"]).collect()]
    by_line = {g["text"]: g["parse_ok"] for g in got}
    assert by_line["a,b,c"] is True and by_line["a,b,c,extra"] is False


def test_regex_parse_keeps_unicode_text(spark):
    from opentelemetry_collector_contrib_spark.schema import (
        PARSE_GROUPS,
        PARSE_PATTERN,
    )

    df = spark.createDataFrame(
        [
            (1, "2024-01-01T00:00:00Z INFO svc-1: héllo wörld 你好 🎉 items=3"),
            (3, "чистый текст без шаблона"),
        ],
        ["doc_id", "text"],
    )
    parsed = parsers.regex_parse(df, PARSE_PATTERN, PARSE_GROUPS).collect()
    by_id = {r["doc_id"]: r for r in parsed}
    assert by_id[1]["parse_ok"] and "你好 🎉" in by_id[1]["msg"]
    assert not by_id[3]["parse_ok"]


def test_csv_empty_unquoted_fields_are_valid(spark):
    d = spark.createDataFrame([("a,,c",), (",b,c",), (",,",)], ["text"])
    got = {r["text"]: r.asDict() for r in
           parsers.csv_parse(d, ["f1", "f2", "f3"]).collect()}
    assert got["a,,c"]["parse_ok"] and got["a,,c"]["f2"] == ""
    assert got[",b,c"]["parse_ok"] and got[",b,c"]["f1"] == ""
    assert got[",,"]["parse_ok"] and got[",,"]["f3"] == ""


def test_csv_roundtrip_against_python_csv(spark):
    """Rows written by Python's csv module (same dialect family as Go
    encoding/csv) must parse back to the original fields."""
    import csv
    import io
    import random

    rng = random.Random(7)
    pool = ["plain", 'wi"th', "co,mma", "", "sp ace", 'q"u,o"t', "nl"]
    rows = [tuple(rng.choice(pool) for _ in range(3)) for _ in range(40)]
    lines = []
    for t in rows:
        buf = io.StringIO()
        csv.writer(buf, lineterminator="").writerow(t)
        lines.append((buf.getvalue(),))
    d = spark.createDataFrame(lines, ["text"])
    got = parsers.csv_parse(d, ["f1", "f2", "f3"]).collect()
    by_line = {r["text"]: (r["parse_ok"], r["f1"], r["f2"], r["f3"]) for r in got}
    for t, (line,) in zip(rows, lines):
        ok, f1, f2, f3 = by_line[line]
        assert ok, line
        assert (f1, f2, f3) == t, (line, (f1, f2, f3), t)


def test_redact_mask_col_already_dropped(spark):
    """ADVICE r2: a mask_cols entry naming a column that allowed_keys
    already dropped has nothing to mask — the reference proceeds; no
    UNRESOLVED_COLUMN error."""
    d = spark.createDataFrame(
        [("user=5", "secret9")], ["msg", "token"]
    )
    out = processors.redact(
        d,
        allowed_keys=["msg"],
        mask_patterns={"num": r"\d+"},
        mask_cols=["msg", "token"],  # token no longer exists
    )
    r = out.collect()[0]
    assert out.columns == ["msg"] and r["msg"] == "user=****"


def test_otlp_anyvalue_full_model(spark):
    """Full AnyValue coverage (pdata/pcommon/value.go AsString): kvlist
    and array bodies/attrs flatten to compact JSON (map keys sorted,
    string escapes preserved), bytes stay base64, bools render bare."""
    from opentelemetry_collector_contrib_spark.operators import parsers

    env = {
        "resourceLogs": [{
            "resource": {"attributes": [
                {"key": "svc", "value": {"stringValue": "api"}}]},
            "scopeLogs": [{
                "scope": {"name": "s", "version": "1"},
                "logRecords": [
                    {"timeUnixNano": "1",
                     "body": {"kvlistValue": {"values": [
                         {"key": "z", "value": {"intValue": "7"}},
                         {"key": "a", "value": {"stringValue": 'he said "hi"'}},
                         {"key": "m", "value": {"boolValue": True}},
                     ]}},
                     "attributes": [
                         {"key": "arr", "value": {"arrayValue": {"values": [
                             {"stringValue": "x"}, {"intValue": "3"},
                             {"doubleValue": 1.5}, {"boolValue": False},
                         ]}}},
                         {"key": "b64", "value": {"bytesValue": "aGVsbG8="}},
                         {"key": "empty_arr",
                          "value": {"arrayValue": {"values": []}}},
                     ]},
                    {"timeUnixNano": "2", "observedTimeUnixNano": "9",
                     "droppedAttributesCount": 3,
                     "body": {"boolValue": True},
                     "attributes": []},
                ]}]}]}
    import json
    df = spark.createDataFrame([(json.dumps(env),)], ["text"])
    out = parsers.otlp_json_parse(df).orderBy("time_unix_nano").collect()
    r1, r2 = out
    # map keys sorted like Go json.Marshal of a map; escapes kept
    assert r1["body"] == '{"a":"he said \\"hi\\"","m":true,"z":7}'
    assert r1["attributes"]["arr"] == '["x",3,1.5,false]'
    assert r1["attributes"]["b64"] == "aGVsbG8="
    assert r1["attributes"]["empty_arr"] == "[]"
    assert r1["resource_attrs"]["svc"] == "api"
    assert r2["body"] == "true"
    # plog record passthrough fields (logs.proto): observed ts, dropped
    # count, schema urls
    assert r2["observed_time_unix_nano"] == 9
    assert r2["dropped_attributes_count"] == 3
    assert "resource_schema_url" in r2.asDict()


def test_enrich_lookup_key_regex_selection(spark):
    """k8sattributes key_regex extraction (config.go:131+): only dim
    columns matching the regex attach; the rest are pruned before the
    broadcast."""
    facts = spark.createDataFrame([("p1",), ("p2",)], ["pod"])
    dim = spark.createDataFrame(
        [("p1", "app-a", "v1", "internal-x"), ("p2", "app-b", "v2", "internal-y")],
        ["pod", "labelapp", "labelversion", "scratch"],
    )
    out = processors.enrich_lookup(facts, dim, on="pod", key_regex=r"label.*")
    assert set(out.columns) == {"pod", "labelapp", "labelversion"}
    got = {r["pod"]: r.asDict() for r in out.collect()}
    assert got["p1"]["labelapp"] == "app-a" and got["p2"]["labelversion"] == "v2"
    # tag naming: extraction rules rename matched keys
    # (k8s.pod.labels.%s default; capture groups usable as {1})
    named = processors.enrich_lookup(
        facts, dim, on="pod",
        key_regex=r"label(.*)", key_template="k8s.pod.labels.{1}",
    )
    assert set(named.columns) == {"pod", "k8s.pod.labels.app",
                                  "k8s.pod.labels.version"}
    r1 = {r["pod"]: r.asDict() for r in named.collect()}
    assert r1["p1"]["k8s.pod.labels.app"] == "app-a"


def test_anyvalue_integral_double_renders_go_style(spark):
    """json.Marshal(2.0) is \"2\" — integral doubles must not carry the
    Spark-cast \".0\"."""
    import json as _json

    env = {"resourceLogs": [{"resource": {}, "scopeLogs": [{
        "scope": {"name": "s", "version": "1"},
        "logRecords": [{"timeUnixNano": "1",
                        "body": {"doubleValue": 2.0},
                        "attributes": [
                            {"key": "a", "value": {"arrayValue": {"values": [
                                {"doubleValue": 3.0}, {"doubleValue": 1.5}]}}},
                        ]}]}]}]}
    df = spark.createDataFrame([(_json.dumps(env),)], ["text"])
    r = parsers.otlp_json_parse(df).collect()[0]
    assert r["body"] == "2"
    assert r["attributes"]["a"] == "[3,1.5]"


def test_time_parse_location(spark):
    """time_parser location: a zone-less wall time reads in the named
    IANA zone (time.go:116-123). 12:00 in New York (EST, UTC-5 in Jan;
    EDT, UTC-4 in Jul — DST-aware) maps to 17:00/16:00 UTC."""
    from opentelemetry_collector_contrib_spark.operators import parsers as ps

    df = spark.createDataFrame(
        [("2024-01-15 12:00:00",), ("2024-07-15 12:00:00",)], ["ts_raw"]
    )
    out = {
        r["ts_raw"]: r["event_ts"]
        for r in ps.time_parse(
            df, layout="%Y-%m-%d %H:%M:%S", location="America/New_York"
        ).collect()
    }
    assert out["2024-01-15 12:00:00"].hour == 17
    assert out["2024-07-15 12:00:00"].hour == 16
    # no location: wall time reads as UTC (session tz)
    plain = ps.time_parse(df, layout="%Y-%m-%d %H:%M:%S").collect()[0]
    assert plain["event_ts"].hour == 12
