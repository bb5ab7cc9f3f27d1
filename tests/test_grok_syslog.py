"""Grok compilation + syslog RFC3164 units (paths not covered by the
oracle-parity gate)."""

from __future__ import annotations

import os
import re
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from opentelemetry_collector_contrib_spark.operators import grok, parsers  # noqa: E402


def test_grok_expansion_compiles_and_matches():
    rx = grok.grok_to_regex("%{TIMESTAMP_ISO8601:ts} %{LOGLEVEL:lvl} %{GREEDYDATA:msg}")
    m = re.search(rx, "2024-03-01T08:15:00Z ERROR something broke")
    assert m and m.group("ts") == "2024-03-01T08:15:00Z"
    assert m.group("lvl") == "ERROR" and m.group("msg") == "something broke"


def test_grok_custom_definitions_shadow_builtin():
    rx = grok.grok_to_regex(
        "%{CONVID:conv}", definitions={"CONVID": r"conv-\d{8}"}
    )
    assert re.fullmatch(rx, "conv-00001234")


def test_grok_unknown_pattern_raises():
    with pytest.raises(ValueError, match="unknown grok pattern"):
        grok.grok_to_regex("%{NOPE:x}")


def test_grok_cycle_detected():
    with pytest.raises(ValueError, match="recursion too deep"):
        grok.grok_to_regex("%{A:x}", definitions={"A": "%{B}", "B": "%{A}"})


def test_syslog_rfc3164(spark):
    df = spark.createDataFrame(
        [
            (1, "<34>Oct 11 22:14:15 mymachine su[230]: 'su root' failed"),
            (2, "<13>Feb  5 01:02:03 host1 app: hello"),
            (3, "not syslog at all"),
        ],
        ["id", "text"],
    )
    out = {r["id"]: r for r in parsers.syslog_parse(df, protocol="rfc3164").collect()}
    assert out[1]["parse_ok"] and out[1]["hostname"] == "mymachine"
    assert out[1]["appname"] == "su" and out[1]["proc_id"] == "230"
    assert out[1]["facility"] == 4 and out[1]["severity"] == 2  # pri 34
    assert out[2]["appname"] == "app" and out[2]["message"] == "hello"
    assert not out[3]["parse_ok"] and out[3]["hostname"] is None
