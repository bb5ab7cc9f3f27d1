"""OTTL-lite statement corpus — `statement -> expected DataFrame` cases,
mirroring the reference's e2e statement tests (pkg/ottl/e2e/e2e_test.go)."""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from opentelemetry_collector_contrib_spark.operators import ottl  # noqa: E402


@pytest.fixture(scope="module")
def df(spark):
    return spark.createDataFrame(
        [
            (1, "user", "2024-01-01T00:00:00Z INFO ok", "bash", {"a": "1", "b": "xx"}),
            (2, "assistant", "freeform junk", "", {"a": "2", "b": "yyyy"}),
            (3, "system", "2024-01-01T00:00:05Z ERROR bad", "search", {"c": "3"}),
        ],
        ["id", "role", "text", "tool", "attrs"],
    )


def rows(df):
    return [r.asDict() for r in df.orderBy("id").collect()]


def test_set_literal(df):
    out = ottl.apply_statements(df, ["set(pipeline, 'logs')"])
    assert all(r["pipeline"] == "logs" for r in rows(out))


def test_set_where_gate_leaves_others_untouched(df):
    out = ottl.apply_statements(
        df, ["set(flag, 'sys') where role == 'system'"]
    )
    got = {r["id"]: r["flag"] for r in rows(out)}
    assert got == {1: None, 2: None, 3: "sys"}


def test_set_body_path_maps_to_text(df):
    out = ottl.apply_statements(df, ["set(body, ToUpperCase(body)) where id == 1"])
    got = {r["id"]: r["text"] for r in rows(out)}
    assert got[1].startswith("2024-01-01T00:00:00Z INFO OK".upper()[:20])
    assert got[2] == "freeform junk"


def test_set_nil_is_noop(df):
    out = ottl.apply_statements(df, ["set(role, nil)"])
    assert [r["role"] for r in rows(out)] == ["user", "assistant", "system"]


def test_statements_apply_in_order(df):
    out = ottl.apply_statements(
        df, ["set(x, 'first')", "set(x, Concat([x, 'second'], '-'))"]
    )
    assert all(r["x"] == "first-second" for r in rows(out))


def test_where_with_and_or_not(df):
    out = ottl.apply_statements(
        df,
        ["set(m, 'y') where (role == 'user' or role == 'system') and not (id == 3)"],
    )
    got = {r["id"]: r["m"] for r in rows(out)}
    assert got == {1: "y", 2: None, 3: None}


def test_extract_patterns_map(df):
    out = ottl.apply_statements(
        df,
        ["set(parts, ExtractPatterns(body, '^(?P<ts>[0-9]{4}-\\\\S+) (?P<lvl>[A-Z]+)'))"],
    )
    got = {r["id"]: r["parts"] for r in rows(out)}
    assert got[1] == {"ts": "2024-01-01T00:00:00Z", "lvl": "INFO"}
    assert got[2] == {}  # empty map on no-match (func_extract_patterns.go:58-61)


def test_replace_pattern(df):
    out = ottl.apply_statements(
        df, ["replace_pattern(body, '[0-9]{4}-[0-9]{2}-[0-9]{2}', 'DATE')"]
    )
    assert rows(out)[0]["text"].startswith("DATE")


def test_keep_keys_and_delete_key_on_map(df):
    out = ottl.apply_statements(df, ["keep_keys(attrs, ['a'])"])
    got = {r["id"]: r["attrs"] for r in rows(out)}
    assert got[1] == {"a": "1"} and got[3] == {}
    out2 = ottl.apply_statements(df, ["delete_key(attrs, 'b')"])
    got2 = {r["id"]: r["attrs"] for r in rows(out2)}
    assert got2[1] == {"a": "1"} and got2[3] == {"c": "3"}


def test_truncate_all(df):
    out = ottl.apply_statements(df, ["truncate_all(attrs, 1)"])
    got = {r["id"]: r["attrs"] for r in rows(out)}
    assert got[1] == {"a": "1", "b": "x"}


def test_math_and_comparison(df):
    out = ottl.apply_statements(df, ["set(v, id * 2 + 1) where id >= 2"])
    got = {r["id"]: r["v"] for r in rows(out)}
    assert got == {1: None, 2: 5, 3: 7}


def test_converters_hash_time(df):
    out = ottl.apply_statements(
        df,
        [
            "set(h, SHA256(role))",
            'set(ts2, Time(Substring(body, 0, 20), "%Y-%m-%dT%H:%M:%S%z")) '
            "where IsMatch(body, '^[0-9]{4}-')",
            "set(hr, Hour(ts2))",
        ],
    )
    r = rows(out)
    assert len(r[0]["h"]) == 64
    assert r[0]["hr"] == 0 and r[1]["hr"] is None


def test_error_mode_ignore_int_conversion(df):
    out = ottl.apply_statements(
        df, ["set(n, Int(tool))"], error_mode="ignore"
    )
    assert all(r["n"] is None for r in rows(out))


def test_unknown_converter_raises():
    with pytest.raises(ValueError, match="unknown converter"):
        ottl.compile_statement("set(x, Bogus(y))")


def test_parse_error_raises():
    with pytest.raises(ValueError):
        ottl.compile_statement("set(x, 'unterminated")


def test_merge_maps_modes(df):
    base = ["set(src, ParseKeyValue('a=9 c=7'))"]
    for mode, expect in [
        ("upsert", {"a": "9", "b": None, "c": "7"}),
        ("insert", {"a": "1", "b": None, "c": "7"}),
        ("update", {"a": "9", "b": None, "c": None}),
    ]:
        out = ottl.apply_statements(
            df, base + [f"merge_maps(attrs, src, '{mode}')"]
        )
        got = rows(out)[0]["attrs"]  # id=1 row: attrs={a:1,b:xx}
        assert got.get("a") == expect["a"], (mode, got)
        assert ("c" in got) == (expect["c"] is not None), (mode, got)
        assert got.get("b") == ("xx" if "b" in got else None)


def test_replace_match_glob(df):
    out = ottl.apply_statements(
        df, ["replace_match(role, 'sys*', 'SYSTEM')"]
    )
    got = {r["id"]: r["role"] for r in rows(out)}
    assert got == {1: "user", 2: "assistant", 3: "SYSTEM"}


def test_parse_json_converter(df):
    out = ottl.apply_statements(
        df, ["set(j, ParseJSON('{\"x\": \"1\", \"y\": \"two\"}'))"]
    )
    assert rows(out)[0]["j"] == {"x": "1", "y": "two"}


def test_type_predicates_static_resolution(df):
    out = ottl.apply_statements(
        df,
        [
            "set(s_is_str, IsString(role))",
            "set(i_is_int, IsInt(id))",
            "set(m_is_map, IsMap(attrs))",
            "set(s_is_int, IsInt(role))",
        ],
    )
    r = rows(out)[0]
    assert r["s_is_str"] is True and r["i_is_int"] is True
    assert r["m_is_map"] is True and r["s_is_int"] is False


def test_url_and_useragent_converters(spark):
    df2 = spark.createDataFrame(
        [(1, "https://ex.com/a/b?k=v",
          "Mozilla/5.0 (Windows NT 10.0) Chrome/120.0.0.0 Safari/537.36")],
        ["id", "u", "ua"],
    )
    out = ottl.apply_statements(df2, ["set(up, URL(u))", "set(uap, UserAgent(ua))"])
    r = out.collect()[0]
    assert r["up"]["url.scheme"] == "https" and r["up"]["url.domain"] == "ex.com"
    assert r["up"]["url.path"] == "/a/b" and r["up"]["url.query"] == "k=v"
    assert r["uap"]["user_agent.name"] == "Chrome"
    assert r["uap"]["user_agent.version"] == "120.0.0"
    assert r["uap"]["user_agent.original"] == (
        "Mozilla/5.0 (Windows NT 10.0) Chrome/120.0.0.0 Safari/537.36"
    )


# ---------------------------------------------------------------------------
# round-2 converter/editor tail (ottlfuncs func_flatten/delete_matching_keys/
# limit-priority/fnv/murmur3_128/sha512/duration/formattime/weekday/decode/
# slice_to_map/to_key_value_string/parse_csv/parse_xml)
# ---------------------------------------------------------------------------


def test_delete_and_keep_matching_keys(df):
    out = ottl.apply_statements(df, ['delete_matching_keys(attrs, "^a$")'])
    got = {r["id"]: r["attrs"] for r in rows(out)}
    assert got[1] == {"b": "xx"} and got[3] == {"c": "3"}
    out2 = ottl.apply_statements(df, ['keep_matching_keys(attrs, "^[ab]$")'])
    got2 = {r["id"]: r["attrs"] for r in rows(out2)}
    assert got2[1] == {"a": "1", "b": "xx"} and got2[3] == {}


def test_delete_key_flat_column_with_where_nulls_per_row(df):
    # advisor fix: a gated delete must not drop the column for ALL rows
    out = ottl.apply_statements(
        df.withColumn("extra", F.lit("v")),
        ["delete_key(attributes, 'extra') where role == 'system'"],
    )
    got = {r["id"]: r["extra"] for r in rows(out)}
    assert got == {1: "v", 2: "v", 3: None}


def test_flatten_editor_nested_map(spark):
    d = spark.createDataFrame(
        [(1,)], ["id"]
    ).withColumn(
        "m",
        F.create_map(
            F.lit("o"), F.create_map(F.lit("i1"), F.lit("a"), F.lit("i2"), F.lit("b"))
        ),
    )
    out = ottl.apply_statements(d, ["flatten(m)"])
    assert out.collect()[0]["m"] == {"o.i1": "a", "o.i2": "b"}
    out2 = ottl.apply_statements(d, ['flatten(m, "p")'])
    assert out2.collect()[0]["m"] == {"p.o.i1": "a", "p.o.i2": "b"}


def test_flatten_editor_array_values(spark):
    d = spark.createDataFrame([(1,)], ["id"]).withColumn(
        "m", F.create_map(F.lit("k"), F.array(F.lit("x"), F.lit("y")))
    )
    out = ottl.apply_statements(d, ["flatten(m)"])
    assert out.collect()[0]["m"] == {"k.0": "x", "k.1": "y"}


def test_limit_priority_keys(df):
    # size > limit: priority key survives, then entry order; no-op rows
    # with size <= limit keep all keys (func_limit.go:55-58)
    out = ottl.apply_statements(df, ['limit(attrs, 1, ["b"])'])
    got = {r["id"]: r["attrs"] for r in rows(out)}
    assert got[1] == {"b": "xx"}
    assert got[3] == {"c": "3"}  # size 1 <= limit: untouched
    with pytest.raises(ValueError):
        ottl.apply_statements(df, ['limit(attrs, 1, ["a", "b"])'])


def test_fnv_matches_reference_algorithm(spark):
    d = spark.createDataFrame([("a",), ("hello world",), ("",)], ["s"])
    out = ottl.apply_statements(d, ["set(h, FNV(s))"]).collect()

    def fnv64a(b: bytes) -> int:
        h = 14695981039346656037
        for x in b:
            h = ((h ^ x) * 1099511628211) % (1 << 64)
        return h - (1 << 64) if h >= (1 << 63) else h

    for r in out:
        assert r["h"] == fnv64a(r["s"].encode()), r["s"]


def test_murmur3_128_known_vectors(spark):
    # mmh3.hash_bytes("hello").hex() / spaolacci murmur3 Sum128
    d = spark.createDataFrame([("hello",), ("",)], ["s"])
    got = {r["s"]: r["h"] for r in
           ottl.apply_statements(d, ["set(h, Murmur3Hash128(s))"]).collect()}
    assert got["hello"] == "029bbd41b3a7d8cb191dae486a901e5b"
    assert got[""] == "0" * 32


def test_sha512_matches_hashlib(spark):
    import hashlib

    d = spark.createDataFrame([("abc",)], ["s"])
    out = ottl.apply_statements(d, ["set(h, SHA512(s))"]).collect()[0]["h"]
    assert out == hashlib.sha512(b"abc").hexdigest()


def test_duration_family(spark):
    d = spark.createDataFrame(
        [("1h30m15.5s",), ("300ms",), ("2us",), ("-1.5h",), ("junk",),
         ("5s junk",), ("1h-30m",), ("0",), ("-0",)], ["s"]
    )
    out = ottl.apply_statements(
        d,
        [
            "set(ns, Duration(s))",
            "set(sec, Seconds(Duration(s)))",
            "set(mins, Minutes(Duration(s)))",
            "set(ms, Milliseconds(Duration(s)))",
        ],
    )
    got = {r["s"]: r for r in out.collect()}
    assert got["1h30m15.5s"]["ns"] == 5_415_500_000_000
    assert got["1h30m15.5s"]["sec"] == 5415.5
    assert got["300ms"]["ns"] == 300_000_000 and got["300ms"]["ms"] == 300
    assert got["2us"]["ns"] == 2_000
    assert got["-1.5h"]["ns"] == -5_400_000_000_000
    assert got["-1.5h"]["mins"] == -90.0
    assert got["junk"]["ns"] is None
    # Go time.ParseDuration errors on partially-valid strings; strict
    # full-match nulls them instead of silently keeping the valid part
    assert got["5s junk"]["ns"] is None
    assert got["1h-30m"]["ns"] is None
    # ...but bare "0" (no unit) is the one valid unit-less duration
    assert got["0"]["ns"] == 0 and got["-0"]["ns"] == 0


def test_formattime_now_weekday(spark):
    d = spark.createDataFrame([("2024-03-05 10:20:30",)], ["raw"]).withColumn(
        "ts", F.to_timestamp("raw")
    )
    out = ottl.apply_statements(
        d,
        [
            'set(fmt, FormatTime(ts, "%Y/%m/%d"))',
            "set(wd, Weekday(ts))",
            "set(now_ts, Now())",
        ],
    ).collect()[0]
    assert out["fmt"] == "2024/03/05"
    assert out["wd"] == 2  # Tuesday; Go Weekday Sunday=0
    assert out["now_ts"] is not None


def test_decode_encodings(spark):
    d = spark.createDataFrame([("aGk=", "6869")], ["b64", "hx"])
    out = ottl.apply_statements(
        d,
        [
            'set(a, Decode(b64, "base64"))',
            'set(b, Decode(hx, "hex"))',
            'set(c, Decode(a, "utf-8"))',
        ],
    ).collect()[0]
    assert out["a"] == "hi" and out["b"] == "hi" and out["c"] == "hi"
    with pytest.raises(ValueError):
        ottl.apply_statements(d, ['set(x, Decode(b64, "ebcdic"))'])


def test_slice_to_map_with_and_without_value_path(spark):
    d = spark.createDataFrame([(1,)], ["id"]).withColumn(
        "arr",
        F.array(
            F.create_map(F.lit("name"), F.lit("n1"), F.lit("v"), F.lit("x")),
            F.create_map(F.lit("name"), F.lit("n2"), F.lit("v"), F.lit("y")),
        ),
    )
    out = ottl.apply_statements(d, ['set(m, SliceToMap(arr, "name", "v"))'])
    assert out.collect()[0]["m"] == {"n1": "x", "n2": "y"}
    out2 = ottl.apply_statements(d, ['set(m2, SliceToMap(arr, "name"))'])
    assert out2.collect()[0]["m2"]["n2"] == {"name": "n2", "v": "y"}


def test_to_key_value_string_escaping(spark):
    d = spark.createDataFrame([(1,)], ["id"]).withColumn(
        "m", F.create_map(F.lit("k1"), F.lit('va "q" l'), F.lit("k 2"), F.lit("v2"))
    )
    out = ottl.apply_statements(
        d, ['set(s, ToKeyValueString(m, "=", " ", true))']
    ).collect()[0]["s"]
    # '"' escaped, values/keys containing pair delimiter quoted
    assert out == '"k 2"=v2 k1="va \\"q\\" l"'


def test_parse_csv_modes(spark):
    d = spark.createDataFrame([('a,"b,1",c',)], ["line"])
    out = ottl.apply_statements(
        d,
        [
            'set(m, ParseCSV(line, "h1,h2,h3"))',
            'set(m2, ParseCSV(line, "h1,h2,h3", ",", ",", "ignoreQuotes"))',
        ],
    ).collect()[0]
    assert out["m"] == {"h1": "a", "h2": "b,1", "h3": "c"}
    assert out["m2"]["h2"] == '"b'  # quotes literal when ignored


def test_parse_simplified_xml_nested(spark):
    xml = "<root><a>1</a><b><c>x</c></b><d>p</d><d>q</d></root>"
    d = spark.createDataFrame([(xml,)], ["x"])
    out = ottl.apply_statements(d, ["set(j, ParseSimplifiedXML(x))"]).collect()[0]["j"]
    import json

    assert json.loads(out) == {"root": {"a": "1", "b": {"c": "x"}, "d": ["p", "q"]}}


def test_useragent_unknown_yields_other(spark):
    d = spark.createDataFrame([("SomeUnknownBot9.9 (x)",)], ["ua"])
    out = ottl.apply_statements(d, ["set(m, UserAgent(ua))"]).collect()[0]["m"]
    assert out["user_agent.name"] == "Other"
    assert out["user_agent.version"] == ""


# the reference's own test fixtures (func_useragent_test.go) — the
# vendored uap-core pattern subset must agree with uap-go on all of them
_UA_FIXTURES = [
    (
        "Mozilla/5.0 (X11; Linux x86_64; rv:126.0) Gecko/20100101 "
        "Firefox/126.0",
        "Firefox",
        "126.0",
    ),
    (
        "Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36 "
        "(KHTML, like Gecko) Chrome/51.0.2704.103 Safari/537.36",
        "Chrome",
        "51.0.2704",
    ),
    (
        "Mozilla/5.0 (iPhone; CPU iPhone OS 13_5_1 like Mac OS X) "
        "AppleWebKit/605.1.15 (KHTML, like Gecko) Version/13.1.1 "
        "Mobile/15E148 Safari/604.1",
        "Mobile Safari",
        "13.1.1",
    ),
    (
        "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
        "(KHTML, like Gecko) Chrome/91.0.4472.124 Safari/537.36 "
        "Edg/91.0.864.59",
        "Edge",
        "91.0.864",
    ),
    (
        "Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36 "
        "(KHTML, like Gecko) Chrome/51.0.2704.106 Safari/537.36 "
        "OPR/38.0.2220.41",
        "Opera",
        "38.0.2220",
    ),
    ("curl/7.81.0", "curl", "7.81.0"),
    ("foobar/1.2.3 (foo; bar baz)", "Other", ""),
    (
        "OpenTelemetry Collector Contrib/0.106.1 (linux/amd64)",
        "Other",
        "",
    ),
]


def test_useragent_reference_fixtures(spark):
    d = spark.createDataFrame([(ua,) for ua, _, _ in _UA_FIXTURES], ["ua"])
    rows = ottl.apply_statements(d, ["set(m, UserAgent(ua))"]).collect()
    got = {r["ua"]: r["m"] for r in rows}
    for ua, name, version in _UA_FIXTURES:
        m = got[ua]
        assert m["user_agent.name"] == name, (ua, m)
        assert m["user_agent.version"] == version, (ua, m)
        assert m["user_agent.original"] == ua


def test_useragent_extended_families(spark):
    from opentelemetry_collector_contrib_spark.operators.useragent import (
        user_agent_map,
    )
    from pyspark.sql import functions as F

    cases = [
        ("Mozilla/5.0 (Linux; Android 13; SM-S901B) AppleWebKit/537.36 "
         "(KHTML, like Gecko) SamsungBrowser/23.0 Chrome/115.0.0.0 "
         "Mobile Safari/537.36", "Samsung Internet", "23.0"),
        ("Mozilla/5.0 (Linux; Android 10) AppleWebKit/537.36 "
         "(KHTML, like Gecko) Chrome/114.0.5735.196 Mobile "
         "Safari/537.36", "Chrome Mobile", "114.0.5735"),
        ("Mozilla/5.0 (iPhone; CPU iPhone OS 16_5 like Mac OS X) "
         "AppleWebKit/605.1.15 (KHTML, like Gecko) CriOS/114.0.5735.99 "
         "Mobile/15E148 Safari/604.1", "Chrome Mobile iOS", "114.0.5735"),
        ("Mozilla/5.0 (Windows NT 6.1; Trident/7.0; rv:11.0) like Gecko",
         "IE", "11.0"),
        ("Mozilla/4.0 (compatible; MSIE 8.0; Windows NT 6.1)", "IE", "8.0"),
        ("python-requests/2.31.0", "Python Requests", "2.31.0"),
        ("Go-http-client/2.0", "Go-http-client", "2.0"),
        ("Mozilla/5.0 (compatible; Googlebot/2.1; "
         "+http://www.google.com/bot.html)", "Googlebot", "2.1"),
        ("Wget/1.21.2", "Wget", "1.21.2"),
        ("okhttp/4.12.0", "okhttp", "4.12.0"),
    ]
    d = spark.createDataFrame([(ua,) for ua, _, _ in cases], ["ua"])
    rows = d.select("ua", user_agent_map(F.col("ua")).alias("m")).collect()
    got = {r["ua"]: r["m"] for r in rows}
    for ua, name, version in cases:
        assert got[ua]["user_agent.name"] == name, (ua, got[ua])
        assert got[ua]["user_agent.version"] == version, (ua, got[ua])


def test_replace_match_underscore_literal(spark):
    # '_' in the glob must match a literal underscore only
    d = spark.createDataFrame([("a_b",), ("axb",)], ["v"])
    out = ottl.apply_statements(d, ["replace_match(v, 'a_b', 'HIT')"])
    got = sorted(r["v"] for r in out.collect())
    assert got == ["HIT", "axb"]


def test_named_arguments_flatten_depth_and_prefix(spark):
    d = spark.createDataFrame([(1,)], ["id"]).withColumn(
        "m",
        F.create_map(
            F.lit("o"), F.create_map(F.lit("i"), F.lit("x"))
        ),
    )
    out = ottl.apply_statements(d, ['flatten(m, depth=1)'])
    assert out.collect()[0]["m"] == {"o.i": "x"}
    out2 = ottl.apply_statements(d, ['flatten(m, prefix="p", depth=1)'])
    assert out2.collect()[0]["m"] == {"p.o.i": "x"}
    with pytest.raises(ValueError):
        ottl.apply_statements(d, ["flatten(m, resolveConflicts=true)"])


def test_append_values_and_create_missing(df):
    out = ottl.apply_statements(
        df, ['append(newlist, values=["a", "b"])', 'append(newlist, "c")']
    )
    assert out.collect()[0]["newlist"] == ["a", "b", "c"]


def test_convert_case_dispatch(spark):
    d = spark.createDataFrame([("fooBar",)], ["v"])
    out = ottl.apply_statements(
        d,
        [
            'set(u, ConvertCase(v, "upper"))',
            'set(s, ConvertCase(v, "snake"))',
            'set(c, ConvertCase("foo_bar", "camel"))',
        ],
    ).collect()[0]
    assert out["u"] == "FOOBAR" and out["s"] == "foo_bar" and out["c"] == "FooBar"


def test_replace_pattern_with_hash_function(spark):
    import hashlib

    d = spark.createDataFrame([("a/b",)], ["v"])
    out = ottl.apply_statements(
        d, ["replace_pattern(v, '/', '@', SHA256)"]
    ).collect()[0]["v"]
    assert out == "a" + hashlib.sha256(b"@").hexdigest() + "b"


def test_unknown_named_argument_errors_loudly(df):
    with pytest.raises(ValueError):
        ottl.apply_statements(df, ['set(x, Concat([role, "y"], sep="-"))'])
    with pytest.raises(ValueError):
        ottl.apply_statements(df, ['truncate_all(attrs, 5, bogus=1)'])


def test_limit_priority_keys_named_form(df):
    out = ottl.apply_statements(df, ['limit(attrs, 1, priority_keys=["b"])'])
    got = {r["id"]: r["attrs"] for r in rows(out)}
    assert got[1] == {"b": "xx"}


def test_to_key_value_string_null_value_renders_empty(spark):
    d = spark.createDataFrame([(1,)], ["id"]).withColumn(
        "m",
        F.map_from_arrays(
            F.array(F.lit("a"), F.lit("b")),
            F.array(F.lit("1"), F.lit(None).cast("string")),
        ),
    )
    out = ottl.apply_statements(
        d, ['set(s, ToKeyValueString(m, "=", " ", true))']
    ).collect()[0]["s"]
    assert out == "a=1 b="


def test_replace_pattern_function_with_captures_refuses(spark):
    d = spark.createDataFrame([("user=1",)], ["v"])
    with pytest.raises(ValueError):
        ottl.apply_statements(d, ["replace_pattern(v, 'user=(\\d+)', '$1', SHA256)"])


def test_xml_editors(spark):
    d = spark.createDataFrame(
        [('<a id="1"><b>x</b><b>y</b><c k="v">z</c></a>',)], ["x"]
    )
    out = ottl.apply_statements(
        d,
        [
            'set(got, GetXML(x, "//b"))',
            'set(attr, GetXML(x, "//c/@k"))',
            'set(removed, RemoveXML(x, "//b"))',
            'set(ins, InsertXML(x, "/a/c", "<d>new</d>"))',
            'set(conv, ConvertAttributesToElementsXML(x))',
        ],
    ).collect()[0]
    assert out["got"] == "<b>x</b><b>y</b>"
    assert out["attr"] == "v"
    assert "<b>" not in out["removed"] and "<c" in out["removed"]
    assert "<d>new</d>" in out["ins"]
    assert "<id>1</id>" in out["conv"] and 'id="1"' not in out["conv"]
    assert "<k>v</k>" in out["conv"]


def test_convert_text_to_elements_xml(spark):
    d = spark.createDataFrame([("<a><b/>foo</a>",)], ["x"])
    out = ottl.apply_statements(
        d, ["set(y, ConvertTextToElementsXML(x))"]
    ).collect()[0]["y"]
    assert "<value>foo</value>" in out and "<b" in out


def test_unix_and_nanosecond_converters(spark):
    d = spark.createDataFrame([(1700000000, 123456789)], "sec long, nanos long")
    out = ottl.apply_statements(
        d,
        [
            "set(t, Unix(sec, nanos))",
            "set(t0, Unix(sec))",
            "set(ns, Nanosecond(Unix(sec, nanos)))",
            "set(um, UnixMicro(Unix(sec)))",
            "set(umi, UnixMilli(Unix(sec)))",
        ],
    ).collect()[0]
    assert out["um"] == 1_700_000_000_000_000
    assert out["umi"] == 1_700_000_000_000
    # µs-grain: 123456789ns -> 123456µs -> 123456000ns component
    assert out["ns"] == 123_456_000
    assert str(out["t0"]).startswith("2023-11-14")


def test_trim_cutset(spark):
    d = spark.createDataFrame([("xxhixx",)], ["v"])
    out = ottl.apply_statements(d, ['set(t, Trim(v, "x"))']).collect()[0]["t"]
    assert out == "hi"


def test_murmur3_32_known_vector(spark):
    # murmur3 Sum32("hello") = 0x248bfa47 -> LE hex "47fa8b24"
    d = spark.createDataFrame([("hello",)], ["s"])
    out = ottl.apply_statements(d, ["set(h, Murmur3Hash(s))"]).collect()[0]["h"]
    assert out == "47fa8b24"
    from opentelemetry_collector_contrib_spark.operators.udf_converters import (
        mmh3_x86_32,
    )
    assert mmh3_x86_32(b"hello") == 0x248BFA47
    assert mmh3_x86_32(b"") == 0


def test_comparison_coercion_table(spark):
    """LANGUAGE.md L263-289 comparison rules: differing types are never
    equal (== false, != true); nil equals only nil; int/float may mix in
    comparisons but NOT in math; ordering across types errors."""
    d = spark.createDataFrame(
        [(1, "1", 1.0, None), (2, "x", 2.5, "v")],
        "n int, s string, f double, maybe string",
    )
    out = ottl.apply_statements(
        d,
        [
            "set(eq_cross, n == s)",        # int vs string: never equal
            "set(ne_cross, n != s)",        # ...and != is true
            "set(eq_nummix, n == f)",       # int vs float: real compare
            "set(nil_eq, maybe == nil)",    # nil equals only nil
            "set(nil_ne, maybe != \"v\")",  # nil != "v" is TRUE
        ],
    )
    rows = {r["n"]: r for r in out.collect()}
    assert rows[1]["eq_cross"] is False and rows[1]["ne_cross"] is True
    assert rows[1]["eq_nummix"] is True and rows[2]["eq_nummix"] is False
    assert rows[1]["nil_eq"] is True and rows[2]["nil_eq"] is False
    assert rows[1]["nil_ne"] is True and rows[2]["nil_ne"] is False
    # int/float math mixing: compile-time error under propagate...
    with pytest.raises(ValueError, match="math between"):
        ottl.apply_statements(d, ["set(bad, n + f)"])
    # ...null result under ignore
    ig = ottl.apply_statements(d, ["set(bad, n + f)"], error_mode="ignore")
    assert all(r["bad"] is None for r in ig.collect())
    # explicit conversion is the sanctioned path
    ok = ottl.apply_statements(d, ["set(good, Double(n) + f)"])
    assert {r["good"] for r in ok.collect()} == {2.0, 4.5}
    # ordering across type families errors / is inert under ignore
    with pytest.raises(ValueError, match="order-compare"):
        ottl.apply_statements(d, ["set(bad2, s > n)"])
    ig2 = ottl.apply_statements(
        d, ['set(tag, "big") where s > n'], error_mode="ignore"
    )
    assert all(r["tag"] is None for r in ig2.collect())


def test_string_math_requires_conversion(spark):
    """LANGUAGE.md math rules extend beyond int/float mixing: string
    operands error under propagate and are inert under ignore (Spark
    would otherwise silently coerce '1' + 1 to 2.0)."""
    d = spark.createDataFrame([(1, "1")], "n int, s string")
    with pytest.raises(ValueError, match="math between"):
        ottl.apply_statements(d, ["set(x, s + 1)"])
    ig = ottl.apply_statements(d, ["set(x, s + 1)"], error_mode="ignore")
    assert ig.collect()[0]["x"] is None
    ok = ottl.apply_statements(d, ["set(x, Int(s) + 1)"])
    assert ok.collect()[0]["x"] == 2
