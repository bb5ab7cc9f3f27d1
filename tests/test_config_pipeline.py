"""Config-driven pipeline: stage types compile from a dict, the flagship
config survives a YAML round trip, and bad configs fail at build time."""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from opentelemetry_collector_contrib_spark.operators import connectors  # noqa: E402
from opentelemetry_collector_contrib_spark.plans import (  # noqa: E402
    config_pipeline as cfgp,
    pipeline,
)
from opentelemetry_collector_contrib_spark.schema import (  # noqa: E402
    PARSE_PATTERN,
    PARSE_GROUPS,
)


def test_config_pipeline_with_ottl_and_filter(spark, sf_dir):
    config = {
        "processors": [
            {"type": "regex_parser", "pattern": PARSE_PATTERN, "groups": PARSE_GROUPS},
            {"type": "ottl", "statements": ["set(flag, 'err') where level == 'ERROR'"]},
            {"type": "filter", "drop_where": "role = 'system'"},
            {"type": "redact", "mask_patterns": {"u": r"user=\d+"},
             "mask_cols": ["text"]},
        ],
    }
    df, sink_map = cfgp.build_from_config(spark, sf_dir, config)
    assert sink_map == {}
    rows = df.select("role", "flag", "text").collect()
    assert all(r["role"] != "system" for r in rows)
    assert any(r["flag"] == "err" for r in rows)
    assert not any("user=1" in (r["text"] or "") for r in rows)


def test_unknown_stage_type_fails_at_build(spark, sf_dir):
    with pytest.raises(ValueError, match="unknown processor type"):
        cfgp.build_from_config(
            spark, sf_dir, {"processors": [{"type": "bogus"}]}
        )


def test_missing_required_key_fails_before_any_stage_runs(
    spark, sf_dir, monkeypatch
):
    # a valid first stage that records every call: validation
    # must reject the config before any stage builds
    calls = []

    def spy(df, spark, sf_dir, cfg):
        calls.append(cfg)
        return df

    monkeypatch.setitem(cfgp.STAGE_REGISTRY, "severity_parser", spy)
    first = {"type": "severity_parser", "parse_from": "level"}
    bad = [
        ([first, {"type": "regex_parser"}], "'regex_parser'.*'pattern'"),
        ([first, {"type": "csv_parser"}], "'csv_parser'.*'header'"),
        (
            [first,
             {"type": "logstransform", "operators": [{"type": "filter"}]}],
            "'filter'.*'drop_where'",
        ),
        ([first, {"type": "filter", "drop_where": "false", "observe": True}],
         "'filter' observe entry needs a 'name'"),
    ]
    for processors, match in bad:
        with pytest.raises(ValueError, match=match):
            cfgp.build_from_config(spark, sf_dir, {"processors": processors})
    assert calls == []


def test_stage_registry_stage_types():
    collector = {
        "resource_detect", "logstransform", "regex_parser", "grok_parser",
        "key_value_parser", "severity_parser", "time_parser", "csv_parser",
        "json_parser", "uri_parser", "trace_parser", "syslog_parser",
        "container_parser", "otlpjson", "recombine", "logdedup",
        "attributes", "enrich", "groupbyattrs", "ottl", "filter", "redact",
    }
    assert len(collector) == 22
    assert set(cfgp.STAGE_REGISTRY) == collector


def test_recombine_options(spark, sf_dir):
    from opentelemetry_collector_contrib_spark.operators import transformers
    from opentelemetry_collector_contrib_spark.sources import transcripts as src

    turns = src.transcripts_df(spark, sf_dir)
    newest = transformers.recombine(
        turns, is_last=(F.col("turn_idx") % 5 == 4), overwrite_with="newest"
    )
    r = newest.filter(F.col("n_combined") == 5).first()
    assert r is not None and r["turn_idx"] % 5 == 4  # base = newest entry
    capped = transformers.recombine(
        turns, is_last=(F.col("turn_idx") % 5 == 4), max_batch_size=2
    )
    assert capped.agg(F.max("n_combined")).first()[0] <= 2
    # total rows preserved across sub-batches
    assert (
        capped.agg(F.sum("n_combined")).first()[0]
        == turns.count()
    )


def test_yaml_config_roundtrip(spark, sf_dir, tmp_path):
    import yaml

    p = tmp_path / "pipe.yaml"
    p.write_text(yaml.safe_dump(pipeline.FLAGSHIP))
    cfg = cfgp.load_config(str(p))
    assert cfg == pipeline.FLAGSHIP
    tagged, sink_map = cfgp.build_from_config(spark, sf_dir, cfg)
    got = {
        r["sink"]: r["n"]
        for r in connectors.routed_union(tagged, sink_map)
        .groupBy("sink").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    expect = {
        r["sink"]: r["n"]
        for r in pipeline.per_sink_counts(pipeline.build(spark, sf_dir)).collect()
    }
    assert got == expect


def test_round2_stages_via_config(spark, sf_dir):
    """Collector-config-style use of the round-2 operator surface:
    severity custom mapping, attributes action list, redaction summary,
    logdedup — each as one config block."""
    from opentelemetry_collector_contrib_spark.sources import transcripts as src

    from opentelemetry_collector_contrib_spark.schema import PARSE_PATTERN

    cfg = {
        "processors": [
            {
                "type": "regex_parser",
                "pattern": PARSE_PATTERN,
                "groups": ["ts_raw", "level", "component", "msg"],
            },
            {
                "type": "severity_parser",
                "mapping": {"error": ["oops"]},
                "overwrite_text": True,
            },
            {
                "type": "attributes",
                "actions": [
                    {"action": "upsert", "key": "pipeline", "value": "logs"},
                    {"action": "convert", "key": "turn_idx", "to": "string"},
                ],
            },
            {
                "type": "redact",
                "mask_patterns": {"ids": r"user=\d+"},
                "mask_cols": ["text"],
                "summary": "info",
            },
            {
                "type": "logdedup",
                "key_cols": ["role", "level"],
            },
        ],
    }
    out, sink_map = cfgp.build_from_config(spark, sf_dir, cfg)
    assert sink_map == {}
    rows = out.collect()
    assert rows and {"role", "level", "log_count"} <= set(out.columns)
    assert sum(r["log_count"] for r in rows) == src.transcripts_df(
        spark, sf_dir
    ).count()


def test_otlpjson_and_csv_stages_via_config(spark):
    env = (
        '{"resourceLogs":[{"resource":{"attributes":[]},"scopeLogs":'
        '[{"scope":{"name":"s","version":"1"},"logRecords":[{"timeUnixNano":"1",'
        '"severityText":"Info","body":{"stringValue":"a,\\"b,1\\",c"},'
        '"attributes":[]}]}]}]}'
    )
    source = spark.createDataFrame([(env,)], ["text"])
    cfg = {
        "processors": [
            {"type": "otlpjson"},
            {"type": "csv_parser", "header": ["f1", "f2", "f3"],
             "parse_from": "body"},
        ]
    }
    out, _ = cfgp.build_from_config(spark, "", cfg, source=source)
    r = out.collect()[0]
    assert r["scope_name"] == "s" and r["f2"] == "b,1" and r["parse_ok"]


def test_recombine_max_log_size(spark):
    from opentelemetry_collector_contrib_spark.operators import transformers

    # one conversation, entries of 4 chars, joined by '\n' (1 char):
    # cap=9 -> entry1(4) + sep+entry2(5) = 9 (not >cap), adding entry3
    # pushes to 14 > 9 -> flush [e1,e2,e3]; e4,e5 continue
    d = spark.createDataFrame(
        [("c", i, f"t{i:03d}") for i in range(5)],
        ["conv_id", "turn_idx", "text"],
    )
    out = transformers.recombine(
        d,
        is_first=F.lit(False),  # one logical group; splitting is by bytes
        max_log_size=9,
    ).orderBy("turn_idx").collect()
    texts = [r["text"] for r in out]
    assert texts == ["t000\nt001\nt002", "t003\nt004"]
    assert [r["n_combined"] for r in out] == [3, 2]
    assert [r["turn_idx"] for r in out] == [0, 3]
    # newest base keeps the last order key of each sub-batch
    newest = transformers.recombine(
        d, is_first=F.lit(False), max_log_size=9, overwrite_with="newest"
    ).orderBy("turn_idx").collect()
    assert [r["turn_idx"] for r in newest] == [2, 4]
    # total rows preserved
    assert sum(r["n_combined"] for r in out) == 5


def test_recombine_max_log_size_string_order(spark):
    """ADVICE r2: order column keeps its own type through the byte-flush
    path — string order must sort lexically, not ANSI-crash on a bigint
    cast; timestamp order must keep sub-second precision."""
    from opentelemetry_collector_contrib_spark.operators import transformers

    d = spark.createDataFrame(
        [("c", f"k{i}", f"t{i:03d}") for i in range(5)],
        ["conv_id", "ord", "text"],
    )
    out = (
        transformers.recombine(
            d,
            order_col="ord",
            is_first=F.lit(False),
            max_log_size=9,
        )
        .orderBy("ord")
        .collect()
    )
    assert [r["text"] for r in out] == ["t000\nt001\nt002", "t003\nt004"]
    assert [r["ord"] for r in out] == ["k0", "k3"]
    # timestamp order: sub-second ordering must survive (no bigint cast)
    ts = spark.createDataFrame(
        [("c", f"2024-01-01 00:00:00.00{i}", f"t{i:03d}") for i in range(4)],
        ["conv_id", "raw", "text"],
    ).select("conv_id", F.to_timestamp("raw").alias("ord"), "text")
    got = (
        transformers.recombine(
            ts, order_col="ord", is_first=F.lit(False), max_log_size=9
        )
        .orderBy("ord")
        .collect()
    )
    assert [r["text"] for r in got] == ["t000\nt001\nt002", "t003"]
    assert got[0]["ord"].microsecond == 0 and got[1]["ord"].microsecond == 3000


def test_routing_request_context(spark, sf_dir):
    """routingconnector request context (internal/request.go:19-64):
    request["k"] == "v" metadata conditions resolve once per run on the
    driver; matching runs route whole payloads, others fall through."""
    from opentelemetry_collector_contrib_spark.operators import connectors
    from opentelemetry_collector_contrib_spark.sources import transcripts as src

    turns = src.transcripts_df(spark, sf_dir)
    routes = [
        connectors.Route(
            condition='request["tenant"] == "acme"',
            context="request",
            sinks=["acme_sink"],
            name="acme",
        ),
        connectors.Route(
            condition=F.col("role") == "system",
            sinks=["system_sink"],
            name="system",
        ),
    ]
    n = turns.count()
    # matching run: every row takes the request route (first match wins)
    tagged, smap = connectors.route_logs(
        turns, routes, default_sinks=["catchall"],
        request_metadata={"tenant": "acme"},
    )
    counts = {
        r["sink"]: r["n"]
        for r in connectors.routed_union(tagged, smap)
        .groupBy("sink").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert counts == {"acme_sink": n}
    # non-matching run: request route inert; rows fall to later routes
    tagged2, smap2 = connectors.route_logs(
        turns, routes, default_sinks=["catchall"],
        request_metadata={"tenant": "other"},
    )
    counts2 = {
        r["sink"]: r["n"]
        for r in connectors.routed_union(tagged2, smap2)
        .groupBy("sink").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    n_sys = turns.filter(F.col("role") == "system").count()
    assert counts2 == {"system_sink": n_sys, "catchall": n - n_sys}
    # != operator and missing-key semantics
    assert connectors.eval_request_condition('request["a"] != "x"', {}) is True
    assert connectors.eval_request_condition('request["a"] == "x"', None) is False


def test_config_request_route_and_groupbyattrs(spark, sf_dir):
    """Config registry round-trip for the round-3 surface: a request-
    context route (raw condition string, per-run metadata) plus a
    groupbyattrs stage."""
    cfg = {
        "processors": [{"type": "groupbyattrs", "keys": ["tool"]}],
        "routes": [
            {
                "condition": 'request["env"] == "prod"',
                "context": "request",
                "sinks": ["prod_sink"],
                "name": "prod",
            }
        ],
        "default_sinks": ["rest"],
    }
    tagged, smap = cfgp.build_from_config(
        spark, sf_dir, cfg, request_metadata={"env": "prod"}
    )
    labels = {r["_route"] for r in tagged.select("_route").distinct().collect()}
    assert labels == {"prod"} and smap["prod"] == ["prod_sink"]
    tagged2, _ = cfgp.build_from_config(
        spark, sf_dir, cfg, request_metadata={"env": "dev"}
    )
    labels2 = {r["_route"] for r in tagged2.select("_route").distinct().collect()}
    assert labels2 == {"default"}


def test_logstransform_stage_embeds_operator_pipeline(spark, sf_dir):
    """logstransform (processor/logstransformprocessor): a processor
    whose config nests a stanza operator list — must equal applying the
    same stages unnested, and reject unknown nested operators."""
    nested = {
        "processors": [
            {"type": "logstransform", "operators": [
                {"type": "regex_parser", "pattern": PARSE_PATTERN,
                 "groups": PARSE_GROUPS},
                {"type": "severity_parser", "parse_from": "level"},
            ]},
        ]
    }
    flat = {
        "processors": [
            {"type": "regex_parser", "pattern": PARSE_PATTERN,
             "groups": PARSE_GROUPS},
            {"type": "severity_parser", "parse_from": "level"},
        ]
    }
    a, _ = cfgp.build_from_config(spark, sf_dir, nested)
    b, _ = cfgp.build_from_config(spark, sf_dir, flat)
    assert a.columns == b.columns
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    with pytest.raises(ValueError, match="logstransform operator"):
        cfgp.build_from_config(
            spark, sf_dir,
            {"processors": [
                {"type": "logstransform", "operators": [{"type": "nope"}]}
            ]},
        )
