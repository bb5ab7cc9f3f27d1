"""Round-4 regression tests for the ADVICE defects.

Each test pins one reported failure mode:
  1. multi-metric grouping sets double-count when two metrics list the
     same attrs in different order (connectors.py membership dedupe)
  2. OTTL time/duration math (LANGUAGE.md L198-218) — timestamp
     subtraction and time ± Duration must compile, * and / must not
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.operators import connectors, ottl


def _turns(spark):
    return spark.createDataFrame(
        [
            (1, "search", "user", 10),
            (2, "search", "assistant", 20),
            (3, "calc", "user", 30),
            (4, "calc", "assistant", 40),
        ],
        ["id", "tool", "role", "items"],
    )


def test_multi_metric_same_membership_different_order_no_double_count(spark):
    """Two metrics whose attr lists have equal MEMBERSHIP but different
    order share one grouping set — previously each keep-filter matched
    both copies and every data point was emitted twice."""
    df = _turns(spark)
    out = connectors.count_connector_multi(
        df,
        {
            "a.by_tool_role": connectors.MetricSpec(attrs=["tool", "role"]),
            "b.by_role_tool": connectors.MetricSpec(attrs=["role", "tool"]),
        },
    ).collect()
    by_metric: dict[str, list] = {}
    for r in by_metric_rows(out):
        by_metric.setdefault(r["metric"], []).append(r)
    # 4 distinct (tool, role) groups per metric — and exactly once each
    assert len(by_metric["a.by_tool_role"]) == 4
    assert len(by_metric["b.by_role_tool"]) == 4
    keys = sorted((r["tool"], r["role"]) for r in by_metric["a.by_tool_role"])
    assert keys == sorted(set(keys)), "duplicate data points emitted"
    assert all(r["value"] == 1 for r in out)


def by_metric_rows(rows):
    return [r.asDict() for r in rows]


def test_ottl_time_minus_time_yields_duration_nanos(spark):
    """LANGUAGE.md: time.Time - time.Time -> time.Duration. Regression:
    the compile-time family check rejected all non-numeric math."""
    t0 = datetime.datetime(2026, 1, 1, 0, 0, 0)
    t1 = datetime.datetime(2026, 1, 1, 0, 0, 42)
    df = spark.createDataFrame([(t0, t1, 0)], ["a", "b", "gap"])
    out = ottl.apply_statements(df, ["set(gap, b - a)"]).collect()[0]
    assert out["gap"] == 42 * 1_000_000_000


def test_ottl_time_plus_duration(spark):
    t0 = datetime.datetime(2026, 1, 1, 0, 0, 0)
    df = spark.createDataFrame([(t0,)], ["ts"])
    out = ottl.apply_statements(
        df, ['set(ts, ts + Duration("1h30m"))']
    ).collect()[0]
    assert out["ts"] == datetime.datetime(2026, 1, 1, 1, 30, 0)
    out2 = ottl.apply_statements(
        df, ['set(ts, ts - Duration("30m"))']
    ).collect()[0]
    assert out2["ts"] == datetime.datetime(2025, 12, 31, 23, 30, 0)
    # duration + time -> time (commuted form is explicitly in the table)
    out3 = ottl.apply_statements(
        df, ['set(ts, Duration("24h") + ts)']
    ).collect()[0]
    assert out3["ts"] == datetime.datetime(2026, 1, 2, 0, 0, 0)


def test_ottl_duration_plus_duration(spark):
    df = spark.createDataFrame([(0,)], ["d"])
    out = ottl.apply_statements(
        df, ['set(d, Duration("1h") + Duration("15m"))']
    ).collect()[0]
    assert out["d"] == (3600 + 900) * 1_000_000_000
    out2 = ottl.apply_statements(
        df, ['set(d, Duration("1h") - Duration("15m"))']
    ).collect()[0]
    assert out2["d"] == (3600 - 900) * 1_000_000_000


def test_ottl_time_multiply_rejected(spark):
    """`time.Time and time.Duration can only be used with + and -`."""
    t0 = datetime.datetime(2026, 1, 1)
    df = spark.createDataFrame([(t0, t0, 0)], ["a", "b", "x"])
    with pytest.raises(ValueError, match="time/duration"):
        ottl.apply_statements(df, ["set(x, a * b)"])
    # time + time is not in the rules table either
    with pytest.raises(ValueError, match="time/duration"):
        ottl.apply_statements(df, ["set(x, a + b)"])


def test_detect_system_probe(spark):
    """resourcedetection `system` detector: a real driver-side probe
    (hostname cascade, os.type enum, semconv host.arch, os.description)
    whose output lands with insert-if-absent semantics."""
    from opentelemetry_collector_contrib_spark.operators import processors

    attrs = processors.detect_system(with_host_id=True)
    # this sandbox is linux; the probe must find real values
    assert attrs["os.type"] == "linux"
    assert attrs["host.arch"] in (
        "amd64", "arm64", "x86", "arm32", "ppc64", "ppc64le", "s390x"
    )
    assert attrs["host.name"]  # dns -> os cascade always lands one
    assert "linux" in attrs["os.description"].lower()

    df = spark.createDataFrame(
        [("a", "pinned"), ("b", None)], ["id", "host.name"]
    )
    out = processors.resource_detect(df, attrs)
    rows = {r["id"]: r for r in out.collect()}
    # override=false: existing non-null value wins, nulls are filled
    assert rows["a"]["host.name"] == "pinned"
    assert rows["b"]["host.name"] == attrs["host.name"]
    assert rows["a"]["os.type"] == "linux"


def test_detect_system_source_order(spark):
    """hostname_sources cascade: 'os' alone must take the kernel name."""
    import socket

    from opentelemetry_collector_contrib_spark.operators import processors

    attrs = processors.detect_system(hostname_sources=("os",))
    assert attrs["host.name"] == socket.gethostname()


def test_detect_env_and_config_list_form(spark, monkeypatch):
    """env detector parses OTEL_RESOURCE_ATTRIBUTES (url-decoded values);
    config `detectors: [system, env]` runs the cascade with earlier
    detectors winning, like the reference merge."""
    from opentelemetry_collector_contrib_spark.operators import processors
    from opentelemetry_collector_contrib_spark.plans import config_pipeline as cpl

    monkeypatch.setenv(
        "OTEL_RESOURCE_ATTRIBUTES",
        "service.name=checkout,deployment.environment=prod%2Feu, os.type=zos",
    )
    env = processors.detect_env()
    assert env["service.name"] == "checkout"
    assert env["deployment.environment"] == "prod/eu"

    merged = processors.resolve_detectors(["system", "env"])
    # system ran first: its os.type beats env's zos
    assert merged["os.type"] == "linux"
    assert merged["service.name"] == "checkout"

    with pytest.raises(ValueError, match="unknown detector"):
        processors.resolve_detectors(["gcp"])

    df = spark.createDataFrame([("a",)], ["id"])
    out = cpl.STAGE_REGISTRY["resource_detect"](
        df, spark, None, {"detectors": ["system", "env"]}
    )
    row = out.collect()[0]
    assert row["service.name"] == "checkout" and row["os.type"] == "linux"


def test_filter_drop_ratio_deterministic(spark):
    """drop_ratio sampling must be retry-stable: two evaluations of the
    same plan keep the identical row set, and the kept fraction tracks
    the ratio."""
    from opentelemetry_collector_contrib_spark.operators import transformers as tr

    df = spark.range(4000).select(
        F.col("id"), (F.col("id") % 2 == 0).alias("is_even")
    )
    out = tr.filter_drop(df, F.col("is_even"), drop_ratio=0.5, seed=7)
    a = {r["id"] for r in out.collect()}
    b = {r["id"] for r in out.collect()}
    assert a == b
    # all odd rows survive (cond false); ~half the even rows dropped
    assert all(i in a for i in range(1, 4000, 2))
    kept_even = sum(1 for i in a if i % 2 == 0)
    assert 700 < kept_even < 1300  # 2000 evens, ratio 0.5, loose bound
    # different seed -> different sample
    c = {
        r["id"]
        for r in tr.filter_drop(
            df, F.col("is_even"), drop_ratio=0.5, seed=8
        ).collect()
    }
    assert c != a
