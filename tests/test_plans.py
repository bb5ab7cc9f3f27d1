"""plans/ layer: lineage counters, pipeline writes, routing."""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from opentelemetry_collector_contrib_spark.operators import connectors  # noqa: E402
from opentelemetry_collector_contrib_spark.plans import pipeline  # noqa: E402
from opentelemetry_collector_contrib_spark.sources import transcripts as src  # noqa: E402


@pytest.fixture(scope="module")
def turns(spark, sf_dir):
    # released at teardown: Spark's cache manager would otherwise swap the
    # cached source into every later build over the same input
    df = src.transcripts_df(spark, sf_dir).cache()
    yield df
    df.unpersist()


def test_lineage_counts_per_stage(spark, sf_dir, tmp_path):
    result = pipeline.build(spark, sf_dir)
    pipeline.per_sink_counts(result).collect()
    # run() reports the lineage of its write, the job that made the output
    from_write = pipeline.run(spark, sf_dir, out_dir=str(tmp_path))["lineage"]
    for lin in (result.lineage.collect(), from_write):
        assert lin["parse"]["rows"] == 1000
        assert lin["parse"]["parse_errors"] == 300  # 30% freeform by construction
        assert lin["enrich"]["rows"] == 1000
        assert lin["route"]["rows"] == 1000


def test_pipeline_run_writes_readable_sinks(spark, sf_dir, tmp_path):
    res = pipeline.run(spark, sf_dir, out_dir=str(tmp_path))
    total = 0
    for sink, path in res["sink_paths"].items():
        df = spark.read.parquet(path)
        n = df.count()
        assert n == res["per_sink_counts"][sink]
        total += n
    assert total == sum(res["per_sink_counts"].values())


def test_run_outputs_agree_across_paths(spark, sf_dir, tmp_path):
    """run()'s counts and metric block, read back from its written sinks or
    aggregated in memory, equal the standalone connectors on a fresh
    build."""
    from collections import Counter

    def block(rows):
        return Counter(tuple(sorted(r.items())) for r in rows)

    result = pipeline.build(spark, sf_dir)
    counts = pipeline.per_sink_counts(result).collect()
    want_counts = {r["sink"]: r["n"] for r in counts}
    metrics = pipeline.pipeline_metrics(result).collect()
    want_metrics = block(r.asDict() for r in metrics)
    assert len(want_metrics) == 30
    for out_dir in [str(tmp_path / "out"), None]:
        res = pipeline.run(spark, sf_dir, out_dir, with_histograms=True)
        assert res["per_sink_counts"] == want_counts, out_dir
        assert block(res["metrics"]) == want_metrics, out_dir


def _input_copy(sf_dir, dest):
    """A fresh copy of the input tables, so that a source another test
    cached cannot stand in for the scan of a plan under test."""
    import shutil

    dest.mkdir()
    for table in ("events.parquet", "customer.parquet"):
        orig = f"{sf_dir}/{table}"
        if os.path.isdir(orig):
            shutil.copytree(orig, dest / table, copy_function=shutil.copyfile)
        else:
            shutil.copyfile(orig, dest / table)
    return str(dest)


def test_run_is_one_routed_pass(spark, sf_dir, tmp_path):
    """A warm run(out_dir, with_histograms=True) is one routed write plus
    one pruned aggregate over its output, and compiles no new classes."""
    sf = _input_copy(sf_dir, tmp_path / "sf")
    sc = spark.sparkContext
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = codegen.METRIC_COMPILATION_TIME()
    try:
        for i in range(2):
            group = f"one-routed-pass-{i}"
            sc.setJobGroup(group, group)
            before = compiles.getCount()
            pipeline.run(
                spark, sf, out_dir=str(tmp_path / str(i)), with_histograms=True
            )
            recompiled = compiles.getCount() - before
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # 6 measured at sf0.001 (local[8], AQE); routing the incident context
    # by a broadcast match set and inferring the input schemas took 12;
    # chaining per_sink_counts, pipeline_metrics and write_routed took 26
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 6
    assert recompiled == 0


def test_flagship_plan_one_exchange_one_scan_per_input(spark, sf_dir, tmp_path):
    """The source's conv_id exchange numbers the turns and also serves the
    incident route's window, so the routed plan has one hash exchange and
    reads events and customer once each. A broadcast match set for the
    incident route re-scanned and re-enriched events: 2, 2 and 2."""
    res = pipeline.build(spark, _input_copy(sf_dir, tmp_path / "sf"))
    routed = connectors.routed_union(res.tagged, res.sink_map)
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("ReadSchema: struct<event_id:") == 1, plan
    assert plan.count("ReadSchema: struct<c_custkey:") == 1, plan


def test_build_leaves_session_temp_views_unchanged(spark, sf_dir):
    # building a plan binds its parquet inputs without touching the
    # session's temp views: a user's own "customer" view keeps its rows
    mine = spark.createDataFrame([(1,), (2,), (3,)], ["c_custkey"])
    mine.createOrReplaceTempView("customer")

    def temp_views():
        return sorted(t.name for t in spark.catalog.listTables() if t.isTemporary)

    try:
        before = temp_views()
        res = pipeline.build(spark, sf_dir)
        assert sum(r["n"] for r in pipeline.per_sink_counts(res).collect()) > 0
        assert temp_views() == before
        assert spark.table("customer").count() == 3
    finally:
        spark.catalog.dropTempView("customer")


def test_route_attach_attributes(spark, turns):
    routes = [
        connectors.Route(F.col("role") == "tool", ["t"], "log", "tools",
                         attach={"route_tag": "tooling", "prio": "high"}),
        connectors.Route(F.col("role") == "user", ["u"], "log", "users",
                         attach={"route_tag": "human"}),
    ]
    tagged, _ = connectors.route_logs(turns, routes, default_sinks=["rest"])
    got = tagged.select("role", "_route", "route_tag", "prio").distinct().collect()
    for r in got:
        if r["_route"] == "tools":
            assert r["route_tag"] == "tooling" and r["prio"] == "high"
        elif r["_route"] == "users":
            assert r["route_tag"] == "human" and r["prio"] is None
        else:
            assert r["route_tag"] is None and r["prio"] is None


def test_attr_actions_where_gate(spark, turns):
    from opentelemetry_collector_contrib_spark.operators import processors

    df = processors.attr_upsert(
        turns, "flag", "yes", where=F.col("role") == "system"
    )
    got = {r["role"]: r["flag"] for r in df.select("role", "flag").distinct().collect()}
    assert got["system"] == "yes"
    assert all(v is None for k, v in got.items() if k != "system")


def test_arrow_batch_dedup_parity(spark, turns):
    from opentelemetry_collector_contrib_spark.operators import parsers
    from opentelemetry_collector_contrib_spark.schema import PARSE_PATTERN_NAMED

    plain = parsers.regex_parse_arrow(turns, PARSE_PATTERN_NAMED)
    dedup = parsers.regex_parse_arrow(turns, PARSE_PATTERN_NAMED, batch_dedup=True)
    a = sorted(map(tuple, plain.collect()))
    b = sorted(map(tuple, dedup.collect()))
    assert a == b


def test_aqe_skew_join_backstop(spark):
    """SURVEY §4 names AQE skew-join splitting as the backstop when
    salting is off: a sort-merge join with one hot conv_id partition must
    be rewritten by OptimizeSkewedJoin (the executed plan carries
    skew=true) and still produce exact results."""
    conf = spark.conf
    saved = {
        k: conf.get(k, None)
        for k in (
            "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.coalescePartitions.enabled",
        )
    }
    try:
        conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "100k"
        )
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "50k")
        # force sort-merge (no broadcast escape hatch) — the point is the
        # skew split, not the broadcast strategy
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")

        n_tail, tail_turns, hot_rows = 2_000, 5, 120_000
        tail = spark.range(n_tail * tail_turns).select(
            F.concat_ws(
                "-", F.lit("conv"), (F.col("id") / tail_turns).cast("long")
            ).alias("conv_id"),
            F.concat(F.lit("payload text for skew test "), F.col("id")).alias(
                "text"
            ),
        )
        hot = spark.range(hot_rows).select(
            F.lit("conv-hot").alias("conv_id"),
            F.concat(F.lit("hot payload text for skew test "), F.col("id")).alias(
                "text"
            ),
        )
        facts = tail.unionAll(hot)
        dim = spark.range(n_tail + 1).select(
            F.when(F.col("id") < n_tail, F.concat_ws("-", F.lit("conv"), F.col("id")))
            .otherwise(F.lit("conv-hot"))
            .alias("conv_id"),
            (F.col("id") % 7).cast("int").alias("team_id"),
        )
        joined = facts.join(dim, "conv_id")
        collected = joined.collect()
        # exact results survive the skew split: every fact row joined
        assert len(collected) == n_tail * tail_turns + hot_rows
        hot_team = n_tail % 7
        assert (
            sum(1 for r in collected if r["team_id"] == hot_team) >= hot_rows
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
        assert "AQEShuffleRead skewed" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def test_scan_pruning_and_filter_pushdown(spark, sf_dir):
    """Column pruning + predicate pushdown reach the parquet scan of the
    events table the log path reads: a 2-column projection must read a
    2-column ReadSchema, and the filter must appear in PushedFilters —
    the difference between scanning 2 columns and scanning all of a
    100 TB table."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    q = events.filter(F.col("event_id") < 100).select("event_id", "user_id")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "LessThan(event_id,100)" in plan, plan
    assert "ReadSchema: struct<event_id:bigint,user_id:bigint>" in plan, plan


def test_source_schemas_match_inferred_types(spark, sf_dir, tmp_path):
    """EVENTS_SCHEMA and CUSTOMER_SCHEMA give each column they name the
    type Spark infers, both for the test data and for files of the shape
    perfbench/gen.py writes with pyarrow (``ts`` as ``timestamp("us")``).
    A UTC-adjusted ``ts`` reads under EVENTS_SCHEMA as its UTC wall-clock
    time."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    ts = datetime.datetime(2024, 1, 2, 3, 4, 5, 678901)

    def write(name, ts_type):
        path = str(tmp_path / name)
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array([1], pa.int64()),
                    "ts": pa.array([ts], ts_type),
                    "user_id": pa.array([7], pa.int64()),
                    "event_type": pa.array(["click"], pa.string()),
                    "value": pa.array([1.5], pa.float64()),
                    "props": pa.array(['{"k": 1}'], pa.string()),
                }
            ),
            path,
        )
        return path

    gen_events = write("events.parquet", pa.timestamp("us"))
    gen_customer = str(tmp_path / "customer.parquet")
    pq.write_table(
        pa.table(
            {
                "c_custkey": pa.array([7], pa.int64()),
                "c_name": pa.array(["Customer#000000007"], pa.string()),
                "c_nationkey": pa.array([3], pa.int32()),
            }
        ),
        gen_customer,
    )
    for path, ddl in [
        (f"{sf_dir}/events.parquet", src.EVENTS_SCHEMA),
        (f"{sf_dir}/customer.parquet", src.CUSTOMER_SCHEMA),
        (gen_events, src.EVENTS_SCHEMA),
        (gen_customer, src.CUSTOMER_SCHEMA),
    ]:
        declared = spark.read.schema(ddl).parquet(path).schema
        declared = [(f.name, f.dataType) for f in declared]
        inferred = {f.name: f.dataType for f in spark.read.parquet(path).schema}
        assert declared == [(n, inferred[n]) for n, _ in declared], path
    utc = write("events_utc.parquet", pa.timestamp("us", tz="UTC"))
    assert spark.read.schema(src.EVENTS_SCHEMA).parquet(utc).first()["ts"] == ts


def test_parse_pipeline_single_codegen_span(spark, sf_dir):
    """The parse->severity->kv hot path stays inside whole-stage codegen
    with no exchange and no Python (SURVEY §4 invariant)."""
    from opentelemetry_collector_contrib_spark.operators import parsers
    from opentelemetry_collector_contrib_spark.schema import (
        PARSE_GROUPS,
        PARSE_PATTERN,
    )
    from opentelemetry_collector_contrib_spark.sources import transcripts as src

    turns = src.transcripts_df(spark, sf_dir)
    out = parsers.severity_parse(
        parsers.regex_parse(turns, PARSE_PATTERN, PARSE_GROUPS)
    ).select("conv_id", "severity_num", "msg")
    plan = out._jdf.queryExecution().executedPlan().toString()
    body = plan.split("== Initial Plan ==")[0]
    # the input-derivation window is upstream of the parse; the parse
    # stages themselves must add no exchange beyond it and no Python
    assert "ArrowEvalPython" not in body and "BatchEvalPython" not in body
    # "*(n)" prefixes mark whole-stage-codegen spans in the plan string
    assert "*(1)" in body


def test_count_connector_multi_single_scan(spark, turns):
    """countconnector multi-metric config (config.go:35-51): N named
    metrics with own conditions/attrs/defaults compile to ONE scan of the
    fact table — N separate count_connector calls would be N scans."""
    out = connectors.count_connector_multi(
        turns,
        {
            "all.by_tool_role": connectors.MetricSpec(attrs=["tool", "role"]),
            "all.by_tool_default": connectors.MetricSpec(
                attrs=["tool"], defaults={"tool": "none"}
            ),
            "assistant.turns": connectors.MetricSpec(
                attrs=["role"], conditions=['role == "assistant"']
            ),
        },
    )
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    n_scans = plan.count("LogicalRDD") + plan.count("Relation")
    assert n_scans == 1, plan
    rows = {(r["metric"], r["tool"], r["role"]): r["value"] for r in out.collect()}
    # metric 1 equals the single-metric connector on the same input
    single = {
        (r["tool"], r["role"]): r["n"]
        for r in connectors.count_connector(
            turns, ["tool", "role"], name="n"
        ).collect()
    }
    got1 = {
        (t, ro): v for (m, t, ro), v in rows.items() if m == "all.by_tool_role"
    }
    assert got1 == single
    # metric 2: defaults fill missing tool; totals preserved
    assert sum(v for (m, _, _), v in rows.items() if m == "all.by_tool_default") \
        == turns.count()
    # metric 3: OTTL condition compiled by the connector
    n_assistant = turns.filter(F.col("role") == "assistant").count()
    assert rows[("assistant.turns", None, "assistant")] == n_assistant


def test_sum_connector_multi_matches_single(spark, turns):
    base = turns.withColumn("items", F.length("text").cast("long"))
    out = connectors.sum_connector_multi(
        base,
        {
            "chars.by_role": connectors.MetricSpec(attrs=["role"], source="items"),
            "chars.assistant": connectors.MetricSpec(
                attrs=["role"], source="items",
                conditions=['role == "assistant"'],
            ),
        },
    )
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("LogicalRDD") + plan.count("Relation") == 1, plan
    rows = {(r["metric"], r["role"]): r["value"] for r in out.collect()}
    single = {
        r["role"]: r["s"]
        for r in connectors.sum_connector(base, "items", ["role"], name="s").collect()
    }
    assert {ro: v for (m, ro), v in rows.items() if m == "chars.by_role"} == single
    assert ("chars.assistant", "assistant") in rows
    assert ("chars.assistant", "system") not in rows


def test_sink_catalog_iceberg_branch(spark, turns, tmp_path):
    """Exercises the fmt == "iceberg" branch of SinkCatalog end-to-end
    (write -> overwritePartitions -> read).

    ENVIRONMENT-BLOCKED in this container: needs the Iceberg runtime jar
    ``org.apache.iceberg:iceberg-spark-runtime-4.0_2.13`` (matching the
    installed Spark 4.x / Scala 2.13) on the driver classpath plus a
    catalog config such as
    ``spark.sql.catalog.local=org.apache.iceberg.spark.SparkCatalog``
    with ``type=hadoop`` and a ``warehouse`` path. When the jar is
    present the probe flips this test on automatically — the branch is
    tested, not dead code.

    Staging channels exhausted (verified 2026-08-17, round 4):
      * DNS/network fully blocked (``repo1.maven.org`` unresolvable) —
        no ``--packages``/ivy fetch possible;
      * no local ivy/maven caches (``~/.ivy2``, ``~/.m2`` absent);
      * filesystem sweep ``find / -name '*iceberg*'`` finds no jar;
      * pyspark's bundled ``jars/`` (286 jars) has no iceberg/delta/hudi;
      * pip index unreachable (``pip download pyiceberg`` → "no
        versions") — and pyiceberg would not provide the Spark runtime
        jar anyway.

    Re-verified 2026-08-17, round 5: DNS still blocked
    (``repo1.maven.org`` unresolvable via curl and getent); a coursier
    cache exists (``~/.cache/coursier``) but contains no iceberg
    artifact and its cached channel is not a public endpoint; no ivy/m2
    caches; no new jar anywhere on disk; pyiceberg still absent.
    """
    from opentelemetry_collector_contrib_spark.sources import catalog as cat

    if not cat.iceberg_available(spark):
        pytest.skip(
            "iceberg-spark-runtime jar not on classpath (offline container); "
            "see docstring for the exact staging requirement"
        )
    sc = cat.SinkCatalog(spark, str(tmp_path), fmt="iceberg")
    tbl = "local.db.turns_smoke"
    sample = turns.limit(50).withColumn("sink", F.lit("a"))
    sample.writeTo(tbl).using("iceberg").partitionedBy(F.col("sink")).create()
    sc.overwrite_partitions(sample, tbl, partition_by=["sink"])
    assert sc.read(tbl).count() == 50
    sc.append(sample, tbl, partition_by=["sink"])
    assert sc.read(tbl).count() == 100


def test_count_connector_multi_grand_total_metric(spark, turns):
    """A metric with NO attributes is a grand total (the reference
    allows attribute-less metrics) — empty grouping set in the same
    single pass."""
    out = connectors.count_connector_multi(
        turns,
        {
            "all.turns": connectors.MetricSpec(attrs=[]),
            "by.role": connectors.MetricSpec(attrs=["role"]),
        },
    )
    rows = {(r["metric"], r["role"]): r["value"] for r in out.collect()}
    assert rows[("all.turns", None)] == turns.count()
    roles = {ro: v for (m, ro), v in rows.items() if m == "by.role"}
    assert sum(roles.values()) == turns.count() and len(roles) == 4


def test_count_connector_multi_randomized_vs_single(spark):
    """Randomized (seeded) configs: the one-pass multi-metric result
    must equal N independent single-metric connector calls."""
    import random

    rng = random.Random(42)
    rows = [
        (
            rng.choice(["", "a", "b", "c", None]),
            rng.choice(["x", "y"]),
            rng.randint(0, 5),
        )
        for _ in range(300)
    ]
    df = spark.createDataFrame(rows, "tool string, role string, v int")
    for trial in range(3):
        specs = {}
        for m in range(rng.randint(2, 4)):
            attrs = rng.sample(["tool", "role"], rng.randint(0, 2))
            defaults = (
                {"tool": "none"}
                if "tool" in attrs and rng.random() < 0.5
                else {}
            )
            cond = (
                [f'v >= {rng.randint(0, 4)}'] if rng.random() < 0.5 else None
            )
            specs[f"m{trial}.{m}"] = connectors.MetricSpec(
                attrs=attrs, defaults=defaults, conditions=cond
            )
        multi = connectors.count_connector_multi(df, specs)
        got = {}
        for r in multi.collect():
            d = r.asDict()
            got[(d["metric"], d.get("tool"), d.get("role"))] = d["value"]
        for name, spec in specs.items():
            from opentelemetry_collector_contrib_spark.operators import ottl

            cond_col = None
            if spec.conditions:
                cond_col = ottl.compile_condition(df, spec.conditions[0])
            single = connectors.count_connector(
                df, spec.attrs, condition=cond_col,
                defaults=spec.defaults, name="n",
            )
            want = {}
            for r in single.collect():
                key = (
                    name,
                    str(r["tool"]) if "tool" in spec.attrs else None,
                    str(r["role"]) if "role" in spec.attrs else None,
                )
                want[key] = r["n"]
            mine = {k: v for k, v in got.items() if k[0] == name}
            assert mine == want, (name, spec)


def test_pipeline_metrics_single_pass_block(spark, sf_dir):
    """The flagship's metric block (north star: per-sink counts +
    per-tool/per-role histograms) in one multi-metric pass; its per-sink
    slice must equal the standalone per_sink_counts connector."""
    from opentelemetry_collector_contrib_spark.plans import pipeline as pl

    res = pl.run(spark, sf_dir, with_histograms=True)
    per_sink_from_block = {
        m["sink"]: m["value"]
        for m in res["metrics"]
        if m["metric"] == "records.per_sink"
    }
    assert per_sink_from_block == res["per_sink_counts"]
    tools = [m for m in res["metrics"] if m["metric"] == "turns.per_tool"]
    assert {m["tool"] for m in tools} >= {"bash", "none"}
    roles = [m for m in res["metrics"] if m["metric"] == "turns.per_sink_role"]
    assert sum(m["value"] for m in roles) == sum(res["per_sink_counts"].values())


def test_spark_submit_py_files_entrypoint(tmp_path):
    """North-rule invocation path: the pipeline runs via
    `spark-submit --py-files <package.zip> cli.py` as a standalone
    script (no pip install), producing the same per-sink counts."""
    import json
    import shutil
    import subprocess
    import zipfile

    submit = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"
    if not os.path.exists(submit):
        pytest.skip("spark-submit not on PATH")
    pkg_zip = str(tmp_path / "pkg.zip")
    with zipfile.ZipFile(pkg_zip, "w") as z:
        for dirpath, _dirs, files in os.walk(
            os.path.join(ROOT, "opentelemetry_collector_contrib_spark")
        ):
            if "__pycache__" in dirpath:
                continue
            for f in files:
                full = os.path.join(dirpath, f)
                z.write(full, os.path.relpath(full, ROOT))
    proc = subprocess.run(
        [
            submit, "--master", "local[4]", "--py-files", pkg_zip,
            "--conf", "spark.ui.enabled=false",
            os.path.join(ROOT, "opentelemetry_collector_contrib_spark/cli.py"),
            "--input-dir", "/root/testdata/sf0.001",
            "--out-dir", str(tmp_path / "out"),
        ],
        capture_output=True, text=True, timeout=240,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert res["per_sink_counts"] == {
        "audit": 147, "catchall": 246, "errors": 147,
        "incident": 565, "risky_tools": 42,
    }


def test_cli_rejects_misplaced_flags_before_spark_starts(sf_dir, tmp_path, monkeypatch):
    """A stream-only flag in batch mode, a batch-only flag in streaming
    mode and --streaming without --checkpoint-dir all exit with status 2
    before any SparkSession is built and before anything is written."""
    from pyspark.sql import SparkSession

    from opentelemetry_collector_contrib_spark import cli

    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    batch = ["--input-dir", sf_dir, "--out-dir", out]
    cases = [
        batch + ["--checkpoint-dir", ck],
        batch + ["--dims-dir", sf_dir],
        batch + ["--flush-interval", "1"],
        batch + ["--streaming"],
        batch + ["--streaming", "--checkpoint-dir", ck, "--with-histograms"],
    ]

    def no_session(*_a, **_k):
        raise AssertionError("SparkSession built before the flags were checked")

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", no_session)
    for argv in cases:
        with pytest.raises(SystemExit) as exc:
            cli.main(argv)
        assert exc.value.code == 2, argv
    assert not os.path.exists(out) and not os.path.exists(ck)


def test_sink_catalog_iceberg_invocation_chain(spark, turns):
    """The Iceberg jar cannot be staged offline (channels documented on
    the skip-marked end-to-end test above), but the branch's LOGIC is
    executable without it: mock the writeTo/read chains and assert the
    catalog issues exactly the Iceberg DataFrameWriterV2 / reader calls
    the real jar would receive."""
    from unittest import mock

    from opentelemetry_collector_contrib_spark.sources import catalog as cat

    sc = cat.SinkCatalog(spark, "/tmp/unused", fmt="iceberg")
    df = turns.limit(1)

    with mock.patch.object(type(df), "writeTo") as wt:
        sc.overwrite_partitions(df, "local.db.audit", partition_by=["role"])
        wt.assert_called_once_with("local.db.audit")
        wt.return_value.overwritePartitions.assert_called_once_with()

    with mock.patch.object(type(df), "writeTo") as wt:
        sc.append(df, "local.db.audit", partition_by=["role"])
        wt.assert_called_once_with("local.db.audit")
        wt.return_value.append.assert_called_once_with()

    with mock.patch.object(type(spark), "read", new_callable=mock.PropertyMock) as rd:
        sc.read("local.db.audit")
        rd.return_value.format.assert_called_once_with("iceberg")
        rd.return_value.format.return_value.load.assert_called_once_with(
            "local.db.audit"
        )


def test_config_rejects_operators_outside_logstransform(spark, sf_dir):
    from opentelemetry_collector_contrib_spark.plans import config_pipeline as cfgp2

    with pytest.raises(ValueError, match="only valid under logstransform"):
        cfgp2.build_from_config(
            spark, sf_dir,
            {"processors": [
                {"type": "redact", "allowed": [], "operators": [
                    {"type": "json_parser"}]}
            ]},
        )


def test_write_routed_recovers_stranded_staging(spark, turns, tmp_path):
    """Crash-window recovery: if a prior run died after moving the live
    tree aside but before renaming staging in (the committed tree exists
    ONLY in staging, marked by _SUCCESS), recovery promotes it instead
    of discarding it; staging without _SUCCESS is failed-job debris and
    is discarded."""
    import os
    import shutil

    base = str(tmp_path / "rec")
    live, staging = base + "/routed", base + "/routed__staging"
    tagged = turns.withColumn("_route", F.lit("all"))
    n = turns.count()
    connectors.write_routed(tagged, {"all": ["only"]}, base)
    # simulate the crash: live tree became staging (with _SUCCESS), live gone
    shutil.move(live, staging)
    assert os.path.exists(staging + "/_SUCCESS")
    connectors._recover_or_clear_staging(spark, staging, live)
    assert spark.read.parquet(live + "/sink=only").count() == n  # promoted
    # staging WITHOUT _SUCCESS (failed job debris) is discarded instead
    os.makedirs(staging + "/sink=only")
    with open(staging + "/sink=only/part-junk", "w") as f:
        f.write("x")
    connectors._recover_or_clear_staging(spark, staging, live)
    assert not os.path.exists(staging)
    assert spark.read.parquet(live + "/sink=only").count() == n
    paths = connectors.write_routed(tagged, {"all": ["only"]}, base)
    assert spark.read.parquet(paths["only"]).count() == n
    assert not os.path.exists(staging)
    assert not os.path.exists(base + "/routed__old")


def test_write_routed_recovers_after_rotate_precommit_crash(spark, turns, tmp_path):
    # live root exists but holds only _SUCCESS (no sink dirs) while
    # staging carries the committed tree — recovery must promote, not
    # discard
    import os
    import shutil

    base = str(tmp_path / "rec2")
    live, staging = base + "/routed", base + "/routed__staging"
    tagged = turns.withColumn("_route", F.lit("all"))
    n = turns.count()
    connectors.write_routed(tagged, {"all": ["only"]}, base)
    shutil.move(live, staging)
    os.makedirs(live)
    open(live + "/_SUCCESS", "w").close()  # sink-less live root
    connectors._recover_or_clear_staging(spark, staging, live)
    assert spark.read.parquet(live + "/sink=only").count() == n  # promoted
    assert not os.path.exists(staging)
    paths = connectors.write_routed(tagged, {"all": ["only"]}, base)
    assert spark.read.parquet(paths["only"]).count() == n
    assert not os.path.exists(staging)
    assert not os.path.exists(base + "/routed__old")


@pytest.mark.parametrize(
    "fault,kept",
    [
        (None, "new"),
        ("job", "old"),  # F.raise_error on one row fails the write job
        ("move_aside", "new"),  # crash right after routed -> routed__old
        ("swap_in", "new"),  # crash right after routed__staging -> routed
    ],
)
def test_write_routed_keeps_old_or_new_output(
    spark, tmp_path, monkeypatch, fault, kept
):
    """A write that fails in its job, or crashes after either rename of
    the swap, leaves every live sink holding the whole old output or the
    whole new one once recovery has run — never empty, partial or
    doubled — and no staging or old tree behind. The new output drops
    sink b, so it must leave with the old tree."""
    import glob
    import os

    base = str(tmp_path / "swap")
    live = base + "/routed"
    old = spark.range(1000).withColumn("_route", F.lit("all"))
    connectors.write_routed(old, {"all": ["a", "b"]}, base)
    new = spark.range(600).withColumn("_route", F.lit("all"))
    if fault == "job":
        boom = F.when(F.col("id") == 599, F.raise_error(F.lit("injected")))
        new = new.withColumn("boom", boom.cast("string"))
    crash_at = {"move_aside": 1, "swap_in": 2}.get(fault)
    if crash_at:
        real_rename, calls = connectors._fs_rename, []

        def rename_then_crash(*args):
            real_rename(*args)
            calls.append(args)
            if len(calls) == crash_at:
                raise IOError("injected crash")

        monkeypatch.setattr(connectors, "_fs_rename", rename_then_crash)
    if fault is None:
        connectors.write_routed(new, {"all": ["a"]}, base)
    else:
        with pytest.raises(Exception, match="injected"):
            connectors.write_routed(new, {"all": ["a"]}, base)
        monkeypatch.undo()
        connectors._recover_or_clear_staging(spark, live + "__staging", live)
    counts = {
        os.path.basename(p): spark.read.parquet(p).count()
        for p in glob.glob(live + "/sink=*")
    }
    expected = {"old": {"sink=a": 1000, "sink=b": 1000}, "new": {"sink=a": 600}}
    assert counts == expected[kept]
    assert not os.path.exists(live + "__staging")
    assert not os.path.exists(live + "__old")
