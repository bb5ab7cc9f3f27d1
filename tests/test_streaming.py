"""Streaming pipeline tests: batch/stream parity, checkpoint resume,
flush-interval trigger, stateless parses under a stream."""

from __future__ import annotations

import os
import sys
from collections import Counter

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from opentelemetry_collector_contrib_spark.sources import transcripts as src  # noqa: E402
from opentelemetry_collector_contrib_spark.streaming import (  # noqa: E402
    pipeline as spipe,
)


@pytest.fixture()
def turns(spark, sf_dir):
    return src.transcripts_df(spark, sf_dir)


def _await(q):
    q.awaitTermination(120)
    assert not q.isActive


def test_stream_matches_batch_per_sink_counts(spark, sf_dir, turns, tmp_path):
    inp, out, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    turns.write.parquet(inp)

    q = spipe.run_to_sinks(spark, inp, sf_dir, out, ckpt)
    _await(q)

    routed = spark.read.parquet(f"{out}/routed")
    got = {r["sink"]: r["n"] for r in routed.groupBy("sink").count().withColumnRenamed("count", "n").collect()}

    # batch reference: same log-context routing table applied in batch
    tagged, sink_map = spipe.build_stream(spark, turns, sf_dir)
    from opentelemetry_collector_contrib_spark.operators import connectors
    from opentelemetry_collector_contrib_spark.plans import pipeline

    # one route table: streaming is the batch table minus the
    # resource-context route, in the same (first-match-wins) order
    batch_map = dict(pipeline.build(spark, sf_dir).sink_map)
    assert batch_map.pop("incident") == ["incident"]
    assert list(sink_map.items()) == list(batch_map.items())

    expect = {
        r["sink"]: r["n"]
        for r in connectors.routed_union(tagged, sink_map)
        .groupBy("sink")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == expect

    # per-turn text equality under stable ordering, per sink
    batch_rows = sorted(
        (r["sink"], r["conv_id"], r["turn_idx"], r["text"])
        for r in connectors.routed_union(tagged, sink_map)
        .select("sink", "conv_id", "turn_idx", "text")
        .collect()
    )
    stream_rows = sorted(
        (r["sink"], r["conv_id"], r["turn_idx"], r["text"])
        for r in routed.select("sink", "conv_id", "turn_idx", "text").collect()
    )
    assert batch_rows == stream_rows

    # one stage list: the stream writes the columns a batch run writes
    pipeline.run(spark, sf_dir, out_dir=str(tmp_path / "batch"))
    batch_routed = spark.read.parquet(str(tmp_path / "batch" / "routed"))
    # read the stream's files the way the batch side is read: a glob path
    # bypasses the file sink's metadata log, which would keep the stored
    # nullability where a plain directory read makes every field nullable
    stream_files = spark.read.option("basePath", f"{out}/routed").parquet(
        f"{out}/routed/sink=*"
    )
    assert stream_files.schema.fields == batch_routed.schema.fields


def test_stream_checkpoint_resume_no_duplicates(spark, sf_dir, turns, tmp_path):
    inp, out, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    half1 = turns.filter(F.col("turn_idx") % 2 == 0)
    half2 = turns.filter(F.col("turn_idx") % 2 == 1)
    half1.write.mode("append").parquet(inp)

    q1 = spipe.run_to_sinks(spark, inp, sf_dir, out, ckpt)
    _await(q1)
    n1 = spark.read.parquet(f"{out}/routed").count()

    half2.write.mode("append").parquet(inp)
    q2 = spipe.run_to_sinks(spark, inp, sf_dir, out, ckpt)
    _await(q2)
    n2 = spark.read.parquet(f"{out}/routed").count()

    assert n1 > 0 and n2 > n1
    # totals equal one batch pass over everything — resume added ONLY the
    # new files (offset log = fingerprint/offset checkpoint analog)
    tagged, sink_map = spipe.build_stream(spark, turns, sf_dir)
    from opentelemetry_collector_contrib_spark.operators import connectors

    expect = connectors.routed_union(tagged, sink_map).count()
    assert n2 == expect

    # crash after the sink write but before the checkpoint commit: drop
    # the newest commit; the restart replays that batch, and the file
    # sink's metadata log must skip it instead of appending it again
    commits = os.path.join(ckpt, "commits")
    last = max(int(n) for n in os.listdir(commits) if n.isdigit())
    os.remove(os.path.join(commits, str(last)))
    os.remove(os.path.join(commits, f".{last}.crc"))
    _await(spipe.run_to_sinks(spark, inp, sf_dir, out, ckpt))
    routed = spark.read.parquet(f"{out}/routed")
    assert routed.count() == expect

    # the per-batch observed sink counters add up to what was written
    observed = Counter()
    for q in (q1, q2):
        for p in q.recentProgress:
            observed.update(p.observedMetrics["sinks"].asDict())
    written = {r["sink"]: r["count"] for r in routed.groupBy("sink").count().collect()}
    assert observed == written


def test_with_file_attrs(spark, turns, tmp_path):
    p = str(tmp_path / "files")
    turns.write.parquet(p)
    df = src.with_file_attrs(spark.read.parquet(p))
    r = df.select("log_file_path", "log_file_name").first()
    assert r["log_file_path"].endswith(".parquet")
    assert "/" not in r["log_file_name"] and r["log_file_name"].endswith(".parquet")


def test_otlp_envelope_parse_in_stream(spark, turns, tmp_path):
    """The OTLP-JSON envelope parse (from_json + explodes) is stateless,
    so it runs unchanged under Structured Streaming — the
    otlpjsonfilereceiver's tail-and-parse mode. Stream output must equal
    the batch parse of the same envelope files."""
    from opentelemetry_collector_contrib_spark.operators import parsers

    inp = str(tmp_path / "envelopes")
    ckpt = str(tmp_path / "ck")
    out = str(tmp_path / "out")

    rec = F.struct(
        F.lpad(F.col("turn_idx").cast("string"), 6, "0").alias("timeUnixNano"),
        F.lit("INFO").alias("severityText"),
        F.struct(F.col("text").alias("stringValue")).alias("body"),
    )
    env = (
        turns.groupBy("conv_id")
        .agg(F.array_sort(F.collect_list(rec)).alias("logRecords"))
        .select(
            F.to_json(
                F.struct(
                    F.array(
                        F.struct(
                            F.struct(
                                F.array(
                                    F.struct(
                                        F.lit("conv.id").alias("key"),
                                        F.struct(
                                            F.col("conv_id").alias("stringValue")
                                        ).alias("value"),
                                    )
                                ).alias("attributes")
                            ).alias("resource"),
                            F.array(
                                F.struct(
                                    F.struct(
                                        F.lit("s").alias("name"),
                                        F.lit("1").alias("version"),
                                    ).alias("scope"),
                                    F.col("logRecords").alias("logRecords"),
                                )
                            ).alias("scopeLogs"),
                        )
                    ).alias("resourceLogs")
                )
            ).alias("text")
        )
    )
    env.write.mode("overwrite").parquet(inp)

    stream = spark.readStream.schema("text string").parquet(inp)
    parsed = parsers.otlp_json_parse(stream).select(
        F.col("resource_attrs")["conv.id"].alias("conv_id"),
        F.col("time_unix_nano").alias("tidx"),
        "body",
    )
    q = (
        parsed.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert not q.isActive
    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    want = sorted(
        map(
            tuple,
            parsers.otlp_json_parse(spark.read.parquet(inp))
            .select(
                F.col("resource_attrs")["conv.id"].alias("conv_id"),
                F.col("time_unix_nano").alias("tidx"),
                "body",
            )
            .collect(),
        )
    )
    assert got == want and len(got) == turns.count()


def test_flush_interval_maps_to_processing_time_trigger(spark, sf_dir, turns, tmp_path):
    """fileexporter flush_interval (config.go:49-52) = micro-batch flush
    clock: the query runs on a processingTime trigger of that many
    seconds and data lands in the sink while the query stays active."""
    import time

    inp, out, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    turns.limit(200).write.parquet(inp)
    q = spipe.run_to_sinks(
        spark, inp, sf_dir, out, ckpt, flush_interval=1
    )
    try:
        deadline = time.time() + 60
        n = 0
        while time.time() < deadline:
            try:
                n = spark.read.parquet(f"{out}/routed").count()
                if n > 0:
                    break
            except Exception:
                pass
            time.sleep(1)
        assert n > 0, "no flush within 60s"
        # continuous trigger: the query does NOT self-terminate
        assert q.isActive
    finally:
        q.stop()
