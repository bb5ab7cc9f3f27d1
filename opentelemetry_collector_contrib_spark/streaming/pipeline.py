"""Streaming mode: the same parse -> enrich -> route -> aggregate DAG as
a Structured Streaming job.

Reference mapping:
  * filelog receiver tailing + fingerprint/offset checkpoints
    (pkg/stanza/fileconsumer/file.go; internal/checkpoint/checkpoint.go)
    -> `readStream` file source + the streaming checkpoint log: Spark's
    source offsets ARE the fingerprint+offset store, per file instead of
    per byte-range.
  * batching emitter 100 entries / 100 ms (helper/emitter.go:39-40)
    -> micro-batch trigger (`processingTime` every `flush_interval`
    seconds in production, `availableNow` in tests/backfills).
  * per-sink exporters -> Spark's parquet file sink, partitioned by
    ``sink``: one write job per micro-batch. Its ``_spark_metadata`` log
    commits each batch id once and skips a replayed one, so the sinks are
    exactly-once: a restart after the write but before the batch's
    checkpoint commit does not append the rows a second time.
  * obsreport accepted/sent counters -> a named ``observe`` ("sinks")
    on the routed rows: per-batch per-sink counts in
    ``StreamingQueryProgress.observedMetrics["sinks"]``, computed in the
    write job itself.

The stages are the SAME config as batch (``plans.pipeline.FLAGSHIP``,
compiled by ``config_pipeline.build_from_config``), so stream sinks get
batch's columns: everything in the hot path is a narrow column
transformation or a stream-static broadcast join, both streaming-legal.
The one batch-only construct is the resource-context route (a window
over conv_id); streaming restricts the routing table to log-context
routes — the reference's routing connector is likewise per-record when
run in `log` context (connector/routingconnector/logs.go:86-100). The
per-stage ``Lineage`` counters are batch-only: Spark rejects an
``Observation`` object on a streaming DataFrame (a named ``observe``,
as used for the sink counters, is accepted).

No event-time watermark is used, mirroring the reference's
processing-time-only semantics (SURVEY.md §2.8).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators import connectors
from ..plans.config_pipeline import build_from_config
from ..plans.pipeline import FLAGSHIP
from ..schema import TRANSCRIPT_SCHEMA

__all__ = ["read_transcript_stream", "build_stream", "run_to_sinks"]


def read_transcript_stream(
    spark: SparkSession, input_dir: str, *, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream of transcript-shaped parquet (the filelog
    receiver analog: new files in the directory = newly discovered logs;
    the checkpoint offset log replaces fingerprint dedup)."""
    reader = spark.readStream.schema(TRANSCRIPT_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_dir)


def build_stream(
    spark: SparkSession, stream: DataFrame, sf_dir: str
) -> tuple[DataFrame, dict[str, list[str]]]:
    """``plans.pipeline.FLAGSHIP`` compiled over a streaming DF, with the
    config's log-context routes (resource context needs a
    conversation-wide window -> batch only) and no lineage."""
    routes = [r for r in FLAGSHIP["routes"] if r["context"] == "log"]
    return build_from_config(
        spark, sf_dir, {**FLAGSHIP, "routes": routes}, source=stream
    )


def run_to_sinks(
    spark: SparkSession,
    input_dir: str,
    sf_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    *,
    flush_interval: float | None = None,
):
    """Start the streaming job writing per-sink parquet to
    ``{out_dir}/routed`` (partitioned by ``sink``, append mode) through
    Spark's file sink, which makes delivery exactly-once across restarts
    from ``checkpoint_dir``. The per-batch per-sink row counts arrive in
    each progress event's ``observedMetrics["sinks"]``.

    ``flush_interval`` is the fileexporter's flush_interval config
    (exporter/fileexporter/config.go:49-52, seconds): data becomes
    visible in the sink at most that often. In the micro-batch model the
    processingTime trigger IS the flush clock, so a number maps onto a
    processingTime trigger of that many seconds. ``None`` (the default)
    is an availableNow trigger: process every file present, then stop."""
    tagged, sink_map = build_stream(
        spark, read_transcript_stream(spark, input_dir), sf_dir
    )
    routed = connectors.routed_union(tagged, sink_map)
    sinks = sorted({s for ss in sink_map.values() for s in ss})
    routed = routed.observe(
        "sinks", *[F.count_if(F.col("sink") == s).alias(s) for s in sinks]
    )
    writer = (
        routed.writeStream.format("parquet")
        .partitionBy("sink")
        .option("path", f"{out_dir}/routed")
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if flush_interval is None:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{flush_interval} seconds")
    return writer.start()
