"""Traced-run instruments. Nothing inside the package is instrumented:
every span wraps a call into a module's public functions from here.

Spark is lazy, so a layer cannot be timed by its call. The traced run
materializes each stage prefix with a ``noop`` write, in pipeline order,
and a layer's self time is its prefix's time minus the prefix before it.
Spark's own counters come from the local REST API of the Spark UI (stage
input records, shuffle bytes, task-time quantiles) and from the JVM's
garbage-collector beans; streaming counters from a
``StreamingQueryListener``.
"""

from __future__ import annotations

import json
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime
from urllib.parse import urlparse


@dataclass
class Spans:
    """In-memory spans: name, start, end, parent; written out at the end."""

    records: list[dict] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, parent: str | None = None, **attrs):
        start = time.perf_counter()
        try:
            yield
        finally:
            self.records.append(
                dict(name=name, start=start, end=time.perf_counter(), parent=parent, **attrs)
            )

    def seconds(self, name: str) -> list[float]:
        return [r["end"] - r["start"] for r in self.records if r["name"] == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.records, f, indent=1)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


#: stage prefixes of ``plans.pipeline.build``, in pipeline order
PREFIXES = ("sources", "parsers", "processors", "connectors.route", "connectors.union")


def prefix_self_times(spark, sf_dir: str, spans: Spans) -> dict:
    """Materialize each stage prefix once; return the self time per layer
    plus the parse and enrich counters."""
    from pyspark.sql import functions as F

    from opentelemetry_collector_contrib_spark.operators import connectors
    from opentelemetry_collector_contrib_spark.plans import pipeline
    from opentelemetry_collector_contrib_spark.sources import transcripts

    res = pipeline.build(spark, sf_dir)
    frames = (
        transcripts.transcripts_df(spark, sf_dir),
        res.parsed,
        res.enriched,
        res.tagged,
        connectors.routed_union(res.tagged, res.sink_map),
    )
    selfs = {}
    prev = 0.0
    for name, df in zip(PREFIXES, frames):
        with spans.span(f"prefix.{name}", parent="pipeline.build"):
            noop(df)
        took = spans.seconds(f"prefix.{name}")[-1]
        selfs[name] = took - prev
        prev = took
    parse = res.lineage.observations["parse"].get
    hits = res.enriched.agg(F.count(F.lit(1)).alias("rows"), F.count("team").alias("hits")).first()
    return selfs | dict(
        parse_rows=parse["rows"],
        parse_ok=parse["rows"] - parse["parse_errors"],
        enrich_rows=hits["rows"],
        enrich_hits=hits["hits"],
    )


def set_job_group(spark, group: str) -> None:
    spark.sparkContext.setJobGroup(group, group)


def job_count(spark, group: str) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def _ts(s: str) -> float:
    return datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


class SparkRest:
    """Reads the Spark UI's REST API on localhost."""

    def __init__(self, spark):
        sc = spark.sparkContext
        port = urlparse(sc.uiWebUrl).port
        self.sc = sc
        self.base = f"http://localhost:{port}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as resp:
            return json.load(resp)

    def _drain(self) -> None:
        """Let the status store catch up with the listener bus."""
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:
            time.sleep(1.0)

    def group_stats(self, group: str) -> dict:
        """Input records, shuffle bytes and the slowest stage's task skew
        over the completed stages of one job group. (Stage input *bytes*
        are not used: for local parquet files Spark reports a few KB per
        full scan.)"""
        self._drain()
        stage_ids = {
            s for j in self.get("/jobs") if j.get("jobGroup") == group for s in j["stageIds"]
        }
        stages = [
            s
            for s in self.get("/stages")
            if s["stageId"] in stage_ids and s["status"] == "COMPLETE"
        ]
        slowest = max(stages, key=lambda s: _ts(s["completionTime"]) - _ts(s["submissionTime"]))
        q = self.get(
            f"/stages/{slowest['stageId']}/{slowest['attemptId']}/taskSummary?quantiles=0.5,1.0"
        )["executorRunTime"]
        return dict(
            input_records=sum(s["inputRecords"] for s in stages),
            shuffle_write_bytes=sum(s["shuffleWriteBytes"] for s in stages),
            task_skew=q[1] / max(q[0], 1.0),
        )


def progress_listener():
    """A StreamingQueryListener keeping each progress event's counters."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self):
            self.progress: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            self.progress.append(
                dict(batch_id=p.batchId, rows=p.numInputRows, durations=dict(p.durationMs))
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Listener()
