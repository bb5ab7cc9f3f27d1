"""Bench driver: headline queries at $SPARK_GRAFT_SF_DIR on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "turns_per_sec": ...}

Set SPARK_GRAFT_BENCH_RUNS>1 to take the min over repeated runs (first
run pays JVM/codegen warmup). This is a quick per-query timer; the
seeded end-to-end benchmark with per-layer metrics (including
``scaling.eff_1_to_n``) is ``perfbench/run.py``.
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import SparkSession


def make_spark(cpus: int, app: str = "otelcol-spark-bench") -> SparkSession:
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        # bigger Arrow batches amortize the IPC boundary for pandas-UDF
        # stages (measured: ~20% off the warm Arrow parse at 64k vs 10k)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", "24g")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )


#: headline subset — one per pipeline stage family, plus the flagship
HEADLINE = [
    "parse_regex",
    "parse_regex_arrow",
    "grok_parse",
    "syslog_rfc5424",
    "enrich_broadcast",
    "route_per_sink_counts",
    "routed_rows",
    "count_multi_metric",
    "sum_items_by_team",
    "log_dedup",
    "recombine",
    "conv_text_digest",
    "ottl_transform",
    "ottl_extended",
    "otlpjson_envelope",
]


def run_bench(spark: SparkSession, sf_dir: str, names=None) -> dict[str, float]:
    import __spark_entry__ as e

    qs = e.queries()
    names = [n for n in (names or HEADLINE) if n in qs]
    times: dict[str, float] = {}
    for name in names:
        t0 = time.perf_counter()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        times[name] = round(time.perf_counter() - t0, 3)
    return times


def input_rows(spark: SparkSession, sf_dir: str) -> int:
    return spark.read.parquet(f"{sf_dir}/events.parquet").count()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "1"))
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

    spark = make_spark(cpus)
    try:
        n_turns = input_rows(spark, sf_dir)
        # session warmup: pay JIT/codegen/broadcast once outside the
        # timings (a real deployment is a warm long-running job)
        import __spark_entry__ as e

        e.queries()["route_per_sink_counts"](spark, sf_dir).write.format(
            "noop"
        ).mode("overwrite").save()
        best: dict[str, float] = {}
        for _ in range(max(runs, 1)):
            t = run_bench(spark, sf_dir)
            for k, v in t.items():
                best[k] = min(best.get(k, float("inf")), v)
        total = round(sum(best.values()), 3)
        # end-to-end pipeline throughput: turns/sec through the flagship
        flagship = best.get("route_per_sink_counts", total)
        print(
            json.dumps(
                {
                    "metric": "headline_queries_total",
                    "value": total,
                    "unit": "sec",
                    "queries": best,
                    "sf": sf_dir,
                    "cpus": cpus,
                    "input_turns": n_turns,
                    "turns_per_sec": round(n_turns / flagship) if flagship else None,
                }
            )
        )
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
