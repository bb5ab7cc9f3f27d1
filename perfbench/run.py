"""Seeded benchmark of the parse -> enrich -> route -> aggregate pipeline.

    python3 perfbench/run.py --workload batch_export --seed 1 --seconds 10 --trace 0

Run from the repository root. Generates the workload's inputs from the
seed, drives ``plans.pipeline.run`` or ``streaming.pipeline.run_to_sinks``
as a user would, checks the outputs against DuckDB outside the timed
region and prints, as its last line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones (see NOTES.md).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "opentelemetry_collector_contrib_spark"

import gen  # noqa: E402
import session  # noqa: E402
import tracing  # noqa: E402

#: batch input: six thousand conversations of ten turns on average
BATCH_SHAPE = gen.BatchShape(turns=60_000, convs=6_000)
#: a tiny input of the same layout. Every batch session (untraced, traced
#: and the local[1] scaling child) makes its cold pipeline.run on it, which
#: pays class loading, code generation and the first JIT compiles for a
#: fraction of the measured input's cost, then WARM_CALLS untimed calls on
#: the measured input, which warm its per-row paths. A warm pipeline.run on
#: it is the job's fixed cost (pipeline.fixed_s)
TINY_SHAPE = gen.BatchShape(turns=2_000, convs=100)
WARM_CALLS = 1
#: an untraced run measures in SESSIONS fresh JVMs, one after another: how
#: fast a JVM runs the job varies from launch to launch (each call compiles
#: 40-90 new generated classes, a different number in each JVM) and with
#: the host's load, so one launch per run made the run-to-run spread as wide
#: as the bounds. Each session times calls on the measured input for
#: --seconds / SESSIONS and at least MIN_RUNS times; a traced run (one
#: session) and its scaling child time one
SESSIONS = 2
MIN_RUNS = 2
#: streaming: files land every FILE_PERIOD_S, which does not divide the
#: TRIGGER_S flush interval, at ROWS_PER_FILE / FILE_PERIOD_S turns/s
TRIGGER_S = 3.0
FILE_PERIOD_S = 0.09
SCHEDULE_PHASE_S = 0.5
ROWS_PER_FILE = 80
STREAM_CONVS = 2_000
DRAIN_TIMEOUT_S = 60.0
#: files committed one micro-batch each before the schedule starts, to pay
#: class loading, codegen and JIT
WARM_FILES = 2

END_TO_END_UNITS = {
    "turns_per_s": "turns/s",
    "lag_p50_s": "s",
    "lag_tail_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER_UNITS = {
    "sources.derive_s": "s",
    "parsers.parse_s": "s",
    "parsers.parse_ok_ratio": "ratio",
    "parsers.parse_rows": "count",
    "processors.enrich_s": "s",
    "processors.enrich_hit_ratio": "ratio",
    "connectors.route_s": "s",
    "connectors.union_s": "s",
    "connectors.fanout_ratio": "ratio",
    "connectors.export_s": "s",
    "connectors.export_bytes": "B",
    "connectors.export_files": "count",
    "connectors.aggregate_s": "s",
    "pipeline.build_s": "s",
    "pipeline.fixed_s": "s",
    "pipeline.spark_jobs": "count",
    "pipeline.input_passes": "ratio",
    "shuffle.write_bytes": "B",
    "shuffle.task_skew": "ratio",
    "streaming.batch_s_p50": "s",
    "streaming.add_batch_share": "ratio",
    "streaming.rows_per_batch": "count",
    "jvm.gc_s": "s",
    "gen.late_s_max": "s",
    "scaling.eff_1_to_n": "ratio",
    "trace.turns_per_s": "turns/s",
}


@dataclass
class Outcome:
    metrics: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    notes: list[str] = field(default_factory=list)


def tail(samples: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile); the maximum when there are too few samples."""
    xs = sorted(samples)
    k = len(xs) - 10
    if k < 1:
        return xs[-1], 100.0
    return xs[k - 1], 100.0 * k / len(xs)


# ---------------------------------------------------------------------------
# batch workload (closed loop: the next pipeline.run starts when one ends)
# ---------------------------------------------------------------------------

@dataclass
class Iteration:
    seconds: float
    gc_s: float
    result: dict | None
    out_dir: str
    error: str | None = None


def measured_loop(
    spark, tiny_dir, sf_dir, out_root, *, seconds, min_runs, group=None
) -> tuple[list[float], list[Iteration]]:
    """One cold ``pipeline.run`` on the tiny input ``tiny_dir`` (class
    loading, codegen, JIT) and ``WARM_CALLS`` on the measured input
    ``sf_dir``, all untimed, then timed calls on ``sf_dir`` back to back
    for ``seconds`` and at least ``min_runs`` times. Returns the untimed
    calls' seconds and the timed calls. The benchmark's sessions and the
    ``local[1]`` scaling child all measure through here."""
    from opentelemetry_collector_contrib_spark.plans import pipeline

    untimed = []
    for i, src in enumerate([tiny_dir] + [sf_dir] * WARM_CALLS):
        t0 = time.perf_counter()
        pipeline.run(spark, src, os.path.join(out_root, f"untimed-{i}"), with_histograms=True)
        untimed.append(time.perf_counter() - t0)
        shutil.rmtree(os.path.join(out_root, f"untimed-{i}"), ignore_errors=True)
    runs: list[Iteration] = []
    t_start = time.perf_counter()
    while len(runs) < min_runs or time.perf_counter() - t_start < seconds:
        out = os.path.join(out_root, f"iter-{len(runs)}")
        if group:
            tracing.set_job_group(spark, f"{group}-{len(runs)}")
        gc0 = session.gc_seconds(spark)
        t0 = time.perf_counter()
        try:
            res, error = pipeline.run(spark, sf_dir, out, with_histograms=True), None
        except Exception as e:  # a failed iteration is counted, not fatal
            res, error = None, repr(e)
        took = time.perf_counter() - t0
        runs.append(Iteration(took, session.gc_seconds(spark) - gc0, res, out, error))
    return untimed, runs


def check_iterations(runs: list[Iteration], sf_dir: str) -> int:
    """Count the iterations that raised or disagree with DuckDB."""
    import oracle

    ora = oracle.BatchOracle(sf_dir)
    try:
        failed = 0
        for it in runs:
            ok = it.result is not None
            if ok:
                counts = it.result["per_sink_counts"]
                hist = {
                    m["sink"]: m["value"]
                    for m in it.result["metrics"]
                    if m["metric"] == "records.per_sink"
                }
                ok = (
                    ora.counts_match(counts)
                    and ora.counts_match(hist)
                    and ora.routed_rows_match(os.path.join(it.out_dir, "routed"))
                )
            failed += not ok
        return failed
    finally:
        ora.close()


def batch(args, work: str) -> Outcome:
    out = Outcome()
    sf = os.path.join(work, "sf")
    made = gen.write_batch_inputs(sf, BATCH_SHAPE, args.seed)
    tiny = os.path.join(work, "tiny")
    gen.write_batch_inputs(tiny, TINY_SHAPE, args.seed + 1)
    out.notes.append(f"input: {made}")
    sessions = 1 if args.trace else SESSIONS
    setups, rsss, per_session, runs = [], [], [], []
    for k in range(sessions):
        session.reset_peak_rss()
        spark, setup_s = session.start_timed(work, ui=bool(args.trace))
        try:
            untimed, timed = measured_loop(
                spark, tiny, sf, os.path.join(work, f"out-{k}"),
                seconds=0 if args.trace else args.seconds / sessions,
                min_runs=1 if args.trace else MIN_RUNS,
                group="run" if args.trace else None,
            )
            rsss.append(session.peak_rss_mb(spark))
            if args.trace:
                traced_batch(spark, args, work, tiny, sf, made, timed, out)
        finally:
            session.stop_spark(spark)
        setups.append(setup_s)
        per_session.append([it.seconds for it in timed])
        runs += timed
        out.notes.append(
            f"session {k}: set-up {setup_s:.2f} s, warm-up calls "
            f"{', '.join(f'{t:.2f}' for t in untimed)} s, timed calls "
            f"{', '.join(f'{t:.2f}' for t in per_session[-1])} s"
        )
    out.attempted = len(runs)
    out.failed = check_iterations(runs, sf)
    if not args.trace:
        times = [t for ts in per_session for t in ts]
        tails = [tail(ts) for ts in per_session]
        out.metrics.update(
            turns_per_s=made["turns"] / statistics.median(times),
            lag_p50_s=statistics.median(times),
            lag_tail_s=statistics.median(v for v, _ in tails),
            setup_s=statistics.median(setups),
            peak_rss_mb=statistics.median(rsss),
        )
        out.notes.append(
            f"lag = pipeline.run wall time over {len(times)} timed calls in {sessions} "
            f"sessions; lag_tail_s is the median over sessions of each session's "
            f"p{max(p for _, p in tails):.0f}"
        )
    return out


def traced_batch(spark, args, work, tiny, sf, made, runs, out: Outcome) -> None:
    from opentelemetry_collector_contrib_spark.operators import connectors
    from opentelemetry_collector_contrib_spark.plans import pipeline

    spans = tracing.Spans()
    m = out.metrics
    turns = made["turns"]
    (timed,) = runs  # a traced run times one pipeline.run, in job group run-0
    m["trace.turns_per_s"] = turns / timed.seconds
    m["pipeline.spark_jobs"] = tracing.job_count(spark, "run-0")
    stats = tracing.SparkRest(spark).group_stats("run-0")
    m["pipeline.input_passes"] = stats["input_records"] / (turns + made["convs"])
    m["shuffle.write_bytes"] = stats["shuffle_write_bytes"]
    m["shuffle.task_skew"] = stats["task_skew"]
    m["jvm.gc_s"] = timed.gc_s

    layers = tracing.prefix_self_times(spark, sf, spans)
    m["sources.derive_s"] = layers["sources"]
    m["parsers.parse_s"] = layers["parsers"]
    m["parsers.parse_ok_ratio"] = layers["parse_ok"] / layers["parse_rows"]
    m["parsers.parse_rows"] = layers["parse_rows"]
    m["processors.enrich_s"] = layers["processors"]
    m["processors.enrich_hit_ratio"] = layers["enrich_hits"] / layers["enrich_rows"]
    m["connectors.route_s"] = layers["connectors.route"]
    m["connectors.union_s"] = layers["connectors.union"]

    # the steps of pipeline.run, one after another, each action in its own group
    with spans.span("pipeline.build", parent="pipeline.run"):
        tracing.set_job_group(spark, "build")
        res = pipeline.build(spark, sf)
    m["pipeline.build_s"] = sum(spans.seconds("pipeline.build"))
    with spans.span("connectors.aggregate.counts", parent="pipeline.run"):
        tracing.set_job_group(spark, "aggregate-counts")
        counts = pipeline.per_sink_counts(res).collect()
    with spans.span("connectors.aggregate.metrics", parent="pipeline.run"):
        tracing.set_job_group(spark, "aggregate-metrics")
        pipeline.pipeline_metrics(res).collect()
    m["connectors.aggregate_s"] = sum(
        spans.seconds("connectors.aggregate.counts") + spans.seconds("connectors.aggregate.metrics")
    )
    m["connectors.fanout_ratio"] = sum(r["n"] for r in counts) / turns
    export_dir = os.path.join(work, "traced-export")
    with spans.span("connectors.export", parent="pipeline.run"):
        tracing.set_job_group(spark, "export")
        connectors.write_routed(res.tagged, res.sink_map, export_dir)
    files = [
        os.path.join(r, f) for r, _, fs in os.walk(export_dir) for f in fs if f.startswith("part-")
    ]
    m["connectors.export_s"] = sum(spans.seconds("connectors.export"))
    m["connectors.export_bytes"] = sum(os.path.getsize(f) for f in files)
    m["connectors.export_files"] = len(files)
    with spans.span("pipeline.fixed"):
        pipeline.run(spark, tiny, os.path.join(work, "tiny-out"), with_histograms=True)
    m["pipeline.fixed_s"] = sum(spans.seconds("pipeline.fixed"))
    with spans.span("scaling.local1"):
        m["scaling.eff_1_to_n"] = scaling_efficiency(work, tiny, sf, timed.seconds)
    m.update({"streaming.batch_s_p50": 0.0, "streaming.add_batch_share": 0.0,
              "streaming.rows_per_batch": 0.0, "gen.late_s_max": 0.0})
    out.notes.append("streaming.* and gen.* do not apply to a batch workload (reported 0)")
    spans.dump(os.path.join(ROOT, ".perfbench_out", f"{args.workload}-seed{args.seed}-spans.json"))


def scaling_efficiency(work, tiny, sf, seconds_n) -> float:
    """turns_per_s at local[nproc] over nproc x turns_per_s at local[1].
    Both sides are the first timed call of ``measured_loop`` (after the
    same warm-up) in a session with the same configuration; the
    single-core one is a child process with its own JVM."""
    import subprocess

    child = subprocess.run(
        [sys.executable, os.path.join(HERE, "child.py"), "--tiny", tiny, "--sf", sf,
         "--work", os.path.join(work, "local1")],
        capture_output=True, text=True, timeout=150, check=True,
    )
    seconds_1 = json.loads(child.stdout.strip().splitlines()[-1])["seconds"]
    return seconds_1 / (session.host_cores() * seconds_n)


# ---------------------------------------------------------------------------
# streaming workload (open loop: files land on a schedule that never waits)
# ---------------------------------------------------------------------------

class OpenLoopGenerator(threading.Thread):
    """Drops one transcript file every ``period`` seconds: written to a
    temporary path, then renamed into the input directory."""

    def __init__(self, tables, in_dir, tmp_dir, period, start_at):
        super().__init__(daemon=True)
        self.tables, self.in_dir, self.tmp_dir = tables, in_dir, tmp_dir
        self.period, self.start_at = period, start_at
        self.scheduled: dict[str, float] = {}
        self.late: list[float] = []

    def run(self) -> None:
        import pyarrow.parquet as pq

        for i, table in enumerate(self.tables):
            due = self.start_at + i * self.period
            time.sleep(max(0.0, due - time.time()))
            name = f"part-{i:05d}.parquet"
            tmp = os.path.join(self.tmp_dir, name)
            pq.write_table(table, tmp)
            os.rename(tmp, os.path.join(self.in_dir, name))
            self.scheduled[name] = due
            self.late.append(time.time() - due)


def committed_files(ckpt: str) -> dict[str, float]:
    """File name -> end time of the micro-batch that committed it, read
    from the query's checkpoint: the file-source log names each batch's
    files and the commit log's mtime is when its sinks were written."""
    commits_dir = os.path.join(ckpt, "commits")
    sources_dir = os.path.join(ckpt, "sources", "0")
    if not os.path.isdir(commits_dir) or not os.path.isdir(sources_dir):
        return {}
    commits = {
        int(n): os.path.getmtime(os.path.join(commits_dir, n))
        for n in os.listdir(commits_dir)
        if n.isdigit()
    }
    done = {}
    for n in os.listdir(sources_dir):
        if n.startswith("."):
            continue
        with open(os.path.join(sources_dir, n)) as f:
            for line in f.read().splitlines()[1:]:
                entry = json.loads(line)
                if entry["batchId"] in commits:
                    done[os.path.basename(entry["path"])] = commits[entry["batchId"]]
    return done


def wait_committed(ckpt: str, names, timeout: float) -> dict[str, float]:
    deadline = time.time() + timeout
    while True:
        done = committed_files(ckpt)
        if all(n in done for n in names) or time.time() > deadline:
            return done
        time.sleep(0.05)


def delivered_turns_per_s(scheduled: dict[str, float], done: dict[str, float]) -> float:
    """Turns in the sinks per second, from the first file's due time to
    the last commit: the offered rate less the last micro-batch's delay,
    and less again once the job falls behind."""
    committed = [n for n in scheduled if n in done]
    if not committed:
        return 0.0
    span = max(done[n] for n in committed) - min(scheduled.values())
    return len(committed) * ROWS_PER_FILE / span


def schedule_start() -> float:
    """When the first file is due: SCHEDULE_PHASE_S after a trigger.
    Processing-time triggers fire on multiples of the interval since the
    epoch, so every run splits the schedule into the same micro-batches."""
    return (math.floor(time.time() / TRIGGER_S) + 1) * TRIGGER_S + SCHEDULE_PHASE_S


def stream(args, work: str) -> Outcome:
    import pyarrow.parquet as pq

    from opentelemetry_collector_contrib_spark.streaming import pipeline as streaming

    import oracle

    out = Outcome()
    sf = os.path.join(work, "sf")
    gen.write_batch_inputs(sf, gen.BatchShape(turns=2_000, convs=STREAM_CONVS, files=1), args.seed + 2)
    n_files = max(11, int(args.seconds / FILE_PERIOD_S))
    tables = gen.transcript_files(
        args.seed, files=n_files + WARM_FILES, rows_per_file=ROWS_PER_FILE, convs=STREAM_CONVS
    )
    in_dir, tmp_dir = os.path.join(work, "in"), os.path.join(work, "in-tmp")
    sink_dir, ckpt = os.path.join(work, "sinks"), os.path.join(work, "ckpt")
    os.makedirs(in_dir)
    os.makedirs(tmp_dir)
    rate = ROWS_PER_FILE / FILE_PERIOD_S
    out.notes.append(
        f"open loop: {n_files} files of {ROWS_PER_FILE} turns every {FILE_PERIOD_S}s "
        f"({rate:.0f} turns/s), flush_interval {TRIGGER_S}s"
    )
    session.reset_peak_rss()
    spark, setup_s = session.start_timed(work, ui=bool(args.trace))
    listener = None
    try:
        if args.trace:
            listener = tracing.progress_listener()
            spark.streams.addListener(listener)
        query = streaming.run_to_sinks(spark, in_dir, sf, sink_dir, ckpt, flush_interval=TRIGGER_S)
        try:
            for i, table in enumerate(tables[:WARM_FILES]):
                name = f"warm-{i}.parquet"
                pq.write_table(table, os.path.join(tmp_dir, name))
                os.rename(os.path.join(tmp_dir, name), os.path.join(in_dir, name))
                wait_committed(ckpt, [name], 120.0)
            first_batch = 1 + max(int(n) for n in os.listdir(os.path.join(ckpt, "commits")) if n.isdigit())
            gc0 = session.gc_seconds(spark)
            gen_thread = OpenLoopGenerator(
                tables[WARM_FILES:], in_dir, tmp_dir, FILE_PERIOD_S, schedule_start()
            )
            gen_thread.start()
            gen_thread.join()
            done = wait_committed(ckpt, list(gen_thread.scheduled), DRAIN_TIMEOUT_S)
            gc_s = session.gc_seconds(spark) - gc0
            progress = [
                dict(batch_id=p.batchId, rows=p.numInputRows, durations=dict(p.durationMs))
                for p in query.recentProgress
            ]
        finally:
            query.stop()
        rss = session.peak_rss_mb(spark)
    finally:
        if listener is not None:
            spark.streams.removeListener(listener)
        session.stop_spark(spark)

    lags = [done[n] - due for n, due in gen_thread.scheduled.items() if n in done]
    delivered = delivered_turns_per_s(gen_thread.scheduled, done)
    out.attempted = n_files + 1  # every scheduled file, plus the sink-count check
    out.failed = n_files - len(lags)
    expected = oracle.stream_expected_counts(in_dir)
    written = oracle.stream_written_counts(os.path.join(sink_dir, "routed"))
    if written != expected:
        out.failed += 1
        out.notes.append(f"sink counts {written} != DuckDB {expected}")
    busy = [p for p in progress if p["rows"] and p["batch_id"] >= first_batch]
    if not args.trace:
        lag_tail, pct = tail(lags)
        out.metrics.update(
            turns_per_s=delivered,
            lag_p50_s=statistics.median(lags),
            lag_tail_s=lag_tail,
            setup_s=setup_s,
            peak_rss_mb=rss,
        )
        out.notes.append(
            f"lag_tail_s is p{pct:.1f} of {len(lags)} files over {len(busy)} micro-batches"
        )
    else:
        events = [p for p in listener.progress if p["rows"] and p["batch_id"] >= first_batch]
        total = sum(p["durations"]["triggerExecution"] for p in events)
        m = out.metrics
        m["streaming.batch_s_p50"] = statistics.median(
            p["durations"]["triggerExecution"] / 1000.0 for p in events
        )
        m["streaming.add_batch_share"] = sum(p["durations"].get("addBatch", 0) for p in events) / total
        m["streaming.rows_per_batch"] = statistics.median(p["rows"] for p in events)
        m["trace.turns_per_s"] = delivered
        m["jvm.gc_s"] = gc_s
        m["gen.late_s_max"] = max(gen_thread.late)
        for name in PER_LAYER_UNITS:
            m.setdefault(name, 0.0)
        out.notes.append("batch-only layer metrics do not apply to the streaming workload (reported 0)")
    return out


WORKLOADS = {"batch_export": batch, "stream_open_loop": stream}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        out = WORKLOADS[args.workload](args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    units = PER_LAYER_UNITS if args.trace else END_TO_END_UNITS
    for note in out.notes:
        print(f"perfbench {args.workload}: {note}")
    print(
        f"perfbench {args.workload} seed={args.seed}: "
        + ", ".join(f"{k}={out.metrics[k]:.6g} {u}" for k, u in units.items())
        + f", failed_frac={out.failed / out.attempted:.6g} ({out.failed}/{out.attempted})"
    )
    print(
        json.dumps(
            {
                "correct": out.failed == 0,
                "attempted": out.attempted,
                "failed": out.failed,
                "metrics": {
                    k: {"value": float(out.metrics[k]), "unit": u} for k, u in units.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
