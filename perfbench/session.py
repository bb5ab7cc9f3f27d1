"""SparkSession sized from the host, plus process-level measurements.

Every Spark process the benchmark starts (the measured session and the
single-core scaling child) is built here so they share one configuration:

  * ``local[nproc]`` (or an explicit core count for the scaling child);
  * a driver heap of an eighth of physical memory, clamped to 1-2 GiB and
    reserved at start (``-Xms`` = ``-Xmx``), so the JVM fits beside other
    tenants on a small host and its RSS does not depend on when the
    collector chose to grow the heap;
  * a fixed shuffle-partition count, so plans do not change with the host;
  * the console progress bar off: its carriage returns swallow the
    benchmark's own printed lines;
  * every scratch file (Spark local dirs, JVM temp dir, warehouse) under
    the benchmark's work directory, never in ``/tmp``.
"""

from __future__ import annotations

import os
import time

SHUFFLE_PARTITIONS = 16


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory_mb() -> int:
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return max(1024, min(2048, total_kb // 1024 // 8))


def point_tmp_at(work_dir: str) -> str:
    """Route Python's and Spark's launcher temp files into ``work_dir``."""
    import tempfile

    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    return tmp


def make_spark(work_dir: str, *, cores: int | None = None, ui: bool = False):
    from pyspark.sql import SparkSession

    tmp = point_tmp_at(work_dir)
    cores = cores or host_cores()
    heap = f"{driver_memory_mb()}m"
    return (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", heap)
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{heap} -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        )
        .config("spark.local.dir", os.path.join(work_dir, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(SHUFFLE_PARTITIONS))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "true" if ui else "false")
        .getOrCreate()
    )


def ready(spark) -> None:
    """The first trivial job: the session is usable once it returns."""
    spark.range(1).count()


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM process to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        return next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))


def reset_peak_rss() -> None:
    """Restart this process's VmHWM so input generation does not count."""
    try:
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass


def peak_rss_mb(spark) -> float:
    """Peak RSS of this Python driver plus the Spark JVM, from /proc."""
    return (_vm_hwm_kb("self") + _vm_hwm_kb(jvm_pid(spark))) / 1024.0


def gc_seconds(spark) -> float:
    """Cumulative JVM garbage-collection time of the driver JVM."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    return sum(max(0, b.getCollectionTime()) for b in mf.getGarbageCollectorMXBeans()) / 1000.0


def start_timed(work_dir: str, *, ui: bool = False):
    """Launch a fresh JVM and session; return it with the seconds it took
    to become ready (the set-up cost a ``spark-submit`` user pays)."""
    t0 = time.perf_counter()
    spark = make_spark(work_dir, ui=ui)
    ready(spark)
    return spark, time.perf_counter() - t0
