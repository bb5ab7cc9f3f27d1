"""Single-core run of the batch_export loop, for ``scaling.eff_1_to_n``.

    python3 perfbench/child.py --tiny TINY --sf SF --work DIR

Starts its own ``local[1]`` JVM, configured as the traced run's session
(Spark UI on, one job group per call), measures through the benchmark's
own ``measured_loop`` as the traced run does (a cold call on TINY, the
warm-up calls on SF, then one timed call on SF) and prints
``{"seconds": ...}``, the timed call's wall time.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

import run
import session


def main() -> None:
    p = argparse.ArgumentParser()
    for flag in ("--tiny", "--sf", "--work"):
        p.add_argument(flag, required=True)
    args = p.parse_args()
    sys.path.insert(0, run.ROOT)

    os.makedirs(args.work, exist_ok=True)
    spark = session.make_spark(args.work, cores=1, ui=True)
    try:
        _, runs = run.measured_loop(
            spark, args.tiny, args.sf, os.path.join(args.work, "out"),
            seconds=0, min_runs=1, group="run",
        )
    finally:
        session.stop_spark(spark)
        shutil.rmtree(args.work, ignore_errors=True)
    if runs[0].result is None:
        sys.exit(f"local[1] iteration failed: {runs[0].error}")
    print(json.dumps({"seconds": runs[0].seconds}))


if __name__ == "__main__":
    main()
