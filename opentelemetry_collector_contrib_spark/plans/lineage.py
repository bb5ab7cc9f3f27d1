"""obsreport-style per-stage lineage & counters.

The reference reports accepted/refused/sent per component
(pkg/stanza/adapter/receiver.go:55-63; obsreport). Spark-first analog:
``DataFrame.observe`` named metrics — they ride along with the job, cost
nothing extra (no second pass), and are collected per action via
QueryExecutionListener or read back from ``Observation`` objects.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, functions as F


@dataclass
class Lineage:
    """Collects per-stage row counters without extra passes, and the
    observed frame of each stage (``frames``), so a caller can take a
    stage's output from a compiled plan."""

    observations: dict[str, Observation] = field(default_factory=dict)
    frames: dict[str, DataFrame] = field(default_factory=dict)

    def observe(self, df: DataFrame, stage: str, **extra) -> DataFrame:
        """Attach rows_in/rows_out style metrics to a stage boundary.

        ``extra`` maps metric name -> Column aggregate (e.g.
        ``errors=F.sum(F.col('parse_ok').cast('int'))``).
        """
        obs = Observation(stage)
        self.observations[stage] = obs
        metrics = [F.count(F.lit(1)).alias("rows")]
        metrics += [c.alias(n) for n, c in extra.items()]
        self.frames[stage] = df.observe(obs, *metrics)
        return self.frames[stage]

    def collect(self) -> dict[str, dict]:
        """Metric values for all stages whose job has completed."""
        return {k: dict(v.get) for k, v in self.observations.items()}

