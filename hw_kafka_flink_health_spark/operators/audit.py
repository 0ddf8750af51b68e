"""Pipeline audit primitives: observed metrics and constraint quarantine.

Two ops a long-lived ingest pipeline needs on every batch:

* **Observed metrics** (`observed_write`): row counts / null counts /
  sums collected DURING the main action via `DataFrame.observe` — the
  accumulator-style audit that costs zero extra scans. At 100 TB the
  alternative ("run a count() after the write") doubles the job; this
  rides the write itself. Extends the reference's implicit contract that
  invalid records are *counted by their absence* (`parse_event` -> None,
  /root/reference/src/flink_job.py:19-32) into explicit numbers.
* **Constraint quarantine** (`split_by_constraints`): declarative row
  rules; passing rows flow on, violating rows are diverted with a
  `__violations` array naming every failed rule — the
  don't-crash-at-hour-nine posture (bad rows are data, not exceptions).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def observed_write(df: DataFrame, path: str, metrics: dict[str, Column]) -> dict:
    """Write `df` while collecting `metrics` (name -> aggregate Column)
    in the same pass. Returns the observed values as a dict."""
    obs = Observation("audit")
    observed = df.observe(obs, *[c.alias(n) for n, c in metrics.items()])
    observed.write.mode("overwrite").format("parquet").save(path)
    return dict(obs.get)


def split_by_constraints(
    df: DataFrame, rules: dict[str, Column]
) -> tuple[DataFrame, DataFrame]:
    """Split rows into (passing, quarantined) by named row-level rules.

    `rules` maps rule name -> boolean Column that is True when the row
    PASSES. Quarantined rows carry `__violations: array<string>` naming
    each failed rule. One scan feeds both outputs (Spark will evaluate
    the predicate per branch; persist upstream if the input is
    expensive), and no shuffle is introduced.
    """
    viol = F.array_compact(
        F.array(
            *[
                F.when(~cond, F.lit(name)).otherwise(F.lit(None))
                for name, cond in rules.items()
            ]
        )
    )
    tagged = df.withColumn("__violations", viol)
    good = tagged.filter(F.size("__violations") == 0).drop("__violations")
    bad = tagged.filter(F.size("__violations") > 0)
    return good, bad
