"""Query-level metrics via Spark's Observation API.

The reference's instrumentation is a wall-clock decorator printing
milliseconds around each job (`/root/reference/kaylee/utils.py:6-13`)
plus one timing around word count (`/root/reference/example.py:39-43`).
The engine-wide wall-clock replacement is bench.py; this module is the
PER-QUERY, IN-PLAN replacement: `df.observe` attaches aggregate
metrics that the executors accumulate WHILE the action runs — no
second pass over the data, no collect, and the numbers arrive on the
driver with the action's completion.

At 100 TB this is the difference between monitoring and re-computing:
row counts, null rates, and domain checks ride along with the job for
free, where a separate validation query would double the scan bill.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation


def observed(df: DataFrame, name: str, *metrics: Column) -> tuple[DataFrame, Observation]:
    """Attach named metrics to a DataFrame; returns (df, observation).

    ``observation.get`` blocks until the FIRST action on the returned
    frame completes, then yields the metric dict. Metrics must be
    aggregate expressions over the observed plan node's output.
    """
    obs = Observation(name)
    return df.observe(obs, *metrics), obs
