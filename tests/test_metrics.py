"""Observation-API metrics: numbers accumulate during the caller's
action (no second scan) and must agree with explicitly computed
values."""

from __future__ import annotations

from pyspark.sql import functions as F

from kaylee_spark import metrics as M
from kaylee_spark.sources import load_table


def test_observed_custom_metric(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    df, obs = M.observed(
        li, "qa", F.count(F.lit(1)).alias("n"), F.max("l_quantity").alias("max_qty")
    )
    df.write.format("noop").mode("overwrite").save()
    want = li.agg(F.count(F.lit(1)), F.max("l_quantity")).first()
    assert (obs.get["n"], obs.get["max_qty"]) == tuple(want)
