"""Per-stage timing probe for one registry query (guide §1/§7).

Runs the query end-to-end into the noop sink on a UI-enabled session,
then pulls per-stage metrics from the Spark UI REST API and prints the
stages sorted by executor run time — the local-mode substitute for the
Stages tab. A warmup pass at sf0.001 first compiles codegen so the
timed pass measures steady-state work, matching bench.py methodology.

Usage: python tools/probe_query.py <query> [sf_dir] [passes]
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kaylee_spark.queries import load_everything  # noqa: E402
from kaylee_spark.session import spark_builder  # noqa: E402


def main() -> None:
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    passes = int(sys.argv[3]) if len(sys.argv) > 3 else 1
    registry = load_everything()
    spec = registry[name]

    # engine defaults, plus the UI for its REST API
    spark = spark_builder("probe").config("spark.ui.enabled", "true").config("spark.ui.port", "4049").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    # warmup at smallest sf for codegen
    warm = "/root/testdata/sf0.001"
    try:
        spec.fn(spark, warm).write.format("noop").mode("overwrite").save()
    except Exception as exc:
        print(f"warmup failed: {exc}", file=sys.stderr)
    spark.catalog.clearCache()

    times = []
    for i in range(passes):
        spark.catalog.clearCache()
        spark.sparkContext.setJobDescription(f"{name} pass {i}")
        t0 = time.perf_counter()
        spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t0)
    print(f"{name}: passes {['%.3f' % t for t in times]}")

    app_id = spark.sparkContext.applicationId
    base = "http://localhost:4049/api/v1/applications/" + app_id
    stages = json.load(urllib.request.urlopen(base + "/stages?status=complete"))
    # keep only stages submitted after probe start (skip warmup noise is
    # hard; instead show all, sorted by executorRunTime)
    rows = []
    for st in stages:
        rows.append(
            (
                st.get("executorRunTime", 0),
                st.get("stageId"),
                st.get("attemptId"),
                st.get("numCompleteTasks"),
                st.get("inputBytes", 0),
                st.get("shuffleReadBytes", 0),
                st.get("shuffleWriteBytes", 0),
                (st.get("description") or st.get("name", ""))[:110],
            )
        )
    rows.sort(reverse=True)
    print("  runMs stage att tasks      input    shufRead   shufWrite  name")
    for r in rows[:40]:
        print(f"{r[0]:7d} {r[1]:5d} {r[2]:3d} {r[3]:5d} {r[4]:10d} {r[5]:11d} {r[6]:11d}  {r[7]}")
    jobs = json.load(urllib.request.urlopen(base + "/jobs"))
    print(f"jobs: {len(jobs)}  stages: {len(stages)}")


if __name__ == "__main__":
    main()
