"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]`` but every knob here is chosen for
the 100 TB / 1000-executor design point:

- AQE on (runtime re-plan: partition coalescing, skew-join splitting,
  broadcast demotion/promotion).
- Arrow on (vectorized Python <-> JVM transfer for the pandas-UDF
  operators; row-at-a-time Python UDFs are banned in hot paths).
- Sane shuffle partition default for local runs; at cluster scale this
  is superseded by AQE's coalescing from a high initial count.
- UTC session timezone so timestamp semantics match the DuckDB oracle
  and are stable across environments.
- Python workers fork from ``kaylee_spark.worker_daemon``, which stops
  every task from re-reading ``pyspark.zip`` (about 0.2 CPU s a task
  on CPython 3.11; docs/SCALE.md, "Every Python task has a fixed cost").
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spark_builder(app_name: str = "kaylee_spark", cpus: str | int | None = None) -> SparkSession.Builder:
    """The session builder with engine defaults, before ``getOrCreate``.

    Tools that need more confs (the UI, say) add them to this builder
    instead of copying its ``.config`` lines.
    """
    cpus = str(cpus or DEFAULT_CPUS)
    return (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # Local-mode split sizing: the default 128 MB split turns a
        # ~25 MB fixture table into 2-3 scan partitions, leaving 29 of
        # 32 cores idle through CPU-bound decimal aggregations
        # (observed: lineitem scans run (2+1)/3 with a straggler
        # tail). 4 MB splits fan the same scan ~8-25 wide. At cluster
        # scale this knob stays at its 128 MB default — there the
        # dataset, not the split size, supplies the parallelism; this
        # is the local-bench expression of "size splits to keep every
        # core busy", not a production setting.
        .config("spark.sql.files.maxPartitionBytes", "4m")
        .config("spark.sql.files.openCostInBytes", "1m")
        .config("spark.python.daemon.module", "kaylee_spark.worker_daemon")
        # the daemon and the functions cloudpickle ships by reference
        # import kaylee_spark in the workers, whatever the driver's cwd
        .config("spark.executorEnv.PYTHONPATH", PACKAGE_ROOT)
    )


def get_spark(app_name: str = "kaylee_spark", cpus: str | int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    When the driver hands us an existing session (``__spark_entry__.entry``)
    we do NOT call this — queries must run on any vanilla session, so all
    query code avoids depending on these configs for correctness.
    """
    return spark_builder(app_name, cpus).getOrCreate()
