"""Table sources.

The reference's only source is a lazily mmap-scanned local text file
(`/root/reference/example.py:8-20`); this module generalizes that to
partitioned columnar scans: every fixture table is a parquet file and
loads through ``spark.read.parquet`` so Catalyst gets predicate
pushdown + column pruning for free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

#: all driver-provided fixture tables (TESTDATA.md)
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: dimension tables small enough to always broadcast in star joins —
#: at TPC-H scale region/nation are fixed-size and supplier/part/customer
#: stay orders of magnitude below the fact table.
BROADCAST_TABLES = ("region", "nation", "supplier")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar scan of one fixture table (pushdown/pruning-capable).

    Current fixtures store the events ``ts`` as parquet
    TIMESTAMP(MICROS), which reads as TIMESTAMP_NTZ with no conversion.
    Some older generations stored TIMESTAMP(NANOS), which Spark rejects
    outright; for those, read it as nanos-since-epoch long and
    floor-convert to a microsecond timestamp — exactly what DuckDB's
    micro-precision TIMESTAMP does, so both engines see identical
    values. The footer says which (pyarrow reads it, no Spark job), and
    only a NANOS file reads under ``nanosAsLong``: scoped to the read,
    which is materialized inside the scope so no later plan of the
    frame needs the conf.
    """
    path = table_path(sf_dir, name)
    if name == "events" and _footer_ts_unit(path) == "ns":
        from pyspark.sql import functions as F

        from kaylee_spark.operators.skew import scoped_conf

        with scoped_conf(spark, {"spark.sql.legacy.parquet.nanosAsLong": "true"}):
            # Integer DIV, not /: nanos-since-epoch (~1.7e18) exceeds
            # double precision, so a float divide would be off by
            # ~hundreds of ns. Produce TIMESTAMP_NTZ via pure epoch
            # arithmetic: every other fixture column reads as NTZ, and
            # an LTZ here would shift window boundaries under a non-UTC
            # driver session.
            return (
                spark.read.parquet(path)
                .withColumn(
                    "ts",
                    F.expr(
                        "timestampadd(MICROSECOND, ts DIV 1000, TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                    ),
                )
                .localCheckpoint(eager=True)
            )
    return spark.read.parquet(path)


def _footer_ts_unit(path: str) -> str | None:
    """The time unit of the parquet ``ts`` column ("us", "ns", ...),
    read from the footer of the file (or a directory's first file)."""
    import pyarrow as pa
    import pyarrow.dataset as ds

    t = ds.dataset(path, format="parquet").schema.field("ts").type
    return t.unit if pa.types.is_timestamp(t) else None


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every fixture table as a DataFrame keyed by name."""
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all fixture tables as temp views for spark.sql use."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
