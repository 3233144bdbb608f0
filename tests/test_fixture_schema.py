"""Fixture-drift tripwire: load every driver table through the
PRODUCTION loader (kaylee_spark.sources.load_table) and assert the
exact dtypes the whole query surface is written against.

History: between rounds 2 and 3 the driver regenerated events.parquet
with ts as timestamp[us] instead of the nanos-long the loader special-
cased — every events query, all streaming tests, and two consecutive
bench runs silently died at load. This test turns the next such drift
into ONE red test that names the table and the column.
"""

from __future__ import annotations

import pytest

from kaylee_spark.sources import TABLES, load_table

EXPECTED = {
    "region": {"r_regionkey": "int", "r_name": "string"},
    "nation": {"n_nationkey": "int", "n_name": "string", "n_regionkey": "int"},
    "customer": {
        "c_custkey": "bigint",
        "c_name": "string",
        "c_nationkey": "int",
        "c_acctbal": "double",
        "c_mktsegment": "string",
    },
    "supplier": {
        "s_suppkey": "bigint",
        "s_name": "string",
        "s_nationkey": "int",
        "s_acctbal": "double",
    },
    "part": {
        "p_partkey": "bigint",
        "p_name": "string",
        "p_brand": "string",
        "p_type": "string",
        "p_size": "int",
        "p_retailprice": "double",
    },
    "orders": {
        "o_orderkey": "bigint",
        "o_custkey": "bigint",
        "o_orderstatus": "string",
        "o_totalprice": "double",
        "o_orderdate": "timestamp_ntz",
        "o_orderpriority": "string",
    },
    "lineitem": {
        "l_orderkey": "bigint",
        "l_partkey": "bigint",
        "l_suppkey": "bigint",
        "l_linenumber": "int",
        "l_quantity": "double",
        "l_extendedprice": "double",
        "l_discount": "double",
        "l_tax": "double",
        "l_returnflag": "string",
        "l_linestatus": "string",
        "l_shipdate": "timestamp_ntz",
    },
    # ts MUST come out timestamp_ntz whatever the parquet physical type
    # (nanos-long legacy fixtures or native timestamp[us]) — every
    # window/streaming query and the DuckDB oracles depend on NTZ.
    "events": {
        "event_id": "bigint",
        "ts": "timestamp_ntz",
        "user_id": "bigint",
        "event_type": "string",
        "value": "double",
        "props": "string",
    },
    "documents": {
        "doc_id": "bigint",
        "text": "string",
        "lang": "string",
        "source": "string",
        "n_chars": "bigint",
    },
    "embeddings": {"vec_id": "bigint", "embedding": "array<float>", "label": "int"},
}


def test_expected_covers_all_tables():
    assert set(EXPECTED) == set(TABLES)


@pytest.mark.parametrize("table", sorted(EXPECTED))
def test_fixture_schema(spark, sf_dir, table):
    got = dict(load_table(spark, sf_dir, table).dtypes)
    assert got == EXPECTED[table], (
        f"fixture drift in {table!r}: loader produced {got}, queries are "
        f"written against {EXPECTED[table]}"
    )


@pytest.mark.parametrize("table", sorted(EXPECTED))
def test_fixture_loads_rows(spark, sf_dir, table):
    # a loader that errors lazily (analysis-time casts) fails HERE, not
    # deep inside the first query that touches the table
    assert load_table(spark, sf_dir, table).limit(1).count() == 1


def test_legacy_nanos_events_read_as_ntz_micros(spark, tmp_path):
    """An events file whose footer stores ts as TIMESTAMP(NANOS) loads
    as TIMESTAMP_NTZ floored to the microsecond, and the read leaves
    no conf behind on the session."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    ns = [1_700_000_000_123_456_789, 1_700_000_060_000_000_999]
    table = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array(ns, pa.timestamp("ns")),
            "user_id": pa.array([7, 8], pa.int64()),
            "event_type": ["view", "click"],
            "value": [1.5, None],
            "props": ["{}", "{}"],
        }
    )
    pq.write_table(table, tmp_path / "events.parquet", version="2.6")
    assert pq.read_schema(tmp_path / "events.parquet").field("ts").type == pa.timestamp("ns")
    before = spark.conf.getAll
    df = load_table(spark, str(tmp_path), "events")
    assert spark.conf.getAll == before
    assert dict(df.dtypes) == EXPECTED["events"]
    epoch = dt.datetime(1970, 1, 1)
    assert [r["ts"] for r in df.orderBy("event_id").collect()] == [
        epoch + dt.timedelta(microseconds=n // 1000) for n in ns
    ]
