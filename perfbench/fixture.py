"""Seeded fixture generator for the benchmark.

Writes the ten fixture tables (the schemas of ``kaylee_spark.sources.TABLES``)
as one parquet file each. The table *contents* come from a fixed content
seed, so every benchmark seed measures the same data; ``seed`` only
permutes row order. With ``copies > 1`` the fact tables are repeated that
many times with unique key offsets (the shape of the repo's x10 tier) and
the seed also orders the copies, one row group per copy.

The benchmark keeps its own generator on purpose: a change to the repo's
scale tools must not move the benchmark's input.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

CONTENT_SEED = 42

#: fact tables the copies multiply, with the id column made unique per
#: copy (id + copy * offset); lineitem keeps its orderkeys so every copy
#: still joins the original orders
MULTIPLIED = ("lineitem", "orders", "customer", "events", "documents", "embeddings")
ID_OFFSET = {
    "orders": ("o_orderkey", 100_000_000),
    "customer": ("c_custkey", 10_000_000),
    "events": ("event_id", 10_000_000),
    "documents": ("doc_id", 1_000_000),
    "embeddings": ("vec_id", 1_000_000),
}

WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window data column join small customer query big "
    "order stream filter group vector"
).split()
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
ADJECTIVES = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
NOUNS = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")


def _pick(rng: np.random.Generator, values, n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)], pa.string())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> pa.Array:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    days = lo + rng.integers(0, int((hi - lo).astype(int)) + 1, n).astype("timedelta64[D]")
    return pa.array(days.astype("datetime64[us]"), pa.timestamp("us"))


def make_tables(sf: float) -> dict[str, pa.Table]:
    """One copy of every fixture table at scale ``sf`` (sf0.1 has 600k lineitems)."""
    rng = np.random.default_rng(CONTENT_SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    n_orders, n_lines, n_events = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs, n_vecs = int(50_000 * sf), max(int(20_000 * sf), 500)

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = [f"{a} {n}" for a in ADJECTIVES for n in NOUNS]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": _pick(rng, names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), n_orders),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_orders),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_orders),
        "o_orderpriority": _pick(rng, PRIORITIES, n_orders),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(np.sort(rng.integers(0, n_orders, n_lines)), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_lines), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_lines), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_lines), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_lines).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_lines),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_lines), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_lines), 2),
        "l_returnflag": _pick(rng, ("A", "N", "R"), n_lines),
        "l_linestatus": _pick(rng, ("F", "O"), n_lines),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_lines),
    })
    # events arrive in time order: ts rises with event_id
    span_us = 30 * 86_400 * 1_000_000
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.sort(rng.integers(0, span_us, n_events)).astype("timedelta64[us]")
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(int(15_000 * sf), 10), n_events), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })
    texts = []
    for _ in range(n_docs):
        r = rng.random()
        if texts and r < 0.002:  # exact duplicate of an earlier document
            texts.append(texts[rng.integers(0, len(texts))])
        elif texts and r < 0.05:  # near duplicate: one word replaced
            words = texts[rng.integers(0, len(texts))].split(" ")
            words[rng.integers(0, len(words))] = "dup"
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS), rng.integers(10, 101))]))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n_docs),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })
    vecs = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), 64).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    })
    return t


def _offset(table: pa.Table, name: str, copy: int) -> pa.Table:
    if copy == 0 or name not in ID_OFFSET:
        return table
    col, step = ID_OFFSET[name]
    i = table.schema.get_field_index(col)
    return table.set_column(i, col, pc.add(table[col], copy * step))


def write_fixture(out_dir: str, sf: float, seed: int, copies: int = 1) -> dict[str, int]:
    """Write ``<out_dir>/<table>.parquet`` for every table; return row counts.

    The seed permutes each table's rows (within a copy) and, with
    ``copies > 1``, the order of the copies.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    rows = {}
    for name, table in make_tables(sf).items():
        n_copies = copies if name in MULTIPLIED else 1
        parts = []
        for copy in rng.permutation(n_copies):
            parts.append(_offset(table, name, int(copy)).take(rng.permutation(table.num_rows)))
        full = pa.concat_tables(parts)
        pq.write_table(full, os.path.join(out_dir, f"{name}.parquet"), row_group_size=table.num_rows)
        rows[name] = full.num_rows
    return rows
