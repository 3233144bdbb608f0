"""Snapshot upsert/merge: replace, delete, composite keys, idempotence."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kaylee_spark.operators.maintenance import upsert_snapshot


def _snap(df):
    return {tuple(r) for r in df.collect()}


def test_upsert_replaces_and_inserts(spark):
    base = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    updates = spark.createDataFrame([(2, "B"), (3, "c")], ["k", "v"])
    out = upsert_snapshot(base, updates, keys="k")
    assert _snap(out) == {(1, "a"), (2, "B"), (3, "c")}


def test_upsert_tombstone_deletes_key(spark):
    base = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["k", "v"])
    updates = spark.createDataFrame(
        [(2, "B", False), (3, "ignored", True)], ["k", "v", "del"]
    )
    out = upsert_snapshot(base, updates, keys="k", tombstone_col="del")
    assert _snap(out) == {(1, "a"), (2, "B")}


def test_upsert_composite_key_and_missing_column(spark):
    base = spark.createDataFrame([(1, 10, "a"), (1, 20, "b")], ["k1", "k2", "v"])
    updates = spark.createDataFrame([(1, 20, "B")], ["k1", "k2", "v"])
    out = upsert_snapshot(base, updates, keys=["k1", "k2"])
    assert _snap(out) == {(1, 10, "a"), (1, 20, "B")}

    bad = spark.createDataFrame([(1, 20)], ["k1", "k2"])
    with pytest.raises(ValueError, match="missing base columns"):
        upsert_snapshot(base, bad, keys=["k1", "k2"])


def test_upsert_idempotent_reapplication(spark):
    """Applying the same change batch twice yields the same snapshot —
    the merge is a pure function of (base, updates)."""
    base = spark.createDataFrame([(i, f"v{i}") for i in range(20)], ["k", "v"])
    updates = spark.createDataFrame(
        [(5, "V5", False), (7, "", True)], ["k", "v", "del"]
    )
    once = upsert_snapshot(base, updates, keys="k", tombstone_col="del")
    twice = upsert_snapshot(once, updates, keys="k", tombstone_col="del")
    assert _snap(once) == _snap(twice)
    assert (5, "V5") in _snap(once) and all(r[0] != 7 for r in _snap(once))


# ---------------------------------------------------------------------------
# snapshot_diff
# ---------------------------------------------------------------------------


def test_snapshot_diff_classifies_changes(spark):
    from kaylee_spark.operators.maintenance import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], ["id", "payload", "v"]
    )
    new = spark.createDataFrame(
        [(1, "a", 10), (2, "B", 20), (4, "d", 40)], ["id", "payload", "v"]
    )
    got = {r["id"]: r["change"] for r in snapshot_diff(old, new, "id").collect()}
    # 1 unchanged -> absent; 2 modified; 3 removed; 4 added
    assert got == {2: "modified", 3: "removed", 4: "added"}


def test_snapshot_diff_null_payload_is_hashable(spark):
    from kaylee_spark.operators.maintenance import snapshot_diff

    old = spark.createDataFrame([(1, None), (2, "x")], "id: bigint, payload: string")
    new = spark.createDataFrame([(1, None), (2, None)], "id: bigint, payload: string")
    got = {r["id"]: r["change"] for r in snapshot_diff(old, new, "id").collect()}
    # null == null payload is unchanged; x -> null is modified
    assert got == {2: "modified"}


def test_snapshot_diff_shuffles_hashes_not_payload(spark):
    from kaylee_spark.operators.maintenance import snapshot_diff

    old = spark.createDataFrame([(1, "a" * 1000)], ["id", "payload"])
    new = spark.createDataFrame([(1, "b" * 1000)], ["id", "payload"])
    plan = snapshot_diff(old, new, "id")._jdf.queryExecution().optimizedPlan().toString()
    # payload column is pruned before the join: only id + hash survive
    assert "payload" not in plan.split("Join")[0]


def test_snapshot_diff_missing_columns_raises(spark):
    import pytest as _pytest

    from kaylee_spark.operators.maintenance import snapshot_diff

    old = spark.createDataFrame([(1, "a")], ["id", "payload"])
    new = spark.createDataFrame([(1,)], ["id"])
    with _pytest.raises(ValueError, match="missing columns"):
        snapshot_diff(old, new, "id")


def test_diff_to_updates_roundtrip_reproduces_new_snapshot(spark):
    """Cross-operator invariant: snapshot_diff's report, turned into a
    CDC update batch (added/modified rows + tombstones for removed),
    must drive upsert_snapshot from the old snapshot exactly to the
    new one — the diff and the merge agree on change semantics."""
    import pyspark.sql.functions as F

    from kaylee_spark.operators.maintenance import snapshot_diff, upsert_snapshot

    old = spark.createDataFrame(
        [(i, f"p{i}", i * 10) for i in range(40)], ["id", "payload", "v"]
    )
    # drop %5, edit %7, add 100..104
    new = (
        old.filter(F.col("id") % 5 != 0)
        .withColumn(
            "payload",
            F.when(F.col("id") % 7 == 0, F.concat(F.col("payload"), F.lit("_v2"))).otherwise(
                F.col("payload")
            ),
        )
        .unionByName(
            spark.createDataFrame([(100 + i, f"n{i}", 0) for i in range(5)], ["id", "payload", "v"])
        )
    )
    diff = snapshot_diff(old, new, "id")
    changed = diff.filter(F.col("change") != "removed").select("id")
    updates = new.join(changed, "id").withColumn("deleted", F.lit(False)).unionByName(
        diff.filter(F.col("change") == "removed")
        .select("id")
        .withColumn("payload", F.lit(None).cast("string"))
        .withColumn("v", F.lit(None).cast("bigint"))
        .withColumn("deleted", F.lit(True))
    )
    merged = upsert_snapshot(old, updates, "id", tombstone_col="deleted")
    assert sorted(tuple(r) for r in merged.collect()) == sorted(tuple(r) for r in new.collect())


# ---------------------------------------------------------------------------
# scd2_intervals
# ---------------------------------------------------------------------------


def test_scd2_collapses_runs_and_links_intervals(spark):
    from kaylee_spark.operators.maintenance import scd2_intervals

    rows = [
        (1, "bronze", 10), (1, "bronze", 20), (1, "gold", 30),
        (1, "bronze", 40),  # back to a previous value = NEW version
        (2, "gold", 5),
    ]
    df = spark.createDataFrame(rows, "k long, tier string, t long")
    out = {
        (r["key"], r["version"]): r
        for r in scd2_intervals(df, "k", "tier", "t").collect()
    }
    assert out[(1, 1)]["attr"] == "bronze" and out[(1, 1)]["n_obs"] == 2
    assert (out[(1, 1)]["valid_from"], out[(1, 1)]["valid_to"]) == (10, 30)
    assert (out[(1, 2)]["attr"], out[(1, 2)]["valid_from"], out[(1, 2)]["valid_to"]) == ("gold", 30, 40)
    # current version's interval is open
    assert out[(1, 3)]["valid_to"] is None
    assert out[(2, 1)]["attr"] == "gold" and out[(2, 1)]["valid_to"] is None
    # intervals tile the timeline: valid_to == next valid_from
    assert len(out) == 4


def test_scd2_tiebreak_makes_equal_timestamps_deterministic(spark):
    from kaylee_spark.operators.maintenance import scd2_intervals

    # two observations at the SAME ts — the id tiebreak fixes the order
    rows = [(1, "a", 10, 1), (1, "b", 10, 2), (1, "b", 20, 3)]
    df = spark.createDataFrame(rows, "k long, attr string, t long, id long")
    out = sorted(
        (r["version"], r["attr"], r["n_obs"])
        for r in scd2_intervals(df, "k", "attr", "t", tiebreak_cols=["id"]).collect()
    )
    assert out == [(1, "a", 1), (2, "b", 2)]


def test_scd2_pit_asof_composition(spark):
    """Point-in-time join of facts against an SCD2 dimension (the e30
    composition): each fact picks the validity interval containing its
    timestamp; facts before the first observation get NULL state."""
    from datetime import datetime

    from kaylee_spark.operators.joins import asof_join
    from kaylee_spark.operators.maintenance import scd2_intervals

    t = lambda s: datetime(2024, 1, 1, 0, 0, s)
    obs = spark.createDataFrame(
        [(1, "click", t(10)), (1, "click", t(20)), (1, "view", t(30))],
        ["user_id", "event_type", "ts"],
    )
    dim = scd2_intervals(obs, "user_id", "event_type", "ts").select(
        F.col("key").alias("user_id"),
        F.col("version").alias("state_version"),
        F.col("attr").alias("state"),
        "valid_from",
    )
    facts = spark.createDataFrame(
        [(100, 1, t(5)), (101, 1, t(25)), (102, 1, t(30)), (103, 1, t(59))],
        ["fact_id", "user_id", "ts"],
    )
    out = {
        r["fact_id"]: (r["state"], r["state_version"])
        for r in asof_join(facts, dim, on="user_id", left_time="ts", right_time="valid_from").collect()
    }
    assert out[100] == (None, None)       # before any observation
    assert out[101] == ("click", 1)       # inside the click run
    assert out[102] == ("view", 2)        # boundary ts == valid_from -> new version
    assert out[103] == ("view", 2)        # open-ended current version
