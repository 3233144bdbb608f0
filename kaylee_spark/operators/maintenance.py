"""Snapshot maintenance: CDC-style upsert/merge for curated corpora.

A training corpus is not append-only: documents get re-crawled
(revised), re-licensed (deleted), or re-scored. The reference has no
notion of mutation (its source is one immutable text file,
`/root/reference/example.py:8-20`); on a 100 TB parquet corpus the
idiomatic Spark answer is MERGE-as-a-plan: compute the next snapshot
as a declarative join of the current snapshot with a (much smaller)
change batch, then atomically swap the table pointer — the same
shape lakehouse formats execute under `MERGE INTO`.

Scale shape: the base snapshot contributes ONE anti-join keyed on the
bare key columns (payload columns never shuffle — left_anti emits base
rows in place), and the change batch's key set is broadcast (a daily
increment vs the full corpus). Pair with a
partitioned/bucketed base layout so the rewrite touches only affected
partitions; with `sources.sinks.write_parquet(partition_by=...)` the
swap is a per-partition overwrite, not a full-table rewrite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: Shared CDC fixture + oracle for the upsert family: the
#: o_orderkey%7==0 slice of orders plays a change batch (revised
#: status/price, every third change a delete tombstone) applied over
#: the full snapshot. Both the batch row (d09) and its streamed
#: foreachBatch twin (e38) verify against this SAME SQL, so the hash
#: gate proves stream ≡ batch for the merge semantics — the e35/e36
#: shared-oracle pattern applied to snapshot maintenance.
CDC_UPSERT_ORACLE = """
    WITH base AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
    ),
    upd AS (
        SELECT o_orderkey,
               'X' AS o_orderstatus,
               o_totalprice + 1.0 AS o_totalprice,
               (o_orderkey % 21 = 0) AS deleted
        FROM orders WHERE o_orderkey % 7 = 0
    )
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM upd WHERE NOT deleted
    UNION ALL
    SELECT b.* FROM base b
    WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.o_orderkey = b.o_orderkey)
    """


def cdc_change_batch(base: DataFrame) -> DataFrame:
    """The change batch of CDC_UPSERT_ORACLE as a DataFrame over the
    3-column base snapshot (o_orderkey, o_orderstatus, o_totalprice)."""
    return (
        base.filter(F.col("o_orderkey") % 7 == 0)
        .withColumn("o_orderstatus", F.lit("X"))
        .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(1.0))
        .withColumn("deleted", F.col("o_orderkey") % 21 == 0)
    )


def upsert_snapshot(
    base: DataFrame,
    updates: DataFrame,
    keys: list[str] | str,
    tombstone_col: str | None = None,
) -> DataFrame:
    """Next snapshot = updates applied over ``base`` by key.

    - rows of ``updates`` replace base rows with the same key (a
      change batch holds one row per key);
    - ``tombstone_col`` (boolean) marks CDC deletes: the key is
      dropped from the snapshot entirely;
    - base rows with no update survive untouched.

    ``updates`` must carry every ``base`` column (plus the optional
    tombstone column, which is stripped from the output unless it is
    a base column itself).

    The one shuffle is the distinct over the batch's keys; the base
    side is a payload-free anti-join against that broadcast key set —
    at 100 TB the corpus is read once and never re-keyed.
    """
    key_cols = [keys] if isinstance(keys, str) else list(keys)
    missing = [c for c in base.columns if c not in updates.columns]
    if missing:
        raise ValueError(f"updates missing base columns: {missing}")

    if tombstone_col is not None:
        if tombstone_col not in updates.columns:
            raise ValueError(f"tombstone_col {tombstone_col!r} not in updates")
        live = updates.filter(~F.coalesce(F.col(tombstone_col), F.lit(False)))
    else:
        live = updates
    live = live.select(*base.columns)

    # base survivors: anti-join on bare keys only. ALL updated keys
    # (including tombstoned ones) knock out their base row.
    key_set = F.broadcast(updates.select(*key_cols).distinct())
    survivors = base.join(key_set, key_cols, "left_anti")

    return live.unionByName(survivors)


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: list[str] | str,
) -> DataFrame:
    """Change report between two corpus snapshots: one row per key
    that was ADDED, REMOVED, or MODIFIED (payload hash changed) —
    the audit/sync companion to upsert_snapshot.

    Modification is detected on xxhash64 over every non-key column (8
    bytes per side through the join, never the payload). Output: (key columns…, change) with
    change in {'added','removed','modified'}; unchanged keys are
    absent, so the frame is increment-sized, not corpus-sized.

    Scale shape: both sides reduce to (key, hash) BEFORE the one
    full-outer join — the only shuffle carries ids and hashes. At
    100 TB the diff costs two scans plus a narrow key-keyed exchange.
    """
    key_cols = [keys] if isinstance(keys, str) else list(keys)
    hash_cols = [c for c in old.columns if c not in key_cols]
    missing = [c for c in [*key_cols, *hash_cols] if c not in new.columns]
    if missing:
        raise ValueError(f"new snapshot missing columns: {missing}")

    def keyed(df: DataFrame, tag: str) -> DataFrame:
        return df.select(
            *key_cols,
            F.xxhash64(*[F.coalesce(F.col(c).cast("string"), F.lit("\x00null")) for c in hash_cols]).alias(f"__h_{tag}"),
        )

    o, n = keyed(old, "o"), keyed(new, "n")
    joined = o.join(n, key_cols, "full_outer")
    change = (
        F.when(F.col("__h_o").isNull(), F.lit("added"))
        .when(F.col("__h_n").isNull(), F.lit("removed"))
        .when(F.col("__h_o") != F.col("__h_n"), F.lit("modified"))
    )
    return (
        joined.withColumn("change", change)
        .filter(F.col("change").isNotNull())
        .select(*key_cols, "change")
    )


def scd2_intervals(
    df: DataFrame,
    key_col: str,
    attr_col: str,
    ts_col: str,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Slowly-Changing-Dimension Type 2 history build: collapse a
    key's time-ordered attribute observations into validity intervals
    — one row per RUN of consecutive equal values, versioned 1..n,
    with ``valid_from`` = the run's first observation and ``valid_to``
    = the next run's start (NULL for the current version). The
    standard warehouse dimension-history shape (and the run-length
    encoding of a categorical signal): d09/d10 answer "what changed
    between snapshots", this answers "what was true WHEN".

    Output: (key, version, attr, valid_from, valid_to, n_obs).
    Deterministic for a total (ts, tiebreak) order per key — repeats
    of the SAME value never open a new version (observation count
    lands in n_obs instead).

    Scale shape — ONE exchange end to end: the key-partitioned
    (ts, tiebreak) sort carries the change-detection lag and the
    running version-number sum; the run then collapses via a
    (key, version)-partitioned count window and a filter to the run's
    FIRST row (whose attr/ts ARE the run's attr/valid_from under the
    sort — no groupBy re-shuffle, since hash(key) already co-locates
    every (key, version) group), and the valid_to lead rides the same
    partitioning over the run-start rows. A groupBy formulation plans
    two more exchanges (one for the (key, version) aggregate, one to
    get back to key partitioning for the lead); this shape is the
    single-exchange class of rolling_zscore, with two local re-sorts.
    """
    tiebreaks = list(tiebreak_cols or [])
    # rename FIRST, window on the renamed columns: windowing on the
    # original names and aliasing later drops the partitioning's
    # source column mid-plan, which degrades outputPartitioning to
    # unknown and buys two extra exchanges (measured: 3 -> 1)
    base = df.select(
        F.col(key_col).alias("key"),
        F.col(attr_col).alias("attr"),
        F.col(ts_col).alias("ts"),
        *[F.col(c).alias(f"__tb{i}") for i, c in enumerate(tiebreaks)],
    )
    order = [F.col("ts").asc()] + [F.col(f"__tb{i}").asc() for i in range(len(tiebreaks))]
    w = Window.partitionBy("key").orderBy(*order)
    run = Window.partitionBy("key").orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    prev = F.lag(F.col("attr")).over(w)
    is_start = F.when(
        prev.isNull() | (F.col("attr") != prev), F.lit(1)
    ).otherwise(F.lit(0))
    versioned = base.select(
        "key",
        "attr",
        "ts",
        is_start.alias("__st"),
        F.sum(is_start).over(run).cast("int").alias("version"),
    )
    # full-frame count over (key, version): hash(key) satisfies the
    # clustering requirement, so no new exchange — only a local sort
    counted = versioned.withColumn(
        "n_obs", F.count(F.lit(1)).over(Window.partitionBy("key", "version"))
    )
    starts = counted.filter(F.col("__st") == 1)
    wv = Window.partitionBy("key").orderBy(F.col("version").asc())
    return starts.select(
        "key",
        "version",
        "attr",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(wv).alias("valid_to"),
        "n_obs",
    )
