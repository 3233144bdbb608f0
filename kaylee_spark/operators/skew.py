"""Skew-mitigation operators.

The reference delegates work placement to ZMQ PUSH/PULL round-robin
(`/root/reference/kaylee/server.py:243-247`) — load balance across
WORKERS, but a hot reduce key still lands on one worker because the
shuffle is keyed (`server.py:212`). The same pathology exists in any
keyed shuffle: at 100 TB one hot join key (null ids, a default value,
a celebrity entity) serializes the whole stage onto one task.

First lines of defense are built-in and preferred: AQE skew-join
splitting (enabled in kaylee_spark.session) and broadcasting the small
side. Salting is for the remaining case — a shuffle join whose build
side is too big to broadcast AND whose skew AQE can't split (e.g. one
key is most of the data, or the join is a left join Spark won't
rewrite). It trades an n_salts-times replication of the *smaller* side
for an n_salts-way split of each hot key's probe rows.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_SALT = "__kaylee_salt"

# id(session) -> conf keys held by the open scoped_conf blocks on it
_OPEN_SCOPES: dict[int, set[str]] = {}
_SCOPES_LOCK = threading.Lock()


#: explicit opt-in sentinel for position-based (retry-unstable) salting.
POSITIONAL = "__positional__"


def salt_expr(n_salts: int, salt_on: list[str] | str | None = None):
    """The salt-assignment column used by salted_join (see its
    docstring for the determinism trade-off between the forms).
    ``salt_on=None`` is invalid here — salted_join resolves the
    default to the probe side's full column list before calling."""
    if salt_on == POSITIONAL:
        return F.pmod(F.monotonically_increasing_id(), F.lit(n_salts)).cast("int")
    if salt_on is None:
        raise ValueError("salt_expr needs explicit columns or POSITIONAL")
    salt_cols = [salt_on] if isinstance(salt_on, str) else list(salt_on)
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in salt_cols]), F.lit(n_salts))
    return salt.cast("int")


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    on: list[str] | str,
    how: str = "inner",
    n_salts: int = 8,
    salt_on: list[str] | str | None = None,
) -> DataFrame:
    """Equi-join with the skewed probe side split n_salts ways.

    ``skewed`` rows get a salt in [0, n_salts); ``other`` is replicated
    once per salt value; the join key becomes (on..., salt), so a hot
    key's rows spread over n_salts reduce tasks instead of one.
    Supported join types: inner / left / left_semi / left_anti (the
    replicated side must be the non-preserved one — a right or full
    join would null-extend each of the n_salts copies).

    Salt assignment — DETERMINISTIC BY DEFAULT (a task retry or stage
    recompute must re-derive identical salts, or a shuffle-file
    regeneration mid-job can duplicate/lose probe rows in downstream
    nondeterminism-sensitive sinks):
    - ``salt_on=None`` (default): ``pmod(xxhash64(ALL probe-side
      columns), n_salts)`` — a pure function of full row content.
      Distinct rows sharing a hot join key spread across salts; only
      byte-identical duplicate rows co-locate (they join identically
      anyway, and their count per key is bounded by the duplicate
      rate, not the key's total fan-in).
    - ``salt_on=[cols]``: same hash over just those columns — pass
      columns that DISTINGUISH rows sharing a hot join key (e.g. the
      row's primary key); cheaper than hashing every column on wide
      rows. Hashing the join key alone would re-concentrate each hot
      key onto one salt — exactly the failure being fixed.
    - ``salt_on=POSITIONAL``: physical row position
      (monotonically_increasing_id) — uniform even over fully
      duplicate rows, but NOT stable under retry/recompute; explicit
      opt-in only.
    """
    if how not in ("inner", "left", "left_outer", "left_semi", "left_anti"):
        raise ValueError(f"salted_join supports inner/left/left_semi/left_anti, got {how!r}")
    keys = [on] if isinstance(on, str) else list(on)
    if salt_on is None:
        salt_on = list(skewed.columns)
    salted = skewed.withColumn(_SALT, salt_expr(n_salts, salt_on))
    replicated = other.withColumn(_SALT, F.explode(F.array(*[F.lit(i) for i in range(n_salts)])))
    out = salted.join(replicated, keys + [_SALT], how)
    return out.drop(_SALT)


def skew_report(
    df: DataFrame,
    key_cols: list[str] | str,
    top_n: int = 10,
) -> DataFrame:
    """Join-key skew diagnostic: the top-N hottest key values with
    their share of the table — the "why is one task still running"
    tool, run BEFORE deciding between broadcast, AQE, and salting.

    Output: (key columns…, n_rows, pct_of_total, key_rank) for the
    top_n keys by count, rank 1 = hottest, ties broken by key value
    so the report is deterministic. pct_of_total rounds to 6dp.

    Scale shape: one key-grouped count (map-side partial — the
    combiner absorbs the very skew being measured, so the shuffle
    carries |distinct keys| rows, not the raw table), one 1-row total
    broadcast, then orderBy+limit — TakeOrderedAndProject, a per-
    partition heap merged on the driver, NEVER a global sort. Only
    the top_n surviving rows see the rank window (a single-partition
    sort over top_n rows, not over |distinct keys|). Null keys count
    as a key value (they are the most common hot key in the wild).
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    order = [F.desc("n_rows"), *[F.asc_nulls_first(k) for k in keys]]
    counts = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_rows"))
    total = counts.agg(F.sum("n_rows").alias("__total"))
    top = counts.orderBy(*order).limit(top_n)
    return (
        top.crossJoin(F.broadcast(total))
        .withColumn(
            "pct_of_total",
            F.round((F.col("n_rows") / F.col("__total")).cast("double"), 6),
        )
        .withColumn("key_rank", F.row_number().over(Window.orderBy(*order)))
        .drop("__total")
    )


def fan_out(df: DataFrame) -> DataFrame:
    """Spread a narrow scan across the available cores BEFORE a
    work-amplifying operator (explode/shingle/iterated model scans).

    The local fixtures are single-row-group parquet files, and a
    parquet row group is indivisible: whatever
    ``spark.sql.files.maxPartitionBytes`` says, one task reads ALL the
    rows, so everything up to the first exchange — including a 32-way
    explode or per-document shingling — runs on one core (measured:
    a28's 4.8M-row weight evaluation as a single ~2.5 s straggler in a
    3-task scan stage). Guide §2.5's input-skew remedy is to
    repartition right after the read; doing it before amplification is
    also the scale-correct order (the exchange moves the SMALL
    pre-amplification rows once, instead of letting the amplified work
    pile onto the skewed task).

    Scale-adaptive, not a local constant: if the input already has at
    least defaultParallelism partitions (any real multi-row-group
    table at cluster scale), this is the identity — no extra exchange.
    The explicit partition count (not a REBALANCE hint) matters for
    the tiny-but-CPU-heavy frames this guards: AQE's advisory-size
    coalescing would fold a few-MB input back into one partition and
    re-serialize the amplified work. Round-robin repartition is
    retry-safe (sortBeforeRepartition is on by default) and every
    consumer here is order-insensitive (aggregates/joins), so results
    are bit-identical.

    Input contract: meant for SCAN-LEVEL frames (the shipped call
    sites all pass ``df.select(narrow cols)`` of a source scan). A
    frame whose lineage already contains a shuffle exchange is
    returned unchanged WITHOUT probing its width: that exchange
    already distributed the rows (AQE sizes its output by bytes), and
    probing ``.rdd`` on such a frame would eagerly materialize its
    query stages at plan-build time under AQE — the work would then
    run again at action time. The check walks the pre-AQE
    physical plan, which the planner computes without running any
    job. A BroadcastExchange does not count: it leaves the probe
    side's rows where the scan put them, so a broadcast join over a
    single-partition scan is still fanned out.
    """
    if _has_shuffle(df._jdf.queryExecution().sparkPlan()):
        return df
    sc = df.sparkSession.sparkContext
    n = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n)


def _has_shuffle(plan) -> bool:
    """Whether a JVM physical plan holds a shuffle exchange node
    (ShuffleExchangeLike, node name "Exchange"); stops at the first."""
    stack = [plan]
    while stack:
        node = stack.pop()
        if node.nodeName() == "Exchange":
            return True
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return False


@contextmanager
def scoped_conf(spark, confs: dict):
    """Set ``confs`` on ``spark`` for the duration of a ``with`` block.

    On exit, exception or not, each key goes back to what it was: a
    key that was unset before (``spark.conf.get(k, None) is None``) is
    unset again, not pinned to its default, so no override leaks into
    the next query on the session. Entering raises RuntimeError, and
    changes nothing, if another open scope on the same session holds
    any of the same keys.
    """
    keys = set(confs)
    prev = {k: spark.conf.get(k, None) for k in confs}
    with _SCOPES_LOCK:
        held = _OPEN_SCOPES.setdefault(id(spark), set())
        clash = held & keys
        if clash:
            raise RuntimeError(f"conf scope overlaps an open scope on {sorted(clash)}")
        held |= keys
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        with _SCOPES_LOCK:
            held -= keys
            if not held:
                del _OPEN_SCOPES[id(spark)]


#: bytes a task of a pinned loop reads. Every task of every loop step
#: pays a fixed launch, shuffle-write and commit cost, so a task needs
#: megabytes of data work to earn it. Measured on a 4-core host at
#: sf0.1 with the session width at 16: the eight graph loops (2.9-7.3
#: MB read) ran fastest at widths 2-4 and 22-54% slower at 16 than at
#: 4; the dedup and embedding loops (under 1 MB read) ran within about
#: 10% of each other at widths 1, 2 and 4.
PIN_TASK_BYTES = 2 * 1024 * 1024


def _read_bytes(plan) -> tuple[int, bool]:
    """(bytes ``plan`` reads, whether it is join-free).

    A join-free branch (a leaf and the unary nodes above it) counts
    Spark's size estimate at its top, which scales a scan's file size
    by the share of its columns kept. A node with several children
    sums its branches: without CBO its own estimate is their product.
    """
    kids = plan.children()
    parts = [_read_bytes(kids.apply(i)) for i in range(kids.size())]
    if len(parts) <= 1 and all(chain for _, chain in parts):
        return int(plan.stats().sizeInBytes()), True
    return sum(b for b, _ in parts), False


def pin_width(frame: DataFrame):
    """Scope for an iterative droplet loop over ``frame``: fix
    ``spark.sql.shuffle.partitions`` to a width derived from the
    bytes the frame reads AND switch AQE off.

    The width is ceil(bytes read / PIN_TASK_BYTES), clamped to [1,
    the session's ``spark.sql.shuffle.partitions``]. Bytes read come
    from the frame's optimized plan with no Spark job: for each
    join-free branch, Spark's size estimate at its top (a parquet
    scan's file size, scaled by the columns the branch keeps; see
    ``_read_bytes``). A leaf with no real size (a ``LogicalRDD`` from
    ``createDataFrame`` or a checkpoint) reports ``Long.MaxValue``,
    so it gives the session's width.

    A batch-tuned width pays near-empty partition commits on every
    step of a loop whose frames are node- or model-sized. Inside the
    scope AQE has nothing left to decide, but it still replans and
    resubmits query stages action by action, a pure per-action latency
    tax on loops made of many droplet actions (measured: s09_kmeans
    3.22 -> 2.57 s with AQE off inside the pin).

    Thread-safety: the override is SESSION-GLOBAL, not scoped to the
    calling thread. A second scope over the same keys on the same
    session raises (scoped_conf) instead of clobbering this one, but a
    query on another thread that runs without a scope still loses AQE
    and runs at the pinned width mid-flight. A concurrent deployment
    must scope the override per query (cloned session / SQL hints).
    """
    spark = frame.sparkSession
    size, _ = _read_bytes(frame._jdf.queryExecution().optimizedPlan())
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    width = max(1, min(cap, -(-size // PIN_TASK_BYTES)))
    return scoped_conf(
        spark,
        {
            "spark.sql.shuffle.partitions": str(width),
            "spark.sql.adaptive.enabled": "false",
        },
    )


def fixpoint(state, step, rounds: int):
    """The round loop of an iterative operator: run ``step`` up to
    ``rounds`` times and return ``(state, converged)``.

    ``step(state, r)`` (r = 1..rounds) returns ``(next_state, delta)``.
    ``delta`` is a frame that is empty exactly when the round changed
    nothing; the loop then stops and keeps the state from BEFORE that
    round (identical to the no-change round's rows), with
    ``converged=True``. A fixed-round step passes ``delta=None``: it
    runs all ``rounds`` steps and reports ``converged=False``. The one
    ``delta.count()`` per round is the only action this starts.

    The shape every caller shares, and why:
    - it runs inside ``pin_width`` of the operator's input. A loop pays
      a few stages per round over node- or model-sized frames, so a
      batch-tuned width pays near-empty partition commits on every
      step (g01 took 9.0 s at width 32 and 2.1 s at 4 at sf0.1);
    - the step ``localCheckpoint``s the frames the next round reads.
      A round that references its predecessor more than once grows
      k^n lazy-plan copies without a lineage cut (the MMR lesson),
      and the checkpoint's position decides the round's job count;
    - the step's work is exact integer arithmetic, so the trajectory
      is bit-identical at any width and an unrolled SQL oracle
      replays it;
    - the operator's result goes through ``pinned_result``.
    """
    for r in range(1, rounds + 1):
        nxt, delta = step(state, r)
        if delta is not None and delta.count() == 0:
            return state, True
        state = nxt
    return state, False


def pinned_result(frame: DataFrame, *caches: DataFrame) -> DataFrame:
    """Materialize a pinned operator's result and release its loop
    invariants. Call it inside the ``pin_width`` scope: the caller's
    final action would otherwise replan the lazy tail under ITS conf.
    A ``localCheckpoint``, not ``cache()`` + ``count()``: the result
    does not sit in the CacheManager, so a second call on the session
    repeats the first call's plan instead of reading a leaked cache.
    ``caches`` are unpersisted after the result is materialized."""
    out = frame.localCheckpoint()
    for c in caches:
        c.unpersist()
    return out
