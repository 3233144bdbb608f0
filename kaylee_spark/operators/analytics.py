"""Event-sequence analytics: funnels and cohort retention.

The reference has no notion of event ordering (its MapReduce is
order-free, `/root/reference/kaylee/client.py:190-217`); these are the
standard product-analytics shapes built on the events fixture —
declarative joins/aggregates only, so Catalyst keys every shuffle on
``user_col`` and AQE can reuse the exchange across steps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def funnel(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered funnel: per user, the first time of step 1, the first
    time of step 2 AFTER that, the first time of step 3 after THAT, …

    Output: one row per user who completed step 1, with one timestamp
    column per step (``t_<step>``, null once the user drops out).
    Strictly-after semantics (``>``): simultaneous events do not
    satisfy the next stage.

    Scale shape: one conditional-min aggregate per step, every shuffle
    keyed on ``user_col`` (same partitioning reused across stages), and
    each stage joins only the SURVIVORS of the previous one — the
    frontier shrinks monotonically, never the raw event table twice.
    At 100 TB the event scan happens once per step with the type filter
    pushed to the scan; a 5-step funnel is 5 pushed-down scans + 5
    co-partitioned aggs, no window over the full event stream.
    """
    if not steps:
        raise ValueError("steps must not be empty")
    cur = (
        events.filter(F.col(type_col) == steps[0])
        .groupBy(user_col)
        .agg(F.min(ts_col).alias(f"t_{steps[0]}"))
    )
    prev_t = f"t_{steps[0]}"
    for step in steps[1:]:
        nxt = (
            events.filter(F.col(type_col) == step)
            .join(cur.select(user_col, prev_t), user_col)
            .filter(F.col(ts_col) > F.col(prev_t))
            .groupBy(user_col)
            .agg(F.min(ts_col).alias(f"t_{step}"))
        )
        cur = cur.join(nxt, user_col, "left")
        prev_t = f"t_{step}"
    return cur


def zscore_outliers(
    df: DataFrame,
    value_col: str = "value",
    group_col: str = "event_type",
    threshold: float = 3.0,
) -> DataFrame:
    """Per-group z-score outlier detection: rows whose value sits
    ``threshold`` or more population standard deviations from the
    group mean — the standard telemetry / data-cleaning gate.

    Mean and variance come from exact decimal moments (n, Σv, Σv² —
    same recipe as a04_stat_moments): a streaming double aggregate is
    merge-order-dependent and cannot reproduce bit-for-bit across
    retries, while decimal accumulation is associative, so the cut
    line is a pure function of the data. z rounds to 6dp to absorb
    the last-ulp slack in cross-engine double division.

    Scale shape: one pushed-down scan into one group-keyed aggregate
    (the stats frame has |groups| rows), broadcast back onto the raw
    scan, filter in codegen. No window over the event stream, no
    second shuffle — the per-row pass is scan-speed.
    """
    from pyspark.sql.functions import broadcast

    from kaylee_spark.functions import dec_sum

    v = F.col(value_col)
    stats = df.groupBy(group_col).agg(
        F.count(value_col).alias("__n"),
        dec_sum(value_col).alias("__s1"),
        dec_sum(v * v).alias("__s2"),
    )
    mean = F.col("__s1") / F.col("__n")
    var = F.col("__s2") / F.col("__n") - mean * mean
    z = F.round(((v - mean) / F.sqrt(var)).cast("double"), 6)
    return (
        df.join(broadcast(stats), group_col)
        # zero-variance groups have no outliers BY DEFINITION — and the
        # guard must precede the projection, or ANSI mode raises
        # DIVIDE_BY_ZERO while computing z for their rows
        .filter(var > 0)
        .withColumn("zscore", z)
        .filter(F.abs(F.col("zscore")) >= threshold)
        .drop("__n", "__s1", "__s2")
    )


def mad_outliers(
    df: DataFrame,
    value_col: str = "value",
    group_col: str = "event_type",
    threshold: float = 3.5,
) -> DataFrame:
    """Per-group robust outliers by median absolute deviation: rows
    whose modified z-score 0.6745·|v − median| / MAD meets
    ``threshold`` (3.5 is the classic Iglewicz–Hoaglin cut).

    Why alongside zscore_outliers: mean/stddev are themselves dragged
    by the outliers they're hunting — one corrupt 1e9 reading in a
    telemetry group inflates σ until nothing else trips the z-gate.
    Median and MAD have a 50% breakdown point, so the cut line is
    stable against exactly the contamination a 100 TB ingest actually
    sees.

    Determinism: median/MAD use exact interpolated percentiles, then
    round to 6dp BEFORE entering the per-row comparison — Spark's
    percentile() and an external engine's quantile_cont() interpolate
    the same two middle values with formulas that can differ in the
    last ulp, and rounding both sides to 6dp absorbs that slack so the
    flagged set is engine-independent. The modified z rounds the same
    way before the threshold test.

    Scale shape: two group-keyed aggregates over one scanned frame
    (median, then MAD of deviations — MAD is holistic, it cannot fold
    into one pass), stats broadcast back, per-row cut in codegen. The
    stats frames are |groups| rows; the fact scan never shuffles.
    """
    from pyspark.sql.functions import broadcast

    v = F.col(value_col)
    med = df.groupBy(group_col).agg(
        F.round(F.expr(f"percentile({value_col}, 0.5)"), 6).alias("__med")
    )
    mad = (
        df.join(broadcast(med), group_col)
        .groupBy(group_col)
        .agg(F.round(F.expr(f"percentile(abs({value_col} - __med), 0.5)"), 6).alias("__mad"))
    )
    stats = med.join(mad, group_col)
    rz = F.round(F.lit(0.6745) * F.abs(v - F.col("__med")) / F.col("__mad"), 6)
    return (
        df.join(broadcast(stats), group_col)
        # zero-MAD groups (>=50% identical values) define no outliers;
        # the guard precedes the projection or ANSI raises on the div
        .filter(F.col("__mad") > 0)
        .withColumn("robust_z", rz)
        .filter(F.col("robust_z") >= threshold)
        .withColumnRenamed("__med", "med")
        .withColumnRenamed("__mad", "mad")
    )


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Weekly cohort retention: group users by first-seen week
    (Monday start), count how many are active N weeks later.

    Output: (cohort, period_offset, n_active, cohort_size,
    retention_rate) with offset 0 = the cohort week itself (rate
    1.0 by construction). Offsets are day-difference integer-divided
    by 7, so the engine-independent arithmetic is pure integers until
    the final rate division.

    Scale shape: two aggregates keyed on ``user_col`` (first-seen +
    distinct active periods), then one small aggregate on (cohort,
    offset) — cardinality is periods², not users.
    """
    # truncation runs on DATE then casts to TIMESTAMP_NTZ: Spark's
    # date_trunc returns session-zone TIMESTAMP even for NTZ input, so
    # the emitted cohort instants would shift with the session timezone
    # (caught by the tz-independence probe). DATE arithmetic is tz-free.
    def trunc(col):
        d = F.to_date(col)
        # Monday start, matching date_trunc('week') on both engines
        return F.date_sub(d, (F.dayofweek(d) + F.lit(5)) % 7).cast("timestamp_ntz")

    firsts = events.groupBy(user_col).agg(trunc(F.min(ts_col)).alias("cohort"))
    active = events.select(
        user_col, trunc(F.col(ts_col)).alias("active_period")
    ).distinct()
    joined = active.join(firsts, user_col)
    offset = (
        F.floor(F.datediff(F.col("active_period"), F.col("cohort")) / 7)
    ).cast("int")
    per_cell = joined.groupBy("cohort", offset.alias("period_offset")).agg(
        F.count("*").alias("n_active")
    )
    sizes = firsts.groupBy("cohort").agg(F.count("*").alias("cohort_size"))
    return per_cell.join(sizes, "cohort").withColumn(
        "retention_rate",
        (F.col("n_active") / F.col("cohort_size")).cast("double"),
    )


def sessionize(
    events: DataFrame,
    gap_seconds: int = 1800,
    user_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Assign a per-row session id: a new session starts whenever the
    gap since the user's previous event exceeds ``gap_seconds``.

    This LABELS rows (the feature-engineering / log-stitching shape);
    the session-WINDOW aggregate (e03/session_window) only aggregates.
    ``session_id`` is (user_col, session_idx) with session_idx the
    0-based running count of gap breaks in (ts, tiebreak) order —
    deterministic even with duplicate timestamps because the tiebreak
    column makes the window order total.

    Scale shape: ONE shuffle keyed on the user, then two stacked
    window passes (lag + running sum) over the SAME partitioning —
    Spark plans a single Exchange + sort, both windows ride it. The
    gap comparison is integer seconds (timestampdiff), timezone-free.
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, tiebreak_col)
    # exact MICROSECOND difference: Spark's timestampdiff(SECOND)
    # floors elapsed time while SQL engines' date_diff('second')
    # counts boundary crossings — at micro precision (the storage
    # precision) the two definitions coincide, so the gap predicate
    # is engine-independent
    gap = F.expr(f"timestampdiff(MICROSECOND, __prev, {ts_col})")
    is_break = F.when(
        F.col("__prev").isNull() | (gap > F.lit(int(gap_seconds) * 1_000_000)), 1
    ).otherwise(0)
    return (
        events.withColumn("__prev", F.lag(ts_col).over(w))
        .withColumn("__brk", is_break)
        .withColumn(
            "session_idx",
            (
                F.sum("__brk").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
                - F.lit(1)
            ).cast("int"),
        )
        .drop("__prev", "__brk")
    )


def markov_transitions(
    events: DataFrame,
    type_col: str = "event_type",
    key_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """First-order Markov transition matrix of an event stream: for
    every ordered pair of consecutive event types WITHIN a key's
    timeline, the transition count and the conditional probability
    ``P(next | prev)``.

    Output: one row per observed (prev_type, next_type) pair with
    ``n_transitions`` (exact bigint) and ``p_transition`` (count /
    prev-type total, rounded to 6dp — integer inputs, one IEEE
    division, so any engine reproduces it bit-for-bit).

    Scale shape: ONE exchange keyed on ``key_col`` for the lag, then a
    map-side-combined count aggregate whose output cardinality is at
    most |types|² — the window that turns counts into probabilities
    runs over that tiny aggregate, never over the raw events. At
    100 TB the only full-data shuffle is the per-user sort, which any
    sequence analytics needs anyway and which AQE can share with
    other per-user windows in the same job.
    """
    order = [F.col(ts_col).asc()] + [F.col(c).asc() for c in (tiebreak_cols or [])]
    w = Window.partitionBy(key_col).orderBy(*order)
    seq = events.withColumn("__prev", F.lag(type_col).over(w)).where(
        F.col("__prev").isNotNull()
    )
    counts = seq.groupBy(
        F.col("__prev").alias("prev_type"), F.col(type_col).alias("next_type")
    ).agg(F.count(F.lit(1)).alias("n_transitions"))
    tw = Window.partitionBy("prev_type")
    total = F.sum("n_transitions").over(tw)
    return counts.withColumn(
        "p_transition",
        F.round(
            F.col("n_transitions").cast("double") / total.cast("double"), 6
        ),
    )


def association_rules(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_item_support: int = 10,
    min_pair_support: int = 3,
) -> DataFrame:
    """Pairwise market-basket association rules (the apriori 2-itemset
    pass): for every unordered item pair that co-occurs in at least
    ``min_pair_support`` baskets, the joint support plus directional
    confidence and symmetric lift.

    Output: (item_a, item_b) with item_a < item_b, ``n_both``,
    ``n_a``, ``n_b``, ``confidence_a_to_b`` = n_both/n_a,
    ``confidence_b_to_a`` = n_both/n_b, and
    ``lift`` = n_both·N / (n_a·n_b), each 6dp. All inputs to the
    ratios are exact bigint counts and each ratio is a fixed chain of
    single IEEE ops, so any engine reproduces the bits.

    Scale shape — the apriori prune is the whole game: items below
    ``min_item_support`` are dropped BEFORE pair expansion via a
    broadcast semi-join of the frequent-item set, so a basket of k
    surviving items expands to k(k−1)/2 pairs and the self-join is
    keyed on the basket id (both sides share one hash partitioning;
    AQE reuses the exchange). The basket count N is pulled to the
    driver once and folded into the plan as a literal — a scalar
    ATTACHED as a 1-row frame would compile to a nested-loop join.
    A pathological basket with millions of items would still blow up
    k²; cap basket size upstream (e.g. approx_count per basket gate)
    if the domain allows such baskets.
    """
    items = df.select(basket_col, item_col).distinct()
    n_baskets = items.select(basket_col).distinct().count()
    supp = items.groupBy(item_col).agg(F.count(F.lit(1)).alias("n_item"))
    frequent = supp.where(F.col("n_item") >= min_item_support)
    kept = items.join(
        F.broadcast(frequent.select(item_col)), item_col, "semi"
    )
    a = kept.select(
        F.col(basket_col).alias("__bk"), F.col(item_col).alias("item_a")
    )
    b = kept.select(
        F.col(basket_col).alias("__bk"), F.col(item_col).alias("item_b")
    )
    pairs = (
        a.join(b, "__bk")
        .where(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
        .where(F.col("n_both") >= min_pair_support)
    )
    sa = frequent.select(
        F.col(item_col).alias("item_a"), F.col("n_item").alias("n_a")
    )
    sb = frequent.select(
        F.col(item_col).alias("item_b"), F.col("n_item").alias("n_b")
    )
    out = pairs.join(F.broadcast(sa), "item_a").join(F.broadcast(sb), "item_b")
    nb = F.col("n_both").cast("double")
    na = F.col("n_a").cast("double")
    nbb = F.col("n_b").cast("double")
    return out.select(
        "item_a",
        "item_b",
        "n_both",
        "n_a",
        "n_b",
        F.round(nb / na, 6).alias("confidence_a_to_b"),
        F.round(nb / nbb, 6).alias("confidence_b_to_a"),
        F.round(
            (nb * F.lit(float(n_baskets))) / (na * nbb), 6
        ).alias("lift"),
    )


def welch_final_exprs() -> list[str]:
    """Welch's t-test expressions, shared VERBATIM between the Spark
    projection and the DuckDB oracle so both engines run the identical
    IEEE tree over the exact decimal aggregates (n/s/s2 per side):

    t = (m1 - m2) / sqrt(v1/n1 + v2/n2), with the Welch-Satterthwaite
    degrees of freedom; "significant" is the |t| > 1.96 screen (a
    normal approximation — fine at experiment n's; exact p-values
    need a t CDF no SQL engine shares).
    """
    m1 = "(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))"
    m2 = "(CAST(s2_ AS DOUBLE) / CAST(n2 AS DOUBLE))"
    v1 = f"((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * {m1}) / CAST(n1 - 1 AS DOUBLE))"
    v2 = f"((CAST(q2 AS DOUBLE) - CAST(s2_ AS DOUBLE) * {m2}) / CAST(n2 - 1 AS DOUBLE))"
    se2 = f"({v1} / CAST(n1 AS DOUBLE) + {v2} / CAST(n2 AS DOUBLE))"
    t = f"(({m1} - {m2}) / sqrt({se2}))"
    dof = (
        f"({se2} * {se2} / "
        f"({v1} * {v1} / (CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE) * CAST(n1 - 1 AS DOUBLE))"
        f" + {v2} * {v2} / (CAST(n2 AS DOUBLE) * CAST(n2 AS DOUBLE) * CAST(n2 - 1 AS DOUBLE))))"
    )
    guard = f"n1 > 1 AND n2 > 1 AND {se2} > 0"
    return [
        f"ROUND({m1} - {m2}, 6) AS mean_diff",
        f"CASE WHEN {guard} THEN ROUND({t}, 6) END AS t_stat",
        f"CASE WHEN {guard} THEN ROUND({dof}, 6) END AS dof",
        f"COALESCE(CASE WHEN {guard} THEN abs({t}) > 1.96 END, FALSE) AS significant",
    ]


def welch_ttest(
    df: DataFrame,
    value_col: str,
    group_col: str,
    control: str,
) -> DataFrame:
    """Two-sample Welch's t-test of every treatment group against the
    ``control`` group — the A/B-experiment readout (unequal variances,
    unequal sizes; the test that stays valid when the arms differ).

    Returns one row per non-control group: (group, n1, n2, mean_diff,
    t_stat, dof, significant), where side 1 is the treatment and side
    2 the control; t_stat/dof are NULL (significant FALSE) for
    degenerate arms (n <= 1 or zero variance).

    Determinism: per-arm moments are exact decimal sums (values 18,2;
    squares 38,4 — order-independent), and every downstream ratio is
    the welch_final_exprs double tree shared verbatim with the oracle,
    rounded 6dp.

    Scale shape: the raw table collapses to |groups| rows in ONE
    map-side-combined aggregate; the control row joins back by cross
    join (1 row — a broadcast nested loop over the tiny group frame,
    never the data). Nothing but 4 scalars per arm leaves the scan.
    """
    d182, d384 = "decimal(18,2)", "decimal(38,4)"
    v = F.col(value_col)
    stats = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(value_col).alias("n"),
        F.sum(v.cast(d182)).alias("s"),
        F.sum((v * v).cast(d384)).alias("q"),
    )
    ctl = stats.filter(F.col("grp") == control).select(
        F.col("n").alias("n2"), F.col("s").alias("s2_"), F.col("q").alias("q2")
    )
    if ctl.isEmpty():
        raise ValueError(f"control group {control!r} not found in {group_col}")
    arms = stats.filter(F.col("grp") != control).select(
        "grp", F.col("n").alias("n1"), F.col("s").alias("s1"), F.col("q").alias("q1")
    )
    return arms.crossJoin(ctl).selectExpr(
        "grp", "n1", "n2", *welch_final_exprs()
    )


import math as _math

#: Benford expected first-digit probabilities as FULL-PRECISION double
#: literals (repr round-trips exactly), so both engines fold the same
#: IEEE constants into the chi-square chain.
BENFORD_P = {d: repr(_math.log10(1 + 1 / d)) for d in range(1, 10)}


def benford_exprs() -> list[str]:
    """Chi-square-vs-Benford expressions over the nine pivoted digit
    counts (o1..o9, n), shared VERBATIM with the oracle. The digit sum
    is a flat left-to-right literal chain — NEVER a SUM aggregate over
    digit rows, whose merge order no two engines share."""
    terms = " + ".join(
        f"(CAST(o{d} AS DOUBLE) - CAST(n AS DOUBLE) * {BENFORD_P[d]})"
        f" * (CAST(o{d} AS DOUBLE) - CAST(n AS DOUBLE) * {BENFORD_P[d]})"
        f" / (CAST(n AS DOUBLE) * {BENFORD_P[d]})"
        for d in range(1, 10)
    )
    chi2 = f"({terms})"
    return [
        f"CASE WHEN n > 0 THEN ROUND({chi2}, 6) END AS chi2",
        # 20.09 = chi-square critical value, 8 dof, alpha 0.01
        f"COALESCE(CASE WHEN n > 0 THEN {chi2} > 20.09 END, FALSE) AS suspicious",
    ]


def benford_screen(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | str,
) -> DataFrame:
    """Benford's-law first-digit screen per group — the forensic
    anomaly detector for fabricated or systematically rounded
    numbers: natural multi-magnitude amounts follow
    P(d) = log10(1 + 1/d); a group whose digit histogram departs
    (chi-square over 8 dof beyond the 1% critical value) is flagged.

    First digits come from the VALUE's exact cents (a lossless 2dp
    decimal cast, then the bigint's leading character) — scaling by
    100 never changes the leading significant digit, and bigint
    string rendering is engine-invariant where decimal/double
    formatting is not. Non-positive values are excluded.

    Returns (group_cols…, n, o1..o9, chi2, suspicious).

    Scale shape: ONE map-side-combined aggregate pivots each group to
    nine exact conditional counts; the chi-square is a flat codegen
    chain over those columns (benford_exprs) — no digit-row shuffle,
    no double sum whose order could drift.
    """
    group_cols = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    cents = (F.col(value_col).cast("decimal(18,2)") * 100).cast("bigint")
    digit = F.substring(cents.cast("string"), 1, 1).cast("int")
    base = df.filter(cents > 0).select(
        *group_cols, digit.alias("__d")
    )
    counts = [
        F.count(F.when(F.col("__d") == d, 1)).alias(f"o{d}") for d in range(1, 10)
    ]
    agged = base.groupBy(*group_cols).agg(F.count(F.lit(1)).alias("n"), *counts)
    return agged.selectExpr(
        *group_cols, "n", *[f"o{d}" for d in range(1, 10)], *benford_exprs()
    )


# --- Poisson bootstrap -----------------------------------------------------
#
# The resampling scheme that scales: a classical bootstrap draws n rows
# WITH replacement per replicate (n passes over the data, a shuffle per
# replicate); the Poisson approximation gives every row an independent
# Poisson(1) replication weight per replicate, so ALL replicates are
# computed in ONE scan with map-side partial aggregation (Chamandy et
# al., "Estimating Uncertainty for Massive Data Streams", Google 2012).
#
# Determinism across engines: the per-(row, replicate) weight derives
# from a two-step minstd LCG over BIGINT arithmetic (exact in any
# engine), inverse-CDF'd through INTEGER thresholds — floor(CDF_k * M)
# precomputed in Python as literals — so Spark and the DuckDB oracle
# compare the identical integers against the identical constants; no
# float RNG is involved anywhere.

MINSTD_A = 48271
MINSTD_M = 2147483647  # 2^31 - 1

#: floor(P(Poisson(1) <= k) * MINSTD_M) for k = 0..7; weights beyond 8
#: have probability < 1e-5 and collapse into the ELSE arm.
POISSON1_THRESHOLDS = (
    790015083,
    1580030167,
    1975037709,
    2106706890,
    2139624185,
    2146207644,
    2147304887,
    2147461637,
)


def bootstrap_weight_sql(key_expr: str, rep_expr: str, replicates: int) -> str:
    """SQL expression (shared VERBATIM with the oracle) for the
    Poisson(1) replication weight of row ``key_expr`` in replicate
    ``rep_expr``: u = minstd²(key·B + rep + 1) compared against the
    integer CDF thresholds."""
    # reduce the KEY before any multiply so the chain is total over
    # the whole bigint domain in BOTH engines: a raw key * B or x * A
    # raises ARITHMETIC_OVERFLOW in ANSI Spark 4 and Out of Range in
    # DuckDB once |key| nears 2^63/B — and a negative key would
    # otherwise yield a negative h that collapses every weight to the
    # first CDF arm. After the double-mod, k0 < M keeps every product
    # within 2^48. Identical draws for all 0 <= key < M (every
    # fixture/TPC-H key): (k % M)·B + r ≡ k·B + r (mod M) and
    # (x % M)·A ≡ x·A (mod M).
    k0 = f"(((CAST({key_expr} AS BIGINT) % {MINSTD_M}) + {MINSTD_M}) % {MINSTD_M})"
    x = f"({k0} * {replicates} + CAST({rep_expr} AS BIGINT) + 1)"
    h1 = f"((({x} % {MINSTD_M}) * {MINSTD_A}) % {MINSTD_M})"
    h = f"(({h1} * {MINSTD_A}) % {MINSTD_M})"
    arms = " ".join(f"WHEN {h} < {t} THEN {k}" for k, t in enumerate(POISSON1_THRESHOLDS))
    return f"(CASE {arms} ELSE 8 END)"


def _bootstrap_hash_sql(key_expr: str, rep_expr: str, replicates: int) -> str:
    """Just the minstd² draw ``h`` from bootstrap_weight_sql's chain —
    the engine hoists it into its own column so the CASE ladder
    compares ONE computed value instead of re-deriving the chain in
    every conditional arm (codegen subexpression elimination does not
    reach conditionally-evaluated CASE branches; at Poisson(1) odds
    the chain was evaluated ~2.1x per row). The oracle keeps the
    inlined bootstrap_weight_sql form — identical integers either way.
    """
    k0 = f"(((CAST({key_expr} AS BIGINT) % {MINSTD_M}) + {MINSTD_M}) % {MINSTD_M})"
    x = f"({k0} * {replicates} + CAST({rep_expr} AS BIGINT) + 1)"
    h1 = f"((({x} % {MINSTD_M}) * {MINSTD_A}) % {MINSTD_M})"
    return f"(({h1} * {MINSTD_A}) % {MINSTD_M})"


def _bootstrap_weight_from_hash_sql(h_col: str) -> str:
    """CASE ladder over a precomputed hash column (see above)."""
    arms = " ".join(
        f"WHEN {h_col} < {t} THEN {k}" for k, t in enumerate(POISSON1_THRESHOLDS)
    )
    return f"(CASE {arms} ELSE 8 END)"


def poisson_bootstrap_ci(
    df: DataFrame,
    group_col: str,
    value_col: str,
    key_col: str,
    replicates: int = 32,
) -> DataFrame:
    """Bootstrap confidence interval for the per-group mean of
    ``value_col``, via deterministic Poisson(1) replication weights.

    Returns one row per group: (group, n_rows, point_mean, ci_lo,
    ci_hi) where [ci_lo, ci_hi] spans the 2nd-smallest to 2nd-largest
    replicate mean (the ~93.75% interval at the default 32 replicates
    — rank-based, so no cross-engine quantile-interpolation drift).

    Determinism: weights are exact integers (bootstrap_weight_sql);
    each replicate mean is an exact decimal weighted sum over an exact
    bigint weight count, divided once and rounded 6dp; the CI bounds
    are order statistics of those identical doubles.

    Scale shape: the replicate dimension is a row-local explode whose
    B-fold blowup collapses IMMEDIATELY in the map-side partial agg —
    the one shuffle carries ~(partitions × groups × B) partial rows,
    never B copies of the data; the second agg runs on groups × B
    rows (droplet-sized) and the base-point join is group-keyed over
    |groups| rows. One data scan total, matching the published
    streaming-bootstrap design.
    """
    if replicates < 4:
        raise ValueError("need >= 4 replicates for the rank-based CI")
    # eagerly materialize the droplet-sized per-group stats with a
    # localCheckpoint: the result plan references base TWICE
    # (degenerate guard + final join) and the lazy form scanned the
    # source once per reference — and once more when AQE's concurrent
    # broadcast builds raced a cold cache (3 scans observed for a28).
    # localCheckpoint instead of cache()+count() (ADVICE r14): a
    # cache() entry lives in the CacheManager until someone calls
    # unpersist — which no caller of a returned lazy frame can do —
    # so repeated calls accumulated executor storage; checkpoint
    # blocks are released by the ContextCleaner once the frame is
    # garbage collected. Same eagerness, same single source scan; it
    # is |groups| rows.
    base = (
        df.groupBy(F.col(group_col).alias("grp"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(
                F.sum(F.col(value_col).cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("point_mean"),
        )
        .localCheckpoint(eager=True)
    )
    # fan_out BEFORE the B-fold explode: the single-row-group fixture
    # scan would otherwise evaluate every replicate weight on one core
    # (guide §2.5 input skew — measured as a ~2.5 s straggler task).
    # Hash hoisted into its own column so the CASE ladder compares one
    # value (see _bootstrap_hash_sql); weights are identical integers.
    from kaylee_spark.operators.skew import fan_out

    narrow = fan_out(
        df.select(
            F.col(group_col).alias("grp"),
            F.col(value_col).alias("val"),
            F.col(key_col).alias("k"),
        )
    )
    rep = (
        narrow.select(
            "grp",
            "val",
            "k",
            F.explode(F.sequence(F.lit(0), F.lit(replicates - 1))).alias("rep"),
        )
        .withColumn("_h", F.expr(_bootstrap_hash_sql("k", "rep", replicates)))
        .withColumn("w", F.expr(_bootstrap_weight_from_hash_sql("_h")))
    )
    # degenerate-replicate guard: a tiny group can draw weight 0 on
    # EVERY row of a replicate (P ~ e^-n), whose mean would be NULL —
    # Spark's collect_list silently drops NULLs while DuckDB's list()
    # keeps them NULLS-first, shifting the order statistics. Pin the
    # replicate-mean list length to exactly `replicates` in both
    # engines by collapsing an all-zero replicate to the group's point
    # mean (the bootstrap convention: a degenerate resample carries no
    # deviation information). base is |groups| rows — broadcast.
    means = (
        rep.groupBy("grp", "rep")
        .agg(
            F.sum((F.col("w") * F.col("val")).cast("decimal(18,2)")).alias("ws"),
            F.sum("w").alias("wn"),
        )
        .join(F.broadcast(base.select("grp", "point_mean")), "grp")
        .select(
            "grp",
            F.when(
                F.col("wn") > 0,
                F.round(F.col("ws").cast("double") / F.col("wn").cast("double"), 6),
            )
            .otherwise(F.col("point_mean"))
            .alias("mean_r"),
        )
    )
    ci = means.groupBy("grp").agg(F.sort_array(F.collect_list("mean_r")).alias("ms")).select(
        "grp",
        F.element_at("ms", 2).alias("ci_lo"),
        F.element_at("ms", replicates - 1).alias("ci_hi"),
    )
    return base.join(ci, "grp").select("grp", "n_rows", "point_mean", "ci_lo", "ci_hi")


#: two-sample KS significance threshold c(alpha)^2 for alpha = 0.05 as
#: an exact rational (c = sqrt(-ln(alpha/2)/2) = 1.3581, c^2 =
#: 1.8444397): the significance compare then stays in INTEGER
#: arithmetic on both engines instead of a sqrt whose last ulp could
#: flip the boolean.
KS_C2_NUM = 18444397
KS_C2_DEN = 10000000

#: largest n*m for which ks_num^2 * KS_C2_DEN fits DECIMAL(38,0)
#: (ks_num <= n*m, so (2e15)^2 * 1e7 = 4e37 < 1e38); past this both
#: engines take the identical double-compare branch.
KS_EXACT_NM_BOUND = 2 * 10**15


def ks_two_sample(
    df: DataFrame,
    value_col: str,
    group_col: str,
    control: str,
) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov test of every treatment
    group's value distribution against the ``control`` group — the
    distribution-shift readout that catches what a mean test (a26
    Welch) can't: equal-mean, different-shape drift.

    D = max_x |F_t(x) - F_c(x)| is computed EXACTLY as a rational:
    at every observation of the pooled sample, the cumulative counts
    (i, j) give |i*m - j*n| (an integer); D = max|.| / (n*m). The
    significance screen D > c(0.05)*sqrt((n+m)/(n*m)) is equivalently
    num^2 * KS_C2_DEN > KS_C2_NUM * (n+m) * n * m — evaluated in wide
    integer arithmetic while n*m <= KS_EXACT_NM_BOUND (2e15, ~4.5e7
    rows per arm; beyond it the DECIMAL(38,0) square would overflow),
    past which both engines switch to one identical double compare —
    bit-deterministic either way, never a sqrt.

    Output: (grp, n, m, ks_num, ks_denom, ks_stat, significant) with
    ks_stat = ks_num/(n*m) through double-side products (one IEEE
    division; exact while n*m < 2^53 — at larger n the *statistic*
    loses ulps but the test decision follows the guarded compare
    above). ks_denom = n*m as BIGINT is exact while n*m < 2^63.

    Scale shape: the control sample is replicated once per treatment
    arm via a broadcast of the |arms|-row frame (bounded fan-out,
    never data x data), then ONE group-keyed exchange carries the CDF
    sort, both cumulative windows, and the final max-aggregate (the
    groupBy reuses the window's partitioning). The RANGE frame makes
    ties well-defined: every peer row sees the full peer group, i.e.
    the right-continuous empirical CDF.
    """
    ev = df.select(
        F.col(group_col).alias("grp"), F.col(value_col).alias("v")
    ).filter(F.col("v").isNotNull())
    treat = ev.filter(F.col("grp") != control)
    arms = treat.select("grp").distinct()
    ctl = (
        ev.filter(F.col("grp") == control)
        .select("v")
        .crossJoin(F.broadcast(arms))
    )
    u = treat.select("grp", "v", F.lit(1).alias("is_t")).unionByName(
        ctl.select("grp", "v", F.lit(0).alias("is_t"))
    )
    cdf = (
        Window.partitionBy("grp")
        .orderBy("v")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = Window.partitionBy("grp")
    i = F.sum(F.col("is_t").cast("bigint")).over(cdf)
    j = F.sum((F.lit(1) - F.col("is_t")).cast("bigint")).over(cdf)
    n = F.sum(F.col("is_t").cast("bigint")).over(tot)
    m = F.sum((F.lit(1) - F.col("is_t")).cast("bigint")).over(tot)
    scored = u.select(
        "grp", F.abs(i * m - j * n).alias("diff"), n.alias("n"), m.alias("m")
    )
    agg = scored.groupBy("grp").agg(
        F.max("diff").alias("ks_num"), F.max("n").alias("n"), F.max("m").alias("m")
    )
    dec = "decimal(38,0)"
    num_d = F.col("ks_num").cast(dec)
    lhs = num_d * num_d * F.lit(KS_C2_DEN).cast(dec)
    rhs = (
        F.lit(KS_C2_NUM).cast(dec)
        * (F.col("n") + F.col("m")).cast(dec)
        * F.col("n").cast(dec)
        * F.col("m").cast(dec)
    )
    # exact-decimal envelope: lhs needs <= 38 digits and ks_num <= n*m,
    # so the integer compare is exact while n*m <= 2e15 (~4.5e7 rows
    # per arm). Past that, non-ANSI Spark would silently NULL the
    # overflowing DECIMAL multiply while DuckDB's HUGEINT survives —
    # so BOTH engines switch to the same double compare there (same
    # IEEE ops in the same order; at that scale the threshold side is
    # ~1e-8 relative to D, far beyond double noise).
    exact_ok = (F.col("n").cast(dec) * F.col("m").cast(dec)) <= F.lit(KS_EXACT_NM_BOUND).cast(
        dec
    )
    # square by SELF-MULTIPLICATION, not pow: IEEE multiply is
    # correctly rounded in both engines, while Math.pow (1-ulp spec) /
    # libm pow are not — self-multiply keeps the double branch
    # genuinely bit-deterministic cross-engine even at a near-tie.
    ks_num_dbl = F.col("ks_num").cast("double")
    sig_double = (
        ks_num_dbl * ks_num_dbl * F.lit(float(KS_C2_DEN))
        > F.lit(float(KS_C2_NUM))
        * (F.col("n") + F.col("m")).cast("double")
        * F.col("n").cast("double")
        * F.col("m").cast("double")
    )
    return agg.select(
        "grp",
        "n",
        "m",
        "ks_num",
        # n*m as BIGINT: exact while n*m < 2^63 (~3e9 rows per arm)
        (F.col("n") * F.col("m")).alias("ks_denom"),
        # double-side products so the statistic never routes through a
        # wrappable int64 intermediate
        (
            F.col("ks_num").cast("double")
            / (F.col("n").cast("double") * F.col("m").cast("double"))
        ).alias("ks_stat"),
        F.when(exact_ok, lhs > rhs).otherwise(sig_double).alias("significant"),
    )


#: PSI value-bin edges for the events `value` column (range ~0.01-490,
#: log-normal-ish): 8 log-spaced bins. Literal doubles — bin assignment
#: is an exact comparison in any engine.
PSI_BIN_EDGES = (5.0, 10.0, 20.0, 40.0, 80.0, 160.0, 320.0)


def psi_final_exprs(n_bins: int) -> list[str]:
    """PSI expressions over the pivoted per-bin counts (a0..a{k-1},
    b0.., na, nb), shared VERBATIM with the oracle (the benford_exprs
    pattern). Laplace add-1 smoothing keeps empty bins finite; each
    bin's ln-ratio quantizes to 6dp decimal BEFORE the multiply (the
    t17 recipe — engine ln ulp differences vanish at the quantum),
    and the bin sum is a flat left-to-right literal chain, never an
    aggregate over bin rows."""
    terms = []
    for i in range(n_bins):
        pa = f"((CAST(a{i} AS DOUBLE) + 1.0) / (CAST(na AS DOUBLE) + {float(n_bins)!r}))"
        pb = f"((CAST(b{i} AS DOUBLE) + 1.0) / (CAST(nb AS DOUBLE) + {float(n_bins)!r}))"
        lnq = f"CAST(CAST(ROUND(LN({pa} / {pb}), 6) AS DECIMAL(18,6)) AS DOUBLE)"
        terms.append(f"({pa} - {pb}) * {lnq}")
    psi = "(" + " + ".join(terms) + ")"
    return [
        f"{psi} AS psi",
        # 0.2 = the conventional "significant shift" PSI threshold
        f"{psi} > 0.2 AS drifted",
    ]


def psi_drift(
    df: DataFrame,
    value_col: str,
    group_col: str,
    period_a_col: str,
    edges: tuple = PSI_BIN_EDGES,
) -> DataFrame:
    """Population Stability Index per group between two observation
    periods — the production-ML drift monitor: PSI =
    sum_bins (pA - pB) * ln(pA / pB) over a fixed value binning,
    with add-1 smoothing so newly-empty bins stay finite. PSI > 0.2
    is the conventional retrain/alert threshold. Complements a30's KS
    (exact, rank-based, pairwise-sample) with the binned form that
    monitoring systems actually persist — bin counts are mergeable
    across days/shards, KS ranks are not.

    ``period_a_col`` is a boolean column: TRUE rows form period A,
    FALSE rows period B; NULL values are excluded.

    Output: (grp, na, nb, a0..ak, b0..bk, psi, drifted).

    Scale shape: ONE map-side-combined aggregate pivots each group to
    2k exact conditional bin counts; the PSI is a flat codegen chain
    over those columns (psi_final_exprs) — no bin-row shuffle, no
    order-dependent double sum, mergeable partials all the way down.
    """
    v = F.col(value_col)
    b = F.lit(0)
    for i, e in enumerate(edges):
        b = F.when(v < F.lit(e), b).otherwise(F.lit(i + 1))
    n_bins = len(edges) + 1
    base = df.filter(v.isNotNull()).select(
        F.col(group_col).alias("grp"),
        F.col(period_a_col).alias("is_a"),
        b.alias("bin"),
    )
    aggs = [
        F.count(F.when(F.col("is_a"), F.lit(1))).alias("na"),
        F.count(F.when(~F.col("is_a"), F.lit(1))).alias("nb"),
    ]
    for i in range(n_bins):
        aggs.append(
            F.count(F.when(F.col("is_a") & (F.col("bin") == i), F.lit(1))).alias(f"a{i}")
        )
        aggs.append(
            F.count(F.when(~F.col("is_a") & (F.col("bin") == i), F.lit(1))).alias(f"b{i}")
        )
    pivoted = base.groupBy("grp").agg(*aggs)
    cols = ["grp", "na", "nb"] + [f"{s}{i}" for i in range(n_bins) for s in ("a", "b")]
    return pivoted.selectExpr(*cols, *psi_final_exprs(n_bins))


def gini_by_group(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
) -> DataFrame:
    """Exact Gini concentration index per group over a non-negative
    value column: G = (2*S1 - (n+1)*S) / (n*S) with S1 = sum of
    rank*value over the ascending (value, id) order — the standard
    rank formula, exact because ranks are integers and the value sums
    are decimals (one final double division of two exact decimals).
    Ties are ordered by ``id_col``; the formula's value is
    tie-order-invariant for equal values, the tiebreak just pins both
    engines to the same walk.

    Output: (grp, n, gini); groups with n*S = 0 (all-zero values)
    return NULL gini.

    Scale shape: ONE group-keyed exchange carries the rank window and
    the final aggregate (the groupBy reuses the window's
    partitioning); nothing but three scalars per group survives it.
    """
    d382 = "decimal(38,2)"
    ranked = df.select(
        F.col(group_col).alias("grp"),
        F.col(value_col).cast(d382).alias("v"),
        F.col(id_col).alias("tid"),
    ).withColumn(
        "i",
        F.row_number().over(Window.partitionBy("grp").orderBy(F.asc("v"), F.asc("tid"))),
    )
    agg = ranked.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("s"),
        F.sum(F.col("i").cast("decimal(18,0)") * F.col("v")).alias("s1"),
    )
    num = (F.lit(2).cast(d382) * F.col("s1") - (F.col("n") + F.lit(1)) * F.col("s"))
    den = F.col("n") * F.col("s")
    return agg.select(
        "grp",
        "n",
        F.when(den != 0, num.cast("double") / den.cast("double")).alias("gini"),
    )


def psi_timeline(
    df: DataFrame,
    value_col: str,
    group_col: str,
    ts_col: str,
    ref_day: str,
    edges: tuple = PSI_BIN_EDGES,
) -> DataFrame:
    """PSI drift CURVE: each (group, day)'s value distribution scored
    against the group's distribution on ``ref_day`` — what a drift
    dashboard actually plots (a31's psi_drift gives the single A/B
    number; this walks the calendar). Days before/at the reference are
    excluded (the reference scores 0 against itself by construction).

    Output: (grp, day, na, nb, psi, drifted) with na = the day's
    sample size, nb = the reference day's.

    Scale shape: ONE map-side-combined aggregate pivots (group, day)
    to k exact bin counts; the reference day's row — |groups| rows —
    broadcasts back onto the day frame; PSI is the same flat literal
    chain as a31 (psi_final_exprs, shared verbatim with the oracle).
    Day-level bin counts are exactly the mergeable partials a
    monitoring store persists, so at 100 TB this reads the store, not
    the raw events.
    """
    v = F.col(value_col)
    b = F.lit(0)
    for i, e in enumerate(edges):
        b = F.when(v < F.lit(e), b).otherwise(F.lit(i + 1))
    n_bins = len(edges) + 1
    base = df.filter(v.isNotNull()).select(
        F.col(group_col).alias("grp"),
        F.to_date(F.col(ts_col)).alias("day"),
        b.alias("bin"),
    )
    aggs = [F.count(F.lit(1)).alias("n")] + [
        F.count(F.when(F.col("bin") == i, F.lit(1))).alias(f"c{i}")
        for i in range(n_bins)
    ]
    pivot = base.groupBy("grp", "day").agg(*aggs)
    return psi_score_pivot(pivot, ref_day, n_bins)


def psi_score_pivot(pivot: DataFrame, ref_day: str, n_bins: int) -> DataFrame:
    # Score a (grp, day, n, c0..c{k-1}) bin-count pivot - the shape a
    # monitoring store persists, whether written by a batch agg
    # (psi_timeline) or a streaming drain (e32) - against its ref_day
    # rows. Shared by both paths so the scoring arithmetic is defined
    # exactly once.
    ref = pivot.filter(F.col("day") == F.lit(ref_day).cast("date")).select(
        "grp",
        F.col("n").alias("nb"),
        *[F.col(f"c{i}").alias(f"b{i}") for i in range(n_bins)],
    )
    days = pivot.filter(F.col("day") > F.lit(ref_day).cast("date")).select(
        "grp",
        "day",
        F.col("n").alias("na"),
        *[F.col(f"c{i}").alias(f"a{i}") for i in range(n_bins)],
    )
    # day renders as its ISO string: Spark DATE surfaces as a Python
    # object in Arrow/pandas land while other engines yield datetime64 —
    # the string form compares identically everywhere and is tz-free
    return days.join(F.broadcast(ref), "grp").selectExpr(
        "grp", "CAST(day AS STRING) AS day", "na", "nb", *psi_final_exprs(n_bins)
    )


def heavy_hitters(
    items: DataFrame,
    item_col: str,
    min_share_ppm: int,
    k: int | None = None,
) -> DataFrame:
    """EXACT heavy hitters (every item whose share of all rows is at
    least ``min_share_ppm`` parts-per-million) in two passes with
    bounded memory — the 100 TB alternative to a full-domain groupBy
    when the item domain (tokens, URLs, n-grams) is astronomically
    larger than the heavy set.

    Pass 1 — candidates: each partition streams its Arrow batches
    through a Misra-Gries summary of ``k`` counters (per-batch
    vectorized value_counts folded into the dict; when the dict
    exceeds k, the (k+1)-th largest count is subtracted from every
    counter and non-positive ones drop — the mergeable-summaries
    trim). MG's undercount is at most n_p/(k+1) per partition, so any
    item with global count > n/(k+1) keeps a positive counter in at
    least one partition summary: with k >= 1e6/min_share_ppm the union
    of summaries is a SUPERSET of the true heavy set, regardless of
    row order (the default k plans 2x that floor). Memory is O(k) per
    partition; the shuffle after pass 1 carries at most
    k * num_partitions candidate items, never the domain.

    Pass 2 — exactness: a broadcast semi-join restricts the corpus to
    candidate items, one map-side-combined count per candidate, and
    the exact integer threshold ``cnt * 1e6 >= ppm * n`` keeps the
    true heavies. False candidates from pass 1 are filtered HERE, so
    the OUTPUT is exact and deterministic even though the candidate
    extras depend on partitioning — which is what lets a plain
    GROUP BY / HAVING oracle hash-verify the sketch path (t27).

    The total row count n rides the pass-1 summaries (one meta row per
    partition), so the whole operator is exactly TWO scans of the item
    frame — on a 100 TB corpus whose items come from an explode, a
    separate count() would be a third full explode pass. The summary
    frame is cached: it is droplet-sized (<= (k+1) x partitions rows)
    and read twice (the total aggregate and the candidate broadcast).

    ``items`` is a frame whose ``item_col`` holds string items; the
    total n is the number of non-null rows. Returns (item, cnt).
    """
    import math

    import pandas as pd

    if not 0 < min_share_ppm <= 1_000_000:
        raise ValueError("min_share_ppm must be in (0, 1e6]")
    floor_k = math.ceil(1_000_000 / min_share_ppm)
    if k is None:
        k = max(16, 2 * floor_k)
    elif k < floor_k:
        raise ValueError(
            f"k={k} cannot guarantee recall at {min_share_ppm} ppm "
            f"(needs k >= {floor_k}: MG undercount is n/(k+1))"
        )
    src = items.select(F.col(item_col).alias("item")).filter(F.col("item").isNotNull())

    def mg_summaries(batches):
        counters: dict = {}
        n_rows = 0
        for pdf in batches:
            n_rows += len(pdf)
            for v, c in pdf["item"].value_counts().items():
                counters[v] = counters.get(v, 0) + int(c)
            if len(counters) > k:
                dec = sorted(counters.values(), reverse=True)[k]
                counters = {i: c - dec for i, c in counters.items() if c > dec}
        # counter rows carry n_part=0; ONE meta row (item null) carries
        # the partition's row count — total n needs no extra scan
        yield pd.DataFrame(
            {
                "item": pd.array(list(counters) + [None], dtype="string"),
                "n_part": [0] * len(counters) + [n_rows],
            }
        )

    summ = src.mapInPandas(mg_summaries, "item string, n_part long").cache()
    # total is a single scalar — fold it into a literal (the 1-row
    # scalar-attach frame compiles to a BNLJ otherwise)
    total = int(summ.agg(F.sum("n_part")).first()[0] or 0)
    # Candidates are droplet-sized (<= k x partitions): pull them to
    # the driver and rebuild the broadcast side as a literal frame so
    # the returned plan holds no reference to the cached summary —
    # which can then be released HERE instead of leaking a cached RDD
    # per call for the session lifetime.
    cand_rows = (
        summ.filter(F.col("item").isNotNull()).select("item").distinct().collect()
    )
    summ.unpersist()
    from kaylee_spark.functions import literal_frame

    # literal_frame, not createDataFrame: the candidate set is a
    # droplet-sized plan table — no Python-worker scan
    cands = literal_frame(
        items.sparkSession, [(r["item"],) for r in cand_rows], "item string"
    )
    return (
        src.join(F.broadcast(cands), "item", "left_semi")
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("cnt"))
        # both literals cast to BIGINT first: INT x INT overflows ANSI
        # Spark once ppm * n exceeds 2^31 (~2k rows at 1e6 ppm)
        .filter(
            F.col("cnt") * F.lit(1_000_000).cast("bigint")
            >= F.lit(int(min_share_ppm)).cast("bigint") * F.lit(int(total)).cast("bigint")
        )
        .select("item", "cnt")
    )


def sliding_distinct_users(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    window_days: int = 7,
) -> DataFrame:
    """Trailing ``window_days``-day DISTINCT-user count for every
    calendar day in the data (the WAU curve when window_days=7).

    The naive formulation is a range join — every event against every
    window that covers it — followed by COUNT(DISTINCT), i.e. a
    ``window_days``-fold blow-up of the fact table and then a holistic
    distinct per window: both unshippable at 100 TB. This operator uses
    the lag-bounded contribution trick instead, which needs NO range
    join and NO distinct aggregate:

    1. dedup events to (user, day) pairs — one map-side-combinable
       exchange keyed on the natural high-cardinality pair;
    2. per user, ``lag(day)`` over the day-ordered window gives the
       previous active day — co-partitioned with step 1's shuffle key
       prefix (one exchange on user);
    3. a user active on ``d`` with previous activity ``prev`` is the
       FIRST in-window activity exactly for windows ending in
       ``e ∈ [max(d, prev + window_days), min(d + window_days - 1,
       max_day)]`` — at most ``window_days`` rows, usually far fewer;
       ``sequence()`` + ``explode`` materializes just those;
    4. a plain SUM of contributions per window end IS the distinct
       count — each user contributes at most once per covering window
       by construction.

    The day grid [min_day, max_day] is densified so quiet days appear
    with 0 (calendar scalars folded to literals via one 2-value agg).
    Cost: two narrow exchanges + one tiny grid join; contribution rows
    ≤ distinct (user, day) pairs × window_days but collapse map-side.
    Output: (window_end DATE, users BIGINT), complete calendar.
    """
    d = F.to_date(F.col(ts_col))
    days = events.select(F.col(user_col).alias("u"), d.alias("d")).distinct()
    bounds = events.select(
        F.min(d).alias("lo"), F.max(d).alias("hi")
    ).first()
    lo, hi = bounds["lo"], bounds["hi"]
    w = Window.partitionBy("u").orderBy("d")
    # materialize lag first: window expressions cannot nest inside the
    # explode generator's expression tree
    days = days.withColumn("prev", F.lag("d").over(w))
    start = F.greatest(F.col("d"), F.date_add(F.col("prev"), int(window_days)))
    # lag is NULL on the user's first day: greatest(d, NULL) = d in
    # Spark (null-skipping), matching "no previous activity"
    end = F.least(F.date_add(F.col("d"), int(window_days) - 1), F.lit(hi))
    # start > end happens when prev + window_days > max_day (every
    # remaining calendar window already contains prev): the interval is
    # EMPTY. sequence(start, end) would silently emit a DESCENDING
    # range there, double-counting the user — guard with an empty array.
    span = F.when(start <= end, F.sequence(start, end)).otherwise(
        F.array().cast("array<date>")
    )
    contrib = (
        days.withColumn("e", F.explode(span))
        .groupBy("e")
        .agg(F.count(F.lit(1)).alias("users"))
    )
    grid = events.sparkSession.range(1).select(
        F.explode(F.sequence(F.lit(lo), F.lit(hi))).alias("window_end")
    )
    return grid.join(
        contrib, grid.window_end == contrib.e, "left"
    ).select(
        # DATE -> NTZ timestamp: date columns arrive in pandas as
        # python objects and can't hash-compare against the oracle
        F.col("window_end").cast("timestamp_ntz").alias("window_end"),
        F.coalesce(F.col("users"), F.lit(0).cast("bigint")).alias("users"),
    )


def last_touch_attribution(
    events: DataFrame,
    touch_types: tuple[str, ...] = ("click", "view"),
    conversion_type: str = "purchase",
    value_col: str = "value",
    lookback_days: int = 7,
    user_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Last-touch marketing attribution: each conversion's value is
    credited to the user's most recent touch event strictly before it
    (within ``lookback_days``), or to 'direct' when none qualifies.

    One user-keyed sort carries everything: the last preceding touch's
    timestamp and channel are IGNORE-NULLS ``last()`` window carries
    over (user, ts, tiebreak)-ordered rows with a 1-PRECEDING frame —
    both carries pick the SAME row because their null masks are
    identical. No self-join of conversions against touches (the naive
    as-of formulation shuffles the fact table twice and explodes on
    high-touch users); the lookback cutoff is a row-local predicate
    after the carry. Strictly-before semantics via the 1-PRECEDING
    frame keeps same-timestamp touch/conversion pairs deterministic
    under the unique tiebreak.

    Output: (channel, conversions BIGINT, revenue DOUBLE) — revenue
    through exact decimal accumulation (functions.dec_sum).

    100 TB: one exchange on user_id; per-user window state is O(1)
    (two carried scalars), not a buffered partition.
    """
    from kaylee_spark.functions import dec_sum

    is_touch = F.col("event_type").isin(list(touch_types))
    w = (
        Window.partitionBy(user_col)
        .orderBy(ts_col, tiebreak_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # only touches and conversions matter: dropping every other type
    # BEFORE the window cannot change any conversion's last preceding
    # touch, and it shrinks the one wide exchange + per-user sort by
    # the irrelevant-event fraction (the pushed-down filter reaches
    # the scan)
    tagged = events.filter(
        is_touch | (F.col("event_type") == conversion_type)
    ).select(
        user_col, ts_col, tiebreak_col, "event_type", F.col(value_col).alias("v")
    ).withColumns(
        {
            "t_ts": F.last(F.when(is_touch, F.col(ts_col)), ignorenulls=True).over(w),
            "t_ch": F.last(F.when(is_touch, F.col("event_type")), ignorenulls=True).over(w),
        }
    )
    in_window = F.col("t_ts").isNotNull() & (
        F.col("t_ts") >= F.col(ts_col) - F.expr(f"INTERVAL {int(lookback_days)} DAYS")
    )
    return (
        tagged.filter(F.col("event_type") == conversion_type)
        .select(F.when(in_window, F.col("t_ch")).otherwise(F.lit("direct")).alias("channel"), "v")
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("conversions"),
            dec_sum("v").alias("revenue"),
        )
    )


def mann_whitney_u(
    df: DataFrame,
    value_col: str = "value",
    group_col: str = "event_type",
    control: str = "view",
) -> DataFrame:
    """Two-sample Mann-Whitney U (Wilcoxon rank-sum) test of every
    non-control group's value distribution against the control arm —
    the median-shift companion to ks_two_sample (shape) and
    welch_ttest (mean): rank-based, so one corrupt 1e9 reading cannot
    drag the statistic the way it drags Welch's.

    RANK-FREE formulation: the textbook route ranks the pooled sample
    (a global sort of the fact table — unshippable at 100 TB).
    Instead U1 counts pair wins directly from per-distinct-value
    counts: with c1/c2 the per-value counts of arm and control,
    2·U1 = Σ_v c1_v · (2·|{control below v}| + c2_v) — wins counted
    twice plus ties counted once. One map-side-combined (group, value)
    aggregate collapses the fact table to |distinct values| rows; the
    only ordered pass is a cumulative window over THOSE (thousands of
    rows, co-partitioned per arm), never the raw events.

    DETERMINISM (the a30/KS recipe): values go through exact
    DECIMAL(18,2); 2·U1, the tie term Σ(t³−t), and the 5% two-sided
    normal-approximation screen are all integer arithmetic — the
    significance test compares
      (2U1 − n1·n2)² · 3 · N(N−1) · 10⁴
        >  38416 · n1·n2 · ((N+1)·N·(N−1) − Σ(t³−t))
    (z² = 1.96² = 38416/10⁴ with the tie-corrected variance, both
    sides cleared of denominators), so no sqrt and no division can
    ulp-flip the verdict. Products ride DECIMAL(38,0): worst case
    (|2U1 − n1·n2| at its maximum n1·n2) the left side is
    ~1.2·10⁵·n⁶, so 10³⁸ headroom covers n up to ~3·10⁵ per arm —
    beyond that the decimal product overflows (ANSI raise, not a
    wrong answer); re-derive with a larger cleared denominator or
    test on a sampled arm. u1 itself is exact in a double up to 2⁵³
    (beyond that, report the decision booleans and counts — they
    stay exact).

    Output: one row per non-control group —
    (grp, n1 BIGINT, n2 BIGINT, u1 DOUBLE, significant BOOLEAN).
    """
    d38 = "decimal(38,0)"
    v = F.col(value_col).cast("decimal(18,2)")
    base = df.filter(F.col(value_col).isNotNull()).select(
        F.col(group_col).alias("grp"), v.alias("v")
    )
    ctrl = (
        base.filter(F.col("grp") == F.lit(control))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("c2"))
    )
    arms = (
        base.filter(F.col("grp") != F.lit(control))
        .groupBy("grp", "v")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    grps = arms.select("grp").distinct()
    # control fan-out: |arms| copies of the control histogram — the
    # broadcast side is the handful of group NAMES, the histogram
    # itself stays partitioned
    fan = ctrl.crossJoin(F.broadcast(grps)).select(
        "grp", "v", F.lit(0).cast("bigint").alias("c1"), F.col("c2")
    )
    pooled = (
        arms.select("grp", "v", "c1", F.lit(0).cast("bigint").alias("c2"))
        .unionByName(fan)
        .groupBy("grp", "v")
        .agg(F.sum("c1").alias("c1"), F.sum("c2").alias("c2"))
    )
    w = (
        Window.partitionBy("grp")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    scored = pooled.withColumn("cum2", F.coalesce(F.sum("c2").over(w), F.lit(0)))
    t = F.col("c1") + F.col("c2")
    agg = scored.groupBy("grp").agg(
        F.sum("c1").cast(d38).alias("n1"),
        F.sum("c2").cast(d38).alias("n2"),
        # per-row product fits int64 (c1 <= n1, factor <= 2N); the SUM
        # does not — cast to decimal BEFORE summing
        F.sum((F.col("c1") * (2 * F.col("cum2") + F.col("c2"))).cast(d38)).alias("u2x"),
        F.sum((t * t * t - t).cast(d38)).alias("tcorr"),
    )
    n1, n2, u2x, tc = F.col("n1"), F.col("n2"), F.col("u2x"), F.col("tcorr")
    N = n1 + n2
    a = u2x - n1 * n2
    lhs = a * a * F.lit(3).cast(d38) * N * (N - 1) * F.lit(10000).cast(d38)
    rhs = F.lit(38416).cast(d38) * n1 * n2 * ((N + 1) * N * (N - 1) - tc)
    return agg.select(
        "grp",
        n1.cast("bigint").alias("n1"),
        n2.cast("bigint").alias("n2"),
        (u2x / 2).cast("double").alias("u1"),
        (lhs > rhs).alias("significant"),
    )


# --- portable HyperLogLog distinct store -----------------------------------
# m = 256 registers (p = 8), 20-bit rho field carved from the portable
# multiplicative hash — every step integer arithmetic both engines
# replay bit-for-bit; only the final estimate touches doubles, in a
# fixed operation order shared with the oracle.
HLL_M = 256
HLL_WBITS = 20
# alpha_256 * m^2 * 2^WBITS with alpha_256 = 0.7213/(1 + 1.079/256),
# written as literal * power-of-two * power-of-two so both engines
# scale the SAME double exactly; the casts keep DuckDB from parsing
# the literals as DECIMAL (whose product overflows DECIMAL(18))
HLL_ALPHA_NUM_SQL = (
    "CAST(0.7182726 AS DOUBLE) * CAST(65536 AS DOUBLE) * CAST(2097152 AS DOUBLE)"
)


def hll_bitlen_sql(expr: str) -> str:
    """Integer bit-length of a value in [0, 2^20) as a CASE chain —
    no float log2 (whose 1-ulp slack can flip floor() at 2^k
    boundaries). Shared verbatim by the Spark columns and the DuckDB
    oracle so rho is engine-exact."""
    branches = " ".join(
        f"WHEN {expr} >= {1 << (k - 1)} THEN {k}" for k in range(HLL_WBITS, 0, -1)
    )
    return f"CASE {branches} ELSE 0 END"


def hll_distinct_store(
    events: DataFrame,
    id_col: str = "user_id",
    group_col: str = "event_type",
    ts_col: str = "ts",
    rel_bound: float = 0.2,
) -> DataFrame:
    """Mergeable distinct-count sketch store: per (group, day) HLL
    register shards, merged across days by element-wise MAX, with the
    estimate checked against the exact distinct and the merge law
    checked against registers built directly from the raw data.

    This is the monitoring-store pattern (a31/e31's PSI shelf, for
    distincts): at 100 TB a pipeline persists 256 small integers per
    group per day, and ANY date-window's distinct estimate is a MAX
    over the stored shards — no rescan of the facts, union-distinct
    across arbitrary windows for free. The built-in
    approx_count_distinct (a02) gives the same estimate quality but
    its sketch bytes are opaque; these registers are portable integer
    arithmetic ANY engine (and the DuckDB oracle) re-derives exactly.

    Register pipeline (all integer): h = ((id+1)² mod (2³¹−1)) ·
    2654435761 mod (2³¹−1) — the squaring matters, see the inline
    note; register index h mod 256; rho = 21 − bitlen((h div 256)
    mod 2²⁰) ∈ [1, 21]; register = MAX(rho). Estimate: the HLL
    harmonic form alpha·m²·2²¹ / S with S = Σ 2^(21−M_j) (an exact
    integer — absent registers contribute 2²¹), switching to linear
    counting m·ln(m/V) below 2.5m (V = empty registers, ln quantized
    to 6dp — the t17 recipe). The fixture exercises BOTH branches:
    15/150 users per arm at sf0.001/0.01 take linear counting, 1500
    at sf0.1 takes the harmonic path.

    Output per group: (grp, n_exact BIGINT, estimate DOUBLE,
    within_bound BOOLEAN, merge_exact BOOLEAN) — within_bound asserts
    relative error ≤ ``rel_bound``; merge_exact asserts the day-merged
    registers EQUAL direct-from-raw registers (Σ|ΔM| = 0).
    """
    base = events.select(
        F.col(group_col).alias("grp"),
        F.to_date(F.col(ts_col)).alias("day"),
        F.col(id_col).alias("uid"),
    )
    hashed = with_hll_cols(base, "uid")
    day_regs = hashed.groupBy("grp", "day", "idx").agg(F.max("rho").alias("m_day"))
    merged = day_regs.groupBy("grp", "idx").agg(F.max("m_day").alias("m_merged"))
    direct = hashed.groupBy("grp", "idx").agg(F.max("rho").alias("m_direct"))
    exact = base.groupBy("grp").agg(F.countDistinct("uid").alias("n_exact"))
    return hll_estimate_close(merged.join(direct, ["grp", "idx"]), exact, rel_bound)


def with_hll_cols(df: DataFrame, id_col: str) -> DataFrame:
    """Row-local HLL register coordinates (idx, rho) — safe on batch
    AND streaming frames (no shuffle, no state).

    Square-mix hash: one modular SQUARING before the multiplicative
    step. Sequential ids through a plain affine hash form a lattice
    whose small-w cells inflate max-rho (measured +54% estimate bias
    at n/m ~ 6); squaring breaks the progression (measured -3%).
    Two mod steps keep every intermediate inside int64 for ids < 2^31.
    """
    return (
        df.withColumn(
            "h",
            (
                (((F.col(id_col) + 1) * (F.col(id_col) + 1)) % F.lit(2147483647))
                * F.lit(2654435761)
            )
            % F.lit(2147483647),
        )
        .withColumn("idx", F.col("h") % HLL_M)
        .withColumn("w", F.expr(f"(h div {HLL_M}) % {1 << HLL_WBITS}"))
        .withColumn("rho", F.expr(f"{HLL_WBITS + 1} - ({hll_bitlen_sql('w')})"))
        .drop("h", "w")
    )


def hll_estimate_close(regs: DataFrame, exact: DataFrame, rel_bound: float = 0.2) -> DataFrame:
    """Close the HLL pipeline from joined registers (grp, idx,
    m_merged, m_direct) + exact counts (grp, n_exact): harmonic /
    linear-counting estimate, error-bound and merge-law booleans —
    shared verbatim by the batch operator and the streamed-ingest twin
    so stream ≡ batch is hash-verified."""
    per_grp = regs.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_present"),
        F.sum(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), {HLL_WBITS + 1} - m_merged)")
        ).alias("s_present"),
        F.sum(F.abs(F.col("m_merged") - F.col("m_direct"))).alias("m_delta"),
    )
    j = per_grp.join(exact, "grp")
    s_total = F.col("s_present") + (F.lit(HLL_M) - F.col("n_present")) * F.lit(
        1 << (HLL_WBITS + 1)
    )
    v_empty = F.lit(HLL_M) - F.col("n_present")
    raw = F.expr(HLL_ALPHA_NUM_SQL) / s_total.cast("double")
    lc = F.lit(float(HLL_M)) * F.round(
        F.log(F.lit(float(HLL_M)) / v_empty.cast("double")), 6
    )
    est = F.round(
        F.when((raw < F.lit(2.5 * HLL_M)) & (v_empty > 0), lc).otherwise(raw), 6
    )
    return j.select(
        "grp",
        "n_exact",
        est.alias("estimate"),
        (
            F.abs(est - F.col("n_exact").cast("double"))
            <= F.lit(float(rel_bound)) * F.col("n_exact").cast("double")
        ).alias("within_bound"),
        (F.col("m_delta") == 0).alias("merge_exact"),
    )


def moment_registers(
    events: DataFrame,
    value_col: str = "value",
    group_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Day-sharded fixed-point MOMENT registers — the incremental-
    statistics sibling of the HLL distinct store (a37): per
    (group, day) shard keep exact integer power sums over the value
    quantized to cents — n, S1 = Σc, S2 = Σc² — and any window's mean
    and population variance derive from shard SUMS alone:
    mean_cents = S1/n, var_cents² = (n·S2 − S1²)/n². Addition is the
    merge, so shards are associative, commutative, idempotent to
    re-aggregate, and replayable by any engine — at 100 TB yesterday's
    profile never rescans yesterday's events (the same mergeability
    argument as a37's MAX registers, for moments instead of
    cardinality).

    Fixed-point cents make every register an exact int64 (S2 per
    shard ~5e12 at sf0.1 — decades of headroom); quantization is the
    store's declared precision, applied identically by the SQL twin.
    One map-side-combined shuffle on (group, day) builds the store.

    PRECONDITION (int64 envelope): S2 = Σc² must stay below 2^63
    per shard — i.e. rows_per_shard · max_cents² < 9.2e18, e.g. ~9e9
    rows/day/group at $1,000 values or ~9e5 rows at $100,000 values.
    Spark's non-ANSI bigint SUM wraps silently past that while
    DuckDB's promotes to HUGEINT, so an overflow surfaces as an
    engine-oracle hash mismatch, not an error (ADVICE r12). Beyond
    the envelope, pre-scale the quantization (dollars instead of
    cents) or shard finer (hour shards); the merge law is unchanged.
    """
    cents = F.round(F.col(value_col) * 100).cast("bigint")
    return (
        events.select(
            F.col(group_col).alias("grp"),
            F.date_trunc("day", F.col(ts_col)).alias("day"),
            cents.alias("c"),
        )
        .groupBy("grp", "day")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("c").alias("s1"),
            F.sum(F.col("c") * F.col("c")).alias("s2"),
        )
    )


QSTORE_WIDTH_CENTS = 2500


def quantile_buckets(
    events: DataFrame,
    value_col: str = "value",
    group_col: str = "event_type",
    ts_col: str = "ts",
    width_cents: int = QSTORE_WIDTH_CENTS,
) -> DataFrame:
    """Day-sharded fixed-fencepost QUANTILE store — the third mergeable
    statistic next to the HLL distinct store (a37, MAX registers) and
    the moment store (a39, power sums): per (group, day) shard keep
    exact counts per fixed-width value bucket
    (``b = cents div width_cents``), and any window's discrete
    quantile derives from shard-count ADDITION alone — cumulative
    counts over the fixed fenceposts locate the rank-``ceil(q·n)``
    bucket without rescanning history. Addition is the merge, so
    shards are associative, commutative, and replayable by any engine;
    at 100 TB yesterday's latency profile never rescans yesterday's
    events, and the store is |groups| × |days| × |buckets| rows.

    Fixed fenceposts (not data-dependent equi-depth cuts) are what
    make the shards mergeable — two shards built on different days
    agree on bucket boundaries by construction. The fencepost width is
    the store's declared resolution: a derived quantile is exact to
    within one bucket (proof emitted per group by
    ``quantile_store_close``).

    Precondition: values are non-negative (``div`` truncates toward
    zero, so a mixed-sign domain would fold (-w, w) into bucket 0 —
    shift by the domain minimum first for signed inputs).

    One map-side-combined shuffle on (group, day, bucket) builds the
    store.
    """
    cents = F.round(F.col(value_col) * 100).cast("bigint")
    return (
        events.select(
            F.col(group_col).alias("grp"),
            F.date_trunc("day", F.col(ts_col)).alias("day"),
            cents.alias("c"),
        )
        .withColumn("b", F.expr(f"c div {int(width_cents)}"))
        .groupBy("grp", "day", "b")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def quantile_store_close(
    merged: DataFrame,
    base: DataFrame,
    width_cents: int = QSTORE_WIDTH_CENTS,
) -> DataFrame:
    """Close the quantile store from merged bucket counts
    (grp, b, n) + the raw value frame ``base`` (grp, c): derive the
    p50/p90/p99 bucket upper fenceposts from cumulative counts, and
    emit two in-query proofs — shared verbatim by the batch operator
    (a40) and the streamed-ingest twin (e41) so stream ≡ batch is
    hash-verified:

    - ``merge_exact``: day-merged bucket counts EQUAL direct
      single-pass counts on the same engine (Σ|Δ| = 0 over a full
      outer join — the re-shard invariance the mergeability claim
      rests on);
    - ``bracket_exact``: for each quantile, the exact rank-``r`` value
      (r = ceil(q·n), located by a row_number sort — the
      driver-verifiability tax, not the production path) falls in the
      bucket the cumulative counts selected. Rank arithmetic is pure
      integers (ceil(p·n/q) = (p·n + q − 1) div q), so both engines
      compute identical ranks.

    Quantile ties are safe: rows with equal ``c`` may order
    arbitrarily under row_number, but the rank-r VALUE is unique for
    a fixed r, so the emitted fenceposts and proofs are deterministic.
    """
    w = int(width_cents)
    tot = merged.groupBy("grp").agg(
        F.sum("n").alias("n"), F.count(F.lit(1)).alias("n_buckets")
    )
    cum = merged.withColumn(
        "cum", F.sum("n").over(Window.partitionBy("grp").orderBy("b"))
    )
    j = cum.join(tot.select("grp", F.col("n").alias("nt")), "grp")
    r50 = F.expr("(nt + 1) div 2")
    r90 = F.expr("(9 * nt + 9) div 10")
    r99 = F.expr("(99 * nt + 99) div 100")
    picks = j.groupBy("grp").agg(
        F.min(F.when(F.col("cum") >= r50, F.col("b"))).alias("b50"),
        F.min(F.when(F.col("cum") >= r90, F.col("b"))).alias("b90"),
        F.min(F.when(F.col("cum") >= r99, F.col("b"))).alias("b99"),
    )
    # direct (un-sharded) bucket counts from raw values, for merge_exact
    direct = (
        base.withColumn("b", F.expr(f"c div {w}"))
        .groupBy("grp", "b")
        .agg(F.count(F.lit(1)).alias("dn"))
    )
    delta = (
        merged.join(direct, ["grp", "b"], "full_outer")
        .groupBy("grp")
        .agg(
            F.sum(
                F.abs(F.coalesce(F.col("n"), F.lit(0)) - F.coalesce(F.col("dn"), F.lit(0)))
            ).alias("m_delta")
        )
    )
    # exact rank-r values by one sort — the in-query bracket proof
    ranked = base.withColumn(
        "rn", F.row_number().over(Window.partitionBy("grp").orderBy("c"))
    ).join(tot.select("grp", F.col("n").alias("nt")), "grp")
    exact = ranked.groupBy("grp").agg(
        F.min(F.when(F.col("rn") == F.expr("(nt + 1) div 2"), F.col("c"))).alias("v50"),
        F.min(F.when(F.col("rn") == F.expr("(9 * nt + 9) div 10"), F.col("c"))).alias("v90"),
        F.min(F.when(F.col("rn") == F.expr("(99 * nt + 99) div 100"), F.col("c"))).alias("v99"),
    )
    return (
        tot.join(picks, "grp")
        .join(delta, "grp")
        .join(exact, "grp")
        .select(
            F.col("grp").alias("event_type"),
            "n",
            "n_buckets",
            ((F.col("b50") + 1) * w).alias("p50_ub_cents"),
            ((F.col("b90") + 1) * w).alias("p90_ub_cents"),
            ((F.col("b99") + 1) * w).alias("p99_ub_cents"),
            (
                (F.expr(f"v50 div {w}") == F.col("b50"))
                & (F.expr(f"v90 div {w}") == F.col("b90"))
                & (F.expr(f"v99 div {w}") == F.col("b99"))
            ).alias("bracket_exact"),
            (F.col("m_delta") == 0).alias("merge_exact"),
        )
    )


def comoment_registers(
    df: DataFrame,
    x_col,
    y_col,
    group_col: str = "grp",
    shard_col: str = "shard",
) -> DataFrame:
    """Sharded exact CO-MOMENT registers — the bivariate sibling of the
    moment store (a39): per (group, shard) keep exact integer sums
    n, Sx, Sy, Sxy, Sxx, Syy over integer-quantized (x, y), and any
    window's covariance / Pearson correlation derives from shard
    ADDITION alone: cov = (n·Sxy − Sx·Sy)/n², r = (n·Sxy − Sx·Sy) /
    √(n·Sxx − Sx²) / √(n·Syy − Sy²). The merge is addition, so shards
    are associative, commutative, and replayable by any engine — at
    100 TB the feature⋈target drift monitor never rescans history.

    Callers pass ALREADY-QUANTIZED integer x/y columns — quantization
    is the store's declared precision, and choosing the unit is how
    the int64 envelope is sized: per shard, n·max(x²), n·max(y²) and
    n·max(|x·y|) must each stay below 2^63 (the a39 precondition,
    squared terms dominate). Downstream merges should accumulate in
    DECIMAL(38,0) — the derived statistics are ratios, so scale never
    cancels exactness.

    One map-side-combined shuffle on (group, shard) builds the store.
    """
    x = x_col if not isinstance(x_col, str) else F.col(x_col)
    y = y_col if not isinstance(y_col, str) else F.col(y_col)
    return (
        df.select(
            F.col(group_col).alias("grp"),
            F.col(shard_col).alias("shard"),
            x.alias("x"),
            y.alias("y"),
        )
        .groupBy("grp", "shard")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
        )
    )
