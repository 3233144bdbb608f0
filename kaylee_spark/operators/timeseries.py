"""Time-series helpers: regular-grid resampling and forward fill.

Event tables are irregular; models and dashboards want regular grids
with explicit gaps. Spark has window() bucketing but nothing that
DENSIFIES — empty buckets simply don't exist in a groupBy result.
These operators close that gap declaratively.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def resample(
    df: DataFrame,
    ts_col: str,
    step: str,
    aggs: dict[str, Column],
    key_cols: list[str] | None = None,
    fill: dict[str, object] | None = None,
) -> DataFrame:
    """Aggregate onto a regular time grid, materializing EMPTY buckets.

    ``step`` is an INTERVAL literal body (e.g. ``'15 minutes'``);
    ``aggs`` maps output column -> aggregate expression; ``fill`` maps
    output column -> value for empty buckets (unfilled columns stay
    null). With ``key_cols``, every key gets the FULL global grid
    (dense cross of keys x buckets), which is what plotting/feature
    pipelines expect.

    Scale shape: the heavy input collapses to one bucket-grained
    aggregate FIRST (map-side partial, one shuffle); the grid is
    sequence()+explode of ONE min/max row cross-joined with the
    distinct keys — grid size is buckets x keys regardless of input
    rows, so the densify join is grid-sized, not data-sized. The grid
    side is broadcast when small (always, relative to the input).
    """
    key_cols = key_cols or []
    # epoch-aligned bucket via PURE timestamp arithmetic — never
    # unix_timestamp, which interprets TIMESTAMP_NTZ in the session
    # timezone and would shift bucket edges on non-UTC drivers
    step_sec = (
        "timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
        f" TIMESTAMP_NTZ '1970-01-01 00:00:00' + INTERVAL {step})"
    )
    bucket = F.expr(
        "timestampadd(SECOND, CAST(floor(timestampdiff(SECOND,"
        f" TIMESTAMP_NTZ '1970-01-01 00:00:00', {ts_col}) / {step_sec})"
        f" * {step_sec} AS BIGINT), TIMESTAMP_NTZ '1970-01-01 00:00:00')"
    ).alias("bucket")
    agged = df.groupBy(*key_cols, bucket).agg(
        *[expr.alias(name) for name, expr in aggs.items()]
    )

    bounds = df.select(F.min(bucket).alias("_lo"), F.max(bucket).alias("_hi"))
    grid = bounds.select(
        F.explode(F.expr(f"sequence(_lo, _hi, INTERVAL {step})")).alias("bucket")
    )
    if key_cols:
        grid = df.select(*key_cols).distinct().crossJoin(grid)

    out = grid.join(agged, [*key_cols, "bucket"], "left")
    for name, value in (fill or {}).items():
        out = out.withColumn(name, F.coalesce(F.col(name), F.lit(value)))
    return out


def forward_fill(
    df: DataFrame,
    value_cols: list[str] | str,
    ts_col: str,
    key_cols: list[str] | str,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Per-key forward fill (last observation carried forward): nulls
    in ``value_cols`` take the most recent non-null value at or before
    the row's time within its key.

    One window per key ordered by (ts, tiebreaks) — a single shuffle
    keyed on ``key_cols``, rows stay ordered once per fill regardless
    of how many columns fill. Leading nulls (no prior observation)
    stay null.
    """
    value_cols = [value_cols] if isinstance(value_cols, str) else list(value_cols)
    key_cols = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    order = [F.asc(ts_col)] + [F.asc(c) for c in (tiebreak_cols or [])]
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = df
    for c in value_cols:
        out = out.withColumn(c, F.last(F.col(c), ignorenulls=True).over(w))
    return out


def trend(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    group_cols: list[str],
    anchor: str = "2024-01-01",
) -> DataFrame:
    """Per-group least-squares trend of value over time (slope per DAY,
    plus intercept at the anchor date) — drift detection over metric
    streams without ever materializing a window.

    x is the integer day offset from ``anchor`` (date arithmetic —
    timezone-free by construction). All five sufficient statistics
    (n, Σx, Σy, Σxy, Σx²) accumulate exactly: integers in decimal(38)
    so a 100 TB group cannot overflow (ANSI mode would raise on a
    bigint Σx²), money sums through dec_sum. slope/intercept are then
    identically-associated double expressions over those exact sums
    on any engine, rounded to 6dp for the last-ulp division slack.

    Scale shape: ONE pushed-down scan into one group-keyed partial
    aggregate — the same cost as a COUNT(*) per group; nothing else
    shuffles.
    """
    from kaylee_spark.functions import dec_sum

    x = F.datediff(F.to_date(F.col(ts_col)), F.lit(anchor).cast("date"))
    y = F.col(value_col)
    out = df.groupBy(*group_cols).agg(
        F.count(value_col).alias("n"),
        F.sum(x.cast("decimal(38,0)")).alias("__sx"),
        dec_sum(y).alias("__sy"),
        dec_sum(x * y).alias("__sxy"),
        F.sum((x * x).cast("decimal(38,0)")).alias("__sxx"),
    )
    n = F.col("n")
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy")
    sxy = F.col("__sxy")
    sxx = F.col("__sxx").cast("double")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy - slope * sx) / n
    return out.select(
        *group_cols,
        "n",
        F.round(slope.cast("double"), 6).alias("slope_per_day"),
        F.round(intercept.cast("double"), 6).alias("intercept"),
    )


_UNIT_SECONDS = {
    "second": 1, "seconds": 1,
    "minute": 60, "minutes": 60,
    "hour": 3600, "hours": 3600,
    "day": 86400, "days": 86400,
}


def _step_seconds(step: str) -> int:
    n, unit = step.split()
    if unit not in _UNIT_SECONDS:
        raise ValueError(f"unsupported step unit: {step!r}")
    return int(n) * _UNIT_SECONDS[unit]


def _epoch_bucket(col_sql: str, step: str):
    """Epoch-aligned floor bucket of a TIMESTAMP_NTZ expression — same
    pure-timestamp arithmetic as resample (no session-tz functions)."""
    sec = _step_seconds(step)
    return F.expr(
        "timestampadd(SECOND, CAST(floor(timestampdiff(SECOND,"
        f" TIMESTAMP_NTZ '1970-01-01 00:00:00', {col_sql}) / {sec})"
        f" * {sec} AS BIGINT), TIMESTAMP_NTZ '1970-01-01 00:00:00')"
    )


def rollup_cascade(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    steps: list[str],
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Hierarchical rollup (the hypertable / continuous-aggregate
    pattern): aggregate the raw stream ONCE at the finest resolution,
    then derive every coarser level from the level below it — never
    from the raw data again.

    Output: one long frame tagged by ``resolution``; per row
    (key_cols…, bucket, resolution, n_events, total_value). ``steps``
    must coarsen by integer multiples (e.g. '1 hour' → '6 hours' →
    '1 day') so every coarse bucket is a union of fine buckets.

    Correctness: counts and decimal sums are reaggregatable exactly —
    the running sum stays UNROUNDED decimal through the cascade and
    rounds to cents only at emission, so every level is bit-identical
    to aggregating the raw data directly at that resolution (the
    property the oracle asserts).

    Scale shape: the 100 TB scan happens once (one shuffle to the
    finest grain); every further level aggregates the previous LEVEL —
    bucket-count-sized input, i.e. practically free. Each level frame
    is CACHED: Spark does not dedupe common subplans across UNION
    branches, so without the materialization every emitted resolution
    would silently recompute from raw (measured: 3 steps -> 6 scans,
    zero ReusedExchange). Level frames are |buckets|-sized, so the
    cache cost is trivial; in a production hypertable each level is a
    written table anyway — the cache is that materialization in-plan.
    """
    key_cols = key_cols or []
    secs = [_step_seconds(s) for s in steps]
    for fine, coarse in zip(secs, secs[1:]):
        if coarse % fine != 0 or coarse <= fine:
            raise ValueError(f"steps must coarsen by integer multiples, got {steps}")

    from kaylee_spark.functions import money_sum

    cur = df.groupBy(
        *key_cols, _epoch_bucket(ts_col, steps[0]).alias("bucket")
    ).agg(
        F.count(value_col).alias("n_events"),
        money_sum(value_col).alias("__dec"),
    ).cache()

    def emit(level: DataFrame, step: str) -> DataFrame:
        return level.select(
            *key_cols,
            "bucket",
            F.lit(step).alias("resolution"),
            "n_events",
            F.round(F.col("__dec"), 2).cast("double").alias("total_value"),
        )

    out = emit(cur, steps[0])
    for step in steps[1:]:
        cur = cur.groupBy(
            *key_cols, _epoch_bucket("bucket", step).alias("bucket")
        ).agg(
            F.sum("n_events").alias("n_events"),
            F.sum("__dec").cast("decimal(38,6)").alias("__dec"),
        ).cache()
        out = out.unionByName(emit(cur, step))
    return out


def _key_fanout(df: DataFrame, key_col: str) -> DataFrame:
    """Pin the per-key window exchange to a CPU-sized width.

    The heavy time-series windows (24-lag EWMA chains, rolling
    moment frames, dual interpolation frames) are CPU-dense per row,
    but AQE coalesces their post-shuffle partitions by BYTES — the
    2.1 MB events shuffle folded to 2 tasks on 32 cores (measured:
    e24 2.27 s; 1.45 s with a 32-wide window stage). An explicit
    repartition on the WINDOW KEY replaces the window's own
    ENSURE_REQUIREMENTS exchange (same clustering, so no second
    shuffle appears) and a user-specified partition count is exempt
    from AQE coalescing. Width = max(defaultParallelism,
    spark.sql.shuffle.partitions): locally that is the core count; a
    production session sizes shuffle.partitions to its data and keeps
    its own number. Window results are per-key and order-pinned, so
    values are bit-identical at any width (the g01 argument).
    """
    spark = df.sparkSession
    try:
        parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except ValueError:
        # platforms that manage the width themselves report a
        # non-numeric value (e.g. "auto"); fall back to core count
        parts = 0
    n = max(spark.sparkContext.defaultParallelism, parts)
    return df.repartition(n, key_col)


def linear_interpolate(
    df: DataFrame,
    value_col: str,
    ts_col: str,
    key_col: str,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Time-weighted linear interpolation of null gaps per key — the
    resampling mode forward_fill cannot express: an interior null at
    time t between anchors (t0, v0) and (t1, v1) becomes
    v0 + (v1 - v0) * (t - t0) / (t1 - t0); leading/trailing nulls
    take the nearest anchor (pandas interpolate(limit_direction=
    'both') semantics). Adds ``<value_col>_filled``.

    Determinism contract: anchor lookup is two frames over ONE
    key-partitioned (ts, tiebreak) sort (Spark plans a single
    exchange+sort; the following-frame window reuses it), gap ratios
    are exact microsecond bigints divided once in doubles, and the
    interpolated value rounds 6dp — identical IEEE arithmetic in any
    engine. Timestamps are NTZ and deltas use pure timestamp
    arithmetic (timestampdiff vs the NTZ epoch — never
    unix_timestamp, which shifts with the session timezone). When
    both anchors share one timestamp the ratio is undefined; the
    previous anchor wins (mirrored in the oracle).
    """
    from pyspark.sql import Window

    df = _key_fanout(df, key_col)
    order = [F.col(ts_col).asc()] + [F.col(c).asc() for c in (tiebreak_cols or [])]
    wp = (
        Window.partitionBy(key_col)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = (
        Window.partitionBy(key_col)
        .orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    us = F.expr(
        f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {ts_col})"
    )
    v = F.col(value_col)
    anchor_t = F.when(v.isNotNull(), us)
    pv = F.last(v, ignorenulls=True).over(wp)
    nv = F.first(v, ignorenulls=True).over(wn)
    pt = F.last(anchor_t, ignorenulls=True).over(wp)
    nt = F.first(anchor_t, ignorenulls=True).over(wn)
    ratio = (us - pt).cast("double") / (nt - pt).cast("double")
    interp = F.round(pv + (nv - pv) * ratio, 6)
    filled = (
        F.when(v.isNotNull(), v)
        .when(pv.isNotNull() & nv.isNotNull() & (nt != pt), interp)
        .when(pv.isNotNull() & nv.isNotNull(), pv)
        .otherwise(F.coalesce(pv, nv))
    )
    return df.withColumn(f"{value_col}_filled", filled.cast("double"))


def rolling_zscore(
    df: DataFrame,
    value_col: str,
    ts_col: str,
    key_col: str,
    window_rows: int = 20,
    threshold: float = 3.0,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Per-key rolling z-score anomaly detection: each value is scored
    against the mean/stddev of its key's PREVIOUS ``window_rows``
    values — the row's own value is excluded, because an inclusive
    window dilutes the very spike being tested (a lone 50-sigma spike
    in a 20-row inclusive window caps its own z below 4.4). Adds ``z``
    (6dp, null when the history is empty or constant) and
    ``is_anomaly`` (|z| > threshold, never null).

    Determinism contract: the window moments are EXACT — values
    accumulate as decimal(18,2) and squares as decimal(38,4) (2-dp
    inputs have 4-dp squares; the double multiply's error is orders of
    magnitude below the cast's half-ulp, so the cast recovers the
    exact rational in any engine). mean/variance/sqrt are then one
    fixed IEEE expression over those exact sums; variance clamps at 0
    before sqrt (float cancellation can leave ~-1e-16). The flag
    compares the ROUNDED z so both engines threshold the same number.

    Scale shape: ONE key-partitioned (ts, tiebreak) sort carries all
    three frame aggregates — a single exchange, no self-join, and the
    window slides in O(1) per row (count/sum frames, not holistic).
    """
    df = _key_fanout(df, key_col)
    order = [F.col(ts_col).asc()] + [F.col(c).asc() for c in (tiebreak_cols or [])]
    w = (
        Window.partitionBy(key_col)
        .orderBy(*order)
        .rowsBetween(-window_rows, -1)
    )
    v = F.col(value_col)
    n = F.count(v).over(w)
    sv = F.sum(v.cast("decimal(18,2)")).over(w).cast("double")
    svv = F.sum((v * v).cast("decimal(38,4)")).over(w).cast("double")
    mean = sv / n
    sd = F.sqrt(F.greatest((svv - sv * sv / n) / n, F.lit(0.0)))
    # Clamp |z| at a literal 1e6 BEFORE rounding: a near-constant
    # history leaves sd ~1e-9 and z ~1e9, where one double ulp
    # (~2.4e-7) rivals the 6dp quantum and the two engines' ROUND can
    # disagree in the last digit (the round-6 e23 sf0.1 escape). A
    # clamped z has <= 13 significant digits, so ROUND is exact; the
    # anomaly flag is unchanged (1e6 >> any sane threshold).
    z = F.round(
        F.greatest(F.least((v - mean) / sd, F.lit(1e6)), F.lit(-1e6)), 6
    )
    return df.withColumn("z", F.when(sd > 0, z)).withColumn(
        "is_anomaly", F.coalesce(F.abs(F.col("z")) > F.lit(threshold), F.lit(False))
    )


def seasonal_zscore(
    df: DataFrame,
    value_col: str,
    ts_col: str,
    key_col: str,
    threshold: float = 3.0,
) -> DataFrame:
    """Seasonal-baseline anomaly score: each value is scored against
    the mean/stddev of its key's OWN hour-of-day bucket over the whole
    series — the profile detector for periodic signals, where
    rolling_zscore's trailing window flags every daily peak as an
    anomaly because the baseline lags the season. A 9am spike is
    judged against 9am history, not against 8:40-8:59.

    Adds ``hod`` (0-23), ``z`` (6dp, null when the bucket is constant
    or singleton), ``is_anomaly`` (|z| > threshold, never null).

    Determinism contract is rolling_zscore's verbatim: exact decimal
    bucket moments (values 18,2; squares 38,4), one fixed IEEE
    mean/variance/sqrt chain, variance clamped at 0, |z| clamped at a
    literal 1e6 before the 6dp round (near-constant buckets put z in
    ulp-unstable territory), flag compares the rounded z.

    Scale shape: the baseline is ONE map-side-combined aggregate over
    (key, hour) — at most 24x|keys| rows, broadcast back onto the
    event scan; no window sort at all, so this is strictly cheaper
    than the rolling variant and the join side never grows with the
    fact table.
    """
    v = F.col(value_col)
    hod = F.hour(F.col(ts_col))
    base = (
        df.groupBy(F.col(key_col).alias("__k"), hod.alias("__hod"))
        .agg(
            F.count(v).alias("__n"),
            F.sum(v.cast("decimal(18,2)")).cast("double").alias("__sv"),
            F.sum((v * v).cast("decimal(38,4)")).cast("double").alias("__svv"),
        )
    )
    joined = df.withColumn("hod", hod).join(
        F.broadcast(base),
        (F.col(key_col) == F.col("__k")) & (F.col("hod") == F.col("__hod")),
    ).drop("__k", "__hod")
    mean = F.col("__sv") / F.col("__n")
    sd = F.sqrt(
        F.greatest(
            (F.col("__svv") - F.col("__sv") * F.col("__sv") / F.col("__n")) / F.col("__n"),
            F.lit(0.0),
        )
    )
    z = F.round(F.greatest(F.least((v - mean) / sd, F.lit(1e6)), F.lit(-1e6)), 6)
    return (
        joined.withColumn("z", F.when(sd > 0, z))
        .withColumn(
            "is_anomaly",
            F.coalesce(F.abs(F.col("z")) > F.lit(threshold), F.lit(False)),
        )
        .drop("__n", "__sv", "__svv")
    )


def ewma(
    df: DataFrame,
    value_col: str,
    ts_col: str,
    key_col: str,
    alpha: float = 0.5,
    max_lags: int = 24,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Per-key exponentially weighted moving average (pandas
    ``ewm(adjust=True)`` semantics, truncated at ``max_lags`` terms):

        ewma_n = Σ_k w_k · v_{n-k} / Σ_k w_k,   w_k = (1-α)^k,
                 k over the row's most recent min(n, max_lags) values.

    Adds ``<value_col>_ewma`` (6dp). The truncation is part of the
    operator's definition, not an approximation error: with α = 0.5
    and 24 lags the dropped tail weighs < 6e-8 of the total — below
    the 6dp rounding — and BOTH the operator and any SQL twin compute
    the same truncated sum, so results stay bit-identical.

    Determinism contract: the weights are precomputed driver-side and
    emitted as full-precision double literals, so any engine multiplies
    and adds the SAME numbers in the SAME left-to-right order — one
    fixed IEEE expression, no accumulation-order freedom. Nulls in the
    value column contribute nothing to numerator or denominator (their
    weight is skipped, matching pandas ignore_na=False only for
    non-null tails; document gaps accordingly).

    Scale shape: ``max_lags`` lag() calls over ONE key-partitioned
    (ts, tiebreak) sort — a single exchange; the chain is a row-local
    codegen projection after the sort, no self-joins, no state.
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"ewma requires 0 < alpha <= 1, got {alpha}")
    if max_lags < 1:
        raise ValueError(f"ewma requires max_lags >= 1, got {max_lags}")
    df = _key_fanout(df, key_col)
    order = [F.col(ts_col).asc()] + [F.col(c).asc() for c in (tiebreak_cols or [])]
    w = Window.partitionBy(key_col).orderBy(*order)
    weights = [(1.0 - alpha) ** k for k in range(max_lags)]
    v = F.col(value_col)
    num = F.coalesce(v * F.lit(weights[0]), F.lit(0.0))
    den = F.when(v.isNotNull(), F.lit(weights[0])).otherwise(F.lit(0.0))
    for k in range(1, max_lags):
        lagged = F.lag(v, k).over(w)
        num = num + F.coalesce(lagged * F.lit(weights[k]), F.lit(0.0))
        den = den + F.when(lagged.isNotNull(), F.lit(weights[k])).otherwise(F.lit(0.0))
    out = F.when(den > 0, F.round(num / den, 6))
    return df.withColumn(f"{value_col}_ewma", out)


def ewma_oracle_terms(alpha: float = 0.5, max_lags: int = 24, value_sql: str = "value") -> tuple[str, str]:
    """The (numerator, denominator) SQL for ewma()'s weighted chain,
    with the SAME driver-computed weight literals in the SAME
    left-to-right order — the ANSI twin any SQL engine evaluates to
    identical bits. lag() references must resolve against a window
    named ``win`` in the calling query."""
    weights = [(1.0 - alpha) ** k for k in range(max_lags)]
    num = [f"COALESCE({value_sql} * {weights[0]!r}, 0.0)"]
    den = [f"CASE WHEN {value_sql} IS NOT NULL THEN {weights[0]!r} ELSE 0.0 END"]
    for k in range(1, max_lags):
        num.append(f"COALESCE(lag({value_sql}, {k}) OVER win * {weights[k]!r}, 0.0)")
        den.append(
            f"CASE WHEN lag({value_sql}, {k}) OVER win IS NOT NULL"
            f" THEN {weights[k]!r} ELSE 0.0 END"
        )
    return " + ".join(num), " + ".join(den)


def acf_final_exprs(lags: list[int]) -> list[str]:
    """The autocorrelation ratio expressions, shared VERBATIM between
    the Spark projection and the DuckDB oracle: operands are the
    exact decimal/bigint aggregates (cast to double once each), so
    both engines execute the identical IEEE parse tree and land on
    the same bits before the final 6dp round.

    Sample ACF with the full-series mean and variance as the anchor:
    r_k = (Spp_k - m*(Sh_k + St_k) + n_k*m*m) / (S2 - S*m), m = S/n.
    """
    m = "(CAST(s AS DOUBLE) / CAST(n AS DOUBLE))"
    den = f"(CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE) * {m})"
    return [
        f"CASE WHEN n_{k} > 0 AND {den} > 0 THEN "
        f"ROUND((CAST(spp_{k} AS DOUBLE) - {m} * (CAST(sh_{k} AS DOUBLE)"
        f" + CAST(st_{k} AS DOUBLE)) + CAST(n_{k} AS DOUBLE) * {m} * {m})"
        f" / {den}, 6) END AS acf_{k}"
        for k in lags
    ]


def autocorrelation(
    df: DataFrame,
    value_col: str,
    order_col: str,
    key_col: str,
    lags: list[int] | None = None,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Per-key sample autocorrelation of a value series at the given
    lags — the seasonality/persistence diagnostic (is yesterday's
    value predictive? is there a 24-bucket cycle?).

    Each series is ordered by (order_col, tiebreaks); r_k correlates
    the series with itself shifted k steps, anchored on the FULL
    series mean/variance (the standard sample-ACF estimator, so all
    lags share one denominator). Returns (key, n, acf_k...) with NULL
    where a lag has no pairs or the series is constant.

    Determinism: every aggregate is an exact decimal/bigint sum
    (values 18,2; cross-products 38,4 — order-independent), and the
    final ratios are ONE shared double expression (acf_final_exprs)
    evaluated identically by any engine, rounded 6dp.

    Scale shape: one key-partitioned sort carries every lag column,
    then ONE map-side-combined aggregate collapses each key to a
    handful of scalars — the expensive exchange is shared by all
    lags, and nothing wider than (2 + 4*|lags|) numbers per key ever
    shuffles again.
    """
    lags = lags or [1, 2, 3]
    if any(k < 1 for k in lags) or len(set(lags)) != len(lags):
        raise ValueError(f"lags must be distinct positive ints, got {lags}")
    order = [F.col(order_col)] + [F.col(c) for c in (tiebreak_cols or [])]
    w = Window.partitionBy(key_col).orderBy(*order)
    v = F.col(value_col)
    cols = [F.col(key_col), v.alias("__v")]
    for k in lags:
        cols.append(F.lag(v, k).over(w).alias(f"__l{k}"))
    laged = df.select(*cols)
    d182 = "decimal(18,2)"
    d384 = "decimal(38,4)"
    aggs = [
        F.count("__v").alias("n"),
        F.sum(F.col("__v").cast(d182)).alias("s"),
        F.sum((F.col("__v") * F.col("__v")).cast(d384)).alias("s2"),
    ]
    for k in lags:
        lk = F.col(f"__l{k}")
        aggs += [
            F.count(lk).alias(f"n_{k}"),
            F.sum((F.col("__v") * lk).cast(d384)).alias(f"spp_{k}"),
            F.sum(F.when(lk.isNotNull(), F.col("__v")).cast(d182)).alias(f"sh_{k}"),
            F.sum(lk.cast(d182)).alias(f"st_{k}"),
        ]
    stats = laged.groupBy(key_col).agg(*aggs)
    return stats.selectExpr(key_col, "n", *acf_final_exprs(lags))


def cusum(
    df: DataFrame,
    value_col: str,
    order_col: str,
    key_col: str,
    slack: float = 0.5,
    threshold: float = 5.0,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Per-key one-sided CUSUM control chart — the changepoint
    detector for "did this series' mean shift upward, and when":
    S_t = max(0, S_{t-1} + (x_t - mean - slack)), flagged when S_t
    exceeds ``threshold``.

    The textbook recursion looks inherently sequential, but it has a
    closed window form: with y_t = x_t - mean - slack and C_t = Σy,
    S_t = C_t - min(0, min_{j<=t} C_j) — so the whole chart is two
    cumulative frames over ONE key-partitioned sort, no recursion,
    no UDF, no driver loop. The reference target is the key's own
    full-series mean (two analytic frames on the same sort; the
    unbounded mean never joins).

    Determinism: values are exact cents (18,2 → bigint) and every
    per-row term is multiplied through by the key's row count n, so
    y'_t = n*cents_t - total_cents - n*slack_cents stays an exact
    bigint through both cumulative frames; the single scale-back
    division (by n*100) is one shared double op rounded 6dp.
    Magnitudes: |y'| <= n * max_cents, the cumsum <= n^2 * max_cents
    — bigint holds to ~10^7 rows per key at 10^4 cents; beyond that,
    chunk the series or pre-center on a fixed target.

    Returns the input keys/order plus (cusum double, is_shift bool).
    """
    if slack < 0 or threshold <= 0:
        raise ValueError(
            f"cusum requires slack >= 0 and threshold > 0, got {slack}, {threshold}"
        )
    slack_c = round(slack * 100)
    thresh_c = round(threshold * 100)
    order = [F.col(order_col)] + [F.col(c) for c in (tiebreak_cols or [])]
    wfull = Window.partitionBy(key_col)
    wrun = (
        Window.partitionBy(key_col)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # exact cents via the e23 decimal recipe: a 2dp DECIMAL cast is
    # lossless and engine-agnostic, where ROUND(x*100) would hang the
    # result on a rounding-mode tie
    cents = (F.col(value_col).cast("decimal(18,2)") * 100).cast("bigint")
    base = df.withColumn("__c", cents).withColumn(
        "__n", F.count("__c").over(wfull)
    ).withColumn("__s", F.sum("__c").over(wfull))
    y = F.col("__n") * F.col("__c") - F.col("__s") - F.col("__n") * F.lit(slack_c)
    run = base.withColumn("__cum", F.sum(y).over(wrun))
    run = run.withColumn(
        "__st", F.col("__cum") - F.least(F.lit(0), F.min("__cum").over(wrun))
    )
    # UNROUNDED on purpose: __st and __n*100 are exactly-representable
    # bigints (<= ~2^45), so the single IEEE division is bit-identical
    # in any engine — while ROUND(...,6) would DIVERGE on 7th-decimal
    # ties (a .xxxxxx5 quotient rounds half-up in Spark, half-even in
    # DuckDB; observed on the events fixture)
    return run.withColumn(
        "cusum",
        F.expr("CAST(__st AS DOUBLE) / (CAST(__n AS DOUBLE) * 100.0)"),
    ).withColumn(
        "is_shift", F.col("__st") > F.col("__n") * F.lit(thresh_c)
    ).drop("__c", "__n", "__s", "__cum", "__st")
