"""One-pass dataset profiling: per-column completeness/cardinality/range.

The reference has no introspection surface at all (its only "schema"
is whatever tuples the user mapfn emits, `/root/reference/kaylee/
client.py:190-202`); at 100 TB a profile pass is how a pipeline
decides anything at all about an unfamiliar corpus drop — null-rate
gates, join-key cardinality sanity, range checks before bucketing.

Shape: ONE scan. All per-column aggregates land in a single ``agg``
call so Catalyst fuses them into one pass; the long-format output is a
row-local explode of the single aggregate row (cardinality = #columns,
i.e. nothing). Exact distinct counts compile to one Expand +
hash-aggregate plan — the scan is still read once, but the aggregate
input is multiplied by #profiled columns; ``exact_distinct=False``
swaps in approx_count_distinct (HLL, no Expand) which is the right
call for a wide 100 TB table where ±2% cardinality is plenty.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: dtypes whose min/max are emitted (cast to double — exact for the
#: fixture's int64/double columns; strings/timestamps profile null/
#: distinct only, since their renderings are engine-specific).
_NUMERIC = ("tinyint", "smallint", "int", "bigint", "float", "double")


def profile_table(df: DataFrame) -> DataFrame:
    """Long-format profile: one row per column, distinct counts exact.

    Output schema: (col_name string, n_rows long, n_nulls long,
    n_distinct long, min_value double, max_value double) —
    min/max null for non-numeric columns. (``col_name`` rather than
    ``column`` so SQL twins never need reserved-word quoting.)
    """
    dtypes = dict(df.dtypes)
    cols = list(df.columns)
    aggs = [F.count(F.lit(1)).alias("__n_rows")]
    for c in cols:
        aggs.append(F.count(c).alias(f"__nn_{c}"))
        aggs.append(F.count_distinct(c).alias(f"__nd_{c}"))
        if dtypes[c] in _NUMERIC or dtypes[c].startswith("decimal"):
            aggs.append(F.min(c).cast("double").alias(f"__mn_{c}"))
            aggs.append(F.max(c).cast("double").alias(f"__mx_{c}"))
        else:
            aggs.append(F.lit(None).cast("double").alias(f"__mn_{c}"))
            aggs.append(F.lit(None).cast("double").alias(f"__mx_{c}"))
    one = df.agg(*aggs)

    entries = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col("__n_rows").alias("n_rows"),
                (F.col("__n_rows") - F.col(f"__nn_{c}")).alias("n_nulls"),
                F.col(f"__nd_{c}").alias("n_distinct"),
                F.col(f"__mn_{c}").alias("min_value"),
                F.col(f"__mx_{c}").alias("max_value"),
            )
            for c in cols
        ]
    )
    return one.select(F.explode(entries).alias("p")).select("p.*")


def equidepth_histogram(
    df: DataFrame,
    value_col: str = "value",
    group_col: str = "event_type",
    n_buckets: int = 10,
) -> DataFrame:
    """Per-group equi-depth histogram: bucket boundaries are the exact
    interpolated 1/n..(n-1)/n percentiles, rows assigned by pure
    comparison arithmetic. Output: (group, bucket 1..n, n_rows,
    min_value, max_value).

    Unlike an NTILE window — which is a GLOBAL SORT per group, the
    single-partition funnel that dies first at scale — this computes
    one holistic boundary aggregate (|groups| rows, broadcast back)
    and assigns each row with ``1 + Σ (v > boundary_i)`` in codegen:
    one scan, one tiny agg, no sort, no shuffle of the data. Depth is
    equal up to boundary ties (rows equal to a boundary stay in the
    lower bucket), which is what a skew report needs; boundaries round
    to 6dp so the cut lines are engine-exact.
    """
    fracs = [i / n_buckets for i in range(1, n_buckets)]
    from pyspark.sql.functions import broadcast

    bounds = df.groupBy(group_col).agg(
        F.transform(
            F.expr(f"percentile({value_col}, array({', '.join(map(str, fracs))}))"),
            lambda x: F.round(x, 6),
        ).alias("__bounds")
    )
    bucket = F.lit(1)
    for i in range(n_buckets - 1):
        bucket = bucket + (F.col(value_col) > F.col("__bounds")[i]).cast("int")
    return (
        df.join(broadcast(bounds), group_col)
        .withColumn("bucket", bucket)
        .groupBy(group_col, "bucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.min(value_col).alias("min_value"),
            F.max(value_col).alias("max_value"),
        )
    )


def spearman_corr(
    df: DataFrame,
    x_col: str,
    y_col: str,
    group_cols: list[str],
) -> DataFrame:
    """Per-group Spearman rank correlation between two numeric columns,
    with average ranks for ties (the textbook definition).

    Output: one row per group with ``n`` and ``spearman_rho`` (6dp;
    null when either column is constant within the group).

    Determinism contract: ranks are exact integers. The doubled
    average rank ``2·rank + peers − 1`` (an integer — avoids the .5
    halves ties introduce) feeds exact BIGINT sufficient statistics
    (Σr, Σr², Σrxry, all ≤ 4n³ so they fit bigint up to ~10⁸ rows per
    group); the final Pearson-on-ranks combination is a fixed sequence
    of individually-rounded IEEE double ops (each a single mul/sub/
    sqrt on exact-integer inputs), so any engine reproduces the same
    bits. The doubling cancels: numerator and the two variance factors
    each scale by 4.

    Scale shape: per axis, ONE group-keyed exchange carries both the
    rank window and the tie-peer count (the peer count is a RANGE
    CURRENT ROW frame riding the SAME sort, not a second partitioning);
    Spark plans one Exchange + two sorts for both axes, then the final
    aggregate reuses the group partitioning. No self-joins, no
    collect. Groups larger than ~10⁸ rows would overflow the bigint
    Σr² — at that size switch the sums to decimal(38,0).
    """
    wx = Window.partitionBy(*group_cols).orderBy(F.col(x_col).asc())
    wy = Window.partitionBy(*group_cols).orderBy(F.col(y_col).asc())
    peers_x = F.count(F.lit(1)).over(wx.rangeBetween(Window.currentRow, Window.currentRow))
    peers_y = F.count(F.lit(1)).over(wy.rangeBetween(Window.currentRow, Window.currentRow))
    rx = (2 * F.rank().over(wx) + peers_x - 1).cast("long")
    ry = (2 * F.rank().over(wy) + peers_y - 1).cast("long")
    ranked = df.select(*group_cols, rx.alias("__rx"), ry.alias("__ry"))
    s = ranked.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__rx").alias("__sx"),
        F.sum("__ry").alias("__sy"),
        F.sum(F.col("__rx") * F.col("__rx")).alias("__sxx"),
        F.sum(F.col("__ry") * F.col("__ry")).alias("__syy"),
        F.sum(F.col("__rx") * F.col("__ry")).alias("__sxy"),
    )
    nd = F.col("n").cast("double")
    sx, sy = F.col("__sx").cast("double"), F.col("__sy").cast("double")
    sxx, syy = F.col("__sxx").cast("double"), F.col("__syy").cast("double")
    sxy = F.col("__sxy").cast("double")
    cov = nd * sxy - sx * sy
    varx = nd * sxx - sx * sx
    vary = nd * syy - sy * sy
    rho = F.when(
        (varx > 0) & (vary > 0), F.round(cov / F.sqrt(varx * vary), 6)
    )
    return s.withColumn("spearman_rho", rho).drop(
        "__sx", "__sy", "__sxx", "__syy", "__sxy"
    )
