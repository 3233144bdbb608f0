"""Scalar/aggregate function helpers shared by operators and queries.

The reference has no function library at all (SURVEY.md §2.3 — the only
scalar op in the whole repo is ``str.split`` inside the user mapfn,
`/root/reference/example.py:24`); this module is the engine's function
surface. Everything here compiles to built-in Catalyst expressions —
JVM-side, whole-stage-codegen'd, never row-at-a-time Python.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Deterministic aggregates over doubles.
#
# Floating-point SUM is order-dependent; Spark's partial-aggregate merge
# order varies run to run, so a raw double SUM cannot hash-match any
# oracle bit-for-bit. An exact sum in DECIMAL is associative, so the
# same sum on both engines yields identical doubles. The DECIMAL(24,6)
# narrowing is part of the query SEMANTICS (the oracle side casts each
# row to it). Scale 6 matters: the fixture money columns carry exactly
# 2 decimals, so products of two/three of them carry <= 6 — at scale 6
# the cast is exact (tie-free), whereas at scale 2 products land
# exactly on .005 boundaries and Spark (rounds the shortest decimal
# repr, BigDecimal.valueOf) disagrees with DuckDB (rounds the exact
# binary value) by one cent.
#
# The Spark side never builds that decimal per row (a BigDecimal per
# row, via Double.toString, was about half of q01's CPU). money_sum
# takes each row's unscaled value u = sign(x)·floor(|x|·10^6 + 0.5), a
# bigint rounded half away from zero like the decimal cast, and sums it
# exactly as three 21-bit long limbs (low and middle limbs unsigned,
# the top one signed); no limb sum can overflow below 2^42 rows a
# group. The limbs are recombined once per group into decimal(38,6).
#
# Contract: a row value carries <= 6 decimals and |x| < 2^50/10^6
# (about 1.13e9). Then x·10^6 lies within 1/4 of the integer the
# decimal cast produces, so every sum equals the cast-then-sum one
# (tests/test_money_sum.py). NaN and ±inf raise: u is rounded in
# double and the ANSI cast to bigint rejects them, where the decimal
# cast silently turned them into NULL rows. So does |x| >= 2^63/10^6.
# Under spark.sql.ansi.enabled=false that cast would make NaN 0 and
# saturate an overflow, so on such a session a guard in front of it
# raises instead, and queries return the same rows in both modes.
# ---------------------------------------------------------------------------

ANSI = "spark.sql.ansi.enabled"

_LIMB_BITS = 21
_LIMB_MASK = (1 << _LIMB_BITS) - 1
# one unit of each limb (low, middle, top), counted in whole money units
_LIMB_UNITS = [Decimal(1 << (_LIMB_BITS * i)).scaleb(-6) for i in range(3)]


def money_sum(col) -> Column:
    """Exact SUM of a double column at scale 6, as decimal(38,6).

    Equals ``sum(cast(col as decimal(24,6)))`` on every value the
    module contract admits; NULL for an empty or all-NULL group. A NaN,
    infinite or out-of-range row raises whatever ``spark.sql.ansi.enabled``
    is: the active session's value, read when the Column is built,
    decides whether the cast raises by itself or needs the guard.
    """
    x = F.col(col) if isinstance(col, str) else col
    scaled = x * 1e6 + F.signum(x) * 0.5
    u = scaled.cast("bigint")
    spark = SparkSession.getActiveSession()
    if spark is not None and spark.conf.get(ANSI, "true").lower() != "true":
        bad = F.isnan(scaled) | (F.abs(scaled) >= F.lit(2.0**63))
        message = f"money_sum: a NaN, infinite or out-of-range value, which {ANSI}=false sums silently"
        u = F.when(bad, F.raise_error(F.lit(message))).otherwise(u)
    limbs = [
        u.bitwiseAND(_LIMB_MASK),
        F.shiftright(u, _LIMB_BITS).bitwiseAND(_LIMB_MASK),
        F.shiftright(u, 2 * _LIMB_BITS),
    ]
    lo, mid, top = (
        F.sum(limb).cast("decimal(20,0)") * F.lit(unit)
        for limb, unit in zip(limbs, _LIMB_UNITS)
    )
    return (lo + mid + top).cast("decimal(38,6)")


def dec_sum(col) -> Column:
    """Order-independent SUM over a double column, returned as double.

    The sum is ROUNDED TO CENTS (scale 2) while still exact decimal,
    BEFORE the double cast: once a scale-6 sum exceeds ~2^33 its 1e-6
    quantum is finer than double ulp spacing and the decimal->double
    conversion may legitimately differ by one ulp between engines
    (Spark's single BigDecimal conversion vs DuckDB's int128/10^k
    float path) — caught at sf0.1/sf1-synthetic in round 5. At scale 2
    the quantum stays coarser than ulp spacing up to ~10^13, so the
    conversion is bit-identical through any realistic money sum.
    """
    return F.round(money_sum(col), 2).cast("double")


def dec_avg(col) -> Column:
    """Order-independent AVG: cent-rounded exact decimal sum / count,
    in doubles (lockstep with oracle_dec_avg)."""
    return (dec_sum(col) / F.count(col)).cast("double")


def oracle_dec_sum(expr: str) -> str:
    """DuckDB SQL equivalent of dec_sum (keep in lockstep with dec_sum)."""
    return f"CAST(ROUND(SUM(CAST(({expr}) AS DECIMAL(24,6))), 2) AS DOUBLE)"


def oracle_dec_avg(expr: str) -> str:
    return (
        f"CAST(CAST(ROUND(SUM(CAST(({expr}) AS DECIMAL(24,6))), 2) AS DOUBLE)"
        f" / COUNT(CAST(({expr}) AS DECIMAL(24,6))) AS DOUBLE)"
    )


# ---------------------------------------------------------------------------
# Vector math over array<float>/array<double> columns — built-in
# higher-order functions (JVM-side), used by the similarity operators.
# At 100 TB these run inside whole-stage codegen; the pandas-UDF variant
# in operators/similarity.py exists only as an alternative batch path.
# ---------------------------------------------------------------------------


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array columns (sequential fold — deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def literal_frame(spark, rows, schema_ddl: str) -> DataFrame:
    """Droplet-sized driver-local rows as a DataFrame WITHOUT the
    Python-worker scan that ``spark.createDataFrame(list)`` plans.

    createDataFrame over a local list becomes a pickled-row RDD whose
    every action launches defaultParallelism Python worker tasks —
    measured ~8.6 s of executor time per bench pass for s14's 320-row
    PQ lookup table on local[32] (guide §4: every Python path pays the
    JVM<->Python boundary; a model/plan frame does not need one). Here
    each COLUMN becomes one array literal (a single py4j transfer) and
    a 1-partition ``spark.range`` indexes into it — pure JVM codegen,
    no Python workers, no SQL-text escaping concerns. Values must be
    plain Python scalars Spark can fold to literals (int/float/str/
    bool/None/datetime). Intended for model state and plan tables
    (<= a few thousand rows); big frames belong in real sources.
    """
    from pyspark.sql.types import _parse_datatype_string

    schema = _parse_datatype_string(schema_ddl)
    rows = [tuple(r) for r in rows]
    if not rows:
        return spark.createDataFrame([], schema)
    idx = F.col("id").cast("int")
    cols = []
    for j, f in enumerate(schema.fields):
        vals = [r[j] for r in rows]
        if all(v is None for v in vals):
            # an all-NULL column gives lit() no element type to infer
            col = F.lit(None)
        else:
            col = F.get(F.lit(vals), idx)
        cols.append(col.cast(f.dataType).alias(f.name))
    return spark.range(0, len(rows), 1, 1).select(*cols)
