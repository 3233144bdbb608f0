"""money_sum: the exact scale-6 sum behind dec_sum and dec_avg.

Its reference is the formula it replaced, kept here: cast every row to
decimal(24,6), sum the decimals, round to cents. On each value the
contract in kaylee_spark/functions admits (<= 6 decimals, |x| below
2^50/10^6) the limb sum must equal that reference exactly, at any
partition count. A static guard keeps per-row decimal sums from
growing back anywhere else in the package.
"""

from __future__ import annotations

import ast
import os
import re
from decimal import Decimal

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.errors import ArithmeticException, SparkRuntimeException
from pyspark.sql import functions as F

from kaylee_spark.functions import ANSI, dec_avg, dec_sum, money_sum
from kaylee_spark.operators.skew import scoped_conf

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

REF_SUM = "sum(cast(x as decimal(24,6)))"
REF_DEC_SUM = f"cast(round({REF_SUM}, 2) as double)"
REF_DEC_AVG = f"cast({REF_DEC_SUM} / count(cast(x as decimal(24,6))) as double)"

TOP = 2**50 - 1

# on-contract values: any 6-decimal value in range, cents, and the
# fixture's price * (1 - discount) * (1 + tax) products
on_grid = st.integers(-TOP, TOP).map(lambda u: u / 1e6)
cents = st.integers(-10**11, 10**11).map(lambda c: c / 100)
priced = st.tuples(
    st.integers(-10**8, 10**8), st.integers(0, 10), st.integers(0, 8)
).map(lambda t: t[0] / 100 * (1 - t[1] / 100) * (1 + t[2] / 100))
rows_strategy = st.lists(
    st.tuples(
        st.integers(0, 3),
        st.one_of(st.none(), on_grid, cents, priced),
    ),
    max_size=40,
)


def _frame(spark, values, n_parts=1):
    """Rows (k, x); key -1 is a group whose every value is NULL."""
    rows = list(values) + [(-1, None), (-1, None)]
    return spark.createDataFrame(rows, "k int, x double").repartition(n_parts)


def _by_key(df, *cols):
    return {r["k"]: tuple(r)[1:] for r in df.groupBy("k").agg(*cols).collect()}


@given(values=rows_strategy, n_parts=st.sampled_from([1, 3, 7]))
@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_matches_decimal_cast_reference(spark, values, n_parts):
    got = _by_key(
        _frame(spark, values, n_parts),
        money_sum("x"), dec_sum("x"), dec_avg("x"),
        F.expr(REF_SUM), F.expr(REF_DEC_SUM), F.expr(REF_DEC_AVG),
    )
    assert got[-1] == (None,) * 6
    for k, (m, s, a, ref_m, ref_s, ref_a) in got.items():
        assert (m, s, a) == (ref_m, ref_s, ref_a), k


# x * 10^6 lands on (or next to) a .5 tie: the cast rounds half away
# from zero, and so must the limb sum
TIES = [5e-7, -5e-7, 2.5e-6, -2.5e-6, 0.1234565, 123.4567885]


def test_pinned_ties_match_the_decimal_cast(spark):
    got = _by_key(_frame(spark, enumerate(TIES)), money_sum("x"), F.expr(REF_SUM))
    for k, x in enumerate(TIES):
        assert got[k][0] == got[k][1], x


@pytest.mark.parametrize("bad", [float("nan"), float("inf"), float("-inf")])
def test_nan_and_infinity_raise(spark, bad):
    df = _frame(spark, [(0, 1.0), (0, bad)])
    with pytest.raises(ArithmeticException, match="CAST_OVERFLOW"):
        _by_key(df, dec_sum("x"))


@pytest.mark.parametrize("bad", [float("nan"), float("inf"), 1e13])
def test_ansi_off_session_still_raises(spark, bad):
    """With ANSI off the bigint cast turns NaN into 0 and saturates an
    overflow, so the sum would be wrong with no error: the guard money_sum
    builds on such a session raises instead, and valid rows sum the same."""
    with scoped_conf(spark, {ANSI: "false"}):
        with pytest.raises(SparkRuntimeException, match=ANSI):
            _by_key(_frame(spark, [(0, 1.0), (0, bad)]), dec_sum("x"))
        got = _by_key(_frame(spark, enumerate(TIES)), money_sum("x"), F.expr(REF_SUM))
    for k, x in enumerate(TIES):
        assert got[k][0] == got[k][1], x


def test_limb_recombination_is_exact_at_the_contract_edge(spark):
    values = [(0, TOP / 1e6), (1, -TOP / 1e6)] + [(2, TOP / 1e6)] * 7 + [(2, -TOP / 1e6)]
    got = _by_key(_frame(spark, values, 3), money_sum("x"), F.expr(REF_SUM))
    for k, n in ((0, 1), (1, -1), (2, 6)):
        assert got[k] == (Decimal(n * TOP).scaleb(-6),) * 2


def test_avg_counts_non_null_rows(spark):
    values = [(0, 1.25), (0, None), (0, 2.5), (1, None)]
    got = _by_key(_frame(spark, values), dec_avg("x"), F.expr(REF_DEC_AVG))
    assert got[0] == (1.875, 1.875)
    assert got[1] == (None, None)


# -- static guard ------------------------------------------------------------

SUM_FUNCS = {"sum", "try_sum", "sum_distinct", "sumDistinct"}
SQL_FUNCS = {"expr", "selectExpr", "sql"}
SQL_DECIMAL_SUM = re.compile(r"sum\s*\(.*decimal\s*\(\s*24\s*,\s*6\s*\)", re.I | re.S)


def _name(func) -> str | None:
    if isinstance(func, ast.Name):
        return func.id
    return func.attr if isinstance(func, ast.Attribute) else None


def _is_row_decimal(node) -> bool:
    """``dec(...)``, or a cast to decimal(24,6) as a string or a
    ``DecimalType(24, 6)``."""
    if not isinstance(node, ast.Call):
        return False
    if _name(node.func) == "dec":
        return True
    if _name(node.func) != "cast" or not node.args:
        return False
    to = node.args[0]
    if isinstance(to, ast.Constant) and isinstance(to.value, str):
        return re.fullmatch(r"decimal\(\s*24\s*,\s*6\s*\)", to.value.strip(), re.I) is not None
    return (
        isinstance(to, ast.Call)
        and _name(to.func) == "DecimalType"
        and [getattr(a, "value", None) for a in to.args] == [24, 6]
    )


def _row_decimal_sums(source: str, filename: str = "<src>"):
    """(enclosing function, line) of every sum over a per-row
    decimal(24,6): an aggregate call wrapping one, or SQL text handed
    to Spark that spells one."""
    out = []

    def is_offender(node) -> bool:
        name = _name(node.func)
        if name in SUM_FUNCS:
            return any(_is_row_decimal(n) for arg in node.args for n in ast.walk(arg))
        return name in SQL_FUNCS and any(
            isinstance(a, ast.Constant) and isinstance(a.value, str) and SQL_DECIMAL_SUM.search(a.value)
            for a in node.args
        )

    def visit(node, func):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, child.name)
                continue
            if isinstance(child, ast.Call) and is_offender(child):
                out.append((func, child.lineno))
            visit(child, func)

    visit(ast.parse(source, filename=filename), None)
    return out


def test_guard_sees_each_form():
    flagged = """
F.sum(dec("x"))
F.sum(F.when(c, F.col("x").cast("decimal(24,6)")))
F.try_sum(F.col("x").cast(DecimalType(24, 6)))
def q(df):
    return df.selectExpr("sum(cast(x as DECIMAL(24, 6)))")
"""
    clean = """
money_sum("x")
F.sum(F.col("x").cast("decimal(38,0)"))
F.sum("n_events")
dec("x")
"""
    assert _row_decimal_sums(flagged) == [(None, 2), (None, 3), (None, 4), ("q", 6)]
    assert _row_decimal_sums(clean) == []


# a07 shows the SQL-text entry point, where a Column helper cannot
# reach; it keeps the textbook cast-then-sum
ALLOWED = {("kaylee_spark/queries/advanced.py", "a07_sql_surface")}


def test_no_row_decimal_sum_outside_functions():
    offenders = []
    for top in ("kaylee_spark", "tools"):
        for root, _dirs, files in os.walk(os.path.join(REPO, top)):
            for f in files:
                path = os.path.join(root, f)
                rel = os.path.relpath(path, REPO)
                if not f.endswith(".py") or rel == "kaylee_spark/functions/__init__.py":
                    continue
                for func, line in _row_decimal_sums(open(path).read(), path):
                    if (rel, func) not in ALLOWED:
                        offenders.append(f"{rel}:{line} in {func}()")
    assert not offenders, "sum over a per-row decimal(24,6), use functions.money_sum: " + ", ".join(offenders)
