"""scoped_conf: the one way this engine overrides a session conf.

Restores on any exit, unsets keys that were unset, refuses to overlap
another open scope on the same keys, and leaves no query's override
behind on the session. A static guard keeps every other conf write
out of the package and the tools. pin_width derives an iterative
loop's width from its input; a second guard keeps any caller from
passing one.
"""

from __future__ import annotations

import ast
import os

import pytest

from kaylee_spark.operators.skew import PIN_TASK_BYTES, pin_width, scoped_conf

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PARTS = "spark.sql.shuffle.partitions"
AQE = "spark.sql.adaptive.enabled"
UNSET = "spark.kaylee.test.unset_key"
# a range's size estimate is 8 bytes a row: just over two tasks' worth
THREE_WIDE = 2 * PIN_TASK_BYTES // 8 + 1


def _pinned_width(frame) -> int:
    with pin_width(frame):
        return int(frame.sparkSession.conf.get(PARTS))


def test_scope_restores_after_exception(spark):
    before = (spark.conf.get(PARTS), spark.conf.get(AQE))
    with pytest.raises(ValueError):
        with pin_width(spark.range(THREE_WIDE)):
            assert spark.conf.get(PARTS) == "3"
            assert spark.conf.get(AQE) == "false"
            raise ValueError("boom")
    assert (spark.conf.get(PARTS), spark.conf.get(AQE)) == before


def test_unset_key_is_unset_again(spark):
    assert spark.conf.get(UNSET, None) is None
    with scoped_conf(spark, {UNSET: "on"}):
        assert spark.conf.get(UNSET) == "on"
    assert spark.conf.get(UNSET, None) is None
    assert UNSET not in spark.conf.getAll


def test_overlapping_scope_raises_and_changes_nothing(spark):
    before = spark.conf.getAll
    with pin_width(spark.range(THREE_WIDE)):
        inside = spark.conf.getAll
        with pytest.raises(RuntimeError, match=PARTS):
            with scoped_conf(spark, {UNSET: "on", PARTS: "5"}):
                pass
        assert spark.conf.getAll == inside
        # disjoint keys may nest
        with scoped_conf(spark, {UNSET: "on"}):
            assert spark.conf.get(PARTS) == "3"
    assert spark.conf.getAll == before
    # the failed entry released nothing it did not hold: the key is free
    with scoped_conf(spark, {PARTS: "5"}):
        assert spark.conf.get(PARTS) == "5"
    assert spark.conf.getAll == before


def _lineitem(spark, sf_dir, sf):
    return spark.read.parquet(os.path.join(os.path.dirname(sf_dir), sf, "lineitem.parquet"))


def test_pin_width_grows_with_input_bytes(at_width, sf_dir):
    s = at_width(32)
    small = _lineitem(s, sf_dir, "sf0.001")
    big = _lineitem(s, sf_dir, "sf0.1")
    assert 32 > _pinned_width(big) > _pinned_width(small)


def test_pin_width_counts_kept_columns_and_sums_join_branches(at_width, sf_dir):
    big = _lineitem(at_width(32), sf_dir, "sf0.1")
    keys = big.select("l_orderkey", "l_partkey")
    # a branch reads only the columns it keeps
    assert _pinned_width(keys) < _pinned_width(big)
    # a join reads the sum of its branches, not its product estimate
    joined = big.join(keys.withColumnRenamed("l_partkey", "p"), "l_orderkey")
    assert _pinned_width(big) <= _pinned_width(joined) <= _pinned_width(big) + 1


def test_pin_width_clamps_to_one_and_session_width(at_width):
    s = at_width(2)
    assert _pinned_width(s.range(0)) == 1
    assert _pinned_width(s.range(THREE_WIDE)) == 2
    assert _pinned_width(at_width(5).range(THREE_WIDE)) == 3
    assert s.conf.get(PARTS) == "2"


def test_unknown_size_leaf_gives_session_width(at_width):
    s = at_width(5)
    df = s.createDataFrame([(1, 2)], "a long, b long")
    assert _pinned_width(df) == 5
    assert _pinned_width(df.localCheckpoint()) == 5


def test_pin_width_starts_no_job(spark, sf_dir):
    frame = _lineitem(spark, sf_dir, "sf0.1").filter("l_orderkey > 3")
    tracker = spark.sparkContext.statusTracker()
    before = sorted(tracker.getJobIdsForGroup())
    _pinned_width(frame)
    assert sorted(tracker.getJobIdsForGroup()) == before


# one query per family whose conf override moved onto scoped_conf
LEAK_QUERIES = [
    "g01_pagerank",
    "g06_kcore_peel",
    "s09_kmeans",
    "d16_containment_pairs",
    "e07_streamed_tumbling",
    "e38_streamed_upsert_snapshot",
    "e39_streamed_outer_join",
    "e45_streamed_view_maintenance",
    "m05_stream_datafn_wordcount",
    "m06_pushdown_datafn_wordcount",
]


@pytest.mark.parametrize("name", LEAK_QUERIES)
def test_query_leaves_session_conf_unchanged(spark, sf_dir, name):
    from kaylee_spark.queries import load_everything

    before = spark.conf.getAll
    load_everything()[name].fn(spark, sf_dir).count()
    assert spark.conf.getAll == before


def _conf_writes(path: str):
    """(function, line) for each ``<x>.conf.set/unset`` call in one
    module."""
    tree = ast.parse(open(path).read(), filename=path)
    out = []

    def visit(node, func):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, child.name)
                continue
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr in ("set", "unset")
                and isinstance(child.func.value, ast.Attribute)
                and child.func.value.attr == "conf"
            ):
                out.append((func, child.lineno))
            visit(child, func)

    visit(tree, None)
    return out


def _package_modules():
    """(path relative to the repo, absolute path) of every module under
    kaylee_spark/ and tools/."""
    for top in ("kaylee_spark", "tools"):
        for root, _dirs, files in os.walk(os.path.join(REPO, top)):
            for f in files:
                if f.endswith(".py"):
                    path = os.path.join(root, f)
                    yield os.path.relpath(path, REPO), path


def test_no_conf_write_outside_scoped_conf():
    offenders = []
    n_scoped = 0
    for rel, path in _package_modules():
        for func, line in _conf_writes(path):
            if rel == "kaylee_spark/operators/skew.py" and func == "scoped_conf":
                n_scoped += 1
            else:
                offenders.append(f"{rel}:{line} in {func}()")
    assert n_scoped, "the guard no longer sees scoped_conf's own writes"
    assert not offenders, "conf writes outside scoped_conf: " + ", ".join(offenders)


def _width_knobs(path: str):
    """(what, line) for each ``shuffle_partitions`` parameter or keyword
    argument in one module, and each ``pin_width`` call given an
    integer literal. Strings (conf keys) are never matched."""
    out = []
    for node in ast.walk(ast.parse(open(path).read(), filename=path)):
        if isinstance(node, ast.arg) and node.arg == "shuffle_partitions":
            out.append(("shuffle_partitions parameter", node.lineno))
        elif isinstance(node, ast.keyword) and node.arg == "shuffle_partitions":
            out.append(("shuffle_partitions= argument", node.value.lineno))
        elif isinstance(node, ast.Call) and (
            getattr(node.func, "id", None) == "pin_width"
            or getattr(node.func, "attr", None) == "pin_width"
        ):
            args = [*node.args, *(k.value for k in node.keywords)]
            if any(isinstance(a, ast.Constant) and type(a.value) is int for a in args):
                out.append(("pin_width with an integer literal", node.lineno))
    return out


def test_no_width_knob_or_literal_pin():
    found = [
        f"{rel}:{line} {what}"
        for rel, path in _package_modules()
        for what, line in _width_knobs(path)
    ]
    assert not found, "an iterative loop's width is derived, never passed: " + ", ".join(found)


def test_width_guard_catches_each_form(tmp_path):
    bad = tmp_path / "bad.py"
    bad.write_text(
        "def op(df, shuffle_partitions=None):\n"
        "    with pin_width(df.sparkSession, 8):\n"
        "        return op(df, shuffle_partitions=4)\n"
        "conf = {'spark.sql.shuffle.partitions': '4'}\n"
    )
    assert sorted(what for what, _line in _width_knobs(str(bad))) == [
        "pin_width with an integer literal",
        "shuffle_partitions parameter",
        "shuffle_partitions= argument",
    ]
