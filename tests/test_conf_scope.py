"""scoped_conf: the one way this engine overrides a session conf.

Restores on any exit, unsets keys that were unset, refuses to overlap
another open scope on the same keys, and leaves no query's override
behind on the session. A static guard keeps every other conf write
out of the package and the tools.
"""

from __future__ import annotations

import ast
import os

import pytest

from kaylee_spark.operators.skew import pin_width, scoped_conf

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PARTS = "spark.sql.shuffle.partitions"
AQE = "spark.sql.adaptive.enabled"
UNSET = "spark.kaylee.test.unset_key"


def test_scope_restores_after_exception(spark):
    before = (spark.conf.get(PARTS), spark.conf.get(AQE))
    with pytest.raises(ValueError):
        with pin_width(spark, 3):
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
    with pin_width(spark, 3):
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
    from kaylee_spark.sources import load_table

    # load_table("events") sets spark.sql.legacy.parquet.nanosAsLong for
    # the life of the session (the one conf write outside scoped_conf,
    # see test_no_conf_write_outside_scoped_conf); load it once so the
    # snapshot already holds it.
    load_table(spark, sf_dir, "events")
    before = spark.conf.getAll
    load_everything()[name].fn(spark, sf_dir).count()
    assert spark.conf.getAll == before


# (module path relative to the repo, enclosing function, conf key)
ALLOWED_CONF_WRITES = {
    ("kaylee_spark/sources/__init__.py", "load_table", "spark.sql.legacy.parquet.nanosAsLong"),
}


def _conf_writes(path: str):
    """(function, key-or-None, line) for each ``<x>.conf.set/unset``
    call in one module; key is the literal first argument if any."""
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
                arg = child.args[0] if child.args else None
                key = arg.value if isinstance(arg, ast.Constant) else None
                out.append((func, key, child.lineno))
            visit(child, func)

    visit(tree, None)
    return out


def test_no_conf_write_outside_scoped_conf():
    offenders = []
    n_scoped = 0
    for top in ("kaylee_spark", "tools"):
        for root, _dirs, files in os.walk(os.path.join(REPO, top)):
            for f in files:
                if not f.endswith(".py"):
                    continue
                path = os.path.join(root, f)
                rel = os.path.relpath(path, REPO)
                for func, key, line in _conf_writes(path):
                    if rel == "kaylee_spark/operators/skew.py" and func == "scoped_conf":
                        n_scoped += 1
                    elif (rel, func, key) not in ALLOWED_CONF_WRITES:
                        offenders.append(f"{rel}:{line} in {func}()")
    assert n_scoped, "the guard no longer sees scoped_conf's own writes"
    assert not offenders, "conf writes outside scoped_conf: " + ", ".join(offenders)
