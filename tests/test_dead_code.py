"""No engine helper that only tests call.

An AST reference scan over the product code (the package, tools/,
perfbench/ without its self-tests, bench.py and __spark_entry__.py) finds every top-level
function or class under kaylee_spark/ that no product code reaches.
A reference is any identifier: a name, an attribute, an imported name
or an identifier-shaped string. References from a helper's own body
do not count, and neither do references from helpers that are
themselves unreached, so the scan runs to a fixed point. Registry
queries (``@query``) are roots. Tests are not product code: a helper
only they call is dead weight unless it is listed in KEEP.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PRODUCT = ("kaylee_spark", "tools", "perfbench", "bench.py", "__spark_entry__.py")

#: test-only names that stay, each with its reason: a capability the
#: README names that no reached code delivers, or the reference a test
#: checks a reached twin against
KEEP = {
    "word_count": "the paper's example.py, on the MapReduce contract",
    "observed": "the Observation hook ROADMAP gives a product caller",
    "compact_parquet": "README's small-files compaction",
    "write_parquet": "README's partitioned parquet sink",
    "write_sorted_parquet": "README's range-clustered parquet layout",
    "stream_to_parquet": "README's checkpointed parquet streaming sink",
    "read_results": "the committed-manifest reader of the results sink",
    "repetition_profile": "reference for the repetition filter's reached twin",
    "minhash_lsh_pairs": "README's MinHash-LSH near-dedup",
    "shingles": "reference for the hashed shingling twin",
    "stratified_sample": "README's deterministic stratified split",
    "stratified_sample_k": "README's exact-k-per-stratum sample",
    "weighted_sample_k": "README's Efraimidis-Spirakis weighted sample",
    "embedding_neardup_pairs": "README's embedding near-dup",
}


def _files(roots) -> list[Path]:
    out = []
    for rel in roots:
        p = ROOT / rel
        files = [p] if p.is_file() else sorted(p.rglob("*.py"))
        # perfbench keeps its self-tests beside its code
        out.extend(f for f in files if not f.name.startswith("test_"))
    return out


def _identifiers(node: ast.AST):
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            yield n.id
        elif isinstance(n, ast.Attribute):
            yield n.attr
        elif isinstance(n, ast.alias):
            yield n.name.rsplit(".", 1)[-1]
            if n.asname:
                yield n.asname
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and n.value.isidentifier():
            yield n.value


def _is_query(node) -> bool:
    return any(
        isinstance(d, ast.Call) and isinstance(d.func, ast.Name) and d.func.id == "query"
        for d in getattr(node, "decorator_list", ())
    )


def unreached(product=PRODUCT) -> set[str]:
    """Names of top-level package defs that no product code reaches."""
    defs: dict[tuple[Path, str], bool] = {}  # (file, name) -> is a query root
    # (identifier, owning package def or None for module-level code)
    refs: list[tuple[str, tuple[Path, str] | None]] = []
    package = ROOT / "kaylee_spark"
    for path in _files(product):
        for stmt in ast.parse(path.read_text()).body:
            owner = None
            if package in path.parents and isinstance(
                stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                owner = (path, stmt.name)
                defs[owner] = _is_query(stmt)
            refs.extend((name, owner) for name in _identifiers(stmt) if not owner or name != owner[1])
    dead: set[tuple[Path, str]] = set()
    while True:
        live = {name for name, owner in refs if owner not in dead}
        now = {d for d, root in defs.items() if not root and d[1] not in live}
        if now == dead:
            return {name for _path, name in dead}
        dead = now


def test_no_helper_only_tests_call():
    extra = sorted(unreached() - set(KEEP))
    assert not extra, (
        "no product code reaches these package helpers; delete them with "
        "their tests, or give them a caller: " + ", ".join(extra)
    )


def test_keep_names_exist():
    """A KEEP name whose helper is deleted leaves the list."""
    defined = {
        stmt.name
        for path in _files(("kaylee_spark",))
        for stmt in ast.parse(path.read_text()).body
        if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
    }
    gone = sorted(set(KEEP) - defined)
    assert not gone, "KEEP names no longer defined: " + ", ".join(gone)


def test_scan_counts_each_reference_form(tmp_path, monkeypatch):
    pkg = tmp_path / "kaylee_spark"
    pkg.mkdir()
    (pkg / "m.py").write_text(
        "def by_name(): pass\n"
        "def by_attr(): pass\n"
        "def by_string(): pass\n"
        "def self_only(): return self_only()\n"
        "def via_dead(): pass\n"
        "def dead_caller(): return via_dead()\n"
        "@query('q')\n"
        "def root(): return by_name()\n"
    )
    (tmp_path / "tool.py").write_text(
        "import kaylee_spark.m as m\nm.by_attr()\ngetattr(m, 'by_string')\n"
    )
    monkeypatch.setitem(globals(), "ROOT", tmp_path)
    assert unreached(("kaylee_spark", "tool.py")) == {"self_only", "via_dead", "dead_caller"}
