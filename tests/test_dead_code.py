"""No engine helper that only tests call.

An AST reference scan over the product code (the package, tools/,
perfbench/ without its self-tests, bench.py and __spark_entry__.py) finds every top-level
function or class under kaylee_spark/ that no product code reaches.
A reference is a name that the function using it does not bind
itself (a local variable or parameter of the same name is not the
helper), an attribute, an imported name, or a string handed to
``getattr``/``hasattr`` (a column alias of the same name is not).
References from a helper's own body do not count, and neither do
references from helpers that are themselves unreached, so the scan
runs to a fixed point. Registry queries (``@query``) are roots.
Tests are not product code: a helper only they call is dead weight
unless it is listed in KEEP.

A name defined in several package modules is resolved: a bare name
refers to its own module's def, or else to the module it is imported
from, and ``module.name`` to that module's def. So a test-only helper
cannot hide behind a reached helper of the same name elsewhere.

The option scan does the same for parameters: a public package
function's parameter that defaults to True, False or None, or that
defaults to a string the body compares with a string literal
(``==``, ``!=``, ``in``), selects a branch, and no product call
passing it means the branch is one no query takes. A call that only
forwards its own unpassed option does not count, so that scan also
runs to a fixed point.
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
    "shingles": "reference for the hashed shingling twin",
    "stratified_sample_k": "README's exact-k-per-stratum sample",
}

#: True/False/None-defaulted or string-mode options no product call
#: passes that stay,
#: each with its reason: deployment settings only. The KEEP helpers'
#: own parameters stay with their helper.
SWITCHES = {
    "run_to_memory(name)": "the memory table a deployment queries by name",
    "run_all_to_memory(name)": "the memory table a deployment queries by name",
    "run_until_rows(name)": "the memory table a deployment queries by name",
    "stream_foreach_batch(available_now)": "trigger choice of a deployed stream: drain or run on",
}


def _files(roots) -> list[Path]:
    out = []
    for rel in roots:
        p = ROOT / rel
        files = [p] if p.is_file() else sorted(p.rglob("*.py"))
        # perfbench keeps its self-tests beside its code
        out.extend(f for f in files if not f.name.startswith("test_"))
    return out


_SCOPES = (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)
_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _module_file(dotted: str | None) -> Path | None:
    """The package file a dotted module name imports, if it is one."""
    if not dotted or dotted.split(".")[0] != "kaylee_spark":
        return None
    base = ROOT.joinpath(*dotted.split("."))
    for f in (base.with_suffix(".py"), base / "__init__.py"):
        if f.is_file():
            return f
    return None


def _dotted(node: ast.AST) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        base = _dotted(node.value)
        return base and f"{base}.{node.attr}"
    return None


class _Module:
    """One parsed product file: its top-level defs, the package modules
    it binds to local names, and the package names it imports."""

    def __init__(self, path: Path):
        self.path = path
        self.in_package = ROOT / "kaylee_spark" in path.parents
        self.tree = ast.parse(path.read_text())
        self.defs = {s.name for s in self.tree.body if isinstance(s, _DEFS)}
        self.modules: dict[str, Path] = {}  # local name -> module file
        self.names: dict[str, Path] = {}  # imported name -> its module file
        for n in ast.walk(self.tree):
            if isinstance(n, ast.Import):
                for a in n.names:
                    f = _module_file(a.name)
                    if f:
                        self.modules[a.asname or a.name] = f
            elif isinstance(n, ast.ImportFrom):
                src = _module_file(n.module)
                for a in n.names:
                    sub = _module_file(f"{n.module}.{a.name}")
                    if sub:
                        self.modules[a.asname or a.name] = sub
                    elif src:
                        self.names[a.asname or a.name] = src

    def target(self, func: ast.AST) -> tuple[str, Path | None] | None:
        """The (name, module file or None if unknown) a callee or a
        reference expression names."""
        if isinstance(func, ast.Name):
            return func.id, self.path if func.id in self.defs else self.names.get(func.id)
        if isinstance(func, ast.Attribute):
            return func.attr, self.modules.get(_dotted(func.value))
        return None


def _own_nodes(scope: ast.AST):
    """The nodes of ``scope`` outside any scope nested in it."""
    for child in ast.iter_child_nodes(scope):
        yield child
        if not isinstance(child, (*_SCOPES, ast.ClassDef)):
            yield from _own_nodes(child)


def _bound_in(scope: ast.AST) -> set[str]:
    """Names a function or lambda binds itself: its parameters, the
    names it assigns and the defs it nests."""
    args = scope.args
    params = (*args.posonlyargs, *args.args, *args.kwonlyargs, args.vararg, args.kwarg)
    bound = {a.arg for a in params if a}
    for n in _own_nodes(scope):
        if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Load):
            bound.add(n.id)
        elif isinstance(n, _DEFS):
            bound.add(n.name)
    return bound


def _identifiers(node: ast.AST, mod: _Module, bound: frozenset = frozenset()):
    """(name, module file or None) of every reference under ``node``."""
    if isinstance(node, ast.ImportFrom):
        for a in node.names:
            yield a.name, _module_file(node.module)
        return
    if isinstance(node, _SCOPES):
        bound = bound | _bound_in(node)
    if isinstance(node, ast.Name):
        if node.id not in bound:
            yield mod.target(node)
    elif isinstance(node, ast.Attribute):
        yield mod.target(node)
    elif isinstance(node, ast.alias):
        yield node.name.rsplit(".", 1)[-1], None
    elif (
        isinstance(node, ast.Call)
        and getattr(node.func, "id", None) in ("getattr", "hasattr")
        and len(node.args) > 1
        and isinstance(node.args[1], ast.Constant)
        and isinstance(node.args[1].value, str)
    ):
        yield node.args[1].value, mod.modules.get(_dotted(node.args[0]))
    for child in ast.iter_child_nodes(node):
        yield from _identifiers(child, mod, bound)


def _is_query(node) -> bool:
    return any(
        isinstance(d, ast.Call) and isinstance(d.func, ast.Name) and d.func.id == "query"
        for d in getattr(node, "decorator_list", ())
    )


def _modules(product) -> list[_Module]:
    return [_Module(path) for path in _files(product)]


def _ambiguous(mods: list[_Module]) -> set[str]:
    """Names that more than one package module defines."""
    seen: dict[str, int] = {}
    for mod in mods:
        if mod.in_package:
            for name in mod.defs:
                seen[name] = seen.get(name, 0) + 1
    return {name for name, count in seen.items() if count > 1}


def _reaches(ref: tuple[str, Path | None], d: tuple[Path, str], ambiguous: set[str]) -> bool:
    """Whether reference ``ref`` can name the def ``d``: by name, and
    for a name several modules define, only from the module it names."""
    name, target = ref
    return name == d[1] and (name not in ambiguous or target in (None, d[0]))


def unreached(product=PRODUCT) -> set[str]:
    """Names of top-level package defs that no product code reaches."""
    mods = _modules(product)
    ambiguous = _ambiguous(mods)
    defs: dict[tuple[Path, str], bool] = {}  # (file, name) -> is a query root
    # ((identifier, its module or None), owning package def or None
    # for module-level code)
    refs: list[tuple[tuple[str, Path | None], tuple[Path, str] | None]] = []
    for mod in mods:
        for stmt in mod.tree.body:
            owner = None
            if mod.in_package and isinstance(stmt, _DEFS):
                owner = (mod.path, stmt.name)
                defs[owner] = _is_query(stmt)
            refs.extend(
                (ref, owner)
                for ref in _identifiers(stmt, mod)
                if not owner or not _reaches(ref, owner, ambiguous)
            )
    dead: set[tuple[Path, str]] = set()
    while True:
        live = {ref for ref, owner in refs if owner not in dead}
        now = {
            d
            for d, root in defs.items()
            if not root and not any(_reaches(ref, d, ambiguous) for ref in live if ref[0] == d[1])
        }
        if now == dead:
            return {name for _path, name in dead}
        dead = now


_MODE_OPS = (ast.Eq, ast.NotEq, ast.In, ast.NotIn)


def _is_str_literal(node: ast.AST) -> bool:
    """A string constant, or a tuple, list or set of them."""
    if isinstance(node, (ast.Tuple, ast.List, ast.Set)):
        return bool(node.elts) and all(_is_str_literal(e) for e in node.elts)
    return isinstance(node, ast.Constant) and isinstance(node.value, str)


def _compared_to_literal(fn: ast.AST, param: str) -> bool:
    """Whether ``fn`` compares ``param`` with a string literal."""
    for n in ast.walk(fn):
        if isinstance(n, ast.Compare) and all(isinstance(op, _MODE_OPS) for op in n.ops):
            operands = [n.left, *n.comparators]
            if any(isinstance(o, ast.Name) and o.id == param for o in operands) and any(
                _is_str_literal(o) for o in operands
            ):
                return True
    return False


def _is_switch(fn: ast.AST, param: str, default: ast.AST | None) -> bool:
    if not isinstance(default, ast.Constant):
        return False
    if isinstance(default.value, str):
        return _compared_to_literal(fn, param)
    return any(default.value is v for v in (True, False, None))


def _switches(mods: list[_Module]) -> dict[tuple[Path, str, str], int | None]:
    """Every True/False/None-defaulted or string-mode parameter of a
    public top-level package function: (file, function, parameter) ->
    its position, or None when it is keyword-only."""
    out: dict[tuple[Path, str, str], int | None] = {}
    for mod in mods:
        for fn in mod.tree.body if mod.in_package else ():
            public = isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)) and not fn.name.startswith("_")
            if not public or _is_query(fn):
                continue
            positional = [*fn.args.posonlyargs, *fn.args.args]
            tail = positional[len(positional) - len(fn.args.defaults):]
            for a, d in zip(tail, fn.args.defaults):
                if _is_switch(fn, a.arg, d):
                    out[(mod.path, fn.name, a.arg)] = positional.index(a)
            for a, d in zip(fn.args.kwonlyargs, fn.args.kw_defaults):
                if _is_switch(fn, a.arg, d):
                    out[(mod.path, fn.name, a.arg)] = None
    return out


def _calls(node: ast.AST, stack: tuple = ()):
    """Every call under ``node`` with the functions enclosing it."""
    if isinstance(node, _SCOPES):
        stack = (*stack, node)
    if isinstance(node, ast.Call):
        yield node, stack
    for child in ast.iter_child_nodes(node):
        yield from _calls(child, stack)


def _forwarded(value: ast.AST, stack: tuple, mod: _Module, switches) -> tuple | None:
    """The enclosing function's own switch that ``value`` merely
    forwards, if it is one."""
    if not isinstance(value, ast.Name):
        return None
    for scope in reversed(stack):
        if value.id in _bound_in(scope):
            key = (mod.path, getattr(scope, "name", None), value.id)
            return key if scope is stack[0] and key in switches else None
    return None


def unpassed_switches(product=PRODUCT) -> set[str]:
    """``function(parameter)`` of every switch no product call passes."""
    mods = _modules(product)
    ambiguous = _ambiguous(mods)
    switches = _switches(mods)
    by_name: dict[str, list[tuple[Path, str, str]]] = {}
    for key in switches:
        by_name.setdefault(key[1], []).append(key)
    # (switch filled by a call, the caller's switch it forwards or None)
    fills: list[tuple[tuple, tuple | None]] = []
    for mod in mods:
        for call, stack in _calls(mod.tree):
            ref = mod.target(call.func)
            if ref is None or ref[0] not in by_name:
                continue
            args = dict(enumerate(call.args))
            splat = any(isinstance(v, ast.Starred) for v in call.args) or any(
                k.arg is None for k in call.keywords
            )
            kwargs = {k.arg: k.value for k in call.keywords if k.arg}
            for key in by_name[ref[0]]:
                if not _reaches(ref, (key[0], key[1]), ambiguous):
                    continue
                if stack and getattr(stack[0], "name", None) == key[1] and mod.path == key[0]:
                    continue  # a function's call of itself passes nothing in
                pos = switches[key]
                value = kwargs.get(key[2], args.get(pos) if pos is not None else None)
                if value is not None:
                    fills.append((key, _forwarded(value, stack, mod, switches)))
                elif splat:
                    fills.append((key, None))
    passed: set[tuple] = set()
    while True:
        now = {key for key, src in fills if src is None or src in passed}
        if now == passed:
            return {f"{fn}({param})" for _path, fn, param in set(switches) - passed}
        passed = now


def test_no_helper_only_tests_call():
    extra = sorted(unreached() - set(KEEP))
    assert not extra, (
        "no product code reaches these package helpers; delete them with "
        "their tests, or give them a caller: " + ", ".join(extra)
    )


def test_no_option_no_product_call_passes():
    extra = sorted(
        sw for sw in unpassed_switches() if sw not in SWITCHES and sw.split("(")[0] not in KEEP
    )
    assert not extra, (
        "no product call passes these True/False/None-defaulted or string-mode options, so the "
        "branch each selects is one no query takes; delete them with their "
        "branches, or give them a caller: " + ", ".join(extra)
    )


def test_switch_names_exist():
    """An allowed option that no longer exists leaves the list."""
    switches = {f"{fn}({param})" for _path, fn, param in _switches(_modules(("kaylee_spark",)))}
    gone = sorted(set(SWITCHES) - switches)
    assert not gone, "SWITCHES entries no longer defined: " + ", ".join(gone)


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
        "def by_local(): pass\n"
        "def by_alias(): pass\n"
        "@query('q')\n"
        "def root(): return by_name()\n"
    )
    (tmp_path / "tool.py").write_text(
        "import kaylee_spark.m as m\nm.by_attr()\ngetattr(m, 'by_string')\n"
        # a local variable and a column alias that share a helper's
        # name do not reach it
        "def report(df, by_local=None):\n"
        "    return by_local, [by_local for by_local in df], df.alias('by_alias')\n"
    )
    monkeypatch.setitem(globals(), "ROOT", tmp_path)
    assert unreached(("kaylee_spark", "tool.py")) == {
        "self_only",
        "via_dead",
        "dead_caller",
        "by_local",
        "by_alias",
    }


def test_scan_resolves_a_name_defined_twice(tmp_path, monkeypatch):
    pkg = tmp_path / "kaylee_spark"
    pkg.mkdir()
    (pkg / "a.py").write_text("def twin(): pass\ndef own(): pass\ndef user(): return own()\n")
    (pkg / "b.py").write_text("def twin(): pass\ndef own(): pass\n")
    (pkg / "c.py").write_text("def twin(): pass\n")
    (pkg / "q.py").write_text(
        "from kaylee_spark.a import twin\n"
        "import kaylee_spark.c as c\n"
        "@query('q')\n"
        "def root(): return twin(), c.twin(), user()\n"
        "from kaylee_spark.a import user\n"
    )
    monkeypatch.setitem(globals(), "ROOT", tmp_path)
    # b's twin hides behind neither a's nor c's, and a bare own() in a
    # refers to a's own def only
    assert unreached(("kaylee_spark",)) == {"twin", "own"}


def test_switch_scan_follows_forwarding(tmp_path, monkeypatch):
    pkg = tmp_path / "kaylee_spark"
    pkg.mkdir()
    (pkg / "m.py").write_text(
        "def op(df, fast=False, mode=None, n=3, *, flag=True, tidy=None): pass\n"
        "def wrapper(df, tidy=None): return op(df, tidy=tidy)\n"
        "def caller(df, mode=None): return op(df, df.fast, mode, flag=False)\n"
        "def loop(x, again=None): return loop(x, again=again)\n"
        "def sided(df, side='left', how='inner', col='x', kind='a'):\n"
        "    if side == 'left' or how not in ('inner', 'outer') or 'r' != kind: pass\n"
        "    return df[col] == 'x', col == df.name\n"
        "def sided_caller(df): return sided(df, how='outer')\n"
    )
    (tmp_path / "tool.py").write_text(
        "from kaylee_spark.m import caller, sided_caller\ncaller(1, mode='x')\nsided_caller(1)\n"
    )
    monkeypatch.setitem(globals(), "ROOT", tmp_path)
    # op(tidy) is only forwarded from wrapper's unpassed tidy, op(mode)
    # from caller's passed mode; a call of loop by itself passes nothing
    # in; n is a numeric default; sided's side and kind are string
    # modes no call passes, how is passed, and col is a column name,
    # compared with a literal only through a subscript or with a name
    assert unpassed_switches(("kaylee_spark", "tool.py")) == {
        "op(tidy)",
        "wrapper(tidy)",
        "loop(again)",
        "sided(side)",
        "sided(kind)",
    }
