"""Source census guards: no package definition that nothing reaches, and no
option that no caller sets. Both parse the source with ``ast``; neither
imports the package or starts Spark."""

from __future__ import annotations

import ast
import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "datalake_breweries_two_spark"

# Reached by no root, kept on purpose: each is the engine's only
# implementation of a reference step (SURVEY.md row id).
EXTRA_ROOTS = (
    ("ensure_schema", "K5"),
    ("jvm_jdbc_connect", "K5"),
    ("check_api_health", "O1"),
    ("latest_snapshot_dir", "S4"),
)

# Deployment settings (master, endpoints, credentials, SSL), set by whoever
# deploys the engine rather than by a caller in this repository.
OPTION_EXEMPT_MODULES = ("session.py",)


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read(), path)


def _names(*nodes: ast.AST) -> set[str]:
    """Every name a node reads: ``Name`` ids, ``Attribute`` attrs and the
    imported names of nested imports."""
    out: set[str] = set()
    for node in nodes:
        for sub in ast.walk(node):
            if isinstance(sub, ast.Name):
                out.add(sub.id)
            elif isinstance(sub, ast.Attribute):
                out.add(sub.attr)
            elif isinstance(sub, (ast.Import, ast.ImportFrom)):
                out.update(a.name.rsplit(".", 1)[-1] for a in sub.names)
    return out


def _is_query(fn: ast.FunctionDef) -> bool:
    return any(
        isinstance(d, ast.Call) and isinstance(d.func, ast.Name) and d.func.id == "query"
        for d in fn.decorator_list
    )


def _top_level(stmts: list[ast.stmt]):
    """Yield ``(name, node, checked, refs)`` per top-level binding, looking
    through module-level ``if``/``try`` blocks; ``None`` names carry the
    import-time references of those blocks' tests."""
    for node in stmts:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield node.name, node, True, _names(node)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            refs = _names(node.value) if node.value is not None else set()
            for target in targets:
                for sub in ast.walk(target):
                    if isinstance(sub, ast.Name):
                        yield sub.id, node, True, refs
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            for alias in node.names:
                bound = alias.asname or alias.name.split(".")[0]
                yield bound, node, False, {alias.name.rsplit(".", 1)[-1]}
        elif isinstance(node, ast.If):
            yield None, node, False, _names(node.test)
            yield from _top_level(node.body + node.orelse)
        elif isinstance(node, ast.Try):
            handlers = [s for h in node.handlers for s in h.body]
            yield from _top_level(node.body + handlers + node.orelse + node.finalbody)
        elif not isinstance(node, ast.Expr) or not isinstance(node.value, ast.Constant):
            yield None, node, False, _names(node)


def unreached_definitions(root: str = ROOT) -> list[str]:
    """Top-level package definitions that no root reaches by name.

    Roots: the registered queries, ``plans/medallion.py``, ``__main__.py``,
    ``bench.py``, ``__spark_entry__.py``, perfbench and ``EXTRA_ROOTS``.
    Dunder names are read by the interpreter and are not checked."""
    pkg_paths = glob.glob(os.path.join(root, PKG, "**", "*.py"), recursive=True)
    whole = [
        os.path.join(root, PKG, "plans", "medallion.py"),
        os.path.join(root, PKG, "__main__.py"),
        os.path.join(root, "bench.py"),
        os.path.join(root, "__spark_entry__.py"),
        *glob.glob(os.path.join(root, "perfbench", "**", "*.py"), recursive=True),
    ]
    reached = {name for name, _row in EXTRA_ROOTS}
    for path in whole:
        reached |= _names(_parse(path))
    defs: dict[str, list[set[str]]] = {}
    checked: list[tuple[str, str, int]] = []
    for path in pkg_paths:
        for name, node, is_def, refs in _top_level(_parse(path).body):
            if name is None:
                reached |= refs
                continue
            if isinstance(node, ast.FunctionDef) and _is_query(node):
                reached |= {name} | refs
            defs.setdefault(name, []).append(refs)
            if is_def and not (name.startswith("__") and name.endswith("__")):
                checked.append((name, os.path.relpath(path, root), node.lineno))
    todo = list(reached)
    while todo:
        for refs in defs.get(todo.pop(), ()):
            new = refs - reached
            reached |= new
            todo += new
    return [f"{path}:{line} {name}" for name, path, line in checked if name not in reached]


def _signature_options(fn: ast.FunctionDef) -> list[tuple[str, int | None]]:
    """``(name, positional index or None)`` per parameter with a default."""
    args = fn.args
    positional = args.posonlyargs + args.args
    offset = len(positional) - len(args.defaults)
    opts = [(a.arg, i) for i, a in enumerate(positional) if i >= offset]
    opts += [
        (a.arg, None) for a, d in zip(args.kwonlyargs, args.kw_defaults) if d is not None
    ]
    return opts


def unset_options(root: str = ROOT) -> list[str]:
    """Options of public top-level package functions (outside
    ``OPTION_EXEMPT_MODULES``) that no call passes, by keyword or by
    position. Callers: the package, ``bench.py``, ``__spark_entry__.py``,
    perfbench, ``tools/`` and ``tests/``. A call that unpacks ``*args`` or
    ``**kwargs`` counts as passing every option it could reach."""
    pkg_paths = glob.glob(os.path.join(root, PKG, "**", "*.py"), recursive=True)
    caller_paths = pkg_paths + [
        os.path.join(root, "bench.py"),
        os.path.join(root, "__spark_entry__.py"),
        *glob.glob(os.path.join(root, "perfbench", "**", "*.py"), recursive=True),
        *glob.glob(os.path.join(root, "tools", "*.py")),
        *glob.glob(os.path.join(root, "tests", "**", "*.py"), recursive=True),
    ]
    calls: dict[str, list[ast.Call]] = {}
    for path in caller_paths:
        for node in ast.walk(_parse(path)):
            if isinstance(node, ast.Call):
                f = node.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                if name:
                    calls.setdefault(name, []).append(node)
    unset = []
    for path in pkg_paths:
        if os.path.basename(path) in OPTION_EXEMPT_MODULES:
            continue
        for fn in _parse(path).body:
            if not isinstance(fn, ast.FunctionDef) or fn.name.startswith("_"):
                continue
            for opt, index in _signature_options(fn):
                if not any(_passes(call, opt, index) for call in calls.get(fn.name, ())):
                    where = os.path.relpath(path, root)
                    unset.append(f"{where}:{fn.lineno} {fn.name}({opt}=)")
    return unset


def _passes(call: ast.Call, opt: str, index: int | None) -> bool:
    if any(k.arg in (opt, None) for k in call.keywords):
        return True
    if index is None:
        return False
    for i, arg in enumerate(call.args):
        if isinstance(arg, ast.Starred) or i == index:
            return True
    return False


def test_every_package_definition_is_reached():
    """Every top-level ``def``, ``class`` and assigned name in the package is
    reachable by name from a registered query, the medallion plan, the CLI,
    the bench, the driver contract, perfbench or ``EXTRA_ROOTS``; a
    definition only tests name belongs under ``tests/``."""
    unreached = unreached_definitions()
    assert not unreached, f"{len(unreached)} definitions reached by no root: {unreached}"


def test_every_option_is_set_by_some_caller():
    """Every option (a parameter with a default) of a public package
    function outside ``session.py`` is passed by at least one call; an option
    nobody sets is a fixed value."""
    unset = unset_options()
    assert not unset, f"{len(unset)} options no caller sets: {unset}"
