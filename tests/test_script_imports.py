"""Every import in the harness resolves, without starting Spark.

``bench.py`` and ``scripts/*.py`` import the package, ``enginebench``
and each other, often lazily inside functions, so a deleted module or
a renamed function only fails when that code path runs. This walks
each file's syntax tree instead: every absolute import must resolve
(``importlib.util.find_spec``), and every name imported from a module
of this repository must be bound at that module's top level or be one
of its package's submodules. Nothing is imported, so no module code
runs.
"""

from __future__ import annotations

import ast
import glob
import importlib.util
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HARNESS = ["bench.py"] + sorted(
    os.path.relpath(p, REPO)
    for p in glob.glob(os.path.join(REPO, "scripts", "*.py")))


def _imports(tree):
    """(line, module, names) per absolute import; names is empty for a
    plain ``import m``."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for alias in node.names:
                yield node.lineno, alias.name, []
        elif isinstance(node, ast.ImportFrom) and node.level == 0:
            yield node.lineno, node.module, [a.name for a in node.names]


def _bound(body) -> set[str]:
    """Names a module body binds at top level (``*`` if it star-imports)."""
    out: set[str] = set()
    for node in body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            out.add(node.name)
            continue
        if isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
            targets = (node.targets if isinstance(node, ast.Assign)
                       else [node.target])
            for t in targets:
                out.update(n.id for n in ast.walk(t)
                           if isinstance(n, ast.Name))
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            out.update((a.asname or a.name).split(".")[0]
                       for a in node.names)
        # top-level if/try/with blocks bind at module level too
        for field in ("body", "orelse", "finalbody", "handlers"):
            out |= _bound(getattr(node, field, []))
    return out


def _local(spec) -> str | None:
    """The file or package dir of a module inside this repository
    (built-in modules have no file: their origin is "built-in")."""
    where = spec.origin if spec.has_location else next(
        iter(spec.submodule_search_locations or []), None)
    if where and os.path.abspath(where).startswith(REPO + os.sep):
        return where
    return None


@pytest.mark.parametrize("rel", HARNESS)
def test_every_import_resolves(rel):
    with open(os.path.join(REPO, rel)) as fh:
        tree = ast.parse(fh.read(), rel)
    bad = []
    for line, module, names in _imports(tree):
        try:
            spec = importlib.util.find_spec(module)
        except ModuleNotFoundError:
            spec = None
        if spec is None:
            bad.append(f"{rel}:{line}: module {module} not found")
            continue
        where = _local(spec)
        if where is None or not names:
            continue
        if os.path.isdir(where):  # a namespace package: no __init__.py
            pkg_dir, bound = where, set()
        else:
            with open(where) as fh:
                bound = _bound(ast.parse(fh.read()).body)
            pkg_dir = (os.path.dirname(where)
                       if os.path.basename(where) == "__init__.py" else None)
        for name in names:
            if name == "*" or "*" in bound or name in bound:
                continue
            if pkg_dir and (
                    os.path.isfile(os.path.join(pkg_dir, name + ".py"))
                    or os.path.isdir(os.path.join(pkg_dir, name))):
                continue
            bad.append(f"{rel}:{line}: {module} has no {name}")
    assert not bad, "\n".join(bad)
