"""Dead-name guard: every module-level name the package defines is
referenced somewhere in the repository outside its own definition.

The scan parses every ``.py`` file under the repository root (the
package, ``tests/``, ``tools/``, ``perfbench/``, ``bench.py`` and
``__spark_entry__.py``) and collects each identifier it uses: bare
names, attribute names and the names a ``from ... import`` brings in.
A module-level function, class or assigned name in the package that no
file uses, apart from inside its own defining statement, is dead code.
Exempt are dunders and the ``@register`` query functions, which the
registry reaches through the decorator alone.
"""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "lambda_arc_events_filter_spark"


def _py_files() -> list[str]:
    out = []
    for dirpath, dirnames, filenames in os.walk(ROOT):
        # hidden dirs hold benchmark and build output, not source
        dirnames[:] = [d for d in dirnames if not d.startswith(".")]
        out += [os.path.join(dirpath, f) for f in filenames if f.endswith(".py")]
    return sorted(out)


def _is_register(dec: ast.expr) -> bool:
    if isinstance(dec, ast.Call):
        dec = dec.func
    name = dec.attr if isinstance(dec, ast.Attribute) else getattr(dec, "id", "")
    return name == "register"


def _defined_names(stmt: ast.stmt) -> list[str]:
    """Names one top-level statement defines (assignments inside a
    top-level ``if`` / ``try`` count too)."""
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        if any(_is_register(d) for d in stmt.decorator_list):
            return []
        return [stmt.name]
    if isinstance(stmt, (ast.Assign, ast.AnnAssign)):
        targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
        return [
            n.id
            for t in targets
            for n in ast.walk(t)
            if isinstance(n, ast.Name)
        ]
    if isinstance(stmt, (ast.If, ast.Try)):
        inner = stmt.body + stmt.orelse
        if isinstance(stmt, ast.Try):
            inner += stmt.finalbody + [s for h in stmt.handlers for s in h.body]
        return [n for s in inner for n in _defined_names(s)]
    return []


def _used_names(node: ast.AST) -> set[str]:
    used = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store):
            used.add(n.id)
        elif isinstance(n, ast.Attribute):
            used.add(n.attr)
        elif isinstance(n, ast.alias):
            used.add(n.name.rsplit(".", 1)[-1])
    return used


def unreferenced_names() -> list[str]:
    """``module.name`` for every module-level package name that no file
    in the repository references outside its own defining statement."""
    defined: dict[str, list[str]] = {}  # name -> ["module.name", ...]
    used: set[str] = set()
    for path in _py_files():
        rel = os.path.relpath(path, ROOT)
        with open(path) as fh:
            tree = ast.parse(fh.read(), filename=rel)
        in_pkg = rel.startswith(PKG + os.sep)
        module = rel[:-3].replace(os.sep, ".")
        for stmt in tree.body:
            names = _defined_names(stmt) if in_pkg else []
            for name in names:
                if not (name.startswith("__") and name.endswith("__")):
                    defined.setdefault(name, []).append(f"{module}.{name}")
            used |= _used_names(stmt) - set(names)
    return sorted(q for name, qs in defined.items() if name not in used for q in qs)


def test_every_package_name_is_referenced():
    dead = unreferenced_names()
    assert dead == [], f"module-level names nothing references: {dead}"


def test_scan_sees_the_package():
    # guards against a path rot that finds no files and passes vacuously
    files = _py_files()
    assert any(f.endswith(os.path.join(PKG, "catalog.py")) for f in files)
    assert any(f.endswith(os.path.join("tests", "conftest.py")) for f in files)
