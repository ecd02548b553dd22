"""Clone guard: no two package functions share a run of 5 or more
consecutive top-level statements.

The scan parses every ``.py`` file of the package and reads each
function's body (docstring dropped) as a list of statements.  Before
comparing, every local name of the function — parameters, assigned
names, nested function and class names — is replaced by one
placeholder, so two copies of a rule that differ only in what they
call their variables still match; constants, attribute names and
module-level names are kept.  A run of ``MIN_RUN`` or more identical
consecutive statements in two functions is a hand-copied rule, which
belongs in one helper that both call: if one copy changes, the other
silently falls out of step.
"""

from __future__ import annotations

import ast
import copy
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "lambda_arc_events_filter_spark"
MIN_RUN = 5


def _py_files() -> list[str]:
    out = []
    for dirpath, dirnames, filenames in os.walk(os.path.join(ROOT, PKG)):
        dirnames[:] = [d for d in dirnames if not d.startswith((".", "__"))]
        out += [os.path.join(dirpath, f) for f in filenames if f.endswith(".py")]
    return sorted(out)


def _local_names(fn: ast.FunctionDef | ast.AsyncFunctionDef) -> set[str]:
    names = set()
    for n in ast.walk(fn):
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store):
            names.add(n.id)
        elif isinstance(n, ast.arg):
            names.add(n.arg)
        elif n is not fn and isinstance(
            n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
        ):
            names.add(n.name)
    return names


class _Normalize(ast.NodeTransformer):
    def __init__(self, local: set[str]):
        self.local = local

    def visit_Name(self, node: ast.Name) -> ast.Name:
        if node.id in self.local:
            node.id = "_"
        return node

    def visit_arg(self, node: ast.arg) -> ast.arg:
        node.arg = "_"
        node.annotation = None
        return node

    def generic_visit(self, node: ast.AST) -> ast.AST:
        super().generic_visit(node)
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            node.name = "_"
        return node


def _functions() -> list[tuple[str, list[str]]]:
    """``(module.function, normalized top-level statements)`` for every
    function in the package, nested ones included."""
    out = []
    for path in _py_files():
        with open(path) as fh:
            tree = ast.parse(fh.read(), filename=path)
        module = os.path.relpath(path, ROOT)[:-3].replace(os.sep, ".")
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            body = fn.body
            if (
                isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)
            ):
                body = body[1:]
            norm = _Normalize(_local_names(fn))
            stmts = [ast.dump(norm.visit(copy.deepcopy(s))) for s in body]
            out.append((f"{module}.{fn.name}", stmts))
    return out


def clone_groups() -> dict[tuple[str, ...], set[str]]:
    """Each maximal run of ≥ ``MIN_RUN`` statements that two different
    functions share → the functions holding it."""
    funcs = _functions()
    windows: dict[tuple[str, ...], list[tuple[int, int]]] = {}
    for fi, (_, stmts) in enumerate(funcs):
        for i in range(len(stmts) - MIN_RUN + 1):
            windows.setdefault(tuple(stmts[i : i + MIN_RUN]), []).append((fi, i))
    groups: dict[tuple[str, ...], set[str]] = {}
    for hits in windows.values():
        for x, (fa, ia) in enumerate(hits):
            for fb, ib in hits[x + 1 :]:
                if fa == fb:
                    continue
                a, b = funcs[fa][1], funcs[fb][1]
                if ia and ib and a[ia - 1] == b[ib - 1]:
                    continue  # not the start of the shared run
                n = 0
                while ia + n < len(a) and ib + n < len(b) and a[ia + n] == b[ib + n]:
                    n += 1
                run = tuple(a[ia : ia + n])
                groups.setdefault(run, set()).update({funcs[fa][0], funcs[fb][0]})
    return groups


def test_no_function_pair_shares_a_statement_run():
    groups = clone_groups()
    report = sorted(
        (len(run), sorted(fns)) for run, fns in groups.items()
    )
    n_fns = len({f for fns in groups.values() for f in fns})
    assert not groups, (
        f"{len(groups)} clone groups over {n_fns} functions "
        f"(statements shared, functions): {report}"
    )


def test_scan_sees_the_package():
    # guards against a path rot that finds no functions and passes
    # vacuously
    names = {name for name, _ in _functions()}
    assert f"{PKG}.functions.rank.global_order_stats" in names
    assert len(names) > 500
