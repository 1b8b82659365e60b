"""Structure of ``query/``: the UDF boundary is Arrow-only.

Every grouped kernel in ``solrutils_spark/query`` runs under
``applyInArrow`` through the one row adapter (``query/arrow_rows.py``);
this pins that no module there imports pandas or schedules a pandas UDF,
and that the one grouped stage every kernel goes through is
``IndexReader._per_slice``.
"""

from __future__ import annotations

import ast
from pathlib import Path

import solrutils_spark

QUERY_DIR = Path(solrutils_spark.__file__).parent / "query"
PANDAS_UDFS = {"applyInPandas", "mapInPandas"}


def test_query_package_is_pandas_free():
    modules = sorted(QUERY_DIR.glob("*.py"))
    assert modules
    offenders = []
    for path in modules:
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                names = [node.module or ""]
            else:
                names = []
            offenders += [
                (path.name, node.lineno, n)
                for n in names if n.split(".")[0] == "pandas"
            ]
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in PANDAS_UDFS):
                offenders.append((path.name, node.lineno, node.func.attr))
    assert offenders == []


def _calls_by_scope(tree: ast.AST, attr: str):
    """(qualified enclosing scope, lineno) of every ``.attr(...)`` call."""
    out = []

    def visit(node, scope):
        if isinstance(node, (ast.ClassDef, ast.FunctionDef,
                             ast.AsyncFunctionDef)):
            scope = (*scope, node.name)
        if (isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == attr):
            out.append((".".join(scope), node.lineno))
        for child in ast.iter_child_nodes(node):
            visit(child, scope)

    visit(tree, ())
    return out


def test_query_kernels_go_through_per_slice():
    """One grouped-kernel shape: every ``applyInArrow`` under ``query/``
    lies inside ``IndexReader._per_slice`` (kernels pass it a
    ``fn(rows, allowed)``; none builds its own groupBy wrapper)."""
    found, offenders = 0, []
    for path in sorted(QUERY_DIR.glob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        for scope, lineno in _calls_by_scope(tree, "applyInArrow"):
            if (path.name, scope) == ("engine.py", "IndexReader._per_slice"):
                found += 1
            else:
                offenders.append((path.name, lineno, scope))
    assert offenders == []
    assert found  # the helper itself still schedules the kernels
