"""Structure of ``query/``: the UDF boundary is Arrow-only.

Every grouped kernel in ``solrutils_spark/query`` runs under
``applyInArrow`` through the one row adapter (``query/arrow_rows.py``);
this pins that no module there imports pandas or schedules a pandas UDF.
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
