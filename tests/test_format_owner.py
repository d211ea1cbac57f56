"""Static guard: the versioned-table layout (``v=N`` dirs, the
``_LATEST`` pointer) is known to ``sinks.py`` alone. Every other
package module reads and writes versioned tables through the sinks
functions, so a string naming that layout anywhere else is a second
copy of the format."""

from __future__ import annotations

import ast
from pathlib import Path

import z316_sales_data_pipeline_spark as pkg

_PKG_DIR = Path(pkg.__file__).resolve().parent
_OWNER = _PKG_DIR / "sinks.py"


def _layout_strings(source: str) -> list[tuple[int, str]]:
    """(line, value) of every non-docstring string constant — f-string
    parts included — that names ``_LATEST`` or a ``/v=`` path."""
    tree = ast.parse(source)
    docstrings = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            first = node.body[0] if node.body else None
            if isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant):
                docstrings.add(id(first.value))
    return [
        (node.lineno, node.value)
        for node in ast.walk(tree)
        if isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and id(node) not in docstrings
        and ("_LATEST" in node.value or "/v=" in node.value)
    ]


def test_only_sinks_knows_the_versioned_table_layout():
    modules = sorted(p for p in _PKG_DIR.rglob("*.py") if p != _OWNER)
    assert len(modules) > 10  # the walk really covers the package
    hits = [
        f"{p.relative_to(_PKG_DIR)}:{line}: {value!r}"
        for p in modules
        for line, value in _layout_strings(p.read_text())
    ]
    assert not hits, "versioned-table layout outside sinks.py:\n" + "\n".join(hits)


def test_guard_flags_layout_strings_but_not_docstrings():
    source = (
        '"""Reads _LATEST."""\n'
        "def f(d):\n"
        '    """Opens d/v=1."""\n'
        '    return open(f"{d}/_LATEST"), f"{d}/v={1}", "v=1"\n'
    )
    assert sorted(_layout_strings(source)) == [(4, "/_LATEST"), (4, "/v=")]
