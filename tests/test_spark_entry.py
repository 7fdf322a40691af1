"""Static checks on the ``__spark_entry__`` registration surface."""

from __future__ import annotations

import ast
import pathlib

ENTRY = pathlib.Path(__file__).resolve().parents[1] / "__spark_entry__.py"


def test_queries_dict_literal_has_no_duplicate_keys():
    """A repeated key in the ``queries()`` literal silently overwrites the
    first registration's value while keeping its position."""
    tree = ast.parse(ENTRY.read_text())
    fn = next(
        n for n in tree.body
        if isinstance(n, ast.FunctionDef) and n.name == "queries"
    )
    ret = next(n for n in ast.walk(fn) if isinstance(n, ast.Return))
    keys = [k.value for k in ret.value.keys]
    dups = sorted({k for k in keys if keys.count(k) > 1})
    assert dups == [], dups
    assert len(keys) > 100
