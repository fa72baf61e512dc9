"""Every tool imports the engine of its own checkout.

A tool that puts a fixed absolute path on ``sys.path`` imports the engine
at that path, so run from another checkout (a copy of a parent commit, a
fresh benchmark checkout) it checks the wrong code. Tools derive the root
from ``__file__`` instead; this test fails on any string literal passed
to ``sys.path.insert``.
"""

from __future__ import annotations

import ast
import glob
import os

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")


def _literal_inserts(path: str) -> list[int]:
    tree = ast.parse(open(path, encoding="utf-8").read(), path)
    return [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and ast.unparse(node.func) == "sys.path.insert"
        and any(
            isinstance(a, ast.Constant) and isinstance(a.value, str)
            for a in node.args
        )
    ]


def test_no_tool_inserts_a_literal_path():
    paths = sorted(glob.glob(os.path.join(TOOLS, "*.py")))
    assert paths
    bad = {os.path.basename(p): _literal_inserts(p) for p in paths}
    assert not {k: v for k, v in bad.items() if v}
