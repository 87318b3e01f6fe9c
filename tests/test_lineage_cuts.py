"""Lineage-cut guard: every cut in the package goes through
``operators/iterative.cut_lineage``, which picks reliable
``checkpoint()`` or ``localCheckpoint()`` from the session's
checkpoint dir.  A direct ``.localCheckpoint(`` or ``.checkpoint(``
call anywhere else bypasses that choice — on a cluster with a
checkpoint dir its lineage is lost with the executor — so this AST
walk of the package fails on one.
"""

from __future__ import annotations

import ast
import os

PKG = os.path.join(os.path.dirname(__file__), "..", "datawarehouse_code_spark")
CUT_MODULE = "operators/iterative.py"
_RAW_CUTS = {"localCheckpoint", "checkpoint"}


def _raw_cut_calls() -> dict[str, list[tuple[int, str]]]:
    found: dict[str, list[tuple[int, str]]] = {}
    for root, dirs, files in os.walk(PKG):
        dirs[:] = [d for d in dirs if d != "__pycache__"]
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            rel = os.path.relpath(path, PKG).replace(os.sep, "/")
            with open(path) as fh:
                tree = ast.parse(fh.read())
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in _RAW_CUTS
                ):
                    found.setdefault(rel, []).append(
                        (node.lineno, node.func.attr)
                    )
    return found


def test_no_lineage_cut_outside_cut_lineage():
    found = _raw_cut_calls()
    # self-check on the scanner: cut_lineage's own two calls are seen
    assert sorted(a for _, a in found.get(CUT_MODULE, [])) == [
        "checkpoint",
        "localCheckpoint",
    ], found.get(CUT_MODULE)
    stray = {rel: hits for rel, hits in found.items() if rel != CUT_MODULE}
    assert not stray, (
        "direct lineage cuts outside operators/iterative.py (call "
        f"cut_lineage instead, so the session picks the cut): {stray}"
    )
