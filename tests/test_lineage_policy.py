"""One materialization policy: only ``lineage.py`` checkpoints.

``lineage.cut_lineage`` decides how a lineage cut is made (reliable
``checkpoint`` when a checkpoint dir is set, ``localCheckpoint``
otherwise).  A direct ``.localCheckpoint(...)`` or ``.checkpoint(...)``
anywhere else bypasses that decision, so its cut is never
fault-tolerant on a cluster.  This pin parses the package and the
entry file (no Spark needed); comments and docstrings cannot trip it.
"""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(REPO, "blueforty___etl_data_pipeline_spark")
LINEAGE = os.path.join(PACKAGE, "lineage.py")
_CUT_METHODS = {"localCheckpoint", "checkpoint"}


def _sources() -> list[str]:
    paths = [os.path.join(REPO, "__spark_entry__.py")]
    for root, _dirs, files in os.walk(PACKAGE):
        paths.extend(
            os.path.join(root, f) for f in files if f.endswith(".py")
        )
    return sorted(paths)


def _checkpoint_uses(path: str) -> list[str]:
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read(), filename=path)
    uses = sorted(
        (node.lineno, node.attr)
        for node in ast.walk(tree)
        if isinstance(node, ast.Attribute) and node.attr in _CUT_METHODS
    )
    rel = os.path.relpath(path, REPO)
    return [f"{rel}:{line}: .{attr}" for line, attr in uses]


def test_only_lineage_checkpoints():
    hits = [
        hit
        for path in _sources()
        if path != LINEAGE
        for hit in _checkpoint_uses(path)
    ]
    assert not hits, (
        "direct checkpoint calls outside lineage.py; use "
        "lineage.cut_lineage(df, eager=...) instead:\n" + "\n".join(hits)
    )


def test_scanner_sees_lineage_dispatch():
    # The scanner is not vacuous: lineage.py's own dispatch is found.
    assert [h.rsplit(": ", 1)[1] for h in _checkpoint_uses(LINEAGE)] == [
        ".checkpoint",
        ".localCheckpoint",
    ]
