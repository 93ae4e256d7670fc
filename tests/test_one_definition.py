"""Each public operator is defined in exactly one module.

The package implements every operator once (``kafka_bigdata_jobs_spark``
docstring; SURVEY.md §7).  A second module-level ``def``/``class`` of
the same public name is a copy that can drift from the first (different
keywords, different defaults) while both import paths keep working;
re-export the one definition with an import instead.  Spark-free: this
reads the source with ``ast`` and imports nothing from the package.
"""

from __future__ import annotations

import ast
from collections import defaultdict
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "kafka_bigdata_jobs_spark"


def _public_definitions() -> dict[str, list[str]]:
    where: dict[str, list[str]] = defaultdict(list)
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(encoding="utf-8"), filename=str(path))
        for node in tree.body:
            if (isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                  ast.ClassDef))
                    and not node.name.startswith("_")):
                where[node.name].append(str(path.relative_to(PKG.parent)))
    return where


def test_no_public_name_defined_twice():
    defs = _public_definitions()
    assert "embedding_near_dup_pairs_hier" in defs  # the scan reads the package
    dupes = {name: mods for name, mods in defs.items() if len(mods) > 1}
    assert not dupes, (
        "public names defined in more than one module (keep one "
        f"definition, import it elsewhere): {dupes}")
