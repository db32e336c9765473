"""Repeated queries reuse their compiled classes.

The session's codegen cache (``session.CODEGEN_CACHE_ENTRIES``) holds the
engine's compiled-code working set, so a second pass over the benchmark's
analytics queries compiles nothing: every class its plans generate is
still cached from the first pass. At Spark's default of 100 entries these
10 queries (~130 classes) evict each other and recompile on every pass.
"""

from __future__ import annotations

import ast
from pathlib import Path

import __spark_entry__ as entrymod

ROOT = Path(__file__).resolve().parent.parent


def _analytics_queries() -> tuple[str, ...]:
    """perfbench's analytics workload, read from its source (the perfbench
    modules import each other as scripts, not as a package)."""
    tree = ast.parse((ROOT / "perfbench" / "analytics.py").read_text())
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "QUERIES" for t in node.targets
        ):
            return ast.literal_eval(node.value)
    raise AssertionError("perfbench/analytics.py defines no QUERIES")


def test_second_pass_compiles_nothing(spark, sf_dir, compiled_classes):
    queries = entrymod.queries()
    names = _analytics_queries()
    assert len(names) == 10 and set(names) <= set(queries)

    def one_pass() -> dict[str, int]:
        compiled = {}
        for name in names:
            c0 = compiled_classes()
            queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            compiled[name] = compiled_classes() - c0
        return compiled

    one_pass()
    recompiled = {n: c for n, c in one_pass().items() if c}
    assert not recompiled, f"classes recompiled per query on pass 2: {recompiled}"
