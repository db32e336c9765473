"""Every library module is imported by something other than the tests:
the package itself, the driver entry, the benches, ``tools/`` or
``perfbench/``. A module only its own tests import is code no query,
crawl path, tool or benchmark runs. Static (AST) scan, no Spark."""

from __future__ import annotations

import ast
from pathlib import Path

import openalex_collaboration_crawler_spark as pkg

ROOT = Path(__file__).resolve().parent.parent
PKG_ROOT = ROOT / pkg.__name__


def _module_name(path: Path) -> str:
    return ".".join(path.relative_to(ROOT).with_suffix("").parts)


def _imported_names(path: Path) -> set[str]:
    """Every dotted name an import statement in ``path`` may load,
    anywhere in the file: ``import a.b`` gives ``a.b``; ``from a import
    b`` gives ``a`` and ``a.b`` (``b`` may be a submodule). The repo
    imports absolutely; a relative import would show as a missing
    importer."""
    out = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            out.add(node.module)
            out.update(f"{node.module}.{a.name}" for a in node.names)
    return out


def _non_test_files() -> list[Path]:
    return [
        *PKG_ROOT.rglob("*.py"),
        *ROOT.glob("tools/*.py"),
        *ROOT.glob("perfbench/*.py"),
        *(ROOT / f for f in ("__spark_entry__.py", "bench.py", "bench_extra.py")),
    ]


def test_package_is_this_checkouts():
    """conftest puts this checkout first on ``sys.path``; a copy of the
    repo run elsewhere must test its own package, not another one."""
    assert Path(pkg.__file__).resolve().is_relative_to(ROOT)


def test_every_module_has_a_non_test_importer():
    imported = set().union(*map(_imported_names, _non_test_files()))
    orphans = [
        path.relative_to(PKG_ROOT).as_posix()
        for path in sorted(PKG_ROOT.rglob("*.py"))
        if path.name != "__init__.py" and _module_name(path) not in imported
    ]
    assert orphans == [], f"modules only tests import: {orphans}"
