"""No ``SPARK_GRAFT_*`` env toggles inside the package: engine behaviour
is chosen by constructor fields and data-driven switches, not by
environment variables a caller cannot see. ``session.py``'s
``SPARK_GRAFT_CPUS`` (the local core count) is a deployment setting and
the one allowed read."""

from __future__ import annotations

import ast
from pathlib import Path

import openalex_collaboration_crawler_spark as pkg

PKG_ROOT = Path(pkg.__file__).parent
ALLOWED = {"session.py"}
_GETTERS = {"os.environ.get", "os.getenv", "environ.get", "getenv"}
_MAPPINGS = {"os.environ", "environ"}


def _env_reads(source: str) -> list[tuple[int, str]]:
    """(line, key) of every ``SPARK_GRAFT_*`` read through os.environ.get,
    os.getenv or os.environ[...] with a literal key."""
    out = []
    for node in ast.walk(ast.parse(source)):
        key = None
        if isinstance(node, ast.Call) and ast.unparse(node.func) in _GETTERS and node.args:
            key = node.args[0]
        elif isinstance(node, ast.Subscript) and ast.unparse(node.value) in _MAPPINGS:
            key = node.slice
        if (
            isinstance(key, ast.Constant)
            and isinstance(key.value, str)
            and key.value.startswith("SPARK_GRAFT_")
        ):
            out.append((node.lineno, key.value))
    return out


def test_scanner_sees_the_allowed_read():
    assert [k for _, k in _env_reads((PKG_ROOT / "session.py").read_text())] == [
        "SPARK_GRAFT_CPUS"
    ]


def test_no_spark_graft_env_reads_outside_session():
    found = [
        f"{path.relative_to(PKG_ROOT)}:{line} {key}"
        for path in sorted(PKG_ROOT.rglob("*.py"))
        if path.relative_to(PKG_ROOT).as_posix() not in ALLOWED
        for line, key in _env_reads(path.read_text())
    ]
    assert found == [], f"env toggles in the package: {found}"
