"""Environment reads live in session.py only.

Session construction (cores, driver memory, UI) is the one place the
engine consults the environment. A setting read anywhere else is a
knob without a caller, invisible in any signature; a new setting
belongs in a constructor argument instead.
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "optbinning_spark"
ALLOWED = {"session.py"}


def _env_reads(tree):
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and node.attr in (
                "environ", "getenv"):
            yield node.lineno
        elif isinstance(node, ast.ImportFrom) and node.module == "os":
            if any(a.name in ("environ", "getenv") for a in node.names):
                yield node.lineno


def test_only_session_reads_the_environment():
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel in ALLOWED:
            continue
        tree = ast.parse(path.read_text(), filename=str(path))
        offenders += [f"{rel}:{line}" for line in _env_reads(tree)]
    assert not offenders, (
        f"environment reads outside session.py: {offenders}")
    # the guard itself sees the reads it allows
    session = ast.parse((PKG / "session.py").read_text())
    assert list(_env_reads(session))
