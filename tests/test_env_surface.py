"""The package's environment surface: two settings plus SPARK_MASTER.

Routes are chosen by module constants that the code (and a test's
``monkeypatch.setattr``) can see, not by environment variables. Only
``session.py`` reads the environment, and only the names below. Every
size gate reads Catalyst's plan-size estimate through
``operators/scale.plan_bytes``.
"""

import ast
import os
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "vscode_parquet_visualizer_spark"

ALLOWED_NAMES = {
    "SPARK_MASTER",
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_DRIVER_MEM",
}
# files, relative to the package, that may read the environment
ALLOWED_SITES = {"session.py"}


def _is_env(node: ast.AST) -> bool:
    """``os.environ`` or ``os.getenv``."""
    return (
        isinstance(node, ast.Attribute)
        and isinstance(node.value, ast.Name)
        and node.value.id == "os"
        and node.attr in ("environ", "getenv")
    )


def _literal(node: ast.AST | None):
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value
    return None


def env_reads(pkg: Path) -> list[tuple[str, int, str | None]]:
    """(file, line, variable name or None) for every
    ``os.environ`` / ``os.getenv`` use under ``pkg``."""
    out = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        tree = ast.parse(path.read_text(), filename=str(path))
        parents: dict[ast.AST, ast.AST] = {}
        for node in ast.walk(tree):
            for child in ast.iter_child_nodes(node):
                parents[child] = node
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and node.module == "os":
                names = {a.name for a in node.names}
                if names & {"environ", "getenv", "*"}:
                    out.append((rel, node.lineno, None))
                continue
            if not _is_env(node):
                continue
            up = parents.get(node)
            name = None
            if node.attr == "getenv" and isinstance(up, ast.Call):
                name = _literal(up.args[0] if up.args else None)
            elif isinstance(up, ast.Subscript):
                name = _literal(up.slice)
            elif isinstance(up, ast.Attribute) and up.attr == "get":
                call = parents.get(up)
                if isinstance(call, ast.Call) and call.args:
                    name = _literal(call.args[0])
            elif isinstance(up, ast.Compare):
                name = _literal(up.left)
            out.append((rel, node.lineno, name))
    return out


def test_env_reads_only_in_session():
    bad = [
        r
        for r in env_reads(PKG)
        if r[0] not in ALLOWED_SITES or r[2] not in ALLOWED_NAMES
    ]
    assert not bad, f"environment reads outside the allowed surface: {bad}"


def test_every_size_gate_reads_plan_bytes():
    sites = []
    for path in sorted(PKG.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Attribute) and node.attr == "sizeInBytes":
                sites.append(path.relative_to(PKG).as_posix())
    assert sites == ["operators/scale.py"], sites


def _is_checkout(d: str) -> bool:
    return os.path.isfile(
        os.path.join(d, "vscode_parquet_visualizer_spark", "__init__.py")
    )


def checkout_literals(roots: list[Path]) -> list[tuple[str, int, str]]:
    """(file, line, literal) for every string literal under ``roots``
    that is an absolute path at or inside a checkout of this project.
    Such a literal pins the code to one checkout: run from a second
    one, it imports or writes the first checkout's tree instead."""
    out = []
    for root in roots:
        for path in sorted(root.rglob("*.py")):
            for node in ast.walk(ast.parse(path.read_text())):
                text = _literal(node)
                if text is None or not text.startswith("/"):
                    continue
                d = os.path.normpath(text)
                while d != os.path.dirname(d):
                    if _is_checkout(d):
                        rel = path.relative_to(PKG.parent).as_posix()
                        out.append((rel, node.lineno, text))
                        break
                    d = os.path.dirname(d)
    return out


def test_no_literal_checkout_paths():
    # tools locate the checkout from __file__ (tools/composite_fuzz.py)
    assert _is_checkout(str(PKG.parent))
    bad = checkout_literals([PKG, PKG.parent / "tools"])
    assert not bad, f"hard-coded checkout paths: {bad}"
