"""The package's environment surface: two settings plus SPARK_MASTER.

Routes are chosen by module constants that the code (and a test's
``monkeypatch.setattr``) can see, not by environment variables. Only
``session.py`` reads the environment, and only the names below. Every
size gate reads Catalyst's plan-size estimate through
``operators/scale.plan_bytes``.
"""

import ast
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
