"""The package's environment surface: which variables it reads.

Every environment variable the package reads is a setting someone can
change without a code change, so a new one has to be deliberate. Only
the deployment settings are allowed: the host's CPU count and the driver
memory, which differ per machine.
"""

from __future__ import annotations

import ast
import pathlib

import knime_core_columnar_spark

PACKAGE = pathlib.Path(knime_core_columnar_spark.__file__).parent

DEPLOYMENT_SETTINGS = {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM"}


def _is_environ(node: ast.AST) -> bool:
    return (isinstance(node, ast.Attribute) and node.attr == "environ") or (
        isinstance(node, ast.Name) and node.id == "environ")


def _key(node: ast.AST | None) -> str:
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value
    return "<computed key>"


def _env_reads(tree: ast.AST) -> list[str]:
    """Variable names read through ``os.environ[...]``,
    ``os.environ.get(...)`` or ``os.getenv(...)``; any other use of
    ``os.environ`` (iteration, passing it on) counts as a read of
    ``<whole environ>``."""
    parents = {c: p for p in ast.walk(tree) for c in ast.iter_child_nodes(p)}
    reads = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")
            if name == "getenv":
                reads.append(_key(node.args[0] if node.args else None))
        elif _is_environ(node):
            up = parents.get(node)
            if isinstance(up, ast.Subscript) and up.value is node:
                reads.append(_key(up.slice))
            elif (isinstance(up, ast.Attribute) and up.attr == "get"
                  and isinstance(parents.get(up), ast.Call)):
                call = parents[up]
                reads.append(_key(call.args[0] if call.args else None))
            else:
                reads.append("<whole environ>")
    return reads


def test_package_reads_only_deployment_settings():
    seen: dict[str, list[str]] = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        for var in _env_reads(tree):
            seen.setdefault(var, []).append(str(path.relative_to(PACKAGE)))
    assert set(seen) == DEPLOYMENT_SETTINGS, seen
