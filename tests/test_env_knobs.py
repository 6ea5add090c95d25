"""Lint: the package reads only the environment variables listed here.
Each is a deployment setting (core count, master, shuffle width, driver
memory, the layout cache's path) or the fault-injection seam the crash
tests use; a behaviour switch belongs in code or in the caller's Spark
session, not in an env var. Reads count as ``os.environ.get(...)``,
``os.environ[...]``, ``... in os.environ`` and ``os.getenv(...)``; a read
whose name is not a string literal counts as ``<dynamic>``."""

from __future__ import annotations

import ast
import pathlib

PACKAGE = (
    pathlib.Path(__file__).resolve().parent.parent
    / "aws_localstack_stream_processing_spark"
)

ALLOWED = {
    "SPARK_GRAFT_CPUS",
    "SPARK_MASTER",
    "SPARK_SHUFFLE_PARTITIONS",
    "SPARK_DRIVER_MEMORY",
    "SPARK_GRAFT_LAYOUT_CACHE_DIR",
    "SPARK_GRAFT_FAILPOINTS",
}


def _is_environ(node: ast.AST) -> bool:
    return (isinstance(node, ast.Attribute) and node.attr == "environ") or (
        isinstance(node, ast.Name) and node.id == "environ"
    )


def _name(node: ast.AST | None) -> str:
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value
    return "<dynamic>"


def _env_reads(tree: ast.AST) -> set[str]:
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            f = node.func
            arg = node.args[0] if node.args else None
            if f.attr == "get" and _is_environ(f.value):
                names.add(_name(arg))
            elif f.attr == "getenv":
                names.add(_name(arg))
        elif isinstance(node, ast.Subscript) and _is_environ(node.value):
            names.add(_name(node.slice))
        elif isinstance(node, ast.Compare) and any(
            isinstance(op, (ast.In, ast.NotIn)) for op in node.ops
        ):
            if any(_is_environ(c) for c in node.comparators):
                names.add(_name(node.left))
    return names


def test_package_reads_only_allowed_env_vars():
    read = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        read |= _env_reads(ast.parse(path.read_text(), str(path)))
    assert read == ALLOWED
