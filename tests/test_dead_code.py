"""Lint: every top-level function or class in the package is used.

A definition counts as used when its name appears outside its own body
somewhere in the package, ``tests/``, ``perfbench/``, ``bench.py`` or
``__spark_entry__.py``: as a name, an attribute, an imported name or a
string literal equal to it. Functions registered with ``@query`` are
exempt, since the registry calls them by name. Matching is by name only,
so a definition shadowed by an unrelated name of the same spelling passes;
the lint catches definitions nothing mentions at all."""

from __future__ import annotations

import ast
import collections
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "aws_localstack_stream_processing_spark"


def _scanned_files() -> list[pathlib.Path]:
    files = [*PACKAGE.rglob("*.py"), *(ROOT / "tests").rglob("*.py")]
    files += (ROOT / "perfbench").rglob("*.py")
    files += [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    return sorted(p for p in files if p.exists())


def _names(tree: ast.AST) -> collections.Counter:
    seen: collections.Counter = collections.Counter()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            seen[node.id] += 1
        elif isinstance(node, ast.Attribute):
            seen[node.attr] += 1
        elif isinstance(node, ast.alias):
            seen[node.name.rsplit(".", 1)[-1]] += 1
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            seen[node.value] += 1
    return seen


def _is_query(defn: ast.AST) -> bool:
    for dec in getattr(defn, "decorator_list", []):
        fn = dec.func if isinstance(dec, ast.Call) else dec
        if getattr(fn, "id", None) == "query" or getattr(fn, "attr", None) == "query":
            return True
    return False


def unused_definitions() -> list[str]:
    total: collections.Counter = collections.Counter()
    defs = []
    for path in _scanned_files():
        tree = ast.parse(path.read_text(), str(path))
        total += _names(tree)
        if PACKAGE not in path.parents:
            continue
        mod = path.relative_to(PACKAGE).with_suffix("").as_posix()
        for node in tree.body:
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) and not _is_query(node):
                defs.append((f"{mod}.{node.name}", node.name, _names(node)))
    return sorted(
        qual for qual, name, own in defs if total[name] - own[name] <= 0
    )


def test_every_definition_is_referenced():
    assert unused_definitions() == []
