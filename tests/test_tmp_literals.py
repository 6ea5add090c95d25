"""Lint: no string literal in the package starts with ``/tmp``. Temp data
goes through ``tempfile`` so that ``TMPDIR`` places it; f-string parts
count, since a hard-coded prefix there pins the path just the same."""

from __future__ import annotations

import ast
import pathlib

PACKAGE = (
    pathlib.Path(__file__).resolve().parent.parent
    / "aws_localstack_stream_processing_spark"
)


def test_no_string_literal_starts_with_tmp():
    hits = [
        f"{path.relative_to(PACKAGE.parent)}:{node.lineno}"
        for path in sorted(PACKAGE.rglob("*.py"))
        for node in ast.walk(ast.parse(path.read_text(), str(path)))
        if isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and node.value.startswith("/tmp")
    ]
    assert not hits, f"hard-coded /tmp paths: {hits}"
