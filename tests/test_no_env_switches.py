"""The engine's behaviour is set by MergeConfig and call arguments, never by
environment variables. Only session.py reads the environment, for the
deployment settings SPARK_GRAFT_CPUS and SPARK_DRIVER_MEMORY."""

from __future__ import annotations

import ast
import pathlib

import dataplatform_cdc_pipeline_spark

PACKAGE = pathlib.Path(dataplatform_cdc_pipeline_spark.__file__).parent
ENV_READERS = {"environ", "getenv"}


def _env_reads(tree: ast.AST) -> list[int]:
    """Line numbers of ``os.environ`` / ``os.getenv`` uses and of
    ``from os import environ/getenv``."""
    lines = []
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and node.attr in ENV_READERS
            and isinstance(node.value, ast.Name)
            and node.value.id == "os"
        ):
            lines.append(node.lineno)
        elif isinstance(node, ast.ImportFrom) and node.module == "os":
            if any(a.name in ENV_READERS for a in node.names):
                lines.append(node.lineno)
    return lines


def test_only_session_reads_the_environment():
    found = [
        f"{path.relative_to(PACKAGE)}:{line}"
        for path in sorted(PACKAGE.rglob("*.py"))
        if path.relative_to(PACKAGE) != pathlib.Path("session.py")
        for line in _env_reads(ast.parse(path.read_text(), str(path)))
    ]
    assert found == [], f"environment reads outside session.py: {found}"
