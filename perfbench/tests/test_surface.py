"""The benchmark may reach the engine only through public names."""

import ast
import os

import pytest

SRC = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Spark's own gateway handles, needed to wait for the JVM at exit.
ALLOWED = {("SparkContext", "_gateway"), ("SparkContext", "_jvm")}


def private_uses(source: str) -> list[str]:
    """``obj._name`` accesses on anything but self/cls, and ``_name`` imports
    from the engine package."""
    out = []
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.Attribute):
            a = node.attr
            if not a.startswith("_") or (a.startswith("__") and a.endswith("__")):
                continue
            owner = node.value.id if isinstance(node.value, ast.Name) else None
            if owner in ("self", "cls") or (owner, a) in ALLOWED:
                continue
            out.append(f"line {node.lineno}: .{a}")
        elif isinstance(node, ast.ImportFrom) and (node.module or "").startswith("debezium_spark"):
            parts = node.module.split(".") + [al.name for al in node.names]
            out.extend(f"line {node.lineno}: import {p}" for p in parts if p.startswith("_"))
    return out


def sources():
    for name in sorted(os.listdir(SRC)):
        if name.endswith(".py"):
            yield name


@pytest.mark.parametrize("name", list(sources()))
def test_no_private_engine_members(name):
    with open(os.path.join(SRC, name)) as f:
        assert private_uses(f.read()) == []


def test_scanner_flags_private_calls():
    src = "eng._transform(df)\nfrom debezium_spark.streaming.engine import _PauseSignal\n"
    assert sorted(private_uses(src)) == ["line 1: ._transform", "line 2: import _PauseSignal"]
