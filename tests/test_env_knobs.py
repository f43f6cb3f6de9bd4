"""sfa_spark reads only its two deployment settings from the environment.

Plan choices live in code (a size estimate, a partition probe) or in
get_spark(shuffle_partitions=..., extra_conf=...), never behind an env
switch: each switch doubles the configurations tests and benchmarks
must cover. This guard parses the package source, so it needs no Spark.
"""

from __future__ import annotations

import ast
from pathlib import Path

import sfa_spark

ALLOWED = {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM"}


def _env_reads(tree: ast.AST) -> list[str]:
    """Keys of every environment read in `tree`: os.environ[...],
    os.environ.get/pop/setdefault(...), os.getenv(...), `... in
    os.environ`. A read whose key is not a string literal is reported
    as "<dynamic>"; any other use of environ/getenv as "<other>"."""

    def is_env(node) -> bool:
        name = node.attr if isinstance(node, ast.Attribute) else getattr(node, "id", None)
        return name in ("environ", "getenv")

    def key(node) -> str:
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            return node.value
        return "<dynamic>"

    keys, seen = [], set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Subscript) and is_env(node.value):
            keys.append(key(node.slice))
            seen.add(id(node.value))
        elif isinstance(node, ast.Call):
            f = node.func
            if is_env(f):  # getenv(...)
                keys.append(key(node.args[0]) if node.args else "<dynamic>")
                seen.add(id(f))
            elif isinstance(f, ast.Attribute) and is_env(f.value):  # environ.get(...)
                keys.append(key(node.args[0]) if node.args else "<dynamic>")
                seen.add(id(f.value))
        elif isinstance(node, ast.Compare) and any(is_env(c) for c in node.comparators):
            keys.append(key(node.left))
            seen.update(id(c) for c in node.comparators if is_env(c))
    for node in ast.walk(tree):
        if isinstance(node, (ast.Attribute, ast.Name)) and is_env(node):
            if id(node) not in seen:
                keys.append("<other>")
    return keys


def test_env_reads_are_deployment_settings_only():
    root = Path(sfa_spark.__file__).parent
    found = {}
    for path in sorted(root.rglob("*.py")):
        for k in _env_reads(ast.parse(path.read_text(), filename=str(path))):
            found.setdefault(k, []).append(str(path.relative_to(root)))
    extra = {k: v for k, v in found.items() if k not in ALLOWED}
    assert not extra, f"environment reads beyond {sorted(ALLOWED)}: {extra}"
    assert set(found) == ALLOWED


def test_guard_sees_every_read_form():
    src = """
import os
from os import environ, getenv
a = os.environ.get("A", "1")
b = os.environ["B"]
c = os.getenv("C")
d = "D" in os.environ
e = environ.get(name)
f = getenv("F")
g = dict(os.environ)
"""
    got = _env_reads(ast.parse(src))
    assert sorted(got) == sorted(["A", "B", "C", "D", "<dynamic>", "F", "<other>"])
