"""No raw ``SparkContext.broadcast`` in the package.

A driver-side value a ``mapInPandas`` closure needs ships with the
closure: PySpark pickles the closure with its UDF and broadcasts the
pickled command by itself once it passes
``spark.broadcast.UDFCompressionThreshold``, with the life cycle of the
query's RDD. A hand-made broadcast handle only holds blocks until a
driver GC. ``F.broadcast`` join hints are not broadcasts of values and
stay allowed.
"""

from __future__ import annotations

import ast
import os

import aliyun_emapreduce_datasources_spark as pkg

_CONTEXT_NAMES = {"sc", "sparkContext", "_sc"}


def _is_spark_context(node: ast.expr) -> bool:
    if isinstance(node, ast.Name):
        return node.id in _CONTEXT_NAMES
    if isinstance(node, ast.Attribute):
        return node.attr in _CONTEXT_NAMES
    if isinstance(node, ast.Call):  # SparkContext(...), SparkContext.getOrCreate()
        f = node.func
        if isinstance(f, ast.Attribute):
            f = f.value
        return isinstance(f, ast.Name) and f.id == "SparkContext"
    return False


def raw_broadcasts(source: str, filename: str) -> list[str]:
    hits = []
    for node in ast.walk(ast.parse(source, filename)):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "broadcast"
            and _is_spark_context(node.func.value)
        ):
            hits.append(f"{filename}:{node.lineno}")
    return hits


def test_lint_flags_context_broadcasts_only():
    src = "\n".join(
        [
            "spark.sparkContext.broadcast(x)",
            "sc.broadcast(x)",
            "SparkContext.getOrCreate().broadcast(x)",
            "df.join(F.broadcast(small), 'k')",
            "F.broadcast(small)",
        ]
    )
    assert raw_broadcasts(src, "t.py") == ["t.py:1", "t.py:2", "t.py:3"]


def test_package_has_no_raw_broadcast():
    root = os.path.dirname(pkg.__file__)
    hits = []
    for dirpath, _, files in os.walk(root):
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                with open(path, encoding="utf-8") as f:
                    hits += raw_broadcasts(f.read(), os.path.relpath(path, root))
    assert hits == []
