"""The integer-exact family keeps one quantization law and one block
grid, both in ``similarity/intdot.py``.

A second ``floor(x·1e6)`` (as a Column or in numpy) or a second
``.cogroup(`` in package code shows up here. The DuckDB oracle SQL
strings spell the law too; they are strings, not calls, and stay the
independent reference.
"""

from __future__ import annotations

import ast
import os

import aliyun_emapreduce_datasources_spark as pkg

_SCALE_NAMES = {"QSCALE", "SCALE", "QUANT_SCALE"}


def _is_micro_scale(node: ast.AST) -> bool:
    """1e6 as a literal, a scale constant, or either wrapped in a call
    such as ``F.lit(...)`` or ``float(...)``."""
    if isinstance(node, ast.Constant):
        return isinstance(node.value, (int, float)) and node.value == 1_000_000
    if isinstance(node, ast.Name):
        return node.id in _SCALE_NAMES
    if isinstance(node, ast.Attribute):
        return node.attr in _SCALE_NAMES
    if isinstance(node, ast.Call) and len(node.args) == 1:
        return _is_micro_scale(node.args[0])
    return False


def _is_micro_floor(node: ast.AST) -> bool:
    if not (isinstance(node, ast.Call) and node.args):
        return False
    f = node.func
    name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
    arg = node.args[0]
    return (
        name == "floor"
        and isinstance(arg, ast.BinOp)
        and isinstance(arg.op, ast.Mult)
        and (_is_micro_scale(arg.left) or _is_micro_scale(arg.right))
    )


def _is_cogroup(node: ast.AST) -> bool:
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "cogroup"
    )


def sites(source: str, filename: str, hit) -> list[str]:
    return [
        f"{filename}:{node.lineno}"
        for node in ast.walk(ast.parse(source, filename))
        if hit(node)
    ]


def _package_sites(hit) -> list[str]:
    root = os.path.dirname(pkg.__file__)
    out = []
    for dirpath, _, files in os.walk(root):
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                with open(path, encoding="utf-8") as f:
                    out += sites(f.read(), os.path.relpath(path, root), hit)
    return sorted(out)


def test_lint_finds_every_spelling_of_the_law():
    src = "\n".join(
        [
            "F.floor(x.cast('double') * F.lit(1000000.0))",
            "np.floor(mat * 1e6)",
            "np.floor(X * float(QSCALE))",
            "F.floor(x * F.lit(float(SCALE)))",
            "math.floor(float(v) * SCALE)",
            "np.floor(mat * QUANT_SCALE)",
            "F.floor(F.col('ts') / 5000)",
            "F.floor(F.col('value') * F.lit(100.0))",
            "df.groupBy('a').cogroup(other.groupBy('a'))",
            "sql = 'SELECT FLOOR(CAST(x AS DOUBLE) * 1000000.0)'",
        ]
    )
    assert sites(src, "t.py", _is_micro_floor) == [f"t.py:{i}" for i in range(1, 7)]
    assert sites(src, "t.py", _is_cogroup) == ["t.py:9"]


def test_one_quantization_law():
    hits = _package_sites(_is_micro_floor)
    assert len(hits) == 2, hits  # intdot.micro and intdot.micro_np
    assert all(h.startswith(os.path.join("similarity", "intdot.py:")) for h in hits), hits


def test_one_block_grid():
    hits = _package_sites(_is_cogroup)
    assert len(hits) == 1 and hits[0].startswith(
        os.path.join("similarity", "intdot.py:")
    ), hits
