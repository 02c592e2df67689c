"""The media verbs run through one row-mapper.

Every ``multimodal`` verb that maps rows in Python goes through
``media._map_rows``: the Arrow batch loop, the column zip and the output
frame are written once. A verb that hand-writes its own
``mapInPandas`` loop, or walks a batch with ``iterrows`` (a pandas
Series per row), shows up here.
"""

from __future__ import annotations

import ast
import glob
import os

import aliyun_emapreduce_datasources_spark.multimodal as multimodal


def row_loop_sites(source: str, filename: str) -> list[tuple]:
    """(file, line, function, method) of each ``.mapInPandas(`` and
    ``.iterrows(`` call; function is the innermost enclosing def."""
    hits = []

    def walk(node: ast.AST, func: str) -> None:
        for child in ast.iter_child_nodes(node):
            name = func
            if isinstance(child, ast.FunctionDef | ast.AsyncFunctionDef):
                name = child.name
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr in ("mapInPandas", "iterrows")
            ):
                hits.append((filename, child.lineno, func, child.func.attr))
            walk(child, name)

    walk(ast.parse(source, filename), "<module>")
    return hits


def test_lint_finds_map_and_iterrows_calls():
    src = "\n".join(
        [
            "def f(df):",
            "    return df.mapInPandas(run, schema)",
            "def g(pdf):",
            "    for _, row in pdf.iterrows():",
            "        pass",
            "mapInPandas = 1",
        ]
    )
    assert row_loop_sites(src, "t.py") == [
        ("t.py", 2, "f", "mapInPandas"),
        ("t.py", 4, "g", "iterrows"),
    ]


def test_multimodal_has_one_map_in_pandas():
    root = os.path.dirname(multimodal.__file__)
    hits = []
    for path in sorted(glob.glob(os.path.join(root, "*.py"))):
        with open(path, encoding="utf-8") as f:
            hits += row_loop_sites(f.read(), os.path.basename(path))
    sites = [(f, func, method) for f, _, func, method in hits]
    assert sites == [("media.py", "_map_rows", "mapInPandas")], hits
