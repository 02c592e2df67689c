"""The ANN top-k paths keep sharing one search core.

``similarity/score.py`` holds the per-batch top-k pre-reduction, the
candidate schema and the exact-rescore ``mapInPandas``. A path that
grows its own copy again shows up here: a second ``np.argpartition``,
a second ``CAND_SCHEMA`` or a ``mapInPandas`` outside the core and the
index-building passes.
"""

from __future__ import annotations

import ast
import os

import aliyun_emapreduce_datasources_spark as pkg

ANN_MODULES = ("bruteforce", "quantize", "pq", "lsh", "ivf", "score")
INDEX_BUILDERS = {"encode_corpus", "assign_clusters", "_corpus_signatures"}


def _sources() -> dict[str, str]:
    root = os.path.join(os.path.dirname(pkg.__file__), "similarity")
    out = {}
    for name in ANN_MODULES:
        with open(os.path.join(root, f"{name}.py"), encoding="utf-8") as f:
            out[name] = f.read()
    return out


def map_in_pandas_sites(source: str, filename: str) -> list[tuple[str, str]]:
    """(filename, top-level function) of every ``.mapInPandas(`` call."""
    sites = []
    for top in ast.parse(source, filename).body:
        for node in ast.walk(top):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "mapInPandas"
            ):
                sites.append((filename, getattr(top, "name", "<module>")))
    return sites


def _count(source: str, filename: str, hit) -> int:
    return sum(1 for node in ast.walk(ast.parse(source, filename)) if hit(node))


def _is_argpartition(node: ast.AST) -> bool:
    return (
        isinstance(node, ast.Attribute)
        and node.attr == "argpartition"
        and isinstance(node.value, ast.Name)
        and node.value.id == "np"
    )


def _defines_cand_schema(node: ast.AST) -> bool:
    return isinstance(node, ast.Assign) and any(
        isinstance(t, ast.Name) and t.id == "CAND_SCHEMA" for t in node.targets
    )


def test_lint_finds_enclosing_function():
    src = "def f(df):\n    def g(x):\n        return x\n    return df.mapInPandas(g, s)\n"
    assert map_in_pandas_sites(src, "t.py") == [("t.py", "f")]


def test_one_batch_top_k_and_one_candidate_schema():
    srcs = _sources()
    assert sum(_count(s, n, _is_argpartition) for n, s in srcs.items()) == 1
    assert sum(_count(s, n, _defines_cand_schema) for n, s in srcs.items()) == 1


def test_map_in_pandas_only_in_core_and_index_builders():
    stray = [
        (name, fn)
        for name, src in _sources().items()
        for _, fn in map_in_pandas_sites(src, name)
        if name != "score" and fn not in INDEX_BUILDERS
    ]
    assert stray == []
