"""Registry guard over workload.py, by AST (no Spark session).

Every query function is registered, every per-query constant is used by
the module itself, and every registered query has an oracle. A partial
deletion of a query (function gone but constants kept, or the reverse)
fails here instead of leaving dead query code behind.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORKLOAD = ROOT / "openpolicedata_spark" / "workload.py"


def _module():
    return ast.parse(WORKLOAD.read_text())


def _dict_keys(tree: ast.Module, fn_name: str) -> dict[str, ast.expr]:
    """The str-keyed dict literal a module-level function builds."""
    fn = next(n for n in tree.body
              if isinstance(n, ast.FunctionDef) and n.name == fn_name)
    (d,) = [n for n in ast.walk(fn) if isinstance(n, ast.Dict)]
    return {k.value: v for k, v in zip(d.keys, d.values)}


def test_every_query_function_is_registered():
    tree = _module()
    registered = {v.id for v in _dict_keys(tree, "queries").values()}
    defined = {n.name for n in tree.body
               if isinstance(n, ast.FunctionDef) and re.match(r"q\d+_", n.name)}
    # production twins are timed by the benchmarks in place of the
    # registered oracle-portable form
    callers = (ROOT / "bench.py").read_text() + "".join(
        p.read_text() for p in sorted((ROOT / "perfbench").glob("*.py")))
    twins = {n for n in defined - registered
             if n.endswith("_prod") and re.search(rf"\.{n}\b", callers)}
    assert defined - registered - twins == set()


def test_every_query_constant_is_used_in_the_module():
    tree = _module()
    pat = re.compile(r"_[qQ]\d+_")
    defined = set()
    for n in tree.body:
        if isinstance(n, ast.FunctionDef):
            names = [n.name]
        elif isinstance(n, ast.Assign):
            names = [t.id for t in n.targets if isinstance(t, ast.Name)]
        else:
            names = []
        defined.update(x for x in names if pat.match(x))
    loaded = {n.id for n in ast.walk(tree)
              if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)}
    assert defined - loaded == set()


def test_queries_and_oracles_have_the_same_keys():
    tree = _module()
    assert set(_dict_keys(tree, "queries")) == set(
        _dict_keys(tree, "oracle_sql"))
