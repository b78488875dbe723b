"""Registry guard over workload.py, by AST (no Spark session).

Every query function is registered, every per-query constant is used by
the module itself, and every registered query has an oracle. A partial
deletion of a query (function gone but constants kept, or the reverse)
fails here instead of leaving dead query code behind. Every registered
query outside a named exemption set reaches package code beyond the
parquet reader.
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


PKG = "openpolicedata_spark"
# The parquet reader every query starts from: reaching it alone means
# the query exercises Spark, not the package.
READER = f"{PKG}.sources.file.read_parquet_repaired"
# Registered queries allowed to reach nothing but READER, one reason each.
READER_ONLY_EXEMPT = {
    **{f"q{i:02d}": "the q01-q50 driver gate" for i in range(1, 51)},
    "q87": "timed by bench.py",
    "q91": "timed by bench.py",
    "q109": "reference that tests compare similarity.semdedup against",
}


def _package_symbols_reached(tree: ast.Module, root: str) -> set[str]:
    """Package symbols `root` reaches, following module-level helpers and
    constants and collecting module-level and function-local imports."""
    imported = {}
    local = {}
    for n in tree.body:
        if isinstance(n, ast.ImportFrom) and (n.module or "").startswith(PKG):
            imported.update((a.asname or a.name, f"{n.module}.{a.name}")
                            for a in n.names)
        elif isinstance(n, ast.FunctionDef):
            local[n.name] = n
        elif isinstance(n, ast.Assign):
            local.update((t.id, n.value) for t in n.targets
                         if isinstance(t, ast.Name))
    seen, todo, reached = set(), [root], set()
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        for sub in ast.walk(local[name]):
            if (isinstance(sub, ast.ImportFrom)
                    and (sub.module or "").startswith(PKG)):
                reached.update(f"{sub.module}.{a.name}" for a in sub.names)
            elif isinstance(sub, ast.Name) and isinstance(sub.ctx, ast.Load):
                if sub.id in imported:
                    reached.add(imported[sub.id])
                elif sub.id in local:
                    todo.append(sub.id)
    return reached


def test_every_query_reaches_package_code():
    """A query whose only package call is the parquet reader checks Spark
    against DuckDB, not this package; it does not belong in the
    registry."""
    tree = _module()
    reader_only = sorted(
        name for name, fn in _dict_keys(tree, "queries").items()
        if re.match(r"q\d+", name).group() not in READER_ONLY_EXEMPT
        and not _package_symbols_reached(tree, fn.id) - {READER})
    assert reader_only == []
