"""Reachability gate: every top-level engine definition is reached from
a registered query, the service, ``__spark_entry__`` or the benchmark.

A pure-AST census, no Spark. The roots are every ``@query`` function, the
modules ``core``, ``service``, ``http_api``, ``session``, ``registry`` and
``queries``, ``__spark_entry__.py``, ``bench.py`` and ``perfbench/*.py``,
plus each engine module's import-time statements. A package ``__init__``'s
re-exports are not roots: re-exporting a name is not using it. From the
roots the walk follows code identifiers (names and attribute names) to
top-level definitions of the same name anywhere in
``go_web_mapreduce_spark/``. Name
matching over-approximates reach, so whatever it still leaves unreached is
code only tests or tools call — or nothing does. Strings (descriptions,
docstrings, SQL) are not references.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "go_web_mapreduce_spark"
ROOT_MODULES = {"core", "service", "http_api", "session", "registry", "queries"}

# Kept although only tests reach them, keyed "module: name, name".
ALLOWED = {
    # the plan gates' library (tests/test_plans.py, tools/plan_audit.py)
    "plans": {"executed_plan", "pushed_filters", "read_schemas",
              "count_exchanges", "has_broadcast_join",
              "has_partial_aggregation", "is_take_ordered"},
    # Column references that the Arrow minhash and simhash kernels are
    # compared against
    "functions.hashing": {"minhash_from_hashes", "shingle_hashes", "simhash",
                          "simhash_from_hashes", "token_hashes"},
}


def _module_name(path: Path) -> str:
    parts = path.relative_to(PKG).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _names(node: ast.AST) -> set[str]:
    """Code identifiers used anywhere under ``node``."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
    return out


def _defined(stmt: ast.stmt) -> list[str]:
    """Top-level names a statement defines (dunders excluded)."""
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        names = [stmt.name]
    elif isinstance(stmt, ast.Assign):
        names = [t.id for t in stmt.targets if isinstance(t, ast.Name)]
    elif isinstance(stmt, ast.AnnAssign) and isinstance(stmt.target, ast.Name):
        names = [stmt.target.id]
    else:
        names = []
    return [n for n in names if not n.startswith("__")]


def _is_query(stmt: ast.stmt) -> bool:
    return isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)) and any(
        isinstance(d, ast.Call) and isinstance(d.func, ast.Name)
        and d.func.id == "query"
        for d in stmt.decorator_list
    )


def census() -> list[str]:
    """``module.name`` of every top-level engine definition not reached
    from the roots, sorted."""
    defs: dict[str, list[tuple[str, ast.stmt]]] = {}
    aliases: dict[str, set[str]] = {}
    seeds: set[str] = set()
    for path in sorted(PKG.rglob("*.py")):
        mod = _module_name(path)
        tree = ast.parse(path.read_text())
        if mod in ROOT_MODULES:
            seeds |= _names(tree)
            continue
        for stmt in tree.body:
            names = _defined(stmt)
            if _is_query(stmt):
                seeds |= _names(stmt) | {stmt.name}
            elif isinstance(stmt, ast.ImportFrom):
                for a in stmt.names:
                    if a.asname:  # `import x as y`: reaching y reaches x
                        aliases.setdefault(a.asname, set()).add(a.name)
            elif not names and not isinstance(stmt, ast.Import):
                seeds |= _names(stmt)  # runs at import time
            for name in names:
                defs.setdefault(name, []).append((mod, stmt))
    for path in [ROOT / "__spark_entry__.py", ROOT / "bench.py",
                 *sorted((ROOT / "perfbench").glob("*.py"))]:
        seeds |= _names(ast.parse(path.read_text()))

    reached: set[str] = set()
    todo = list(seeds)
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        todo.extend(aliases.get(name, ()))
        for _, stmt in defs.get(name, []):
            todo.extend(_names(stmt) - reached)

    return sorted(
        f"{mod}.{name}"
        for name, sites in defs.items() if name not in reached
        for mod, _ in sites
        if name not in ALLOWED.get(mod, ())
    )


def test_every_engine_definition_is_reached():
    unreached = census()
    assert not unreached, (
        f"{len(unreached)} top-level definitions are reached only from tests "
        "or tools (or from nothing): delete them, or reach them from a "
        "query or the service:\n  " + "\n  ".join(unreached)
    )


def test_allowlist_names_exist():
    """A stale allowlist entry would hide nothing and mislead the reader."""
    defs = {
        (_module_name(p), n)
        for p in PKG.rglob("*.py")
        for s in ast.parse(p.read_text()).body for n in _defined(s)
    }
    for mod, names in ALLOWED.items():
        for name in names:
            assert (mod, name) in defs, f"{mod}.{name} is allowlisted but gone"
