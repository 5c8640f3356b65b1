"""One pin primitive with one owner.

``sources/sinks.py::pin`` is the engine's only ``localCheckpoint`` and
``scratch_dir`` its only ``tempfile.mkdtemp``; ``released()`` frees what
was made inside it. The source gate is a pure-AST census (no Spark), in
the style of tests/test_reachability.py; the scope tests run on the
session fixture.
"""

from __future__ import annotations

import ast
import threading
from pathlib import Path

import pytest

from go_web_mapreduce_spark.sources.sinks import pin, released

PKG = Path(__file__).resolve().parent.parent / "go_web_mapreduce_spark"
OWNER = PKG / "sources" / "sinks.py"


def _offences(tree: ast.AST) -> list[str]:
    """``.localCheckpoint(`` calls, ``mkdtemp`` references and any
    ``SCRATCH_TABLES`` name under ``tree``."""
    out = []
    for n in ast.walk(tree):
        if (
            isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr == "localCheckpoint"
        ):
            out.append(f"{n.lineno}: .localCheckpoint(")
        elif isinstance(n, ast.Attribute) and n.attr == "mkdtemp":
            out.append(f"{n.lineno}: mkdtemp")
        elif isinstance(n, ast.alias) and n.name in ("mkdtemp", "SCRATCH_TABLES"):
            out.append(f"imports {n.name}")
        elif (isinstance(n, ast.Name) and n.id == "SCRATCH_TABLES") or (
            isinstance(n, ast.Attribute) and n.attr == "SCRATCH_TABLES"
        ):
            out.append(f"{n.lineno}: SCRATCH_TABLES")
    return out


def test_pin_and_scratch_dir_are_the_only_primitives():
    found = {
        str(p.relative_to(PKG)): _offences(ast.parse(p.read_text()))
        for p in sorted(PKG.rglob("*.py"))
        if p != OWNER
    }
    assert {k: v for k, v in found.items() if v} == {}


def test_owner_pins_once():
    calls = [o for o in _offences(ast.parse(OWNER.read_text())) if "localCheckpoint" in o]
    assert len(calls) == 1, calls


def _persistent(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_concurrent_scopes_free_only_their_own_pins(spark):
    """Two threads pin and release in their own scopes, interleaved: the
    first scope to exit frees its pin and not the other's, and a frame
    read after its scope has exited raises instead of recomputing."""
    before = _persistent(spark)
    pinned_both = threading.Barrier(2)
    a_released = threading.Event()
    frames: dict[str, object] = {}
    seen: dict[str, object] = {}

    def a() -> None:
        with released():
            frames["a"] = df = pin(spark.range(100).selectExpr("id % 7 AS k"))
            seen["a"] = df.count()
            pinned_both.wait(timeout=60)
        a_released.set()

    def b() -> None:
        with released():
            frames["b"] = df = pin(spark.range(50).selectExpr("id * 2 AS v"))
            seen["b"] = df.count()
            pinned_both.wait(timeout=60)
            a_released.wait(timeout=60)
            # a's scope has exited: b's pin is still held and readable
            seen["b_after_a"] = df.count()
            seen["held_after_a"] = _persistent(spark) - before

    threads = [threading.Thread(target=f) for f in (a, b)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert seen["a"] == 100 and seen["b"] == 50 and seen["b_after_a"] == 50
    assert len(seen["held_after_a"]) == 1
    assert _persistent(spark) - before == set()
    with pytest.raises(Exception, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
        frames["a"].count()


def test_pin_outside_a_scope_is_left_to_the_context_cleaner(spark):
    """Outside any ``released()`` block a pin behaves as a plain
    ``localCheckpoint(eager=False)``, held until the ContextCleaner
    collects it."""
    before = _persistent(spark)
    df = pin(spark.range(10))
    assert df.count() == 10
    assert len(_persistent(spark) - before) == 1
