"""Driver-side literals are local relations: ``sources.tables.local_frame``
is the engine's one ``createDataFrame`` call, and the DataFrame it builds
carries its rows in the plan instead of producing them in a Python worker."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

from go_web_mapreduce_spark.sources.tables import kv_from_rows, local_frame

PKG = Path(__file__).resolve().parent.parent / "go_web_mapreduce_spark"


def test_create_dataframe_called_only_in_local_frame():
    sites = []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text())
        owner = {}
        for fn in ast.walk(tree):
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                for n in ast.walk(fn):
                    owner.setdefault(n, fn.name)  # outermost function wins
        for n in ast.walk(tree):
            if (isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
                    and n.func.attr == "createDataFrame"):
                sites.append((path.relative_to(PKG).as_posix(), owner.get(n)))
    assert sites == [("sources/tables.py", "local_frame")]


def test_kv_literal_is_a_local_relation_without_python_rdd(spark):
    df = kv_from_rows(spark, [("", "bacon"), ("k", "ham")])
    qe = df._jdf.queryExecution()
    assert qe.optimizedPlan().nodeName() == "LocalRelation"
    assert "PythonRDD" not in qe.toRdd().toDebugString()
    assert df.collect() == [("", "bacon"), ("k", "ham")]


@pytest.mark.parametrize(
    "rows, schema",
    [
        ([("a", "x"), ("", None)], "key string, value string"),
        ([(0.5,), (-1.25,)], "q double"),
        ([(1, 2**40), (2, -3)], "step int, cnt bigint"),
        ([(0, [1.0, -2.5]), (1, [])], "cid int, centroid array<double>"),
        ([], "user_id bigint, start_us bigint, n_events bigint, span_us bigint"),
        ([("b", None, 3.0)], "band string, lo double, hi double"),
    ],
)
def test_local_frame_matches_list_create_dataframe(spark, rows, schema):
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
