"""End-to-end golden mechanism (SURVEY.md §5, adopted pattern 3): every
registered query with a DuckDB oracle must match it at sf0.001 —
order-insensitive, column-name-sorted, floats normalized — the same
discipline the driver applies at sf0.01. Every run builds and reads the
query inside ``released()`` and then checks that it left nothing behind."""

from __future__ import annotations

import math
import os
import tempfile

import duckdb
import pytest

from go_web_mapreduce_spark.queries import REGISTRY
from go_web_mapreduce_spark.sources.sinks import released, scratch_dir
from go_web_mapreduce_spark.sources.tables import TABLES

from conftest import SF_DIR


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.6f}"
    return str(v)


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)


@pytest.fixture(scope="module")
def own_tmp(tmp_path_factory):
    """A temp dir private to this module: ``tempfile`` users create their
    entries there, so no other process on the host can add one that the
    leftover check would see."""
    prev = tempfile.tempdir
    tempfile.tempdir = str(tmp_path_factory.mktemp("tmp"))
    yield
    tempfile.tempdir = prev


def leftovers(spark):
    """What a query could leave outside its result: catalog tables and
    temp views, top-level ``spark_graft_*`` entries in the temp dir, nonce
    dirs under the scratch root and persistent RDDs (pins)."""
    tables = {t.name for t in spark.catalog.listTables()}
    tmp = {e for e in os.listdir(tempfile.gettempdir()) if e.startswith("spark_graft_")}
    root = os.path.dirname(scratch_dir("probe"))
    nonces = set(os.listdir(root)) if os.path.isdir(root) else set()
    rdds = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    return tables, tmp, nonces, rdds


def assert_left_nothing(spark, name, before):
    """Once ``released()`` has exited, no new catalog table or temp view,
    no new top-level temp entry besides the one exit-removed scratch root,
    no nonce dir and no persistent RDD, for every query: memory sinks drop
    their views, SQL-string queries pass their frames as ``spark.sql``
    arguments instead of naming a view two submissions could race on, and
    the scope frees the query's pins, scratch dirs and scratch tables."""
    tables, tmp, nonces, rdds = leftovers(spark)
    scratch_root = os.path.basename(os.path.dirname(scratch_dir("probe")))
    assert tmp - before[1] <= {scratch_root}, name
    assert tables - before[0] == set(), name
    assert nonces - before[2] == set(), name
    assert rdds - before[3] == set(), name


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


ORACLE_QUERIES = sorted(n for n, s in REGISTRY.items() if s.oracle is not None)
ROWS_ONLY_QUERIES = sorted(n for n, s in REGISTRY.items() if s.oracle is None)


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_query_matches_oracle(spark, duck, own_tmp, name):
    spec = REGISTRY[name]
    before = leftovers(spark)
    with released():
        sdf = spec.fn(spark, SF_DIR)
        scols, srows = sdf.columns, [tuple(r) for r in sdf.collect()]
    assert_left_nothing(spark, name, before)
    res = duck.execute(spec.oracle)
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    assert sorted(scols) == sorted(dcols)
    assert len(srows) == len(drows)
    assert norm_rows(scols, srows) == norm_rows(dcols, drows)


@pytest.mark.parametrize("name", ROWS_ONLY_QUERIES)
def test_rows_only_query_runs(spark, own_tmp, name):
    spec = REGISTRY[name]
    before = leftovers(spark)
    with released():
        df = spec.fn(spark, SF_DIR)
        assert df.count() >= 0
        assert df.columns
    assert_left_nothing(spark, name, before)
