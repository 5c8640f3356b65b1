"""``sources.tables.parquet_schema``: each table's parquet schema is inferred
once per process, and the cached entry follows the file and the confs that
shape inference."""

from __future__ import annotations

import shutil
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from go_web_mapreduce_spark.session import scoped_conf
from go_web_mapreduce_spark.sources.tables import TABLES, load_table, parquet_schema

SF001 = "/root/testdata/sf0.01"


def _build_jobs(spark, build) -> int:
    """Number of Spark jobs ``build()`` runs on this thread."""
    sc, tracker = spark.sparkContext, spark.sparkContext.statusTracker()
    probe, sentinel = f"probe-{uuid.uuid4()}", f"sentinel-{uuid.uuid4()}"
    try:
        sc.setJobGroup(probe, "jobs of the build")
        build()
        # the listener bus is asynchronous but ordered: once it has seen the
        # sentinel's job it has seen every job the build started
        sc.setJobGroup(sentinel, "sentinel")
        spark.range(1).write.mode("overwrite").format("noop").save()
        deadline = time.time() + 30
        while not tracker.getJobIdsForGroup(sentinel) and time.time() < deadline:
            time.sleep(0.01)
        assert tracker.getJobIdsForGroup(sentinel)
        return len(tracker.getJobIdsForGroup(probe))
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description",
                     "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)


def test_second_load_runs_no_spark_job(spark, sf_dir, tmp_path):
    # a fresh copy: the first load below is a cache miss whatever ran before
    shutil.copy(f"{sf_dir}/lineitem.parquet", tmp_path / "lineitem.parquet")
    first = _build_jobs(spark, lambda: load_table(spark, str(tmp_path), "lineitem"))
    assert first >= 1  # Spark's footer-merge inference job
    assert _build_jobs(spark, lambda: load_table(spark, str(tmp_path), "lineitem")) == 0
    again = load_table(spark, str(tmp_path), "lineitem")
    assert again.count() == spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()


def test_rewritten_file_returns_new_schema(spark, tmp_path):
    path = str(tmp_path / "region.parquet")
    pq.write_table(pa.table({"r_regionkey": pa.array([0, 1], pa.int64())}), path)
    assert parquet_schema(spark, path).fieldNames() == ["r_regionkey"]
    pq.write_table(
        pa.table({"r_regionkey": pa.array([0], pa.int32()), "r_name": ["AFRICA"]}), path
    )
    assert parquet_schema(spark, path) == spark.read.parquet(path).schema
    df = load_table(spark, str(tmp_path), "region")
    assert [(f.name, f.dataType.simpleString()) for f in df.schema] == [
        ("r_regionkey", "int"), ("r_name", "string")
    ]
    assert df.collect()[0]["r_name"] == "AFRICA"


def test_rewritten_directory_returns_new_schema(spark, tmp_path):
    path = str(tmp_path / "nation.parquet")
    spark.range(3).write.mode("overwrite").parquet(path)
    assert parquet_schema(spark, path).fieldNames() == ["id"]
    spark.range(3).selectExpr("id", "cast(id AS string) AS s").write.mode(
        "overwrite"
    ).parquet(path)
    assert parquet_schema(spark, path).fieldNames() == ["id", "s"]


def test_inference_conf_flip_returns_that_confs_schema(spark, tmp_path):
    path = str(tmp_path / "part.parquet")
    pq.write_table(pa.table({"b": pa.array([b"x"], pa.binary())}), path)
    key = "spark.sql.parquet.binaryAsString"
    with scoped_conf(spark, **{key: "false"}):
        assert parquet_schema(spark, path)["b"].dataType.simpleString() == "binary"
    with scoped_conf(spark, **{key: "true"}):
        assert parquet_schema(spark, path)["b"].dataType.simpleString() == "string"
        assert load_table(spark, str(tmp_path), "part").collect()[0]["b"] == "x"
    with scoped_conf(spark, **{key: "false"}):
        assert parquet_schema(spark, path)["b"].dataType.simpleString() == "binary"


@pytest.mark.parametrize("name", TABLES)
def test_cached_schema_equals_inference(spark, name):
    path = f"{SF001}/{name}.parquet"
    parquet_schema(spark, path)  # fills the entry, or finds it
    assert parquet_schema(spark, path) == spark.read.parquet(path).schema
