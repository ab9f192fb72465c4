"""The catalog's known-schema reader: inferring a Parquet schema is a
Spark job, so `catalog.read_parquet` infers once per file version and
session setting of the inference confs, and reads with that schema."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import types as T

from iris_pyspark_spark.catalog import load_table, read_parquet
from iris_pyspark_spark.registry import load_all
from iris_pyspark_spark.session import scoped_confs


def test_second_load_launches_no_job(spark, sf_dir, jobs_of):
    load_table(spark, sf_dir, "orders")
    df, jobs = jobs_of(lambda: load_table(spark, sf_dir, "orders"))
    assert jobs == 0
    assert df.schema == spark.read.parquet(f"{sf_dir}/orders.parquet").schema


def test_warm_triangle_count_build_launches_no_job(spark, sf_dir, jobs_of):
    """`g_triangle_count` reads its three scratch artifacts (oriented
    edges, degrees, adjacency lists) with known schemas: once they
    exist, building the query launches no job."""
    small = os.path.join(os.path.dirname(sf_dir), "sf0.001")
    fn = load_all()["g_triangle_count"].fn
    fn(spark, small)
    _, jobs = jobs_of(lambda: fn(spark, small))
    assert jobs == 0


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert read_parquet(spark, path).columns == ["a"]
    pq.write_table(pa.table({"b": ["x"], "c": [1.5]}), path)
    df = read_parquet(spark, path)
    assert df.schema == spark.read.parquet(path).schema
    assert [tuple(r) for r in df.collect()] == [("x", 1.5)]


def test_inference_confs_are_part_of_the_key(spark, tmp_path):
    """An unannotated Parquet BINARY column is binary by default and a
    string under `binaryAsString`; the remembered schema follows the
    conf both ways."""
    path = str(tmp_path / "b.parquet")
    pq.write_table(pa.table({"s": pa.array([b"hi"], pa.binary())}), path)

    def s_type():
        return read_parquet(spark, path).schema["s"].dataType

    assert s_type() == T.BinaryType()
    with scoped_confs(spark, {"spark.sql.parquet.binaryAsString": "true"}):
        assert s_type() == T.StringType()
    assert s_type() == T.BinaryType()


def test_missing_table_raises_path_not_found(spark, tmp_path):
    with pytest.raises(AnalysisException) as err:
        load_table(spark, str(tmp_path), "orders")
    assert err.value.getCondition() == "PATH_NOT_FOUND"
