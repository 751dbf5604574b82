"""The parquet schema memo behind ``queries._util.T``: a known table is
read with its schema given (no footer-inference job), and the memo key
(path, file identity, inference confs) sees every change that could
change the inferred schema."""

from __future__ import annotations

import os
from contextlib import contextmanager

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import types as T_

from pygdf_spark.queries._util import T


@contextmanager
def _conf(spark, key, value):
    prev = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def _write(path, **cols):
    pq.write_table(pa.table(cols), path)


def test_second_read_launches_no_job(spark, tmp_path, jobs):
    _write(str(tmp_path / "t.parquet"), a=[1, 2, 3], s=["x", "y", "z"])
    first, _ = jobs(lambda: T(spark, str(tmp_path), "t"))
    second, n = jobs(lambda: T(spark, str(tmp_path), "t"))
    assert n == 0
    assert second.schema == first.schema
    assert second.count() == 3


def test_rewritten_file_returns_new_schema(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    _write(path, a=[1, 2])
    assert T(spark, str(tmp_path), "t").columns == ["a"]
    _write(path, a=[1, 2, 3], b=["p", "q", "r"])
    df = T(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    assert sorted(r.b for r in df.collect()) == ["p", "q", "r"]


def test_part_file_added_to_directory_table_is_seen(spark, tmp_path, jobs):
    table = tmp_path / "t.parquet"
    spark.range(6).selectExpr("id AS a").repartition(3).write.parquet(str(table))
    with _conf(spark, "spark.sql.parquet.mergeSchema", "true"):
        assert T(spark, str(tmp_path), "t").count() == 6
        _write(str(table / "part-99999-extra.parquet"), a=[100, 101], b=["p", "q"])
        df, n = jobs(lambda: T(spark, str(tmp_path), "t"))
        assert n > 0  # the new file's identity missed the memo
        assert df.columns == ["a", "b"]
        assert df.count() == 8


def test_missing_table_raises_path_not_found(spark, tmp_path):
    with pytest.raises(AnalysisException) as memo_err:
        T(spark, str(tmp_path), "nope")
    with pytest.raises(AnalysisException) as spark_err:
        spark.read.parquet(os.path.join(str(tmp_path), "nope.parquet"))
    assert memo_err.value.getCondition() == "PATH_NOT_FOUND"
    assert memo_err.value.getCondition() == spark_err.value.getCondition()


def test_binary_as_string_conf_is_part_of_the_key(spark, tmp_path):
    _write(str(tmp_path / "t.parquet"), b=pa.array([b"ab", b"cd"], pa.binary()))
    with _conf(spark, "spark.sql.parquet.binaryAsString", "false"):
        assert T(spark, str(tmp_path), "t").schema["b"].dataType == T_.BinaryType()
    with _conf(spark, "spark.sql.parquet.binaryAsString", "true"):
        df = T(spark, str(tmp_path), "t")
        assert df.schema["b"].dataType == T_.StringType()
        assert sorted(r.b for r in df.collect()) == ["ab", "cd"]


def test_gd_read_parquet_second_read_launches_no_job(spark, tmp_path, jobs):
    import pygdf_spark as gd

    path = str(tmp_path / "t.parquet")
    _write(path, a=[1, 2, 3, 4], s=["w", "x", "y", "z"])

    def read():
        return gd.read_parquet(path, spark=spark, columns=["s"], filters="a > 2")

    read()
    second, n = jobs(read)
    assert n == 0
    assert list(second.columns) == ["s"]
    assert sorted(second.to_pandas()["s"]) == ["y", "z"]
