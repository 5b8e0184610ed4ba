"""``Warehouse.read``'s schema memo: a read of an unchanged table skips
schema inference, and any change to the table's files or to the
inference confs re-infers. Each test fails on a memo that ignores file
changes, except the conf test (fails on one that ignores confs) and the
job-count test (fails without a memo). The page-level job count lives
with the dashboard tests (test_reports_maintenance.py)."""

from __future__ import annotations

import pytest

from global_seismic_data_pipeline_spark.sources.confutil import conf_pinned
from global_seismic_data_pipeline_spark.sources.warehouse import Warehouse


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture
def wh(spark, tmp_path):
    return Warehouse(spark, str(tmp_path / "wh"))


def test_read_after_overwrite_with_new_schema(spark, wh):
    wh.overwrite(spark.createDataFrame([(1, 2)], "a int, b int"), "t")
    assert wh.read("t").columns == ["a", "b"]
    wh.overwrite(spark.createDataFrame([(3, "x")], "a int, c string"), "t")
    df = wh.read("t")
    assert df.schema.simpleString() == "struct<a:int,c:string>"
    assert _rows(df) == [(3, "x")]


def test_read_after_drop_and_recreate(spark, wh):
    wh.overwrite(spark.createDataFrame([(1,)], "a int"), "t")
    assert wh.read("t").columns == ["a"]
    wh.drop("t")
    wh.append(spark.createDataFrame([("y",)], "b string"), "t")
    df = wh.read("t")
    assert df.columns == ["b"]
    assert _rows(df) == [("y",)]


def test_write_by_second_warehouse_or_raw_spark_is_seen(spark, wh):
    wh.overwrite(spark.createDataFrame([(1,)], "a int"), "t")
    assert wh.read("t").columns == ["a"]
    other = Warehouse(spark, wh.root)
    other.overwrite(spark.createDataFrame([(2, 2.5)], "a int, d double"), "t")
    df = wh.read("t")
    assert df.columns == ["a", "d"]
    assert _rows(df) == [(2, 2.5)]

    spark.createDataFrame([("z",)], "e string").write.mode("overwrite").parquet(
        wh.path("t")
    )
    df = wh.read("t")
    assert df.columns == ["e"]
    assert _rows(df) == [("z",)]


def test_read_after_schema_evolving_append(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    with conf_pinned(spark, "spark.sql.parquet.mergeSchema", "true"):
        wh.overwrite(spark.createDataFrame([(1,)], "a int"), "t")
        assert wh.read("t").columns == ["a"]
        wh.append(spark.createDataFrame([(2, "n")], "a int, b string"), "t")
        df = wh.read("t")
        assert df.columns == ["a", "b"]
        assert _rows(df) == [(1, None), (2, "n")]


def test_read_after_pruned_merge_widens_partition_type(spark, tmp_path):
    """A pruned MERGE that adds partition ``p=1.5`` to a table whose
    partition values were all integers turns ``p`` from int into double."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.overwrite(
        spark.createDataFrame([(1, "a", 1), (2, "b", 2)], "k long, v string, p int"),
        "t",
        partition_by=["p"],
    )
    assert dict(wh.read("t").dtypes)["p"] == "int"
    wh.merge(
        spark.createDataFrame([(3, "c", 1.5)], "k long, v string, p double"),
        "t",
        ["k"],
        prune_partition_col="p",
    )
    df = wh.read("t")
    assert dict(df.dtypes)["p"] == "double"
    assert _rows(df) == [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 1.5)]


def test_toggling_merge_schema_reinfers(spark, tmp_path):
    """Two files with different columns: without mergeSchema inference
    reads one footer, (a, b) or (a, c); with it, all three columns."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.append(spark.createDataFrame([(1, 1)], "a int, b int"), "t")
    wh.append(spark.createDataFrame([(2, 2)], "a int, c int"), "t")
    with conf_pinned(spark, "spark.sql.parquet.mergeSchema", "false"):
        assert len(wh.read("t").columns) == 2
    with conf_pinned(spark, "spark.sql.parquet.mergeSchema", "true"):
        df = wh.read("t")
        assert sorted(df.columns) == ["a", "b", "c"]
        assert _rows(df.select("a", "b", "c")) == [(1, 1, None), (2, None, 2)]


def test_second_read_of_unchanged_table_launches_no_job(spark, wh, jobs_launched):
    wh.overwrite(spark.createDataFrame([(1, "x")], "a int, b string"), "t")
    with jobs_launched() as first:
        wh.read("t")
    with jobs_launched() as second:
        df = wh.read("t")
    assert first[0] >= 1
    assert second[0] == 0
    assert _rows(df) == [(1, "x")]
