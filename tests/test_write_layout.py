"""The write-time layout contract: every whole-table write of a
``maintenance.DEFAULT_CLUSTERING`` table lands in its OPTIMIZE layout, and
``maintenance.compact`` skips a table only while the files that write
left are still exactly the table's files."""

from __future__ import annotations

import glob
import json
import os
from datetime import datetime, timezone

import pyarrow.parquet as pq
import pytest

from global_seismic_data_pipeline_spark.pipeline.maintenance import (
    DEFAULT_CLUSTERING,
    compact,
    optimize_all,
)
from global_seismic_data_pipeline_spark.pipeline.runner import build_pipeline
from global_seismic_data_pipeline_spark.sources.deltawh import DeltaLogWarehouse
from global_seismic_data_pipeline_spark.sources.icebergwh import IcebergWarehouse
from global_seismic_data_pipeline_spark.sources.warehouse import Warehouse

CLOCK = datetime(2025, 6, 1, 12, 0, 0)
KEYS = ("g", "v")


def _data_files(table_dir: str) -> list[str]:
    return sorted(
        glob.glob(os.path.join(table_dir, "**", "*.parquet"), recursive=True)
    )


def _in_key_order(path: str, keys) -> bool:
    """Rows of one parquet file in ascending key order, nulls first (the
    order ``sortWithinPartitions`` writes)."""
    rows = pq.read_table(path, columns=list(keys)).to_pylist()
    tuples = [tuple((r[k] is not None, r[k]) for k in keys) for r in rows]
    return tuples == sorted(tuples)


def _one_sorted_file(table_dir: str, keys) -> bool:
    files = _data_files(table_dir)
    return len(files) == 1 and _in_key_order(files[0], keys)


def _jobs(spark, fn):
    """(Spark jobs ``fn()`` launched, its result), counted under a job
    group through the status tracker."""
    sc = spark.sparkContext
    group = f"write-layout-{id(fn)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def _feature(i: int) -> dict:
    # spread over several tectonic boxes, magnitudes and days, with a
    # null magnitude and a null depth, so every clustering key varies
    boxes = [(139.0, 35.0), (-120.0, 36.0), (100.0, -2.0), (-30.0, 0.0)]
    lon, lat = boxes[i % len(boxes)]
    t = datetime(2025, 5, 1 + i % 9, i % 24, tzinfo=timezone.utc)
    mag = None if i == 7 else round(2.0 + (i * 37 % 60) / 10, 1)
    depth = None if i == 11 else float(5 + i * 13 % 600)
    return {
        "type": "Feature", "id": f"ev{i:03d}",
        "properties": {"time": int(t.timestamp() * 1000), "mag": mag,
                       "magType": "mb", "place": f"near {i}",
                       "type": "earthquake", "status": "reviewed",
                       "net": "us"},
        "geometry": {"type": "Point",
                     "coordinates": [lon + i % 3 * 0.1, lat, depth]},
    }


@pytest.fixture(scope="module")
def pipeline_run(spark, tmp_path_factory):
    """One pipeline run whose ``optimization`` task records, just before it
    runs, each clustered table's files, then its own result and jobs."""
    base = tmp_path_factory.mktemp("layout")
    geo = base / "quakes.geojson"
    geo.write_text(json.dumps({
        "type": "FeatureCollection",
        "features": [_feature(i) for i in range(40)],
    }))
    root = str(base / "wh")
    p = build_pipeline(spark, root, geojson_path=str(geo), clock=CLOCK)
    opt = next(t for t in p.tasks if t.name == "optimization")
    optimize, seen = opt.fn, {}

    def record_then_optimize():
        seen["written"] = {
            name: _one_sorted_file(os.path.join(root, name), keys)
            for name, keys in DEFAULT_CLUSTERING.items()
        }
        seen["jobs"], seen["out"] = _jobs(spark, optimize)
        return seen["out"]

    opt.fn = record_then_optimize
    results = p.run()
    assert [r.status for r in results] == ["SUCCESS"] * len(results)
    return root, optimize, seen


def test_each_clustered_table_is_written_as_one_sorted_file(pipeline_run):
    root, _optimize, seen = pipeline_run
    assert seen["written"] == {name: True for name in DEFAULT_CLUSTERING}
    for name, keys in DEFAULT_CLUSTERING.items():
        assert _one_sorted_file(os.path.join(root, name), keys), name


def test_optimize_all_after_the_run_rewrites_nothing(spark, pipeline_run):
    _root, optimize, seen = pipeline_run
    assert (seen["jobs"], seen["out"]) == (0, {})
    # the task again, on the pipeline's own warehouse
    assert _jobs(spark, optimize) == (0, {})


def _frame(spark, lo: int, hi: int, parts: int = 3):
    return spark.range(lo, hi, numPartitions=parts).selectExpr(
        "id", "CAST(id % 5 AS INT) AS g",
        "CAST((id * 7919) % 1000 AS INT) AS v",
    )


@pytest.mark.parametrize("change", ["append", "second_instance", "raw_write"])
def test_compact_rewrites_after_any_later_write(spark, tmp_path, change):
    root = str(tmp_path / "wh")
    wh = Warehouse(spark, root)
    wh.overwrite_clustered(_frame(spark, 0, 50), "t", KEYS)
    assert _one_sorted_file(wh.path("t"), KEYS)
    jobs, res = _jobs(spark, lambda: compact(wh, "t", sort_cols=KEYS))
    assert (jobs, res["rewritten"], res["bytes"]) == (0, False, 0)

    if change == "append":
        wh.append(_frame(spark, 50, 60), "t")
    elif change == "second_instance":
        Warehouse(spark, root).overwrite(_frame(spark, 0, 60).coalesce(1), "t")
    else:
        _frame(spark, 50, 60).write.mode("append").parquet(wh.path("t"))
    res = compact(wh, "t", sort_cols=KEYS)
    assert res["rewritten"] is True and res["bytes"] > 0
    assert _one_sorted_file(wh.path("t"), KEYS)
    assert wh.read("t").count() == 60


def test_other_keys_still_rewrite(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.overwrite_clustered(_frame(spark, 0, 50), "t", KEYS)
    assert compact(wh, "t", sort_cols=("v",))["rewritten"] is True
    assert _one_sorted_file(wh.path("t"), ("v",))


def test_fresh_warehouse_recompacts_once(spark, tmp_path):
    root = str(tmp_path / "wh")
    Warehouse(spark, root).overwrite_clustered(_frame(spark, 0, 50), "t", KEYS)
    fresh = Warehouse(spark, root)
    assert compact(fresh, "t", sort_cols=KEYS)["rewritten"] is True
    jobs, res = _jobs(spark, lambda: compact(fresh, "t", sort_cols=KEYS))
    assert (jobs, res["rewritten"]) == (0, False)
    assert optimize_all(fresh) == {}  # no DEFAULT_CLUSTERING table here


def test_hive_partitioned_compaction_always_rewrites(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    df = _frame(spark, 0, 60).selectExpr("*", "CAST(id % 3 AS STRING) AS year")
    wh.overwrite_clustered(df, "t", KEYS, partition_by=["year"])
    for _ in range(2):
        assert compact(wh, "t", sort_cols=KEYS)["rewritten"] is True
        assert wh.partition_columns("t") == ["year"]
        parts = [p for p in os.listdir(wh.path("t")) if p.startswith("year=")]
        assert len(parts) == 3
        for part in parts:
            assert len(_data_files(os.path.join(wh.path("t"), part))) == 1
    assert wh.read("t").count() == 60


@pytest.mark.parametrize("curve", ["morton", "hilbert"])
def test_curve_compaction_always_rewrites(spark, tmp_path, curve):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    grid = spark.createDataFrame(
        [(x, y) for x in range(16) for y in range(16)], "a long, b long"
    )
    wh.overwrite_clustered(grid, "t", ("a", "b"))
    for _ in range(2):
        res = compact(wh, "t", zorder_by=("a", "b"), curve=curve)
        assert res["rewritten"] is True and res["files_after"] >= 1
    # the curve layout is not the (a, b) range layout: a key compaction
    # after it rewrites
    assert compact(wh, "t", sort_cols=("a", "b"))["rewritten"] is True
    assert wh.read("t").count() == 256


@pytest.mark.parametrize("wh_cls", [DeltaLogWarehouse, IcebergWarehouse])
def test_compact_and_clustered_merge_on_lakehouse_backends(
    spark, tmp_path, wh_cls
):
    wh = wh_cls(spark, str(tmp_path / "wh"))
    wh.overwrite(_frame(spark, 0, 50, parts=4), "t")
    assert wh.table_stats("t")["num_files"] > 1
    res = compact(wh, "t", sort_cols=KEYS)
    assert res["rewritten"] is True and res["files_after"] == 1
    assert compact(wh, "t", sort_cols=KEYS)["rewritten"] is False

    # the override's merge takes the clustering keys too
    upd = _frame(spark, 40, 70, parts=2)
    wh.merge(upd, "t", ["id"], cluster_by=KEYS)
    assert wh.table_stats("t")["num_files"] == 1
    rows = [(r.g, r.v) for r in wh.read("t").collect()]
    assert rows == sorted(rows) and len(rows) == 70
    assert compact(wh, "t", sort_cols=KEYS)["rewritten"] is False

    wh.append(_frame(spark, 70, 80, parts=1), "t")
    assert compact(wh, "t", sort_cols=KEYS)["rewritten"] is True
    assert wh.read("t").count() == 80
