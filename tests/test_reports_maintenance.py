"""Reports layer (9 dashboard queries) + maintenance ops over a real
pipeline-produced warehouse."""

import json
from datetime import datetime, timezone

import pytest

from global_seismic_data_pipeline_spark.pipeline import gold, maintenance, reports
from global_seismic_data_pipeline_spark.pipeline.runner import build_pipeline
from global_seismic_data_pipeline_spark.sources.warehouse import Warehouse

CLOCK = datetime(2025, 6, 1, 12, 0, 0)


def _feature(fid, t_ms, lon, lat, depth, mag):
    return {"type": "Feature", "id": fid,
            "properties": {"time": t_ms, "mag": mag, "place": f"near {fid}",
                           "type": "earthquake"},
            "geometry": {"type": "Point", "coordinates": [lon, lat, depth]}}


def _ms(y, m, d, h=0):
    return int(datetime(y, m, d, h, tzinfo=timezone.utc).timestamp() * 1000)


@pytest.fixture(scope="module")
def warehouse(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("repwh"))
    feats = [
        _feature("r1", _ms(2025, 5, 1, 1), 139.0, 35.0, 30.0, 5.2),
        _feature("r2", _ms(2025, 5, 1, 2), -120.0, 36.0, 10.0, 7.3),
        _feature("r3", _ms(2025, 5, 2, 3), -30.0, 0.0, 500.0, 6.1),
        _feature("r4", _ms(2025, 5, 3, 5), 100.0, -2.0, 80.0, 4.4),
    ]
    p = tmp_path_factory.mktemp("repgeo") / "q.geojson"
    p.write_text(json.dumps({"type": "FeatureCollection", "features": feats}))
    results = build_pipeline(spark, root, geojson_path=str(p), clock=CLOCK).run()
    assert all(r.status == "SUCCESS" for r in results), results
    return Warehouse(spark, root)


def test_all_nine_reports_run(spark, warehouse):
    out = reports.run_all(warehouse)
    assert set(out) == set(reports.ALL_REPORTS)
    counts = {name: df.count() for name, df in out.items()}
    assert counts["events_by_region"] == 4      # 4 distinct regions
    assert counts["significant_event_map"] == 3  # M >= 5
    assert counts["recent_major_events"] == 2    # M >= 6
    assert counts["daily_trend"] == 3            # 3 days
    assert counts["watermark_status"] == 2       # bronze + silver entries


def test_report_values(spark, warehouse):
    reports.run_all(warehouse)
    dist = {
        r.magnitude_category: r["count"]
        for r in reports.magnitude_distribution(spark).collect()
    }
    assert dist == {"7-7.9 Major": 1, "6-6.9 Strong": 1,
                    "5-5.9 Moderate": 1, "4-4.9 Light": 1}
    trend = reports.daily_trend(spark).collect()
    assert [r.total_events for r in trend] == [2, 1, 1]
    assert trend[1].rolling_7d_avg == 0.0  # ROUND(3/7, 0)

    monthly = reports.monthly_trends(spark).collect()
    assert len(monthly) == 1 and monthly[0].events == 4

    dmg = reports.damage_potential_summary(spark).collect()
    # custom collation: EXTREME before HIGH before MODERATE...
    order = [r.damage_potential for r in dmg]
    rank = {"EXTREME": 1, "HIGH": 2, "MODERATE": 3, "LOW": 4}
    assert order == sorted(order, key=lambda d: rank.get(d, 5))


def test_compact_reduces_files(spark, warehouse):
    before = warehouse.table_stats("silver_earthquakes")
    res = maintenance.compact(
        warehouse, "silver_earthquakes",
        sort_cols=("magnitude", "event_time"), target_file_mb=128,
    )
    assert res["files_after"] <= before["num_files"]
    assert res["files_after"] >= 1
    assert warehouse.read("silver_earthquakes").count() == 4  # content intact


def test_optimize_all_and_vacuum(spark, warehouse):
    results = maintenance.optimize_all(warehouse)
    assert "bronze_earthquakes" in results and "gold_regional_risk" in results
    # vacuum removes nothing when no interrupted writes exist
    assert maintenance.vacuum(warehouse) == 0
    # simulate an interrupted write, then vacuum it
    import os
    leftover = os.path.join(warehouse.root, ".staging-x-deadbeef")
    os.makedirs(leftover)
    assert maintenance.vacuum(warehouse) == 1
    assert not os.path.isdir(leftover)

def test_dashboard_renders_all_sections(spark, warehouse, tmp_path):
    from global_seismic_data_pipeline_spark.pipeline import dashboard

    path = dashboard.save_dashboard(
        warehouse, str(tmp_path / "dash.html"), clock=CLOCK
    )
    page = open(path, encoding="utf-8").read()
    assert page.startswith("<!doctype html>")
    # every report section and every KPI caption present
    for name in reports.ALL_REPORTS:
        assert f"<h2>{name}</h2>" in page
    for _, caption, _ in dashboard._KPI_CARDS:
        assert caption in page
    # real values from the 4-event fixture: total count + max magnitude
    assert '<div class="num">4</div>' in page
    assert ">7.3<" in page
    assert "rendered 2025-06-01 12:00 UTC" in page


def test_second_dashboard_page_skips_schema_inference(spark, warehouse, jobs_launched):
    """An unchanged warehouse re-renders without re-inferring its tables'
    schemas: 9 of the page's ~22 jobs were inference (Warehouse.read)."""
    from global_seismic_data_pipeline_spark.pipeline import dashboard

    first = dashboard.render_dashboard(warehouse, clock=CLOCK)
    with jobs_launched() as jobs:
        second = dashboard.render_dashboard(warehouse, clock=CLOCK)
    assert second == first
    assert jobs[0] <= 14


def test_run_gold_counts_equal_table_counts(spark, warehouse):
    counts = gold.run_gold(warehouse, clock=CLOCK)
    assert set(counts) == set(gold.GOLD_TABLES + gold.PHYSICS_TABLES)
    for t, n in counts.items():
        assert n == warehouse.read(t).count(), t


def test_dashboard_escapes_markup(spark, tmp_path):
    from pyspark.sql import functions as F

    from global_seismic_data_pipeline_spark.pipeline import dashboard

    df = spark.createDataFrame(
        [("<script>alert(1)</script>", 1)], "name string, n long"
    )
    block = dashboard.render_table(df, "t<i>tle")
    assert "<script>" not in block
    assert "&lt;script&gt;" in block and "t&lt;i&gt;tle" in block


def test_retention_delete_partition_drop_fast_path(spark, tmp_path):
    """Date-partitioned table: expired partitions are removed as whole
    directories — no surviving row is rewritten (file identity pinned)."""
    import os

    from pyspark.sql import functions as F

    from global_seismic_data_pipeline_spark.pipeline import maintenance

    wh = Warehouse(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [("2024-01-01", 1), ("2024-01-02", 2), ("2024-01-03", 3)],
        "day string, v long",
    )
    wh.overwrite(df, "t", partition_by=["day"])
    survivors_before = {
        os.path.join(r, f)
        for r, _, fs in os.walk(wh.path("t") + "/day=2024-01-03")
        for f in fs
    }
    out = maintenance.retention_delete(wh, "t", "day", "2024-01-03")
    assert out == {"mode": "partition_drop", "partitions_dropped": 2}
    survivors_after = {
        os.path.join(r, f)
        for r, _, fs in os.walk(wh.path("t") + "/day=2024-01-03")
        for f in fs
    }
    assert survivors_before == survivors_after  # untouched, not rewritten
    # hive directory reads type-infer the partition value (str → date)
    assert {str(r.day) for r in wh.read("t").collect()} == {"2024-01-03"}
    # idempotent
    assert maintenance.retention_delete(wh, "t", "day", "2024-01-03") == {
        "mode": "partition_drop",
        "partitions_dropped": 0,
    }


def test_retention_delete_rewrite_path(spark, tmp_path):
    """Unpartitioned table: filter-rewrite; nulls are conservatively
    kept in both regimes."""
    from global_seismic_data_pipeline_spark.pipeline import maintenance

    wh = Warehouse(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [(1, 10), (2, 20), (None, 30), (5, 50)], "age long, v long"
    )
    wh.overwrite(df, "t")
    out = maintenance.retention_delete(wh, "t", "age", 2)
    assert out == {"mode": "rewrite", "rows_deleted": 1}
    assert {r.v for r in wh.read("t").collect()} == {20, 30, 50}


def test_retention_delete_refuses_non_lexicographic_partitions(
    spark, tmp_path
):
    """Partitioned on UNPADDED integers ("100" < "20" lexicographically):
    the fast path must refuse and fall back to the filter-rewrite, keeping
    exactly the typed-comparison survivors — never rmtree the wrong dirs."""
    from global_seismic_data_pipeline_spark.pipeline import maintenance

    wh = Warehouse(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [(5, 1), (20, 2), (100, 3)], "age long, v long"
    )
    wh.overwrite(df, "t", partition_by=["age"])
    out = maintenance.retention_delete(wh, "t", "age", 20)
    assert out["mode"] == "rewrite"  # refused the string-compare fast path
    # age=100 survives (100 >= 20); lexicographic compare would have
    # deleted it ("100" < "20") and kept age=5
    assert {r.age for r in wh.read("t").collect()} == {20, 100}


def test_retention_delete_fast_path_zero_padded_ints(spark, tmp_path):
    """Uniform-width zero-padded values order lexicographically like
    values — the directory-drop fast path stays available."""
    from global_seismic_data_pipeline_spark.pipeline import maintenance

    wh = Warehouse(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [("005", 1), ("020", 2), ("100", 3)], "age string, v long"
    )
    wh.overwrite(df, "t", partition_by=["age"])
    out = maintenance.retention_delete(wh, "t", "age", "020")
    assert out == {"mode": "partition_drop", "partitions_dropped": 1}
    # hive reads type-infer "020" → 20; compare numerically
    assert {int(r.age) for r in wh.read("t").collect()} == {20, 100}


def test_retention_delete_fast_path_encoded_timestamp_partitions(
    spark, tmp_path
):
    """Timestamp-grain partition values hive-encode ':' as '%3A' in the
    directory name. '%' (0x25) sorts before ':' (0x3A), so comparing the
    RAW directory string against the unencoded cutoff would put EVERY
    same-day timestamp below the cutoff — deleting unexpired partitions.
    The fast path must decode before comparing (and still rmtree the raw
    encoded directory)."""
    import os

    from global_seismic_data_pipeline_spark.pipeline import maintenance

    wh = Warehouse(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [
            ("2024-01-01 23:00:00", 1),  # previous day → expired
            ("2024-01-02 08:00:00", 2),  # same day, before cutoff → expired
            ("2024-01-02 12:00:00", 3),  # same day, AFTER cutoff → survives
        ],
        "ts string, v long",
    )
    wh.overwrite(df, "t", partition_by=["ts"])
    # precondition: the hazard is real — dirs on disk are %-encoded
    assert any("%3A" in d for d in os.listdir(wh.path("t")))
    out = maintenance.retention_delete(wh, "t", "ts", "2024-01-02 09:00:00")
    assert out == {"mode": "partition_drop", "partitions_dropped": 2}
    assert {str(r.ts) for r in wh.read("t").collect()} == {
        "2024-01-02 12:00:00"
    }
    # idempotent
    assert maintenance.retention_delete(
        wh, "t", "ts", "2024-01-02 09:00:00"
    ) == {"mode": "partition_drop", "partitions_dropped": 0}


def test_compact_bucketed_preserves_colocated_join(spark, tmp_path):
    """Repeated bucketed appends pile up files; compaction shrinks the
    file count back to ~#buckets, keeps every row, and the bucket join
    still plans WITHOUT an Exchange (the property the store exists for)."""
    from pyspark.sql import functions as F

    from global_seismic_data_pipeline_spark.pipeline import maintenance

    wh = Warehouse(spark, str(tmp_path / "wh"))
    n_b = 4
    base = spark.range(100).select(F.col("id").alias("k"), F.lit(0).alias("batch"))
    wh.save_bucketed(base, "cb_store", ("k",), num_buckets=n_b, sort_cols=("k",))
    for i in range(1, 4):
        batch = spark.range(100 * i + 100, 100 * i + 200).select(
            F.col("id").alias("k"), F.lit(i).alias("batch")
        )
        wh.append_bucketed(batch, "cb_store", ("k",), num_buckets=n_b, sort_cols=("k",))
    out = maintenance.compact_bucketed(
        wh, "cb_store", ("k",), num_buckets=n_b, sort_cols=("k",)
    )
    assert out["files_before"] > n_b >= out["files_after"]
    got = spark.table("cb_store")
    assert got.count() == 400  # every row survived (0-99 ∪ 200-499)
    # co-located join property intact: bucket-bucket SMJ, no Exchange
    probe = wh.save_bucketed(
        spark.range(250).select(F.col("id").alias("k")),
        "cb_probe", ("k",), num_buckets=n_b, sort_cols=("k",),
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = got.join(probe, "k")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan and "Exchange" not in plan
        # store ids: 0-99 ∪ 200-499; probe 0-249 → 100 + 50 overlap
        assert j.count() == 150
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    spark.sql("DROP TABLE IF EXISTS cb_store")
    spark.sql("DROP TABLE IF EXISTS cb_probe")
