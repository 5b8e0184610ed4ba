"""Salted aggregation equivalence + windowed ingestion loop resume."""

from datetime import datetime, timezone

from pyspark.sql import functions as F

from global_seismic_data_pipeline_spark.operators import skew
from global_seismic_data_pipeline_spark.pipeline import bronze as bz
from global_seismic_data_pipeline_spark.sources.warehouse import Warehouse
from global_seismic_data_pipeline_spark.state import WatermarkStore


def _skewed_df(spark):
    # one hot key carrying 90% of rows
    hot = spark.range(9000).select(
        F.lit("HOT").alias("k"), (F.col("id") % 97).cast("double").alias("v")
    )
    rest = spark.range(1000).select(
        F.concat(F.lit("k"), (F.col("id") % 50).cast("string")).alias("k"),
        (F.col("id") % 31).cast("double").alias("v"),
    )
    return hot.unionByName(rest)


def test_salted_agg_equals_direct(spark):
    df = _skewed_df(spark)
    direct = {
        (r.k): (r.s, r.c, r.mn, r.mx)
        for r in df.groupBy("k")
        .agg(
            F.sum("v").alias("s"),
            F.count("v").alias("c"),
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
        )
        .collect()
    }
    salted = {
        (r.k): (r.s, r.c, r.mn, r.mx)
        for r in skew.salted_agg(
            df,
            ["k"],
            {"s": ("sum", "v"), "c": ("count", "v"),
             "mn": ("min", "v"), "mx": ("max", "v")},
            salt=8,
        ).collect()
    }
    assert salted == direct


def _feature(fid, t):
    ms = int(t.replace(tzinfo=timezone.utc).timestamp() * 1000)
    return {"id": fid, "properties": {"time": ms, "mag": 5.0},
            "geometry": {"coordinates": [139.0, 35.0, 30.0]}}


def test_ingestion_loop_windows_and_resume(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    store = WatermarkStore(wh)
    store.init(bz.BRONZE_TABLE, "time", datetime(2025, 5, 1))

    events = {  # events per window the fake API returns
        "2025-05-01": [_feature("a", datetime(2025, 5, 2, 1))],
        "2025-05-08": [_feature("b", datetime(2025, 5, 9, 1)),
                        _feature("dup-at-start", datetime(2025, 5, 8))],
        "2025-05-15": [],
    }
    calls = []

    def fake_fetch(start, end):
        calls.append((start, end))
        return events.get(start.strftime("%Y-%m-%d"), [])

    total = bz.run_ingestion_loop(
        wh, store, fake_fetch, end=datetime(2025, 5, 20),
        clock=lambda: datetime(2025, 6, 1, tzinfo=timezone.utc),
    )
    # windows: 05-01→08, 08→15, 15→20; the event AT a window start is
    # skipped by the same-day duplicate guard (<= semantics)
    assert [s.day for s, _ in calls] == [1, 8, 15]
    assert total == 2
    assert wh.read(bz.BRONZE_TABLE).count() == 2
    wm = store.get(bz.BRONZE_TABLE)
    assert wm.watermark_value == datetime(2025, 5, 9, 1)
    assert wm.records_processed == 2

    # resume: watermark moved to 05-09 → first window starts there
    calls.clear()
    bz.run_ingestion_loop(
        wh, store, fake_fetch, end=datetime(2025, 5, 20),
        clock=lambda: datetime(2025, 6, 2, tzinfo=timezone.utc),
    )
    assert calls[0][0] == datetime(2025, 5, 9, 1)
