"""Volume smoke for the medallion pipeline: synthesize ~100k earthquakes
from the driver's events table (deterministic arithmetic recast), run
bronze → silver → gold → reports end-to-end, print per-stage timings.

Usage: python tools/pipeline_scale_check.py [sf_dir] [warehouse_dir]
"""

from __future__ import annotations

import shutil
import os
import sys
import tempfile
import time
from datetime import datetime

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from global_seismic_data_pipeline_spark.pipeline import bronze, gold, reports, silver
from global_seismic_data_pipeline_spark.schemas import BRONZE_EARTHQUAKES
from global_seismic_data_pipeline_spark.session import get_spark
from global_seismic_data_pipeline_spark.sources.catalog import load_table
from global_seismic_data_pipeline_spark.sources.warehouse import Warehouse
from global_seismic_data_pipeline_spark.state import WatermarkStore


def synth_bronze(spark, sf_dir: str):
    """events → bronze-shaped earthquakes: lat/lon spread over the globe,
    magnitude in [0,10), depth in (0,700]; deterministic."""
    ev = load_table(spark, sf_dir, "events")
    uid, val = F.col("user_id"), F.col("value")
    h = F.pmod(F.xxhash64(F.col("event_id")), F.lit(648000000))  # 18000*36000
    df = ev.select(
        F.concat(F.lit("ev"), F.col("event_id").cast("string")).alias("event_id"),
        F.col("ts").alias("time"),
        ((F.pmod(h, F.lit(18000)) / 100.0) - 90.0).alias("latitude"),
        (((h / F.lit(18000)).cast("long") % 36000) / 100.0 - 180.0).alias("longitude"),
        ((uid % 700) + (val / 1000.0)).alias("depth"),
        (val / 50.0).alias("mag"),
        F.lit("mb").alias("mag_type"),
        F.lit(10).cast("int").alias("nst"),
        F.lit(50.0).alias("gap"),
        F.lit(0.5).alias("dmin"),
        F.lit(0.8).alias("rms"),
        F.lit("us").alias("net"),
        F.col("event_type").alias("place"),
        F.lit("earthquake").alias("type"),
        F.lit("reviewed").alias("status"),
        F.lit(1.0).alias("horizontal_error"),
        F.lit(2.0).alias("depth_error"),
        F.lit(0.1).alias("mag_error"),
        F.col("ts").alias("ingestion_ts"),
        F.col("ts").cast("date").alias("ingestion_date"),
        F.lit("b1").alias("batch_id"),
    )
    return df.select(*BRONZE_EARTHQUAKES.fieldNames())


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    root = sys.argv[2] if len(sys.argv) > 2 else tempfile.mkdtemp(prefix="scalewh-")
    spark = get_spark("pipeline-scale-check")
    wh = Warehouse(spark, root)
    store = WatermarkStore(wh)
    clock = datetime(2025, 6, 1, 12, 0, 0)
    stages: dict[str, float] = {}

    t = time.time()
    n = bronze.ingest_batch(wh, store, synth_bronze(spark, sf_dir))
    stages["ingest"] = time.time() - t
    print(f"bronze rows: {n}", flush=True)

    t = time.time()
    rep = bronze.quality_report(wh.read(bronze.BRONZE_TABLE))
    deduped = bronze.dedup_rewrite(wh)
    stages["bronze_qc_dedup"] = time.time() - t
    print(f"quality: {rep['total_rows']} rows, dup={rep['duplicate_records']}; "
          f"deduped={deduped}", flush=True)

    t = time.time()
    ns = silver.run_silver(wh, store, clock=clock)
    stages["silver"] = time.time() - t
    print(f"silver rows: {ns}", flush=True)

    t = time.time()
    counts = gold.run_gold(wh, clock=clock)
    stages["gold"] = time.time() - t
    print(f"gold: {counts}", flush=True)

    t = time.time()
    rep_counts = {k: df.count() for k, df in reports.run_all(wh).items()}
    stages["reports"] = time.time() - t
    print(f"reports: {rep_counts}", flush=True)

    total = sum(stages.values())
    print("timings:", {k: round(v, 1) for k, v in stages.items()},
          "total:", round(total, 1), flush=True)

    # invariants at volume
    assert ns == n == rep["total_rows"]
    assert counts["gold_physics_analysis"] == ns
    kpi = wh.read("gold_kpi_summary").collect()[0]
    assert kpi.total_earthquakes == ns
    print("OK", flush=True)
    if len(sys.argv) <= 2:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
