"""Bronze layer: append ingest, quality report, dedup rewrite.

Reproduces 02_ingestion.py (append + watermark advance) and
03_bronze_processing.py (quality report + window-dedup rewrite), with the
reference's eager-count anti-pattern (SURVEY.md §4) replaced by single-pass
aggregates.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import dedup
from ..state import WatermarkStore
from ..sources.warehouse import Warehouse, overwrite_counted
from .maintenance import DEFAULT_CLUSTERING

BRONZE_TABLE = "bronze_earthquakes"

# columns whose null-percentage the reference reports
# (ref: 03_bronze_processing.py:36-41)
QUALITY_COLUMNS = ("event_id", "time", "latitude", "longitude", "depth", "mag")


def ingest_batch(
    wh: Warehouse,
    store: WatermarkStore,
    batch: DataFrame,
    *,
    time_col: str = "time",
) -> int:
    """Append one bronze batch and advance the bronze watermark
    (ref: 02_ingestion.py:212-232). Returns rows written.

    Count and max(time) ride the append itself via ``observe`` — zero
    extra jobs, vs the reference's two separate actions (count + max)
    before the write (SURVEY.md §4 eager-count anti-pattern)."""
    from pyspark.sql import Observation

    store.init(BRONZE_TABLE, time_col)
    obs = Observation()
    observed = batch.observe(
        obs, F.count(F.lit(1)).alias("n"), F.max(time_col).alias("max_t")
    )
    wh.append(observed, BRONZE_TABLE)
    row = obs.get
    if row["n"] == 0:
        return 0
    store.advance(BRONZE_TABLE, row["max_t"], row["n"])
    return row["n"]


def quality_report(df: DataFrame) -> dict:
    """Single-pass data-quality metrics (ref: 03_bronze_processing.py:36-91
    runs ~12 separate count() jobs; this is ONE aggregate job).

    Returns null counts/pcts per column, value ranges, and duplicate stats.
    """
    aggs = [F.count(F.lit(1)).alias("total_rows")]
    for c in QUALITY_COLUMNS:
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"nulls_{c}"))
    aggs += [
        F.min("mag").alias("min_mag"),
        F.max("mag").alias("max_mag"),
        F.avg("mag").alias("avg_mag"),
        F.min("depth").alias("min_depth"),
        F.max("depth").alias("max_depth"),
        F.min("latitude").alias("min_lat"),
        F.max("latitude").alias("max_lat"),
        F.min("time").alias("min_time"),
        F.max("time").alias("max_time"),
        F.countDistinct("event_id").alias("distinct_events"),
    ]
    row = df.agg(*aggs).collect()[0].asDict()
    total = row["total_rows"] or 1
    report = {"total_rows": row["total_rows"]}
    for c in QUALITY_COLUMNS:
        n = row[f"nulls_{c}"] or 0
        report[f"nulls_{c}"] = n
        # WARNING at >5% nulls, as the reference flags (03:44-51)
        report[f"status_{c}"] = "WARNING" if n / total > 0.05 else "OK"
    for k in (
        "min_mag", "max_mag", "avg_mag", "min_depth", "max_depth",
        "min_lat", "max_lat", "min_time", "max_time", "distinct_events",
    ):
        report[k] = row[k]
    report["duplicate_records"] = row["total_rows"] - row["distinct_events"]
    return report


def dedup_rewrite(wh: Warehouse) -> int:
    """Rewrite bronze keeping the latest ingestion per event_id
    (ref: 03_bronze_processing.py:99-117), with a deterministic tiebreak on
    batch_id the reference lacks. Returns the deduped row count.

    The overwrite is atomic (staging + rename), unlike the reference's
    in-place Delta overwrite-on-self which relies on Delta's log. The row
    count rides the rewrite via ``observe`` — one pass, not a count job
    plus a write job. The rewrite lands in bronze's OPTIMIZE layout, so
    the maintenance pass has nothing left to do for it.
    """
    bronze = wh.read(BRONZE_TABLE)
    deduped = dedup.keep_latest(
        bronze, ["event_id"], "ingestion_ts", ["batch_id"]
    )
    return overwrite_counted(
        wh, deduped, BRONZE_TABLE, DEFAULT_CLUSTERING[BRONZE_TABLE]
    )


def utc_batch_id(now: datetime | None = None) -> str:
    """Batch id format the reference stamps (ref: 02_ingestion.py:168)."""
    now = now or datetime.now(timezone.utc)
    return now.strftime("%Y%m%d_%H%M%S")


def run_ingestion_loop(
    wh: Warehouse,
    store: WatermarkStore,
    fetch_batch,
    *,
    end: datetime,
    batch_days: int = 7,
    clock=None,
) -> int:
    """Incremental windowed ingestion loop (ref: 02_ingestion.py:150-240):
    resume from the bronze watermark, fetch ``batch_days`` windows via
    ``fetch_batch(start, end) -> list[GeoJSON feature]``, flatten, skip
    rows at/before the window start (same-day duplicate guard), append,
    advance the watermark per batch. Returns total rows written.

    Crash-safe: each window commits data before its watermark advance, so
    a re-run refetches at most one window and the bronze dedup pass (W1)
    absorbs the duplicates.
    """
    from datetime import timedelta

    from ..sources.geojson import feature_rows, rows_to_bronze
    from ..state import _naive_utc

    end = _naive_utc(end)  # watermarks are naive-UTC; accept aware input
    entry = store.init(BRONZE_TABLE, "time")
    start = entry.watermark_value
    total = 0
    while start < end:
        batch_end = min(start + timedelta(days=batch_days), end)
        features = fetch_batch(start, batch_end)
        now = clock() if clock else datetime.now(timezone.utc)
        rows = feature_rows(
            features,
            ingestion_ts=now,
            batch_id=utc_batch_id(now),
            min_event_time=start,
        )
        if rows:
            total += ingest_batch(wh, store, rows_to_bronze(wh.spark, rows))
        start = batch_end
    return total
