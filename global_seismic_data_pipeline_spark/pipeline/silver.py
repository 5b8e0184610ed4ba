"""Silver layer: validate → clean → enrich → upsert, watermark-incremental.

Reproduces 04_silver_transformation.py end-to-end with the SURVEY.md §4
fixes: native expressions instead of Python UDFs, one stats job instead of
four counts, a deterministic injectable clock, and an atomic MERGE fallback.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..functions import cleaning, physics
from ..functions.risk import depth_category, risk_level
from ..functions.temporal import with_temporal_features
from ..operators.spatial import enrich_point_in_box
from ..refdata import tectonic_regions
from ..session import materialize, materialized_scope
from ..state import WatermarkStore
from ..sources.warehouse import Warehouse
from .bronze import BRONZE_TABLE
from .maintenance import DEFAULT_CLUSTERING

SILVER_TABLE = "silver_earthquakes"


def spatial_enrich(df: DataFrame, regions: DataFrame) -> DataFrame:
    """Tag each event with its highest-priority containing tectonic region;
    no-match → OTHER (ref: 04_silver_transformation.py:95-125)."""
    enriched = enrich_point_in_box(
        df,
        regions.filter(F.col("region_code") != "OTHER"),
        point_id="event_id",
        x_col="longitude",
        y_col="latitude",
        box_cols=("min_lon", "max_lon", "min_lat", "max_lat"),
        priority_col="priority",
        carry_cols=("region_code", "region_name"),
        fallback={"region_code": "OTHER", "region_name": "Other Regions"},
    )
    return enriched.withColumnRenamed("region_code", "tectonic_region").drop(
        "plate_type"
    )


def build_silver_increment(
    bronze_df: DataFrame,
    regions: DataFrame,
    *,
    clock: datetime | None = None,
) -> DataFrame:
    """The full E2 transformation chain (SURVEY.md §3) as one lazy plan:
    validate (P2/P3) → clean (F1/F2) → spatial join (J1-J3,U1) → physics +
    risk (UD1-3 as native exprs) → aliases + temporal features (F4).

    ``clock`` pins ``processed_ts`` for deterministic golden tests
    (SURVEY.md §7 hard-part f); None → current_timestamp().
    """
    validated = cleaning.validate_events(bronze_df)
    cleaned = cleaning.clean_events(validated)
    enriched = spatial_enrich(cleaned, regions)
    ts = F.lit(clock).cast("timestamp") if clock else F.current_timestamp()
    silver = (
        enriched.withColumn("energy_joules", physics.energy_joules(F.col("mag")))
        .withColumn("depth_category", depth_category(F.col("depth")))
        .withColumn("risk_level", risk_level(F.col("mag")))
        .withColumn(
            "tsunami_potential",
            physics.tsunami_potential(F.col("mag"), F.col("depth")),
        )
        .withColumn("event_time", F.col("time"))
        .withColumn("depth_km", F.col("depth"))
        .withColumn("magnitude", F.col("mag"))
    )
    return with_temporal_features(silver, "time").withColumn("processed_ts", ts)


def run_silver(
    wh: Warehouse,
    store: WatermarkStore,
    *,
    clock: datetime | None = None,
    partition_col: str | None = None,
) -> int:
    """Incremental bronze → silver run: watermark filter, transform, MERGE,
    advance (ref: 04_silver_transformation.py whole flow). Returns rows
    processed (0 ⇒ no-op, like the reference's early exit).

    ``partition_col`` (e.g. ``"year"``) stores silver directory-partitioned
    on that column and prunes the MERGE rewrite to partitions the increment
    touches — for daily incremental loads that is one or two partitions
    instead of the whole table (SURVEY.md §7 hard-part a at scale).
    Without it the MERGE rewrites silver whole, in its OPTIMIZE layout."""
    entry = store.get(SILVER_TABLE) or store.init(SILVER_TABLE, "time")
    bronze = wh.read(BRONZE_TABLE)
    if entry.watermark_value is not None:
        bronze = bronze.filter(F.col("time") > F.lit(entry.watermark_value))

    silver = build_silver_increment(
        bronze, tectonic_regions(wh.spark), clock=clock
    )
    # persist the increment: it is consumed by the stats agg AND (twice) by
    # the merge's anti-join/union — without this the whole validate/clean/
    # join/physics chain re-executes ~3x per run. One job computes the
    # three driver-side facts the reference takes three actions for
    # (04:46, 04:213, 04:214).
    with materialized_scope():
        silver = materialize(silver, StorageLevel.MEMORY_AND_DISK_DESER)
        stats = silver.agg(
            F.count(F.lit(1)).alias("n"), F.max("event_time").alias("max_t")
        ).collect()[0]
        if stats.n == 0:
            return 0
        wh.merge(
            silver, SILVER_TABLE, keys=["event_id"],
            prune_partition_col=partition_col,
            cluster_by=DEFAULT_CLUSTERING[SILVER_TABLE],
        )
        store.advance(SILVER_TABLE, stats.max_t, stats.n)
        return stats.n
