"""Gold layer: the four analytics tables + the two physics tables.

Aggregate semantics reproduce 05_gold_aggregation.py and calculations.py
column-for-column (names, rounding via ``F.round`` like the reference's
``rnd``). ``calculated_ts``/``refresh_ts`` take an injectable clock so
golden tests are deterministic.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import physics as phy
from ..functions.risk import risk_level_from_score
from ..operators.rolling import rolling_metrics
from ..sources.warehouse import Warehouse, overwrite_counted
from .maintenance import DEFAULT_CLUSTERING
from .silver import SILVER_TABLE

GOLD_TABLES = (
    "gold_regional_risk",
    "gold_temporal_metrics",
    "gold_kpi_summary",
    "gold_region_summary",
)
PHYSICS_TABLES = ("gold_physics_analysis", "gold_regional_physics")


def _ts(clock: datetime | None) -> F.Column:
    return F.lit(clock).cast("timestamp") if clock else F.current_timestamp()


def _risk_counts() -> list:
    return [
        F.sum(F.when(F.col("risk_level") == "CRITICAL", 1).otherwise(0)).alias("critical_count"),
        F.sum(F.when(F.col("risk_level") == "HIGH", 1).otherwise(0)).alias("high_risk_count"),
        F.sum(F.when(F.col("risk_level") == "MODERATE", 1).otherwise(0)).alias("moderate_count"),
        F.sum(F.when(F.col("tsunami_potential"), 1).otherwise(0)).alias("tsunami_count"),
    ]


def regional_risk(silver: DataFrame, clock: datetime | None = None) -> DataFrame:
    """gold_regional_risk (ref: 05_gold_aggregation.py:35-77): 14-aggregate
    rollup per (region, year, month) + weighted risk score + score band."""
    agg = silver.groupBy("tectonic_region", "region_name", "year", "month").agg(
        F.count(F.lit(1)).alias("total_events"),
        F.round(F.avg("magnitude"), 3).alias("avg_magnitude"),
        F.round(F.max("magnitude"), 2).alias("max_magnitude"),
        F.round(F.min("magnitude"), 2).alias("min_magnitude"),
        F.round(F.coalesce(F.stddev("magnitude"), F.lit(0.0)), 3).alias("stddev_magnitude"),
        F.round(F.avg("depth_km"), 2).alias("avg_depth_km"),
        F.sum(F.when(F.col("depth_category") == "SHALLOW", 1).otherwise(0)).alias("shallow_count"),
        F.sum(F.when(F.col("depth_category") == "INTERMEDIATE", 1).otherwise(0)).alias("intermediate_count"),
        F.sum(F.when(F.col("depth_category") == "DEEP", 1).otherwise(0)).alias("deep_count"),
        *_risk_counts(),
        F.round(F.sum("energy_joules"), 2).alias("total_energy_joules"),
    )
    return (
        agg.withColumn(
            "risk_score",
            F.round(
                F.col("critical_count") * 50
                + F.col("high_risk_count") * 20
                + F.col("moderate_count") * 5
                + F.col("max_magnitude") * 10,
                2,
            ),
        )
        .withColumn("risk_level", risk_level_from_score(F.col("risk_score")))
        .withColumn("calculated_ts", _ts(clock))
    )


def temporal_metrics(silver: DataFrame, clock: datetime | None = None) -> DataFrame:
    """gold_temporal_metrics (ref: 05_gold_aggregation.py:89-121): daily
    grain + rolling 7/30-day counts + anomaly flag.

    The rolling window runs on the aggregated daily grain (≤ a few thousand
    rows), so the reference's global window is acceptable; the partitioned
    variant exists in ``operators.rolling`` for larger grains (SURVEY §4).
    """
    daily = (
        silver.withColumn("event_date", F.to_date("event_time"))
        .groupBy("event_date")
        .agg(
            F.count(F.lit(1)).alias("total_events"),
            F.round(F.avg("magnitude"), 3).alias("avg_magnitude"),
            F.round(F.max("magnitude"), 2).alias("max_magnitude"),
            F.countDistinct("tectonic_region").alias("active_regions"),
            F.sum(F.when(F.col("risk_level") == "CRITICAL", 1).otherwise(0)).alias("critical_events"),
            F.sum(F.when(F.col("risk_level") == "HIGH", 1).otherwise(0)).alias("high_risk_events"),
            F.sum(F.when(F.col("tsunami_potential"), 1).otherwise(0)).alias("tsunami_events"),
            F.round(F.sum("energy_joules"), 2).alias("total_energy"),
        )
        .withColumn("year", F.year("event_date"))
        .withColumn("month", F.month("event_date"))
    )
    return rolling_metrics(
        daily, date_col="event_date", value_col="total_events"
    ).withColumn("calculated_ts", _ts(clock))


def kpi_summary(silver: DataFrame, clock: datetime | None = None) -> DataFrame:
    """gold_kpi_summary (ref: 05_gold_aggregation.py:134-151): single-row
    grand-total KPI."""
    return silver.agg(
        F.count(F.lit(1)).alias("total_earthquakes"),
        F.round(F.avg("magnitude"), 2).alias("avg_magnitude"),
        F.max("magnitude").alias("max_magnitude"),
        F.min("magnitude").alias("min_magnitude"),
        F.countDistinct("tectonic_region").alias("active_regions"),
        F.sum(F.when(F.col("risk_level") == "CRITICAL", 1).otherwise(0)).alias("critical_events"),
        F.sum(F.when(F.col("risk_level") == "HIGH", 1).otherwise(0)).alias("high_risk_events"),
        F.sum(F.when(F.col("tsunami_potential"), 1).otherwise(0)).alias("tsunami_events"),
        F.round(F.sum("energy_joules"), 2).alias("total_energy_joules"),
        F.round(F.avg("depth_km"), 1).alias("avg_depth_km"),
        F.min("event_time").alias("data_start"),
        F.max("event_time").alias("data_end"),
    ).withColumn("refresh_ts", _ts(clock))


def region_summary(silver: DataFrame, clock: datetime | None = None) -> DataFrame:
    """gold_region_summary (ref: 05_gold_aggregation.py:164-187): per-region
    9-aggregate summary with centroid and global dense_rank.

    Rank ties are broken deterministically by region code (the reference's
    two-key ordering can tie)."""
    agg = silver.groupBy("tectonic_region", "region_name").agg(
        F.count(F.lit(1)).alias("total_events"),
        F.round(F.avg("magnitude"), 2).alias("avg_magnitude"),
        F.max("magnitude").alias("max_magnitude"),
        F.sum(F.when(F.col("risk_level") == "CRITICAL", 1).otherwise(0)).alias("critical_events"),
        F.sum(F.when(F.col("risk_level") == "HIGH", 1).otherwise(0)).alias("high_risk_events"),
        F.sum(F.when(F.col("tsunami_potential"), 1).otherwise(0)).alias("tsunami_events"),
        F.round(F.avg("latitude"), 2).alias("center_lat"),
        F.round(F.avg("longitude"), 2).alias("center_lon"),
    )
    w = Window.orderBy(
        F.col("critical_events").desc(),
        F.col("total_events").desc(),
        F.col("tectonic_region"),
    )
    return agg.withColumn("risk_rank", F.dense_rank().over(w)).withColumn(
        "calculated_ts", _ts(clock)
    )


def physics_analysis(silver: DataFrame, clock: datetime | None = None) -> DataFrame:
    """gold_physics_analysis (ref: calculations.py:66-152): event-level
    physics columns, all native Catalyst expressions (no UDFs)."""
    m, d = F.col("magnitude"), F.col("depth_km")
    mmi = phy.mercalli_intensity(m, d)
    df = (
        silver.withColumn("energy_joules_log", phy.energy_joules_log(m))
        .withColumn("mercalli_intensity", mmi)
        .withColumn("mercalli_scale", phy.mercalli_scale(F.col("mercalli_intensity")))
        .withColumn("seismic_moment_log", phy.seismic_moment_log(m))
        .withColumn("rupture_length_km", phy.rupture_length_km(m))
        .withColumn("expected_aftershock_mag", phy.expected_aftershock_mag(m))
        .withColumn("tsunami_risk_score", phy.tsunami_risk_score(m, d))
        .withColumn("damage_potential", phy.damage_potential(F.col("mercalli_intensity")))
        .withColumn("physics_calculated_ts", _ts(clock))
    )
    return df.select(
        "event_id", "event_time", "latitude", "longitude",
        "magnitude", "depth_km", "place", "tectonic_region",
        "risk_level", "tsunami_potential",
        "energy_joules_log", "mercalli_intensity", "mercalli_scale",
        "seismic_moment_log", "rupture_length_km",
        "expected_aftershock_mag", "tsunami_risk_score", "damage_potential",
        "physics_calculated_ts",
    )


def regional_physics(
    physics_df: DataFrame, clock: datetime | None = None
) -> DataFrame:
    """gold_regional_physics (ref: calculations.py:206-225)."""
    return physics_df.groupBy("tectonic_region").agg(
        F.count(F.lit(1)).alias("total_events"),
        F.round(F.avg("magnitude"), 2).alias("avg_magnitude"),
        F.round(F.avg("mercalli_intensity"), 1).alias("avg_mmi"),
        F.round(F.avg("rupture_length_km"), 2).alias("avg_rupture_km"),
        F.round(F.avg("tsunami_risk_score"), 1).alias("avg_tsunami_score"),
        F.sum(F.when(F.col("damage_potential") == "EXTREME", 1).otherwise(0)).alias("extreme_count"),
        F.sum(F.when(F.col("damage_potential") == "HIGH", 1).otherwise(0)).alias("high_count"),
    ).withColumn("calculated_ts", _ts(clock))


def run_gold(wh: Warehouse, *, clock: datetime | None = None) -> dict[str, int]:
    """Materialize all six gold tables from silver (overwrite semantics,
    ref: 05:79,123,153,187; calculations.py:149-152,222-225). Returns each
    table's row count, observed on its write. Clustered tables are
    written in their OPTIMIZE layout, so maintenance does not rewrite
    them."""
    silver = wh.read(SILVER_TABLE)
    builders = {
        "gold_regional_risk": lambda: regional_risk(silver, clock),
        "gold_temporal_metrics": lambda: temporal_metrics(silver, clock),
        "gold_kpi_summary": lambda: kpi_summary(silver, clock),
        "gold_region_summary": lambda: region_summary(silver, clock),
        "gold_physics_analysis": lambda: physics_analysis(silver, clock),
        "gold_regional_physics": lambda: regional_physics(
            wh.read("gold_physics_analysis"), clock
        ),
    }
    return {
        name: overwrite_counted(
            wh, build(), name, DEFAULT_CLUSTERING.get(name, ())
        )
        for name, build in builders.items()
    }
