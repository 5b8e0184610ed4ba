"""Query workloads over the driver's deterministic tables.

Every operator from SURVEY.md §2 is exercised here as a named query over
``/root/testdata/sf*/`` tables (mapping per FIXTURES.md §B: ``events`` plays
the earthquake fact stream with ``value`` as a magnitude-like measure;
``nation``/``region`` play broadcast dimensions; ``lineitem``/``orders``
exercise large aggregations). Each query has a DuckDB oracle in
``oracles.py`` — column names/aliases MUST match pairwise.

Conventions for cross-engine (Spark vs DuckDB) hash stability:
- temporal outputs are date strings or epoch micros, never raw timestamps
- integer outputs cast to long
- per-row pure arithmetic (+,-,*,/) is emitted UNROUNDED — IEEE semantics
  make both engines produce bit-identical doubles for the same expression
  tree (oracles mirror the operation order exactly)
- per-row libm results (pow/log10) are rounded at 1-2 decimals only where
  the true value is irrational (no exact-half ambiguity)
- aggregate sums of wide columns are scaled (e.g. to millions) before
  rounding so summation-order error stays far from rounding boundaries;
  never round a small-count average of 2-decimal data (exact halves round
  differently across engines)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import cleaning
from ..functions.risk import depth_category, risk_level_from_score
from ..operators import dedup, rolling, spatial
from ..operators.bands import band_expr, band_join
from ..sources.catalog import load_table

# --------------------------------------------------------------------------
# Shared literal dimensions (used identically in Spark and oracle SQL).
# ``events.value`` spans ~[0, 500); VALUE_BANDS play the role of the
# reference's ref_risk_classification (01_config_setup.py:120-126): disjoint
# [lo, hi) bands with an open top band.
VALUE_BANDS = [
    ("CRITICAL", 1, 400.0, None),
    ("HIGH", 2, 300.0, 400.0),
    ("MODERATE", 3, 200.0, 300.0),
    ("LOW", 4, 100.0, 200.0),
    ("MINIMAL", 5, 0.0, 100.0),
]
VALUE_THRESHOLDS = [
    (400.0, "CRITICAL"),
    (300.0, "HIGH"),
    (200.0, "MODERATE"),
    (100.0, "LOW"),
]

# Boxes over (x=hour_of_day, y=value) space: overlapping (priority resolves)
# and deliberately not covering everything (fallback tags OTHER) — the same
# shape as ref_tectonic_regions (01_config_setup.py:83-96).
ZONE_BOXES = [
    ("NIGHT_LOW", "Night Low", 0.0, 6.0, 0.0, 100.0, 1),
    ("NIGHT_HIGH", "Night High", 0.0, 6.0, 100.0, 500.0, 2),
    ("DAY_LOW", "Day Low", 6.0, 18.0, 0.0, 250.0, 3),
    ("DAY_MID", "Day Mid", 12.0, 20.0, 50.0, 300.0, 4),
    ("EVENING", "Evening", 18.0, 23.0, 0.0, 180.0, 5),
]

def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


def _seismic_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events recast as a seismic-like fact: magnitude ~[0, 10), depth in
    (0, 614) — pure arithmetic on ``value``/``user_id`` so Spark and the
    oracle agree bit-for-bit (depth is strictly positive and non-integer so
    log10 stays defined and irrational)."""
    return (
        _events(spark, sf_dir)
        .withColumn("magnitude", F.col("value") / F.lit(50.0))
        .withColumn(
            "depth_km", (F.col("user_id") % 613) + (F.col("value") / F.lit(1000.0))
        )
    )


def _value_bands_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        VALUE_BANDS, "band_level string, band_rank int, lo double, hi double"
    )


# --------------------------------------------------------------------------
# Flagship: medallion-style regional risk rollup (A1+A2+A11+F1+F5+W5).
def flagship_regional_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gold_regional_risk (05_gold_aggregation.py:35-77) re-expressed over
    events: classify, aggregate 13 metrics, score, band, rank."""
    silver = (
        _seismic_events(spark, sf_dir)
        .withColumn(
            "risk_level",
            band_expr(
                F.col("magnitude"),
                [(7.0, "CRITICAL"), (6.0, "HIGH"), (5.0, "MODERATE"), (4.0, "LOW")],
                "MINIMAL",
            ),
        )
        .withColumn("depth_category", depth_category(F.col("depth_km")))
        .withColumn(
            "tsunami_potential", (F.col("magnitude") >= 7.0) & (F.col("depth_km") < 70)
        )
        .withColumn(
            "energy_joules",
            F.pow(F.lit(10.0), F.lit(1.5) * F.col("magnitude") + F.lit(4.8)),
        )
    )
    agg = silver.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("total_events"),
        F.round(F.sum("value"), 2).alias("value_sum"),
        F.sum(F.col("user_id") % 613).alias("depth_int_sum"),
        F.max("magnitude").alias("max_magnitude"),
        F.min("magnitude").alias("min_magnitude"),
        F.round(F.coalesce(F.stddev("magnitude"), F.lit(0.0)), 3).alias(
            "stddev_magnitude"
        ),
        F.sum(F.when(F.col("depth_category") == "SHALLOW", 1).otherwise(0)).alias("shallow_count"),
        F.sum(F.when(F.col("depth_category") == "INTERMEDIATE", 1).otherwise(0)).alias("intermediate_count"),
        F.sum(F.when(F.col("depth_category") == "DEEP", 1).otherwise(0)).alias("deep_count"),
        F.sum(F.when(F.col("risk_level") == "CRITICAL", 1).otherwise(0)).alias("critical_count"),
        F.sum(F.when(F.col("risk_level") == "HIGH", 1).otherwise(0)).alias("high_risk_count"),
        F.sum(F.when(F.col("risk_level") == "MODERATE", 1).otherwise(0)).alias("moderate_count"),
        F.sum(F.when(F.col("tsunami_potential"), 1).otherwise(0)).alias("tsunami_count"),
        F.round(F.log10(F.sum("energy_joules")), 6).alias("total_energy_log10"),
    )
    return (
        agg.withColumn(
            "avg_magnitude", (F.col("value_sum") / F.lit(50.0)) / F.col("total_events")
        )
        .withColumn(
            "avg_depth_km",
            (F.col("depth_int_sum") + (F.col("value_sum") / F.lit(1000.0)))
            / F.col("total_events"),
        )
        .drop("value_sum", "depth_int_sum")
        .withColumn(
            "risk_score",
            F.round(
                F.col("critical_count") * 50
                + F.col("high_risk_count") * 20
                + F.col("moderate_count") * 5
                + F.col("max_magnitude") * 10,
                2,
            ),
        )
        .withColumn("agg_risk_level", risk_level_from_score(F.col("risk_score")))
        .withColumn(
            "risk_rank",
            F.dense_rank()
            .over(
                Window.orderBy(
                    F.col("critical_count").desc(),
                    F.col("total_events").desc(),
                    F.col("event_type"),
                )
            )
            .cast("long"),
        )
    )


# --------------------------------------------------------------------------
# Dedup / windows
def dedup_keep_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: keep-latest per (user_id, event_type), deterministic tiebreak."""
    kept = dedup.keep_latest(
        _events(spark, sf_dir), ["user_id", "event_type"], "ts", ["event_id"]
    )
    return kept.select("user_id", "event_type", "event_id", "value")


def window_priority_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: argmin(value) per user (the priority-pick shape)."""
    kept = dedup.keep_first(_events(spark, sf_dir), ["user_id"], "value", ["event_id"])
    return kept.select("user_id", "event_id", "value")


def rolling_daily_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3+W3+W4: daily grain agg then rolling 7/30-day counts + anomaly."""
    daily = (
        _events(spark, sf_dir)
        .withColumn("event_date", F.to_date("ts"))
        .groupBy("event_date")
        .agg(
            F.count(F.lit(1)).alias("total_events"),
            F.round(F.sum("value"), 2).alias("value_sum"),
            F.max("value").alias("max_value"),
            F.countDistinct("event_type").alias("active_types"),
            F.sum(F.when(F.col("value") >= 400.0, 1).otherwise(0)).alias("critical_events"),
        )
        .withColumn("avg_value", F.col("value_sum") / F.col("total_events"))
        .drop("value_sum")
    )
    out = rolling.rolling_metrics(daily, date_col="event_date", value_col="total_events")
    return out.select(
        F.col("event_date").cast("string").alias("event_date"),
        "total_events",
        "avg_value",
        "max_value",
        "active_types",
        "critical_events",
        "rolling_7d_count",
        "rolling_30d_count",
        # driver-hash discipline: no raw boolean output columns
        F.col("is_anomaly").cast("long").alias("is_anomaly"),
    )


def dense_rank_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5+A5: per-nation customer summary with global dense_rank."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    agg = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        )
        .withColumn("avg_acctbal", F.col("total_acctbal") / F.col("customers"))
    )
    w = Window.orderBy(F.col("customers").desc(), F.col("n_name"))
    return agg.withColumn("nation_rank", F.dense_rank().over(w).cast("long"))


# --------------------------------------------------------------------------
# Joins
_ZONE_BOX_KEYS = (
    "zone_code", "zone_name", "min_x", "max_x", "min_y", "max_y", "priority"
)


def spatial_box_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1+J2+J3+U1 via the FUSED form (operators/spatial.py
    enrich_point_in_box_fused): the boxes are a static literal table, so
    the broadcast join + priority window collapses into one map-side CASE
    chain — same semantics (priorities unique), zero shuffles. The general
    join+window form stays in use by the silver pipeline and is
    equivalence-tested against this one."""
    pts = _events(spark, sf_dir).withColumn("hx", F.hour("ts").cast("double"))
    out = spatial.enrich_point_in_box_fused(
        pts,
        [dict(zip(_ZONE_BOX_KEYS, b)) for b in ZONE_BOXES],
        x_col="hx",
        y_col="value",
        box_cols=("min_x", "max_x", "min_y", "max_y"),
        priority_col="priority",
        carry_cols=("zone_code", "zone_name"),
        fallback={"zone_code": "OTHER", "zone_name": "Other"},
    )
    return out.select("event_id", "zone_code", "zone_name")


def band_join_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 (join form): broadcast non-equi band join on value."""
    out = band_join(
        _events(spark, sf_dir),
        _value_bands_df(spark),
        value_col="value",
        lo_col="lo",
        hi_col="hi",
        carry_cols=("band_level", "band_rank"),
    )
    return out.select(
        "event_id", "band_level", F.col("band_rank").cast("long").alias("band_rank")
    )


def band_case_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 (expression form): when-chain classification — must agree with
    band_join_classify (same oracle semantics)."""
    ranks = {"CRITICAL": 1, "HIGH": 2, "MODERATE": 3, "LOW": 4, "MINIMAL": 5}
    lvl = band_expr(F.col("value"), VALUE_THRESHOLDS, "MINIMAL")
    df = _events(spark, sf_dir).withColumn("band_level", lvl)
    rank_expr = F.lit(None).cast("long")
    for name, rk in ranks.items():
        rank_expr = F.when(F.col("band_level") == name, F.lit(rk).cast("long")).otherwise(rank_expr)
    return df.select("event_id", "band_level", rank_expr.alias("band_rank"))


def anti_join_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: customers with no orders (left anti join)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


def union_by_name_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1: unionByName(allowMissingColumns=True) null-fills missing cols."""
    ev = _events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "value"
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", (F.col("value") * 2).alias("severity")
    )
    return purchases.unionByName(errors, allowMissingColumns=True)


# --------------------------------------------------------------------------
# Aggregations
def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: multi-key hash aggregate with 8 aggregates (TPC-H Q1 shape).

    Wide money sums are emitted in millions (see module docstring)."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-06-30").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.round(F.sum("l_extendedprice") / F.lit(1000000.0), 4).alias("sum_base_price_m"),
            F.round(F.sum(disc_price) / F.lit(1000000.0), 4).alias("sum_disc_price_m"),
            F.round(F.sum(charge) / F.lit(1000000.0), 4).alias("sum_charge_m"),
            F.round(F.sum("l_extendedprice"), 2).alias("price_sum"),
            F.round(F.sum("l_discount"), 2).alias("disc_sum"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .withColumn("avg_qty", F.col("sum_qty") / F.col("count_order"))
        .withColumn("avg_price", F.col("price_sum") / F.col("count_order"))
        .withColumn("avg_disc", F.col("disc_sum") / F.col("count_order"))
        .drop("price_sum", "disc_sum")
    )


def agg_global_kpi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: grand-total single-row KPI (gold_kpi_summary shape,
    05_gold_aggregation.py:134-151)."""
    return _events(spark, sf_dir).agg(
        F.count(F.lit(1)).alias("total_events"),
        (F.round(F.sum("value"), 2) / F.count(F.lit(1))).alias("avg_value"),
        F.max("value").alias("max_value"),
        F.min("value").alias("min_value"),
        F.countDistinct("event_type").alias("active_types"),
        F.countDistinct("user_id").alias("distinct_users"),
        F.sum(F.when(F.col("value") >= 400.0, 1).otherwise(0)).alias("critical_events"),
        F.unix_micros(F.min("ts")).alias("data_start_us"),
        F.unix_micros(F.max("ts")).alias("data_end_us"),
    )


def agg_histogram_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: CASE-bucketed histogram (magnitude-distribution shape,
    06_display_reporting.py:172-187)."""
    bucket = (
        F.when(F.col("o_totalprice") >= 400000, "400k+ Extreme")
        .when(F.col("o_totalprice") >= 300000, "300-400k Major")
        .when(F.col("o_totalprice") >= 200000, "200-300k Strong")
        .when(F.col("o_totalprice") >= 100000, "100-200k Moderate")
        .when(F.col("o_totalprice") >= 50000, "50-100k Light")
        .otherwise("< 50k Micro")
    )
    return (
        load_table(spark, sf_dir, "orders")
        .withColumn("price_category", bucket)
        .groupBy("price_category")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def agg_monthly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: re-aggregation of a daily gold table to month grain
    (06_display_reporting.py:270-282). Daily averages stay unrounded; only
    the month-level aggregate rounds."""
    daily = (
        load_table(spark, sf_dir, "orders")
        .withColumn("order_date", F.to_date("o_orderdate"))
        .groupBy("order_date")
        .agg(
            F.count(F.lit(1)).alias("total_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("price_sum"),
            F.max("o_totalprice").alias("max_price"),
            F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias("finished_orders"),
        )
    )
    return (
        daily.withColumn("year", F.year("order_date").cast("long"))
        .withColumn("month", F.month("order_date").cast("long"))
        .groupBy("year", "month")
        .agg(
            F.sum("total_orders").alias("orders"),
            F.round(F.sum("price_sum"), 2).alias("month_price_sum"),
            F.max("max_price").alias("max_price"),
            F.sum("finished_orders").alias("finished"),
        )
        .withColumn("avg_order_price", F.col("month_price_sum") / F.col("orders"))
        .drop("month_price_sum")
    )


def agg_conditional_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: conditional counts per group (pivot-style sum(when))."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("total_orders"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias("status_f"),
        F.sum(F.when(F.col("o_orderstatus") == "O", 1).otherwise(0)).alias("status_o"),
        F.sum(F.when(F.col("o_orderstatus") == "P", 1).otherwise(0)).alias("status_p"),
        F.round(
            F.sum(F.when(F.col("o_orderstatus") == "F", F.col("o_totalprice")).otherwise(0.0))
            / F.lit(1000000.0),
            4,
        ).alias("finished_value_m"),
    )


def agg_frequency_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: frequency table (type distribution, 03_bronze_processing.py:133-136)."""
    return _events(spark, sf_dir).groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt"))


def agg_duplicate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: total vs distinct audit in one pass."""
    return dedup.duplicate_audit(_events(spark, sf_dir), "user_id")


def quality_null_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1: single-pass per-column null counts (03_bronze_processing.py:36-51
    reworked from N filter+count jobs into one aggregate)."""
    ev = _events(spark, sf_dir)
    aggs = [
        F.sum(F.col(c).isNull().cast("long")).alias(f"{c}_nulls")
        for c in ("event_id", "ts", "user_id", "event_type", "value")
    ]
    return ev.agg(*aggs, F.count(F.lit(1)).alias("total_rows"))


# --------------------------------------------------------------------------
# Filters / sorts / misc operators
def watermark_incremental_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4: CDC watermark predicate (04_silver_transformation.py:33)."""
    wm = "2024-01-15 00:00:00"
    return (
        _events(spark, sf_dir)
        .filter(F.col("ts") > F.lit(wm).cast("timestamp"))
        .select("event_id", F.unix_micros("ts").alias("ts_us"), "value")
    )


def validate_and_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2+P3+F1+F2: validation filter + clamp + coalesce + type normalization
    (04_silver_transformation.py:62-84 shape on events)."""
    ev = _events(spark, sf_dir).filter(
        F.col("event_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("value").between(0, 500)
        & F.col("user_id").between(0, 10**9)
    )
    return ev.select(
        "event_id",
        cleaning.clamp(F.col("value"), null_default=33.0, lo=10.0, hi=400.0).alias("value_clamped"),
        cleaning.normalize_type(
            F.col("event_type"), synonyms=("click", "view"), canonical="interaction"
        ).alias("type_norm"),
    )


def membership_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7+O2+O3: isin membership filter + multi-key top-k."""
    return (
        _events(spark, sf_dir)
        .filter(F.col("event_type").isin("purchase", "signup"))
        .orderBy(F.col("value").desc(), F.col("event_id").asc())
        .limit(100)
        .select("event_id", "event_type", "value")
    )


def case_custom_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4: CASE-expression custom collation sort, materialized as a rank so
    the order-insensitive hash still verifies ordering."""
    sort_key = (
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .when(F.col("o_orderpriority") == "2-HIGH", 2)
        .when(F.col("o_orderpriority") == "3-MEDIUM", 3)
        .when(F.col("o_orderpriority") == "4-NOT SPECIFIED", 4)
        .otherwise(5)
    )
    agg = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .withColumn("sort_key", sort_key.cast("long"))
    )
    w = Window.orderBy("sort_key")
    return agg.withColumn("display_order", F.row_number().over(w).cast("long"))


def temporal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4: calendar feature extraction (04_silver_transformation.py:175-180)."""
    ev = _events(spark, sf_dir)
    return ev.select(
        "event_id",
        F.hour("ts").cast("long").alias("hour_of_day"),
        F.dayofweek("ts").cast("long").alias("day_of_week"),
        F.dayofmonth("ts").cast("long").alias("day_of_month"),
        F.month("ts").cast("long").alias("month"),
        F.quarter("ts").cast("long").alias("quarter"),
        F.year("ts").cast("long").alias("year"),
    )


def physics_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5+UD1-3 as native expressions: full physics enrichment
    (calculations.py:66-116). Pure-arithmetic outputs unrounded; libm-based
    outputs rounded over irrational ranges (module docstring)."""
    se = _seismic_events(spark, sf_dir)
    m = F.col("magnitude")
    d = F.col("depth_km")
    mmi = F.round(
        F.lit(1.5) * m - F.lit(2.5) * F.log10(d + F.lit(1.0)) + F.lit(2.0), 1
    )
    return se.select(
        "event_id",
        "magnitude",
        "depth_km",
        (F.lit(1.5) * m + F.lit(4.8)).alias("energy_joules_log"),
        # + 0.0 folds IEEE -0.0 to +0.0 (engines disagree on ROUND's zero
        # sign near the boundary; the driver hashes the strings apart).
        (mmi + F.lit(0.0)).alias("mercalli_intensity"),
        (
            F.when(mmi >= 10, "X+ (Extreme)")
            .when(mmi >= 8, "VIII-IX (Severe)")
            .when(mmi >= 6, "VI-VII (Strong)")
            .when(mmi >= 4, "IV-V (Moderate)")
            .when(mmi >= 2, "II-III (Weak)")
            .otherwise("I (Not Felt)")
        ).alias("mercalli_scale"),
        (F.lit(1.5) * m + F.lit(9.1)).alias("seismic_moment_log"),
        F.round(F.pow(F.lit(10.0), F.lit(0.74) * m - F.lit(3.55)), 2).alias("rupture_length_km"),
        (m - F.lit(1.2)).alias("expected_aftershock_mag"),
        (
            (m * F.lit(15.0))
            - (d * F.lit(0.2))
            + F.when(d < 70, F.lit(25.0)).otherwise(F.lit(0.0))
            + F.when(m >= 7.0, F.lit(30.0)).otherwise(F.lit(0.0))
        ).alias("tsunami_risk_score"),
        (
            F.when(mmi >= 8, "EXTREME")
            .when(mmi >= 6, "HIGH")
            .when(mmi >= 4, "MODERATE")
            .when(mmi >= 2, "LOW")
            .otherwise("MINIMAL")
        ).alias("damage_potential"),
        # long, not boolean: Spark stringifies bools 'true' vs pandas 'True',
        # so a raw boolean output column can never driver-hash-match.
        ((m >= 7.0) & (d < 70)).cast("long").alias("tsunami_potential"),
    )


def physics_damage_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10+O4: physics group summary by damage potential with a custom
    CASE-collation display rank (calculations.py:166-171 + 06:198-215).
    Averages are emitted as sum+count-derived doubles (unrounded ratio of
    a rounded sum — cross-engine stable, module docstring)."""
    mmi = F.round(
        F.lit(1.5) * F.col("magnitude")
        - F.lit(2.5) * F.log10(F.col("depth_km") + F.lit(1.0))
        + F.lit(2.0),
        1,
    )
    enriched = _seismic_events(spark, sf_dir).withColumn("mmi", mmi).withColumn(
        "damage_potential",
        F.when(F.col("mmi") >= 8, "EXTREME")
        .when(F.col("mmi") >= 6, "HIGH")
        .when(F.col("mmi") >= 4, "MODERATE")
        .when(F.col("mmi") >= 2, "LOW")
        .otherwise("MINIMAL"),
    )
    agg = enriched.groupBy("damage_potential").agg(
        F.count(F.lit(1)).alias("event_count"),
        F.round(F.sum("value"), 2).alias("value_sum"),
        F.round(F.sum("mmi"), 1).alias("mmi_sum"),
    )
    sort_key = (
        F.when(F.col("damage_potential") == "EXTREME", 1)
        .when(F.col("damage_potential") == "HIGH", 2)
        .when(F.col("damage_potential") == "MODERATE", 3)
        .when(F.col("damage_potential") == "LOW", 4)
        .otherwise(5)
    )
    ranked = agg.withColumn("sort_key", sort_key.cast("long"))
    w = Window.orderBy("sort_key")
    return (
        ranked.withColumn(
            "avg_magnitude", (F.col("value_sum") / F.lit(50.0)) / F.col("event_count")
        )
        .withColumn("avg_mmi", F.col("mmi_sum") / F.col("event_count"))
        .withColumn("display_order", F.row_number().over(w).cast("long"))
        .select(
            "damage_potential", "event_count", "avg_magnitude", "avg_mmi",
            "display_order",
        )
    )


def percentile_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles per group (p50/p90/p99 with linear interpolation —
    Spark ``percentile`` ≡ DuckDB ``quantile_cont``). The exact form is the
    oracle-checkable baseline; at 100 TB swap in ``percentile_approx``
    (t-digest sketch, map-side mergeable) for the same plan shape."""
    ev = _events(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99"),
        F.count(F.lit(1)).alias("n"),
    )


def rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping-sets aggregate: (priority, status), (priority), ()
    subtotals in one pass — the multi-grain form of A9 the reference
    re-aggregates by hand. NULL grouping slots are labeled 'ALL' so the
    hash compare is unambiguous."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice") / F.lit(1000000.0), 4).alias("value_m"),
        )
        .select(
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            "n_orders",
            "value_m",
        )
    )


def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 in true pivot form: ``groupBy().pivot()`` with explicit pivot
    values (explicit values keep the plan single-pass — no distinct-scan
    job — and make the output schema static for the oracle)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
        .select(
            "o_orderpriority",
            F.coalesce("F", F.lit(0)).alias("status_f"),
            F.coalesce("O", F.lit(0)).alias("status_o"),
            F.coalesce("P", F.lit(0)).alias("status_p"),
        )
    )


def lag_lead_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead/ntile coverage (absent from the reference, SURVEY §2.5):
    per-user previous/next event gap and a global value quartile."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))).alias("us_since_prev"),
        (F.unix_micros(F.lead("ts").over(w)) - F.unix_micros("ts")).alias("us_until_next"),
        F.ntile(4).over(Window.orderBy("value", "event_id")).cast("long").alias("value_quartile"),
    )


def setops_purchasers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations beyond the reference's union-only surface: EXCEPT
    (purchasers who never errored) and INTERSECT (purchasers who also
    errored), labeled and stacked in one result."""
    ev = _events(spark, sf_dir)
    purchasers = ev.filter(F.col("event_type") == "purchase").select("user_id")
    error_users = ev.filter(F.col("event_type") == "error").select("user_id")
    clean = purchasers.subtract(error_users).select(
        F.lit("EXCEPT").alias("op"), "user_id"
    )
    both = purchasers.intersect(error_users).select(
        F.lit("INTERSECT").alias("op"), "user_id"
    )
    return clean.unionByName(both)


def above_avg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-scalar-subquery shape (orders above their customer's
    average), expressed as a windowed average — the decorrelated plan Spark
    and DuckDB both reduce the subquery to. One shuffle on the customer
    key; no join."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    # round the SUM to 2 decimals before dividing: 2-decimal money summed
    # then re-rounded is exact, killing summation-order drift between
    # engines; the division of identical doubles is then bit-identical
    # (module docstring float conventions)
    avg_price = F.round(F.sum("o_totalprice").over(w), 2) / F.count(F.lit(1)).over(w)
    return (
        orders.withColumn("cust_avg", avg_price)
        .filter(F.col("o_totalprice") > F.col("cust_avg"))
        .select("o_orderkey", "o_custkey", "o_totalprice", "cust_avg")
    )


def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch family: portable HyperLogLog distinct counts beside the exact
    ones. The sketch is ``operators/sketch.py`` — explicit max-mergeable
    registers from the md5-derived hash, replicated bit-for-bit by the
    DuckDB oracle, so the whole approximate pipeline is value-hash-checked
    (Spark's built-in ``approx_count_distinct`` HLL++ serves the same role
    natively but its registers are engine-private; its error bound is
    asserted in pytest instead). At 100 TB the sketch form is the default:
    mergeable map-side registers, no exact-distinct shuffle-dedup pass."""
    from ..operators import sketch

    ev = _events(spark, sf_dir)
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.count(F.lit(1)).alias("n_events"),
    )
    approx = sketch.hll_distinct(ev, "user_id", ["event_type"], p=12, out_col="hll_users")
    return exact.join(approx, "event_type").select(
        "event_type", "exact_users", "hll_users", "n_events"
    )


def sessionize_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization in pure window algebra: 30-minute
    inactivity gap; per-session row with bounds and size."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    sessions = ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), 1).otherwise(0),
    ).withColumn(
        "session_seq",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        sessions.groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.unix_micros(F.min("ts")).alias("session_start_us"),
            F.unix_micros(F.max("ts")).alias("session_end_us"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
        .select(
            "user_id",
            F.col("session_seq").cast("long").alias("session_seq"),
            "n_events",
            "session_start_us",
            "session_end_us",
            "session_value",
        )
    )
