"""Watermark advance/resume + MERGE idempotency (SURVEY.md §5.1, §7
hard-parts a/b)."""

from datetime import datetime

from pyspark.sql import functions as F

import pytest

from global_seismic_data_pipeline_spark.sources.warehouse import Warehouse


from global_seismic_data_pipeline_spark.sources.deltawh import DeltaLogWarehouse


@pytest.fixture(params=[Warehouse, DeltaLogWarehouse], ids=["plain", "delta"])
def wh_cls(request):
    """Every warehouse-semantics test runs under both backends — the
    REAL-``_delta_log`` backend (sources/deltawh.py) must be a drop-in
    for the plain rename-swap one."""
    return request.param
from global_seismic_data_pipeline_spark.state import WatermarkStore


def test_watermark_init_get_advance(spark, tmp_path, wh_cls):
    wh = wh_cls(spark, str(tmp_path / "wh"))
    store = WatermarkStore(wh)
    assert store.get("t") is None
    store.init("t", "time", datetime(2000, 1, 1))
    e = store.get("t")
    assert e.watermark_value == datetime(2000, 1, 1)
    assert e.records_processed == 0

    store.advance("t", datetime(2025, 5, 1), 100)
    e = store.get("t")
    assert e.watermark_value == datetime(2025, 5, 1)
    assert e.records_processed == 100

    # never moves backwards; counts still accumulate
    store.advance("t", datetime(2024, 1, 1), 7)
    e = store.get("t")
    assert e.watermark_value == datetime(2025, 5, 1)
    assert e.records_processed == 107


def test_watermark_init_is_idempotent(spark, tmp_path, wh_cls):
    wh = wh_cls(spark, str(tmp_path / "wh"))
    store = WatermarkStore(wh)
    store.init("t", "time", datetime(2001, 1, 1))
    store.advance("t", datetime(2020, 1, 1), 5)
    store.init("t", "time", datetime(2001, 1, 1))  # re-run of first-run DDL
    assert store.get("t").watermark_value == datetime(2020, 1, 1)


def test_merge_insert_then_update(spark, tmp_path, wh_cls):
    wh = wh_cls(spark, str(tmp_path / "wh"))
    base = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int")
    wh.merge(base, "t", ["k"])
    upd = spark.createDataFrame([("b", 20), ("c", 3)], "k string, v int")
    wh.merge(upd, "t", ["k"])
    got = {r.k: r.v for r in wh.read("t").collect()}
    assert got == {"a": 1, "b": 20, "c": 3}


def test_merge_is_idempotent(spark, tmp_path, wh_cls):
    wh = wh_cls(spark, str(tmp_path / "wh"))
    upd = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int")
    wh.merge(upd, "t", ["k"])
    before = sorted((r.k, r.v) for r in wh.read("t").collect())
    wh.merge(upd, "t", ["k"])  # re-run same batch (crash-retry scenario)
    after = sorted((r.k, r.v) for r in wh.read("t").collect())
    assert before == after


def test_partition_pruned_merge(spark, tmp_path, wh_cls):
    """MERGE with prune_partition_col rewrites only touched partitions."""
    import os

    wh = wh_cls(spark, str(tmp_path / "wh"))
    base = spark.createDataFrame(
        [("a", 1, "2025-01"), ("b", 2, "2025-01"), ("c", 3, "2025-02"),
         ("d", 4, "2025-03")],
        "k string, v int, month string",
    )
    wh.merge(base, "t", ["k"], prune_partition_col="month")
    # record untouched partition's file set
    feb = os.path.join(wh.path("t"), "month=2025-02")
    feb_files = sorted(os.listdir(feb))

    upd = spark.createDataFrame(
        [("b", 20, "2025-01"), ("e", 5, "2025-03")], "k string, v int, month string"
    )
    wh.merge(upd, "t", ["k"], prune_partition_col="month")
    got = {(r.k): (r.v, r.month) for r in wh.read("t").collect()}
    assert got == {"a": (1, "2025-01"), "b": (20, "2025-01"), "c": (3, "2025-02"),
                   "d": (4, "2025-03"), "e": (5, "2025-03")}
    # the 2025-02 partition was never rewritten
    assert sorted(os.listdir(feb)) == feb_files
    # idempotent re-run
    wh.merge(upd, "t", ["k"], prune_partition_col="month")
    assert wh.read("t").count() == 5


def test_pruned_merge_handles_partition_movers(spark, tmp_path, wh_cls):
    """A key whose partition-column value changes must not leave a stale
    copy in its old partition."""
    wh = wh_cls(spark, str(tmp_path / "wh"))
    base = spark.createDataFrame(
        [("e1", 1, "2024"), ("e2", 2, "2025")], "k string, v int, year string"
    )
    wh.merge(base, "t", ["k"], prune_partition_col="year")
    # e1 moves from 2024 to 2025 (e.g. revised event time crosses years)
    upd = spark.createDataFrame([("e1", 10, "2025")], "k string, v int, year string")
    wh.merge(upd, "t", ["k"], prune_partition_col="year")
    got = {(r.k): (r.v, str(r.year)) for r in wh.read("t").collect()}
    # (partition-dir values type-infer back as ints — compare as strings)
    assert got == {"e1": (10, "2025"), "e2": (2, "2025")}
    import os
    # the old partition directory is rewritten (now empty of e1)
    assert wh.read("t").filter("year = '2024'").count() == 0


def test_pruned_merge_null_partition_values(spark, tmp_path, wh_cls):
    """NULL partition values must not be silently dropped or deleted."""
    wh = wh_cls(spark, str(tmp_path / "wh"))
    base = spark.createDataFrame(
        [("a", 1, None), ("b", 2, None), ("c", 3, "2025")],
        "k string, v int, year string",
    )
    wh.merge(base, "t", ["k"], prune_partition_col="year")
    # update one null-partition key; the OTHER null-partition row survives
    upd = spark.createDataFrame([("a", 10, None)], "k string, v int, year string")
    wh.merge(upd, "t", ["k"], prune_partition_col="year")
    got = {r.k: r.v for r in wh.read("t").collect()}
    assert got == {"a": 10, "b": 2, "c": 3}
    # and a key moving OUT of the null partition leaves no stale copy
    upd2 = spark.createDataFrame([("b", 20, "2025")], "k string, v int, year string")
    wh.merge(upd2, "t", ["k"], prune_partition_col="year")
    rows = {r.k: (r.v, r.year) for r in wh.read("t").collect()}
    # string-normalize year: hive-layout backends re-infer the partition
    # column from directory names (→ int), the delta backend serves the
    # DECLARED schema type (string) — both are that backend's documented
    # read semantics; what this test pins is no-loss / no-stale-copy
    rows = {k: (v, None if y is None else str(y)) for k, (v, y) in rows.items()}
    assert rows == {"a": (10, None), "b": (20, "2025"), "c": (3, "2025")}


def test_plain_overwrite_and_merge_preserve_partitioning(spark, tmp_path, wh_cls):
    """overwrite()/merge() without explicit partition args must keep an
    existing hive layout (flattening would corrupt later pruned merges)."""
    wh = wh_cls(spark, str(tmp_path / "wh"))
    base = spark.createDataFrame(
        [("a", 1, "2024"), ("b", 2, "2025")], "k string, v int, year string"
    )
    wh.merge(base, "t", ["k"], prune_partition_col="year")
    assert wh.partition_columns("t") == ["year"]
    # non-pruned merge keeps the layout
    upd = spark.createDataFrame([("c", 3, "2025")], "k string, v int, year string")
    wh.merge(upd, "t", ["k"])
    assert wh.partition_columns("t") == ["year"]
    assert wh.read("t").count() == 3
    # and a later pruned merge still works on a consistent layout
    upd2 = spark.createDataFrame([("b", 20, "2025")], "k string, v int, year string")
    wh.merge(upd2, "t", ["k"], prune_partition_col="year")
    got = {r.k: r.v for r in wh.read("t").collect()}
    assert got == {"a": 1, "b": 20, "c": 3}


def test_compact_preserves_partitioning(spark, tmp_path, wh_cls):
    from global_seismic_data_pipeline_spark.pipeline import maintenance

    wh = wh_cls(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [(i, f"20{20 + i % 3}") for i in range(100)], "v long, year string"
    )
    wh.overwrite(df.repartition(8), "t", partition_by=["year"])
    stats = wh.table_stats("t")
    assert stats["num_files"] > 0  # recursive stats see partitioned files
    res = maintenance.compact(wh, "t", sort_cols=("v",))
    assert wh.partition_columns("t") == ["year"]  # layout preserved
    assert wh.read("t").count() == 100
    assert res["files_after"] >= 1


def test_crash_between_merge_and_watermark_is_safe(spark, tmp_path, wh_cls):
    """At-least-once data, exactly-once effect: if a run dies after the
    silver MERGE but before the watermark advance (the reference's
    double-count hazard, SURVEY §7 hard-part b), the rerun reprocesses the
    same rows and MERGE makes it a no-op on the table."""
    from datetime import datetime as dt

    from global_seismic_data_pipeline_spark.pipeline import bronze as bz
    from global_seismic_data_pipeline_spark.pipeline import silver as sv
    from global_seismic_data_pipeline_spark.schemas import BRONZE_EARTHQUAKES
    from conftest import bronze_row

    wh = wh_cls(spark, str(tmp_path / "wh"))
    store = WatermarkStore(wh)
    batch = spark.createDataFrame(
        [bronze_row("x1", dt(2025, 5, 1)), bronze_row("x2", dt(2025, 5, 2))],
        BRONZE_EARTHQUAKES,
    )
    bz.ingest_batch(wh, store, batch)
    clock = dt(2025, 6, 1)
    assert sv.run_silver(wh, store, clock=clock) == 2
    before = sorted(map(tuple, wh.read("silver_earthquakes").collect()))

    # simulate the crash: roll the watermark back as if the advance never
    # happened, then rerun
    entries = store._entries()
    entries[sv.SILVER_TABLE].watermark_value = dt(2000, 1, 1)
    store._write(entries)
    assert sv.run_silver(wh, store, clock=clock) == 2  # reprocessed
    after = sorted(map(tuple, wh.read("silver_earthquakes").collect()))
    assert after == before  # table identical — no duplicates, no drift


def test_bucketed_join_has_no_shuffle(spark, tmp_path, wh_cls):
    """Bucketed-on-same-key tables must join without an Exchange."""
    wh = wh_cls(spark, str(tmp_path / "wh"))
    from global_seismic_data_pipeline_spark.sources.deltawh import (
        DeltaLogWarehouse,
    )

    if isinstance(wh, DeltaLogWarehouse):
        pytest.skip("bucketed tables need the session catalog — documented "
                    "contract guard on the delta backend")
    left = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("a")
    )
    right = spark.range(500).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("b")
    )
    lt = wh.save_bucketed(left, "bkt_left", ["k"], num_buckets=4, sort_cols=["k"])
    rt = wh.save_bucketed(right, "bkt_right", ["k"], num_buckets=4, sort_cols=["k"])
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = lt.join(rt, "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert joined.count() == 500
        got = joined.filter(F.col("k") == 7).collect()[0]
        assert (got.a, got.b) == (14, 21)
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS bkt_left")
        spark.sql("DROP TABLE IF EXISTS bkt_right")


def test_atomic_overwrite_derived_from_self(spark, tmp_path, wh_cls):
    """Overwriting a table with a plan that reads the same table must not
    corrupt it (the reference leans on Delta for this; our staging-swap
    provides it on parquet)."""
    wh = wh_cls(spark, str(tmp_path / "wh"))
    wh.overwrite(spark.range(100).withColumnRenamed("id", "v"), "t")
    doubled = wh.read("t").withColumn("v", F.col("v") * 2)
    wh.overwrite(doubled, "t")
    assert wh.read("t").agg(F.sum("v")).collect()[0][0] == 9900
    # no staging/trash leftovers
    leftovers = [
        d for d in __import__("os").listdir(wh.root) if d.startswith(".")
    ]
    assert leftovers == []


def test_overwrite_dynamic_partitions(spark, tmp_path, wh_cls):
    """Dynamic partition overwrite on EVERY backend: exactly the
    partitions present in the batch replace; untouched partitions
    (incl. the hive NULL partition) survive; unpartitioned tables
    degrade to the plain atomic overwrite."""
    wh = wh_cls(spark, str(tmp_path / "wh"))
    wh.overwrite(
        spark.createDataFrame(
            [(1, "A"), (2, "A"), (3, "B"), (4, "C"), (5, None)],
            "k int, band string",
        ),
        "t",
        ["band"],
    )
    out = wh.overwrite_dynamic(
        spark.createDataFrame(
            [(10, "A"), (11, "B")], "k int, band string"
        ),
        "t",
    )
    assert out["partitions_replaced"] == 2
    got = {(r.k, r.band) for r in wh.read("t").collect()}
    assert got == {(10, "A"), (11, "B"), (4, "C"), (5, None)}
    # idempotent re-run of the same batch
    wh.overwrite_dynamic(
        spark.createDataFrame(
            [(10, "A"), (11, "B")], "k int, band string"
        ),
        "t",
    )
    assert {(r.k, r.band) for r in wh.read("t").collect()} == got
    # the NULL partition replaces when the batch carries null rows
    wh.overwrite_dynamic(
        spark.createDataFrame([(50, None)], "k int, band string"), "t"
    )
    assert {(r.k, r.band) for r in wh.read("t").collect()} == {
        (10, "A"), (11, "B"), (4, "C"), (50, None)
    }
    # unpartitioned: full replace
    wh.overwrite(
        spark.createDataFrame([(1, "x")], "k int, s string"), "flat"
    )
    wh.overwrite_dynamic(
        spark.createDataFrame([(9, "z")], "k int, s string"), "flat"
    )
    assert {(r.k, r.s) for r in wh.read("flat").collect()} == {(9, "z")}


def test_show_partitions_metadata_only(spark, tmp_path, wh_cls):
    """SHOW PARTITIONS on every backend: one row per LIVE partition with
    its data-file count (log/manifest-backed on the commit-log backends,
    so time-travel-retained dead files never count); unpartitioned
    tables return zero rows."""
    wh = wh_cls(spark, str(tmp_path / "wh"))
    wh.overwrite(
        spark.createDataFrame(
            [(1, "A"), (2, "A"), (3, "B"), (4, None)],
            "k int, band string",
        ),
        "t", ["band"],
    )
    got = {r.partition: r.num_files for r in wh.show_partitions("t").collect()}
    assert set(got) == {
        "band=A", "band=B", "band=__HIVE_DEFAULT_PARTITION__"
    }
    assert all(n >= 1 for n in got.values())
    # replace one partition: the inventory tracks the LIVE set
    wh.overwrite_dynamic(
        spark.createDataFrame([(9, "A")], "k int, band string"), "t"
    )
    got2 = {
        r.partition: r.num_files for r in wh.show_partitions("t").collect()
    }
    assert set(got2) == set(got)
    # unpartitioned: zero rows
    wh.overwrite(spark.createDataFrame([(1,)], "k int"), "flat")
    assert wh.show_partitions("flat").count() == 0


def test_bucketed_write_one_file_per_bucket(spark, tmp_path, wh_cls):
    """File-layout invariant (r11 optimization, guide §6 small files):
    save_bucketed lands exactly ONE file per bucket regardless of input
    partitioning, and each append_bucketed adds at most one more file per
    bucket — not one per (task × bucket). A regression here multiplies
    every probe's per-file open cost by the task count."""
    wh = wh_cls(spark, str(tmp_path / "wh"))
    from global_seismic_data_pipeline_spark.sources.deltawh import (
        DeltaLogWarehouse,
    )

    if isinstance(wh, DeltaLogWarehouse):
        pytest.skip("bucketed tables need the session catalog — documented "
                    "contract guard on the delta backend")
    n_b = 4
    # 32 input partitions would emit up to 32×4 files without the
    # bucket-aligned repartition inside save_bucketed
    base = spark.range(0, 2000, 1, 32).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    try:
        wh.save_bucketed(base, "bkt_files", ["k"], num_buckets=n_b)
        # at-most-one-file-per-bucket (an empty bucket may emit nothing;
        # CLAUDE.md forbids exact part-file-count asserts)
        assert 1 <= wh.table_stats("bkt_files")["num_files"] <= n_b
        batch = spark.range(2000, 2500, 1, 16).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("v")
        )
        wh.append_bucketed(batch, "bkt_files", ["k"], num_buckets=n_b)
        assert wh.table_stats("bkt_files")["num_files"] <= 2 * n_b
        assert spark.table("bkt_files").count() == 2500
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_files")
