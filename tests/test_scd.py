"""SCD Type 2 history build: no-op collapse, gapless half-open intervals,
point-in-time reconstruction (operators/scd.py)."""

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from global_seismic_data_pipeline_spark.operators import scd

T = datetime


@pytest.fixture()
def changes(spark):
    rows = [
        (1, T(2025, 1, 1), "bronze"),
        (1, T(2025, 2, 1), "bronze"),   # no-op: must not fragment
        (1, T(2025, 3, 1), "silver"),
        (1, T(2025, 5, 1), "gold"),
        (2, T(2025, 1, 15), "silver"),
        (3, T(2025, 2, 1), None),       # genuinely-null attribute
        (3, T(2025, 3, 1), "bronze"),
        (3, T(2025, 4, 1), None),       # back to null = a real change
    ]
    return spark.createDataFrame(rows, "user_id long, ts timestamp, tier string")


def test_scd2_versions_and_noop_collapse(spark, changes):
    hist = scd.scd2_build(
        changes, key_cols=["user_id"], ts_col="ts", attr_cols=["tier"]
    ).collect()
    by_user = {}
    for r in hist:
        by_user.setdefault(r.user_id, []).append(r)
    assert len(by_user[1]) == 3  # the 2025-02-01 no-op collapsed
    v = sorted(by_user[1], key=lambda r: r.valid_from)
    assert [r.tier for r in v] == ["bronze", "silver", "gold"]
    # half-open adjacency: each valid_to == next valid_from; last is open
    assert v[0].valid_to == v[1].valid_from
    assert v[1].valid_to == v[2].valid_from
    assert v[2].valid_to is None and v[2].is_current == 1
    assert [r.is_current for r in v] == [0, 0, 1]
    assert len(by_user[2]) == 1 and by_user[2][0].is_current == 1


def test_scd2_null_attribute_transitions(spark, changes):
    """null → value → null are three REAL versions (null-safe change
    detection); a leading null version is kept as the first row."""
    hist = sorted(
        (r for r in scd.scd2_build(
            changes, key_cols=["user_id"], ts_col="ts", attr_cols=["tier"]
        ).collect() if r.user_id == 3),
        key=lambda r: r.valid_from,
    )
    assert [r.tier for r in hist] == [None, "bronze", None]
    assert [r.is_current for r in hist] == [0, 0, 1]


def test_scd2_as_of_reconstruction(spark, changes):
    hist = scd.scd2_build(
        changes, key_cols=["user_id"], ts_col="ts", attr_cols=["tier"]
    )
    at = {
        r.user_id: r.tier
        for r in scd.as_of(hist, T(2025, 3, 15)).collect()
    }
    assert at == {1: "silver", 2: "silver", 3: "bronze"}
    # exactly at a change boundary: the NEW version applies (half-open)
    at2 = {r.user_id: r.tier for r in scd.as_of(hist, T(2025, 3, 1)).collect()}
    assert at2[1] == "silver" and at2[3] == "bronze"
    # before any change: no rows for that user
    assert 1 not in {
        r.user_id for r in scd.as_of(hist, T(2024, 12, 1)).collect()
    }


def test_scd2_validation(spark, changes):
    with pytest.raises(ValueError):
        scd.scd2_build(changes, key_cols=[], ts_col="ts", attr_cols=["tier"])
    with pytest.raises(ValueError):
        scd.scd2_build(changes, key_cols=["user_id"], ts_col="ts", attr_cols=[])


def _hist_rows(df):
    return sorted(
        (r.user_id, r.value, r.valid_from, r.valid_to, r.is_current)
        for r in df.collect()
    )


def test_scd2_apply_changes_equals_full_build(spark):
    """apply(build(A), B) == build(A + B) for an adversarial split:
    late-arriving rows landing between existing change points, no-ops
    re-stated in the batch, brand-new keys, and keys absent from the
    batch (which must pass through object-identical)."""
    from datetime import datetime

    from global_seismic_data_pipeline_spark.operators.scd import (
        scd2_apply_changes,
        scd2_build,
    )

    t = lambda d: datetime(2024, 1, d)
    old = [
        (1, t(1), 10.0), (1, t(5), 20.0), (1, t(9), 30.0),
        (2, t(2), 5.0),
        (3, t(3), 7.0), (3, t(6), 8.0),
    ]
    new = [
        (1, t(3), 15.0),   # late arrival BETWEEN old points
        (1, t(12), 30.0),  # no-op vs the t(9) version: must collapse
        (2, t(10), 6.0),   # normal forward change
        (9, t(11), 1.0),   # brand-new key
        # key 3 untouched
    ]
    schema = "user_id long, ts timestamp, value double"
    old_df = spark.createDataFrame(old, schema)
    new_df = spark.createDataFrame(new, schema)
    kw = dict(key_cols=["user_id"], ts_col="ts", attr_cols=["value"])
    hist = scd2_build(old_df, **kw)
    applied = scd2_apply_changes(hist, new_df, **kw)
    full = scd2_build(old_df.unionByName(new_df), **kw)
    assert _hist_rows(applied) == _hist_rows(full)
    # the no-op row must not fragment key 1's timeline
    k1 = [r for r in _hist_rows(applied) if r[0] == 1]
    assert [v for _, v, *_ in k1] == [10.0, 15.0, 20.0, 30.0]
    # untouched key 3 passes through identical to the original history
    assert [r for r in _hist_rows(applied) if r[0] == 3] == [
        r for r in _hist_rows(hist) if r[0] == 3
    ]


def test_scd2_apply_changes_from_cdf(spark, tmp_path):
    """The change-data feed drives the incremental SCD2 maintenance:
    MERGE commits on a Delta table, table_changes() between the
    snapshots becomes the apply batch, and the maintained history
    equals a from-scratch build over the final snapshot's change
    stream."""
    from datetime import datetime

    from global_seismic_data_pipeline_spark.operators.scd import (
        scd2_apply_changes,
        scd2_build,
    )
    from global_seismic_data_pipeline_spark.sources.deltawh import (
        DeltaLogWarehouse,
    )

    wh = DeltaLogWarehouse(spark, str(tmp_path / "wh"))
    t = lambda d: datetime(2024, 2, d)
    schema = "user_id long, ts timestamp, value double"
    batch1 = spark.createDataFrame(
        [(1, t(1), 1.0), (2, t(2), 4.0)], schema
    )
    wh.overwrite(batch1, "chg")
    v1 = wh.history("chg")[-1]["version"]
    kw = dict(key_cols=["user_id"], ts_col="ts", attr_cols=["value"])
    # pin the history to the committed snapshot: the live path's files
    # are rewritten by the MERGE below, and a lazy plan over them would
    # dangle (time travel is the point of the Delta log)
    hist = scd2_build(wh.read_version("chg", v1), **kw)

    batch2 = spark.createDataFrame(
        [(1, t(5), 2.0), (3, t(6), 9.0)], schema
    )
    wh.merge(batch2, "chg", keys=["user_id", "ts"])
    feed = wh.table_changes("chg", v1 + 1).filter(
        F.col("_change_type").isin("insert", "update_postimage")
    ).select("user_id", "ts", "value")
    applied = scd2_apply_changes(hist, feed, **kw)
    full = scd2_build(wh.read("chg"), **kw)
    assert _hist_rows(applied) == _hist_rows(full)
