"""Incremental view maintenance: O(Δ) refresh ≡ from-scratch aggregate
across MERGE/UPDATE/DELETE commits, group birth/death, crash replay."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from global_seismic_data_pipeline_spark.operators import ivm
from global_seismic_data_pipeline_spark.sources.deltawh import DeltaLogWarehouse


@pytest.fixture()
def wh(spark, tmp_path):
    return DeltaLogWarehouse(spark, str(tmp_path / "wh"))


def _df(spark, rows):
    return spark.createDataFrame(rows, "k string, grp string, v long")


def _recompute(wh):
    return sorted(
        tuple(r)
        for r in wh.read("t")
        .groupBy("grp")
        .agg(F.count(F.lit(1)).cast("long").alias("n"),
             F.sum("v").cast("long").alias("sv"))
        .collect()
    )


def _view(wh):
    return sorted(tuple(r) for r in wh.read("tv").collect())


AGGS = {"n": ("count", None), "sv": ("sum", "v")}


def test_refresh_equals_recompute_across_commit_types(spark, wh):
    wh.overwrite(_df(spark, [("a", "g1", 1), ("b", "g1", 2), ("c", "g2", 3)]), "t")
    assert ivm.define_agg_view(wh, "t", "tv", ["grp"], AGGS) == 0
    assert _view(wh) == _recompute(wh)

    # commit 1: MERGE (update b, insert d into a NEW group)
    wh.merge(_df(spark, [("b", "g1", 20), ("d", "g3", 4)]), "t", ["k"])
    out = ivm.refresh_agg_view(wh, "tv")
    assert (out["from_version"], out["to_version"]) == (1, 1)
    assert out["groups_changed"] == 2  # g1 (update), g3 (birth)
    assert _view(wh) == _recompute(wh)

    # commit 2: delete ALL of g2 → the group must vanish from the view
    wh.overwrite(wh.read("t").filter(F.col("grp") != "g2"), "t")
    ivm.refresh_agg_view(wh, "tv")
    got = _view(wh)
    assert got == _recompute(wh)
    assert all(r[0] != "g2" for r in got)

    # no-op refresh: nothing new, view untouched
    v_before = wh.latest_version("tv")
    assert ivm.refresh_agg_view(wh, "tv")["groups_changed"] == 0
    assert wh.latest_version("tv") == v_before


def test_multi_commit_catchup_single_refresh(spark, wh):
    wh.overwrite(_df(spark, [("a", "g1", 1)]), "t")
    ivm.define_agg_view(wh, "t", "tv", ["grp"], AGGS)
    wh.append(_df(spark, [("b", "g1", 2)]), "t")          # v1
    wh.append(_df(spark, [("c", "g2", 5)]), "t")          # v2
    wh.merge(_df(spark, [("a", "g1", 100)]), "t", ["k"])  # v3
    out = ivm.refresh_agg_view(wh, "tv")
    assert (out["from_version"], out["to_version"]) == (1, 3)
    assert _view(wh) == _recompute(wh) == [("g1", 2, 102), ("g2", 1, 5)]


def test_crash_replay_is_idempotent_in_effect(spark, wh):
    """Crash between view commit and meta write: the re-run derives from
    the meta-recorded PRE-state snapshot and lands on the same result."""
    wh.overwrite(_df(spark, [("a", "g1", 1), ("b", "g2", 2)]), "t")
    ivm.define_agg_view(wh, "t", "tv", ["grp"], AGGS)
    meta_before = wh.read(f"tv{ivm.META_SUFFIX}").collect()[0]

    wh.append(_df(spark, [("c", "g1", 10)]), "t")
    ivm.refresh_agg_view(wh, "tv")
    expected = _view(wh)

    # simulate the crash: view advanced, meta write lost
    wh.overwrite(
        spark.createDataFrame([tuple(meta_before)], ivm._META_SCHEMA)
        .coalesce(1),
        f"tv{ivm.META_SUFFIX}",
    )
    out = ivm.refresh_agg_view(wh, "tv")  # re-applies commit 1
    assert out["to_version"] == 1
    assert _view(wh) == expected == _recompute(wh)  # NOT double-counted


def test_null_group_keys_maintained(spark, wh):
    rows = [("a", None, 1), ("b", None, 2), ("c", "g1", 3)]
    wh.overwrite(_df(spark, rows), "t")
    ivm.define_agg_view(wh, "t", "tv", ["grp"], AGGS)
    wh.overwrite(wh.read("t").filter(F.col("k") != "a"), "t")  # delete one NULL-group row
    ivm.refresh_agg_view(wh, "tv")
    # sorted() can't mix None/str — compare as sets (grp values unique)
    got = {(r.grp, r.n, r.sv) for r in wh.read("tv").collect()}
    rec = {
        (r.grp, r.n, r.sv)
        for r in wh.read("t")
        .groupBy("grp")
        .agg(F.count(F.lit(1)).cast("long").alias("n"),
             F.sum("v").cast("long").alias("sv"))
        .collect()
    }
    assert got == rec == {("g1", 1, 3), (None, 1, 2)}


def test_validation_refuses_non_maintainable(spark, wh):
    wh.overwrite(_df(spark, [("a", "g1", 1)]), "t")
    with pytest.raises(ValueError, match="not incrementally maintainable"):
        ivm.define_agg_view(
            wh, "t", "tv", ["grp"],
            {"m": ("avg", "v"), "n": ("count", None)},
        )
    with pytest.raises(ValueError, match="include a count"):
        ivm.define_agg_view(wh, "t", "tv", ["grp"], {"sv": ("sum", "v")})


MM_AGGS = {
    "n": ("count", None), "sv": ("sum", "v"),
    "mn": ("min", "v"), "mx": ("max", "v"),
}


def _recompute_mm(wh):
    return sorted(
        tuple(r)
        for r in wh.read("t")
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("v").cast("long").alias("sv"),
            F.min("v").cast("long").alias("mn"),
            F.max("v").cast("long").alias("mx"),
        )
        .collect()
    )


def test_minmax_insert_only_and_delete_recompute(spark, wh):
    """MIN/MAX maintenance: insert-only commits take the least/greatest
    candidate path; a commit that deletes a group's extremum routes that
    group (and only it) through the snapshot recompute — every state
    equals the from-scratch aggregate."""
    wh.overwrite(
        _df(spark, [("a", "g1", 5), ("b", "g1", 9), ("c", "g2", 3)]), "t"
    )
    ivm.define_agg_view(wh, "t", "tv", ["grp"], MM_AGGS)
    view = lambda: sorted(tuple(r) for r in wh.read("tv").collect())
    assert view() == _recompute_mm(wh)

    # insert-only: new global max in g1, new group g3
    wh.append(_df(spark, [("d", "g1", 20), ("e", "g3", 7)]), "t")
    ivm.refresh_agg_view(wh, "tv")
    assert view() == _recompute_mm(wh)
    assert dict((r[0], (r[3], r[4])) for r in view())["g1"] == (5, 20)

    # delete g1's maximum (20) AND its minimum (5): both must recompute
    wh.overwrite(wh.read("t").filter(~F.col("k").isin("d", "a")), "t")
    ivm.refresh_agg_view(wh, "tv")
    assert view() == _recompute_mm(wh)
    assert dict((r[0], (r[3], r[4])) for r in view())["g1"] == (9, 9)

    # update (delete+insert in the keyless feed) that lowers the max
    wh.merge(_df(spark, [("b", "g1", 4)]), "t", ["k"])
    ivm.refresh_agg_view(wh, "tv")
    assert view() == _recompute_mm(wh)

    # group death with min/max present
    wh.overwrite(wh.read("t").filter(F.col("grp") != "g2"), "t")
    ivm.refresh_agg_view(wh, "tv")
    got = view()
    assert got == _recompute_mm(wh) and all(r[0] != "g2" for r in got)


def test_minmax_untouched_groups_not_rescanned(spark, wh):
    """The recompute pass is scoped: a delete in g1 must not reread g2's
    rows (checked through the scoped plan's semi-join keys — the
    recompute input is filtered by the affected keys only)."""
    wh.overwrite(
        _df(spark, [("a", "g1", 1), ("b", "g1", 8), ("c", "g2", 5)]), "t"
    )
    ivm.define_agg_view(wh, "t", "tv", ["grp"], MM_AGGS)
    wh.overwrite(wh.read("t").filter(F.col("k") != "b"), "t")
    out = ivm.refresh_agg_view(wh, "tv")
    assert out["groups_changed"] == 1  # only g1 touched
    assert sorted(tuple(r) for r in wh.read("tv").collect()) == _recompute_mm(wh)
