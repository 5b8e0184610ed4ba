"""IcebergWarehouse: the medallion storage contract (bronze append /
silver MERGE / gold overwrite, ref 02_ingestion.py:214-217,
04_silver_transformation.py:196-202, 05_gold_aggregation.py:79) over
real Iceberg tables — append snapshots, overwrite snapshots, FILE-LEVEL
pruned MERGE through manifest partition values, commit-boundary CHECK
constraints, time travel, O(Δ) tail."""

import os

import pytest

from global_seismic_data_pipeline_spark.sources import iceberg as ib
from global_seismic_data_pipeline_spark.sources.icebergwh import (
    IcebergWarehouse,
)
from global_seismic_data_pipeline_spark.sources.warehouse import (
    ConstraintViolation,
)


@pytest.fixture
def iwh(spark, tmp_path):
    return IcebergWarehouse(spark, str(tmp_path / "iwh"))


def _df(spark, rows, schema="k long, v string"):
    return spark.createDataFrame(rows, schema)


def test_append_overwrite_timetravel(spark, iwh):
    assert not iwh.exists("t")
    iwh.append(_df(spark, [(1, "a")]), "t")          # creates
    iwh.append(_df(spark, [(2, "b")]), "t")          # append snapshot
    assert iwh.exists("t")
    assert {r.k for r in iwh.read("t").collect()} == {1, 2}
    s2 = iwh.table("t").current_snapshot_id()
    iwh.overwrite(_df(spark, [(9, "z")]), "t")
    assert {r.k for r in iwh.read("t").collect()} == {9}
    # old snapshots stay time-travelable
    assert {r.k for r in iwh.read_snapshot("t", s2).collect()} == {1, 2}
    ops = [
        s["summary"]["operation"] for s in iwh.table("t").snapshots()
    ]
    assert ops == ["append", "append", "overwrite"]


def test_wap_and_metadata_table_delegates(spark, iwh):
    """The warehouse's write-audit-publish surface end-to-end:
    append_to_ref stages invisibly, read_ref audits, publish_ref
    fast-forwards main, and metadata_table exposes the forensic
    tables; cherry_pick recovers a branch main advanced past."""
    iwh.append(_df(spark, [(1, "a")]), "t")
    iwh.create_ref("t", "audit", kind="branch")
    iwh.append_to_ref(_df(spark, [(2, "b")]), "t", "audit")
    assert {r.k for r in iwh.read("t").collect()} == {1}
    assert {r.k for r in iwh.read_ref("t", "audit").collect()} == {1, 2}
    out = iwh.publish_ref("t", "audit")
    assert out["published"] == 1
    assert {r.k for r in iwh.read("t").collect()} == {1, 2}
    refs = {r.name for r in iwh.metadata_table("t", "refs").collect()}
    assert {"main", "audit"} <= refs
    assert iwh.metadata_table("t", "snapshots").count() == 2
    parts = iwh.metadata_table("t", "partitions").collect()
    assert sum(r.record_count for r in parts) == 2

    # divergence -> cherry_pick recovery through the warehouse
    iwh.create_ref("t", "b2", kind="branch")
    iwh.append_to_ref(_df(spark, [(3, "c")]), "t", "b2")
    iwh.append(_df(spark, [(4, "d")]), "t")
    staged = iwh.table("t").refs()["b2"]["snapshot-id"]
    with pytest.raises(ib.IcebergError, match="diverged"):
        iwh.publish_ref("t", "b2")
    iwh.cherry_pick("t", staged)
    assert {r.k for r in iwh.read("t").collect()} == {1, 2, 3, 4}


def test_merge_full_table(spark, iwh):
    iwh.overwrite(_df(spark, [(1, "a"), (2, "b")]), "t")
    iwh.merge(_df(spark, [(2, "B"), (3, "c")]), "t", keys=["k"])
    got = {(r.k, r.v) for r in iwh.read("t").collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c")}
    # idempotent re-run
    iwh.merge(_df(spark, [(2, "B"), (3, "c")]), "t", keys=["k"])
    assert {(r.k, r.v) for r in iwh.read("t").collect()} == got


def test_merge_pruned_is_file_level(spark, iwh):
    """Pruned MERGE rewrites ONLY the touched partitions' files: the
    untouched partition's data file carries into the new snapshot with
    its exact path (manifest-level proof, no directory tricks)."""
    df = spark.createDataFrame(
        [(1, "p1", "a"), (2, "p1", "b"), (3, "p2", "c"), (4, "p3", "d")],
        "k long, part string, v string",
    )
    iwh.merge(df, "t", keys=["k"], prune_partition_col="part")  # creates
    t = iwh.table("t")
    assert [f["transform"] for f in t.partition_spec()] == ["identity"]
    before = {
        f["partition"]["part"]: f["file_path"] for f in t.data_files()
    }
    upd = spark.createDataFrame(
        [(2, "p1", "B"), (5, "p2", "e")], "k long, part string, v string"
    )
    iwh.merge(upd, "t", keys=["k"], prune_partition_col="part")
    t2 = iwh.table("t")
    after = {}
    for f in t2.data_files():
        after.setdefault(f["partition"]["part"], set()).add(f["file_path"])
    # p3 untouched: same file object in the new snapshot
    assert after["p3"] == {before["p3"]}
    # p1/p2 rewritten: new files
    assert before["p1"] not in after["p1"]
    got = {(r.k, r.part, r.v) for r in iwh.read("t").collect()}
    assert got == {
        (1, "p1", "a"), (2, "p1", "B"), (3, "p2", "c"),
        (4, "p3", "d"), (5, "p2", "e"),
    }
    # a key MOVING partition dies in its old home (mover logic)
    mv = spark.createDataFrame(
        [(4, "p1", "D")], "k long, part string, v string"
    )
    iwh.merge(mv, "t", keys=["k"], prune_partition_col="part")
    got2 = {(r.k, r.part, r.v) for r in iwh.read("t").collect()}
    assert (4, "p1", "D") in got2 and (4, "p3", "d") not in got2


def test_check_constraints_at_snapshot_boundary(spark, iwh):
    iwh.overwrite(_df(spark, [(1, "a")]), "t")
    iwh.add_constraint("t", "kpos", "k >= 0")
    n_snaps = len(iwh.snapshots("t"))
    data_dir = os.path.join(iwh.path("t"), "data")
    n_files = len(os.listdir(data_dir))
    with pytest.raises(ConstraintViolation):
        iwh.append(_df(spark, [(-1, "bad")]), "t")
    # nothing published AND the staged data files were unlinked
    assert len(iwh.snapshots("t")) == n_snaps
    assert len(os.listdir(data_dir)) == n_files
    iwh.append(_df(spark, [(2, "ok")]), "t")
    assert iwh.read("t").count() == 2


def test_tail_and_maintenance_delegates(spark, iwh):
    iwh.append(_df(spark, [(1, "a")]), "t")
    s1 = iwh.table("t").current_snapshot_id()
    iwh.append(_df(spark, [(2, "b")]), "t")
    rows, cursor = iwh.tail("t", s1)
    assert {r.k for r in rows.collect()} == {2}
    assert cursor == iwh.table("t").current_snapshot_id()
    # row-level delete + compaction + expiry through the warehouse
    iwh.overwrite(
        spark.range(0, 50).selectExpr(
            "id AS k", "cast(id % 2 AS string) AS v"
        ),
        "t2", partition_by=["v"],
    )
    out = iwh.delete_where("t2", "k IN (1, 3)")
    assert out["rows_deleted"] == 2
    assert iwh.read("t2").count() == 48
    iwh.compact("t2")
    assert iwh.read("t2").count() == 48
    stats = iwh.expire_snapshots("t2", keep_last=1)
    assert stats["snapshots_expired"] >= 1
    assert iwh.read("t2").count() == 48
    md = iwh.expire_metadata_versions("t2", keep_last=1)
    assert md["metadata_versions_deleted"] >= 1
    assert iwh.read("t2").count() == 48
    rw = iwh.rewrite_manifests("t2")
    assert rw["manifests_after"] <= rw["manifests_before"]
    assert iwh.read("t2").count() == 48


def test_warehouse_upsert_equality_delete(spark, iwh):
    """The O(batch) upsert through the warehouse API: existing files
    survive untouched, update-wins semantics hold."""
    iwh.overwrite(
        spark.createDataFrame(
            [(1, "p1", "a"), (2, "p2", "b")], "k long, part string, v string"
        ),
        "t", partition_by=["part"],
    )
    files0 = {f["file_path"] for f in iwh.table("t").data_files()}
    out = iwh.upsert(
        spark.createDataFrame(
            [(2, "p2", "B"), (3, "p1", "c")], "k long, part string, v string"
        ),
        "t", ["k"],
    )
    assert out["keys_deleted"] == 2
    assert {(r.k, r.v) for r in iwh.read("t").collect()} == {
        (1, "a"), (2, "B"), (3, "c"),
    }
    assert files0 <= {f["file_path"] for f in iwh.table("t").data_files()}


def test_merge_pruned_refuses_wrong_spec(spark, iwh):
    iwh.overwrite(
        spark.createDataFrame([(1, "x", "a")], "k long, part string, v string"),
        "t",  # unpartitioned
    )
    with pytest.raises(ib.IcebergError, match="identity partitioning"):
        iwh._rewrite_partitions(
            "t", "part",
            spark.createDataFrame([], "k long, part string, v string"),
            ["x"],
        )


def test_overwrite_dynamic_file_level(spark, iwh):
    """Dynamic partition overwrite on the Iceberg backend: ONE snapshot,
    untouched partitions' file records carried verbatim (paths
    unchanged), touched partitions' files out of the live set; live
    row-level deletes and spec evolution refuse with guidance."""
    from global_seismic_data_pipeline_spark.sources import iceberg as ib

    iwh.overwrite(
        spark.createDataFrame(
            [(1, "A"), (2, "B"), (3, "C")], "k int, band string"
        ),
        "t", ["band"],
    )
    t = iwh.table("t")
    keep_paths = {
        f["file_path"] for f in t.data_files()
        if f["partition"].get("band") in ("B", "C")
    }
    n_snaps = len(t.snapshots())
    out = iwh.overwrite_dynamic(
        spark.createDataFrame(
            [(10, "A"), (11, "A")], "k int, band string"
        ),
        "t",
    )
    assert out["partitions_replaced"] == 1
    t2 = iwh.table("t")
    assert len(t2.snapshots()) == n_snaps + 1  # ONE snapshot
    got = {(r.k, r.band) for r in iwh.read("t").collect()}
    assert got == {(10, "A"), (11, "A"), (2, "B"), (3, "C")}
    # carried records kept their exact file paths (never rewritten)
    after = {f["file_path"] for f in t2.data_files()}
    assert keep_paths <= after
    # live row-level deletes refuse with guidance
    ib.delete_where(spark, iwh.path("t"), "k = 2")
    with pytest.raises(ib.IcebergError, match="compact_data_files"):
        iwh.overwrite_dynamic(
            spark.createDataFrame([(12, "A")], "k int, band string"), "t"
        )


def test_overwrite_dynamic_versioned_commits(spark, tmp_path):
    """The Delta backend records a dynamic overwrite as ONE commit —
    time travel sees the pre-replace state."""
    from global_seismic_data_pipeline_spark.sources.deltawh import (
        DeltaLogWarehouse,
    )

    wh = DeltaLogWarehouse(spark, str(tmp_path / "vwh"))
    wh.overwrite(
        spark.createDataFrame([(1, "A"), (2, "B")], "k int, band string"),
        "t", ["band"],
    )
    v0 = wh.latest_version("t")
    wh.overwrite_dynamic(
        spark.createDataFrame([(10, "A")], "k int, band string"), "t"
    )
    v1 = wh.latest_version("t")
    assert v1 == v0 + 1
    assert {(r.k, r.band) for r in wh.read("t").collect()} == {
        (10, "A"), (2, "B")
    }
    old = {(r.k, r.band) for r in wh.read_version("t", v0).collect()}
    assert old == {(1, "A"), (2, "B")}


def test_overwrite_dynamic_date_partitions_and_spec_guard(spark, tmp_path):
    """Review findings (r10): (a) identity-on-DATE partitions — the
    batch side collects datetime.date while the manifest stores
    days-since-epoch ints; canonicalization must make them the SAME
    partition or the replaced day's old files silently survive;
    (b) same-NAME spec evolution (bucket width change) must refuse by
    SPEC ID, not field names."""
    import datetime as dt

    from global_seismic_data_pipeline_spark.sources import iceberg as ib

    iwh = IcebergWarehouse(spark, str(tmp_path / "iwh"))
    d1, d2 = dt.date(2024, 1, 3), dt.date(2024, 1, 4)
    iwh.overwrite(
        spark.createDataFrame(
            [(1, d1), (2, d1), (3, d2)], "k int, day date"
        ),
        "t", ["day"],
    )
    out = iwh.overwrite_dynamic(
        spark.createDataFrame([(10, d1)], "k int, day date"), "t"
    )
    assert out["partitions_replaced"] == 1
    got = {(r.k, r.day) for r in iwh.read("t").collect()}
    assert got == {(10, d1), (3, d2)}  # old day-1 files really dropped

    # (b) bucket-width spec evolution keeps the field name — refuse
    loc = str(tmp_path / "iwh" / "b")
    ib.create_table(
        spark, loc,
        spark.createDataFrame([(1, 10), (2, 20)], "id long, v long"),
        partition_by=["bucket[4](v)"],
    )
    ib.update_partition_spec(spark, loc, ["bucket[8](v)"])
    ib.append(
        spark, loc,
        spark.createDataFrame([(3, 30)], "id long, v long"),
    )
    iwh2 = IcebergWarehouse(spark, str(tmp_path / "iwh"))
    with pytest.raises(ib.IcebergError, match="spec"):
        iwh2.overwrite_dynamic(
            spark.createDataFrame([(9, 10)], "id long, v long"), "b"
        )


def test_copy_into_iceberg_backend(spark, iwh, tmp_path):
    """COPY INTO inherits onto the Iceberg backend through its
    commit-protocol append: idempotent re-run, new-arrival delta load,
    and the rows land as real Iceberg snapshots."""
    from global_seismic_data_pipeline_spark.session import tiny_df

    land = tmp_path / "landing"
    land.mkdir()
    tiny_df(spark, [(1, "a")], "k int, s string").write.parquet(
        str(land / "b1")
    )
    out = iwh.copy_into("ing", str(land))
    assert out["rows_loaded"] == 1
    assert iwh.copy_into("ing", str(land)) == {
        "files_loaded": 0, "rows_loaded": 0,
    }
    tiny_df(spark, [(2, "b")], "k int, s string").write.parquet(
        str(land / "b2")
    )
    out = iwh.copy_into("ing", str(land))
    assert out["rows_loaded"] == 1
    assert {r.k for r in iwh.read("ing").collect()} == {1, 2}
    t = iwh.table("ing")
    assert len(t.snapshots()) == 2  # one commit per loaded batch


def test_show_partitions_iceberg_live_set(spark, iwh):
    """The Iceberg SHOW PARTITIONS reads manifests: dead files from a
    replaced partition never count, and the façade verb serves it."""
    from global_seismic_data_pipeline_spark.sources.sqldml import SqlDml

    iwh.overwrite(
        spark.createDataFrame(
            [(1, "A"), (2, "B")], "k int, band string"
        ),
        "t", ["band"],
    )
    iwh.overwrite_dynamic(
        spark.createDataFrame([(9, "A")], "k int, band string"), "t"
    )
    got = {
        r.partition: r.num_files
        for r in SqlDml(iwh).sql("SHOW PARTITIONS t").collect()
    }
    assert set(got) == {"band=A", "band=B"}
