"""Versioned-table contract on the Delta log backend: commit log, time
travel, restore, vacuum, clone, and the snapshot-diff change data feed
that serves tables without ``delta.enableChangeDataFeed``.

(Drop-in parity with the plain Warehouse is covered by parametrizing
test_state_and_merge.py / test_merge_model.py over the backends; the
file-based CDF path is covered in test_deltalog.py.)
"""

import os

import pytest
from pyspark.sql import functions as F

from global_seismic_data_pipeline_spark.sources.deltawh import DeltaLogWarehouse


@pytest.fixture()
def wh(spark, tmp_path):
    return DeltaLogWarehouse(spark, str(tmp_path / "wh"))


def _df(spark, rows):
    return spark.createDataFrame(rows, "k string, v int")


def test_each_mutation_commits_one_version(spark, wh):
    wh.overwrite(_df(spark, [("a", 1)]), "t")
    wh.append(_df(spark, [("b", 2)]), "t")
    wh.merge(_df(spark, [("a", 10)]), "t", ["k"])
    assert wh.versions("t") == [0, 1, 2]
    ops = [h["operation"] for h in wh.history("t")]  # newest first
    assert ops == ["MERGE", "APPEND", "WRITE"]
    wh.overwrite(_df(spark, [("c", 3)]), "t")  # the MERGE label is unset
    assert wh.history("t")[0]["operation"] == "WRITE"


def test_time_travel_reads_old_snapshot(spark, wh):
    wh.overwrite(_df(spark, [("a", 1), ("b", 2)]), "t")
    wh.overwrite(_df(spark, [("a", 100)]), "t")
    assert {r.k: r.v for r in wh.read_version("t", 0).collect()} == {"a": 1, "b": 2}
    assert {r.k: r.v for r in wh.read_version("t", 1).collect()} == {"a": 100}
    assert {r.k: r.v for r in wh.read("t").collect()} == {"a": 100}
    with pytest.raises(ValueError):
        wh.read_version("t", 99)


def test_merge_history_and_time_travel(spark, wh):
    wh.merge(_df(spark, [("a", 1), ("b", 2)]), "t", ["k"])
    wh.merge(_df(spark, [("b", 20), ("c", 3)]), "t", ["k"])
    assert len(wh.versions("t")) == 2
    assert {r.k: r.v for r in wh.read_version("t", 0).collect()} == {"a": 1, "b": 2}
    assert {r.k: r.v for r in wh.read("t").collect()} == {"a": 1, "b": 20, "c": 3}


def test_partitioned_merge_commits_and_travels(spark, wh):
    base = spark.createDataFrame(
        [("a", 1, "2025-01"), ("c", 3, "2025-02")], "k string, v int, month string"
    )
    wh.merge(base, "t", ["k"], prune_partition_col="month")
    upd = spark.createDataFrame([("a", 10, "2025-01")], "k string, v int, month string")
    wh.merge(upd, "t", ["k"], prune_partition_col="month")
    assert len(wh.versions("t")) == 2
    v0 = {r.k: r.v for r in wh.read_version("t", 0).collect()}
    assert v0 == {"a": 1, "c": 3}
    assert {r.k: r.v for r in wh.read("t").collect()} == {"a": 10, "c": 3}
    assert wh.partition_columns("t") == ["month"]
    assert wh.history("t")[0]["operation"] == "MERGE"


def test_restore_is_a_new_commit(spark, wh):
    wh.overwrite(_df(spark, [("a", 1)]), "t")
    wh.overwrite(_df(spark, [("a", 2)]), "t")
    v = wh.restore("t", 0)
    assert v == 2  # history is append-only
    assert {r.k: r.v for r in wh.read("t").collect()} == {"a": 1}
    assert wh.versions("t") == [0, 1, 2]
    assert wh.history("t")[0]["operation"] == "RESTORE"
    # restored table stays fully usable
    wh.merge(_df(spark, [("b", 9)]), "t", ["k"])
    assert {r.k: r.v for r in wh.read("t").collect()} == {"a": 1, "b": 9}


def test_vacuum_drops_old_snapshots_keeps_live(spark, wh):
    for i in range(4):
        wh.overwrite(_df(spark, [("a", i)]), "t")
    dropped = wh.vacuum_snapshots("t", keep_last=2)
    assert dropped == [0, 1]
    assert wh.versions("t") == [2, 3]
    # live table and retained versions unaffected
    assert wh.read("t").first().v == 3
    assert wh.read_version("t", 2).first().v == 2
    with pytest.raises(ValueError):
        wh.vacuum_snapshots("t", keep_last=0)


def test_describe_detail(spark, wh):
    wh.overwrite(_df(spark, [("a", 1), ("b", 2)]), "t")
    wh.append(_df(spark, [("c", 3)]), "t")
    d = wh.describe_detail("t")
    assert d["version"] == 1 and d["num_snapshots"] == 2
    assert d["num_files"] > 0 and d["size_bytes"] > 0
    assert d["partition_columns"] == []
    assert d["created_at_ms"] <= d["last_modified_ms"]
    assert d["format"] == "delta"


def test_occ_concurrent_appends_history_linear(spark, wh):
    """Two writers appending concurrently: both commits land, versions
    are consecutive, history is linear, and the live table holds both
    writers' rows (the loser of the put-if-absent race retries)."""
    import threading

    wh.overwrite(_df(spark, [("seed", 0)]), "t")  # v0
    barrier = threading.Barrier(2)
    errors: list[Exception] = []

    def writer(val: int) -> None:
        try:
            barrier.wait()
            wh.append(_df(spark, [(f"w{val}", val)]), "t")
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(v,)) for v in (1, 2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    assert wh.versions("t") == [0, 1, 2]
    hist = wh.history("t")
    assert [h["version"] for h in hist] == [2, 1, 0]
    assert all(h["operation"] in ("APPEND", "WRITE") for h in hist)
    live = {(r.k, r.v) for r in wh.read("t").collect()}
    assert live == {("seed", 0), ("w1", 1), ("w2", 2)}
    snap = {(r.k, r.v) for r in wh.read_version("t", 2).collect()}
    assert snap == live


def test_clone_is_zero_copy_and_independent(spark, wh):
    """SHALLOW CLONE: same rows, no data copied (the clone's log points
    at the source's files), and future writes to either table never
    affect the other."""
    wh.overwrite(_df(spark, [("a", 1), ("b", 2)]), "src")
    wh.clone("src", "dst")
    assert {(r.k, r.v) for r in wh.read("dst").collect()} == {("a", 1), ("b", 2)}
    # zero-copy: the clone's root holds a log and no data files
    assert not [
        f for r, _, fs in os.walk(wh.path("dst")) for f in fs
        if f.endswith(".parquet")
    ]
    # independence both ways
    wh.append(_df(spark, [("c", 3)]), "dst")
    wh.overwrite(_df(spark, [("z", 9)]), "src")
    assert {(r.k, r.v) for r in wh.read("dst").collect()} == {
        ("a", 1), ("b", 2), ("c", 3)
    }
    assert {(r.k, r.v) for r in wh.read("src").collect()} == {("z", 9)}
    assert wh.history("dst")[-1]["operation"] == "CLONE"
    with pytest.raises(ValueError, match="already exists"):
        wh.clone("src", "dst")
    with pytest.raises(ValueError, match="does not exist"):
        wh.clone("nope", "other")


def test_table_changes_cdf_vocabulary(spark, wh):
    """Change data feed: MERGE/UPDATE/DELETE through the SQL façade, then
    table_changes returns exactly the changed rows with Delta's change
    vocabulary (insert / delete / update_preimage / update_postimage) and
    the right commit versions."""
    from global_seismic_data_pipeline_spark.sources.sqldml import SqlDml

    engine = SqlDml(wh)
    wh.overwrite(_df(spark, [("a", 1), ("b", 2), ("c", 3)]), "t")  # v0
    assert not wh._cdf_enabled("t")  # the snapshot-diff path
    spark.createDataFrame([("a", 10), ("d", 4)], "k string, v int") \
        .createOrReplaceTempView("t_src")
    engine.sql("""
        MERGE INTO t tt USING t_src s ON tt.k = s.k
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
    """)                                                          # v1
    engine.sql("UPDATE t SET v = v + 100 WHERE k = 'b'")          # v2
    engine.sql("DELETE FROM t WHERE k = 'c'")                     # v3
    assert wh.versions("t") == [0, 1, 2, 3]

    ch = wh.table_changes("t", 0, keys=["k"])
    got = sorted(
        (r._commit_version, r._change_type, r.k, r.v) for r in ch.collect()
    )
    assert got == [
        (0, "insert", "a", 1),
        (0, "insert", "b", 2),
        (0, "insert", "c", 3),
        (1, "insert", "d", 4),
        (1, "update_postimage", "a", 10),
        (1, "update_preimage", "a", 1),
        (2, "update_postimage", "b", 102),
        (2, "update_preimage", "b", 2),
        (3, "delete", "c", 3),
    ]
    # range filter: only the DELETE commit
    only3 = wh.table_changes("t", 3, 3, keys=["k"]).collect()
    assert [(r._change_type, r.k) for r in only3] == [("delete", "c")]
    # timestamps come from the commit record
    rec_ts = {h["version"]: h["timestamp_ms"] for h in wh.history("t")}
    assert all(r._commit_timestamp_ms == rec_ts[r._commit_version]
               for r in ch.collect())
    # unchanged rows never appear: v1 touched a and d only
    v1 = wh.table_changes("t", 1, 1, keys=["k"]).collect()
    assert {r.k for r in v1} == {"a", "d"}


def test_table_changes_keyless_and_errors(spark, wh):
    """Without keys: whole-row multiset diff (modified row = delete +
    insert, duplicates respected); empty ranges and missing tables refuse."""
    wh.overwrite(_df(spark, [("a", 1), ("a", 1), ("b", 2)]), "t")   # v0
    wh.overwrite(_df(spark, [("a", 1), ("b", 99)]), "t")            # v1
    ch = wh.table_changes("t", 1, 1)
    got = sorted((r._change_type, r.k, r.v) for r in ch.collect())
    # one duplicate 'a' dropped + b modified → delete+insert pair
    assert got == [
        ("delete", "a", 1), ("delete", "b", 2), ("insert", "b", 99),
    ]
    with pytest.raises(ValueError, match="no commits in"):
        wh.table_changes("t", 5, 9)
    with pytest.raises(ValueError, match="no committed versions"):
        wh.table_changes("ghost", 0)


def test_table_changes_null_keys_and_null_values(spark, wh):
    """NULL keys pair null-safely (no spurious insert+delete) and a
    NULL→value change is detected (null-safe struct compare)."""
    rows1 = spark.createDataFrame([(None, 1), ("a", None)], "k string, v int")
    rows2 = spark.createDataFrame([(None, 5), ("a", 7)], "k string, v int")
    wh.overwrite(rows1, "t")   # v0
    wh.overwrite(rows2, "t")   # v1
    ch = wh.table_changes("t", 1, 1, keys=["k"])
    got = sorted(
        (r._change_type, r.k or "", r.v) for r in ch.collect()
    )
    assert got == [
        ("update_postimage", "", 5),
        ("update_postimage", "a", 7),
        ("update_preimage", "", 1),
        ("update_preimage", "a", None),
    ]


def test_table_changes_replay_reconstructs_state(spark, wh):
    """Model-based CDF completeness: applying the keyed feed's deltas in
    commit order to an empty dict reconstructs every intermediate AND the
    final table state — no missing, phantom, or double-counted change,
    across a deterministic mix of merge/append/overwrite/delete commits."""
    import random

    rng = random.Random(11)
    keys = [f"k{i}" for i in range(12)]
    model = {}

    def rand_rows(n):
        return [(rng.choice(keys), rng.randrange(100)) for _ in range(n)]

    wh.overwrite(_df(spark, [("k0", 1), ("k1", 2)]), "t")          # v0
    for step in range(5):
        op = step % 3
        if op == 0:
            rows = {k: v for k, v in rand_rows(4)}                 # key-unique
            wh.merge(_df(spark, list(rows.items())), "t", ["k"])
        elif op == 1:
            victim = rng.choice(keys)
            wh.overwrite(
                wh.read("t").filter(F.col("k") != victim), "t"
            )
        else:
            doomed = rng.choice(keys)
            survivors = [
                (r.k, r.v) for r in wh.read("t").collect() if r.k != doomed
            ]
            bumped = [(k, v + 1) for k, v in survivors]
            wh.overwrite(_df(spark, bumped or [("k0", 0)]), "t")

    feed = wh.table_changes("t", 0, keys=["k"]).collect()
    by_commit = {}
    for r in feed:
        by_commit.setdefault(r._commit_version, []).append(r)
    for v in sorted(by_commit):
        for r in by_commit[v]:
            if r._change_type in ("insert", "update_postimage"):
                model[r.k] = r.v
            elif r._change_type == "delete":
                # preimage of the delete must match the model exactly
                assert model.pop(r.k) == r.v
            else:  # update_preimage: must match what the model holds
                assert model[r.k] == r.v
        # after each commit the model equals that snapshot
        snap = {r.k: r.v for r in wh.read_version("t", v).collect()}
        assert model == snap, f"diverged at v{v}"

    final = {r.k: r.v for r in wh.read("t").collect()}
    assert model == final
