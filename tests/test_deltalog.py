"""Delta transaction-log interop (sources/deltalog.py + deltawh.py).

Two independent angles, because no Delta client exists in this sandbox to
cross-check against:

1. **Spec-fixture reads**: `_delta_log` directories HAND-CRAFTED from the
   published protocol (JSON actions with url-encoded paths, removes,
   metaData evolution, checkpoint + log cleanup) must reconstruct exactly
   the documented state — the reader is pinned to the spec text, not to
   this writer.
2. **Round-trips + semantics**: writer→reader equality, OCC put-if-absent
   races, time travel, RESTORE, VACUUM, protocol refusals, and the full
   warehouse contract (MERGE, pruned rewrite, CHECK constraints) through
   DeltaLogWarehouse.
"""

import json
import os

import pytest

from pyspark.sql import Row, functions as F

from global_seismic_data_pipeline_spark.sources import deltalog as dl
from global_seismic_data_pipeline_spark.sources.deltawh import DeltaLogWarehouse


def _df(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


# ---------------------------------------------------------------------------
# round-trips through our own writer
# ---------------------------------------------------------------------------

def test_write_read_roundtrip_flat(spark, tmp_path):
    p = str(tmp_path / "t")
    df = _df(spark, [(1, "a", 2.5), (2, "b", None)], "k int, s string, v double")
    v = dl.write_delta(df, p, mode="error")
    assert v == 0
    got = dl.read_delta(spark, p)
    assert got.columns == ["k", "s", "v"]
    assert sorted(got.collect()) == sorted(df.collect())
    # standard log layout on disk
    assert os.path.isfile(os.path.join(p, "_delta_log", f"{0:020d}.json"))
    with pytest.raises(ValueError, match="already exists"):
        dl.write_delta(df, p, mode="error")


def test_append_overwrite_and_time_travel(spark, tmp_path):
    p = str(tmp_path / "t")
    dl.write_delta(_df(spark, [(1,)], "k int"), p)                    # v0
    dl.write_delta(_df(spark, [(2,)], "k int"), p, mode="append")     # v1
    assert {r.k for r in dl.read_delta(spark, p).collect()} == {1, 2}
    dl.write_delta(_df(spark, [(9,)], "k int"), p, mode="overwrite")  # v2
    assert {r.k for r in dl.read_delta(spark, p).collect()} == {9}
    # old files still on disk -> time travel works
    assert {r.k for r in dl.read_delta(spark, p, version=1).collect()} == {1, 2}
    assert {r.k for r in dl.read_delta(spark, p, version=0).collect()} == {1}
    hist = dl.delta_history(p)
    assert [h["version"] for h in hist] == [2, 1, 0]
    assert hist[0]["operation"] == "WRITE"
    assert hist[1]["operation"] == "APPEND"
    # timestamp travel: at v1's commit time we see v1
    ts1 = hist[1]["timestamp"]
    assert {r.k for r in dl.read_delta(spark, p, timestamp=ts1).collect()} == {1, 2}
    with pytest.raises(ValueError, match="no commit at or before"):
        dl.read_delta(spark, p, timestamp=hist[-1]["timestamp"] - 10_000)


def test_partitioned_roundtrip_types_and_null(spark, tmp_path):
    p = str(tmp_path / "t")
    df = _df(
        spark,
        [(1, 2024, "x"), (2, 2025, "y"), (3, None, "z")],
        "k int, yr int, s string",
    )
    dl.write_delta(df, p, partition_by=["yr"])
    got = dl.read_delta(spark, p)
    assert got.schema["yr"].dataType.simpleString() == "int"
    assert sorted(got.collect(), key=lambda r: r.k) == sorted(
        df.collect(), key=lambda r: r.k
    )
    # the log's partitionValues are the authoritative strings, null as null
    state = dl.snapshot_state(p)
    vals = {a["partitionValues"]["yr"] for a in state["files"].values()}
    assert vals == {"2024", "2025", None}
    # appends must declare the same partitioning
    with pytest.raises(ValueError, match="partitionColumns"):
        dl.write_delta(_df(spark, [(4, 2024, "q")], df.schema), p)
    dl.write_delta(_df(spark, [(4, 2024, "q")], df.schema), p,
                   partition_by=["yr"])
    assert dl.read_delta(spark, p).count() == 4
    # partition pruning survives the one-scan hive fast path
    plan = dl.read_delta(spark, p).filter(F.col("yr") == 2024)._jdf \
        .queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or "yr" in plan


def test_file_stats_written(spark, tmp_path):
    p = str(tmp_path / "t")
    dl.write_delta(
        _df(spark, [(1, 5.0), (2, 9.0), (3, None)], "k int, v double"),
        p,
    )
    adds = list(dl.snapshot_state(p)["files"].values())
    stats = [json.loads(a["stats"]) for a in adds if a.get("stats")]
    assert sum(s["numRecords"] for s in stats) == 3
    allmin = min(s["minValues"]["k"] for s in stats if "k" in s["minValues"])
    assert allmin == 1
    assert sum(s["nullCount"].get("v", 0) for s in stats) == 1


def test_occ_put_if_absent_race(spark, tmp_path):
    """A racing writer who claimed version N forces a retry at N+1; both
    commits survive intact (the loser never overwrites the winner)."""
    p = str(tmp_path / "t")
    dl.write_delta(_df(spark, [(1,)], "k int"), p)  # v0
    # an interloper claims version 1 out-of-band with a no-op commit
    log = os.path.join(p, "_delta_log")
    with open(os.path.join(log, f"{1:020d}.json"), "w") as fh:
        fh.write(json.dumps({"commitInfo": {
            "timestamp": 1, "operation": "INTERLOPER"}}) + "\n")
    v = dl.write_delta(_df(spark, [(2,)], "k int"), p, mode="append")
    assert v == 2
    assert {r.k for r in dl.read_delta(spark, p).collect()} == {1, 2}
    assert dl.delta_history(p)[1]["operation"] == "INTERLOPER"


def test_checkpoint_write_read_and_log_cleanup(spark, tmp_path):
    """Version 10 writes a classic checkpoint; reconstruction from it must
    survive deletion of every earlier JSON (Delta log cleanup)."""
    p = str(tmp_path / "t")
    for i in range(12):  # v0..v11
        dl.write_delta(_df(spark, [(i,)], "k int"), p, mode="append")
    log = os.path.join(p, "_delta_log")
    assert os.path.isfile(os.path.join(log, f"{10:020d}.checkpoint.parquet"))
    lc = json.load(open(os.path.join(log, "_last_checkpoint")))
    assert lc["version"] == 10
    # log cleanup: drop JSONs 0..9 — state must still reconstruct
    for v in range(10):
        os.remove(os.path.join(log, f"{v:020d}.json"))
    got = dl.read_delta(spark, p)
    assert {r.k for r in got.collect()} == set(range(12))
    # time travel to a pre-checkpoint version is now impossible — loudly
    with pytest.raises(ValueError, match="missing from the log"):
        dl.read_delta(spark, p, version=5)
    # but the checkpoint version itself still reads
    assert dl.read_delta(spark, p, version=10).count() == 11


def test_vacuum_deletes_only_expired_unreferenced(spark, tmp_path):
    p = str(tmp_path / "t")
    dl.write_delta(_df(spark, [(1,)], "k int"), p)                    # v0
    dl.write_delta(_df(spark, [(2,)], "k int"), p, mode="overwrite")  # v1
    # inside the retention window: nothing deleted, time travel intact
    assert dl.vacuum_delta(p, retain_hours=1.0) == []
    assert dl.read_delta(spark, p, version=0).count() == 1
    deleted = dl.vacuum_delta(p, retain_hours=0.0)
    assert deleted  # v0's files are unreferenced and expired
    assert dl.read_delta(spark, p).count() == 1  # current snapshot untouched
    with pytest.raises(Exception):
        dl.read_delta(spark, p, version=0).count()  # travel beyond retention


def test_vacuum_collects_orphan_files(spark, tmp_path):
    """Files on disk that NO retained log version references (a crashed
    or constraint-vetoed writer's leftovers) are vacuumed once past the
    retention window; active and tombstone-retained files are not."""
    p = str(tmp_path / "t")
    dl.write_delta(_df(spark, [(1,)], "k int"), p)
    # simulate a crashed writer: a moved-but-never-committed parquet file
    orphan = os.path.join(p, "orphan-部分-file.parquet")
    with open(orphan, "wb") as fh:
        fh.write(b"PAR1 not really parquet PAR1")
    assert dl.vacuum_delta(p, retain_hours=1.0) == []  # inside the window
    deleted = dl.vacuum_delta(p, retain_hours=0.0)
    assert os.path.basename(orphan) in deleted
    assert not os.path.exists(orphan)
    # the table itself is untouched and still reads
    assert dl.read_delta(spark, p).count() == 1


# ---------------------------------------------------------------------------
# spec fixtures: hand-crafted logs the reader must honor
# ---------------------------------------------------------------------------

def _write_parquet(spark, rows, schema, out_dir, name):
    """One parquet file with exactly ``rows``, returned as its path."""
    import glob
    import shutil

    tmp = os.path.join(out_dir, f".mk-{name}")
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(tmp)
    src = glob.glob(os.path.join(tmp, "*.parquet"))[0]
    dst = os.path.join(out_dir, name)
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    shutil.copy(src, dst)
    shutil.rmtree(tmp)
    return dst


def test_handcrafted_log_with_removes_and_encoded_paths(spark, tmp_path):
    """A log written by hand from the protocol text: adds in v0, one
    remove + replacement add in v1, a url-encoded path with a space.
    The reader must report exactly the post-replay file set."""
    p = str(tmp_path / "foreign")
    os.makedirs(os.path.join(p, "_delta_log"))
    schema = "k int, s string"
    _write_parquet(spark, [(1, "a")], schema, p, "part one.parquet")
    _write_parquet(spark, [(2, "b")], schema, p, "f2.parquet")
    _write_parquet(spark, [(3, "c")], schema, p, "f3.parquet")

    schema_string = spark.createDataFrame([], schema).schema.json()
    v0 = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {
            "id": "0000", "format": {"provider": "parquet", "options": {}},
            "schemaString": schema_string, "partitionColumns": [],
            "configuration": {}, "createdTime": 1,
        }},
        {"add": {"path": "part%20one.parquet", "partitionValues": {},
                 "size": 1, "modificationTime": 1, "dataChange": True}},
        {"add": {"path": "f2.parquet", "partitionValues": {},
                 "size": 1, "modificationTime": 1, "dataChange": True}},
        {"commitInfo": {"timestamp": 1000, "operation": "WRITE"}},
    ]
    v1 = [
        {"remove": {"path": "f2.parquet", "deletionTimestamp": 2,
                    "dataChange": True}},
        {"add": {"path": "f3.parquet", "partitionValues": {},
                 "size": 1, "modificationTime": 2, "dataChange": True}},
        {"commitInfo": {"timestamp": 2000, "operation": "MERGE"}},
    ]
    for v, actions in ((0, v0), (1, v1)):
        with open(os.path.join(p, "_delta_log", f"{v:020d}.json"), "w") as fh:
            for a in actions:
                fh.write(json.dumps(a) + "\n")

    assert {r.k for r in dl.read_delta(spark, p).collect()} == {1, 3}
    assert {r.k for r in dl.read_delta(spark, p, version=0).collect()} == {1, 2}
    state = dl.snapshot_state(p)
    assert set(state["files"]) == {"part%20one.parquet", "f3.parquet"}


def test_handcrafted_partitioned_nonhive_layout(spark, tmp_path):
    """Foreign tables may keep data files OUTSIDE key=value directories —
    partitionValues in the log are authoritative. The reader must attach
    them as typed literals (the spec-correct fallback path)."""
    p = str(tmp_path / "foreign")
    os.makedirs(os.path.join(p, "_delta_log"))
    # data files carry only (k, v); the partition column lives in the log
    _write_parquet(spark, [(1, 1.5)], "k int, v double", p, "a.parquet")
    _write_parquet(spark, [(2, 2.5)], "k int, v double", p, "b.parquet")
    full = spark.createDataFrame([], "k int, v double, region string")
    actions = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {
            "id": "0001", "format": {"provider": "parquet", "options": {}},
            "schemaString": full.schema.json(),
            "partitionColumns": ["region"], "configuration": {},
            "createdTime": 1,
        }},
        {"add": {"path": "a.parquet", "partitionValues": {"region": "emea"},
                 "size": 1, "modificationTime": 1, "dataChange": True}},
        {"add": {"path": "b.parquet", "partitionValues": {"region": None},
                 "size": 1, "modificationTime": 1, "dataChange": True}},
        {"commitInfo": {"timestamp": 1000, "operation": "WRITE"}},
    ]
    with open(os.path.join(p, "_delta_log", f"{0:020d}.json"), "w") as fh:
        for a in actions:
            fh.write(json.dumps(a) + "\n")
    got = {(r.k, r.region) for r in dl.read_delta(spark, p).collect()}
    assert got == {(1, "emea"), (2, None)}
    assert dl.read_delta(spark, p).columns == ["k", "v", "region"]


def test_multipart_checkpoint_read(spark, tmp_path):
    """Foreign writers may split checkpoints into N parts
    (``%020d.checkpoint.%010d.%010d.parquet``); the reader must merge all
    parts. Crafted by hand: metaData/protocol in part 1, adds split
    across both parts, no JSON commits retained at or before the
    checkpoint (full log cleanup)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(tmp_path / "foreign")
    log = os.path.join(p, "_delta_log")
    os.makedirs(log)
    schema = "k int, s string"
    _write_parquet(spark, [(1, "a")], schema, p, "f1.parquet")
    _write_parquet(spark, [(2, "b")], schema, p, "f2.parquet")
    schema_string = spark.createDataFrame([], schema).schema.json()

    pa_schema = pa.schema([
        ("protocol", pa.struct([("minReaderVersion", pa.int32()),
                                ("minWriterVersion", pa.int32())])),
        ("metaData", pa.struct([
            ("id", pa.string()), ("format", pa.struct([("provider", pa.string())])),
            ("schemaString", pa.string()),
            ("partitionColumns", pa.list_(pa.string())),
            ("configuration", pa.map_(pa.string(), pa.string())),
        ])),
        ("add", pa.struct([
            ("path", pa.string()),
            ("partitionValues", pa.map_(pa.string(), pa.string())),
            ("size", pa.int64()), ("modificationTime", pa.int64()),
            ("dataChange", pa.bool_()),
        ])),
    ])
    part1 = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2},
         "metaData": None, "add": None},
        {"protocol": None,
         "metaData": {"id": "m", "format": {"provider": "parquet"},
                      "schemaString": schema_string,
                      "partitionColumns": [], "configuration": {}},
         "add": None},
        {"protocol": None, "metaData": None,
         "add": {"path": "f1.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 1, "dataChange": False}},
    ]
    part2 = [
        {"protocol": None, "metaData": None,
         "add": {"path": "f2.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 1, "dataChange": False}},
    ]
    for i, rows in ((1, part1), (2, part2)):
        pq.write_table(
            pa.Table.from_pylist(rows, schema=pa_schema),
            os.path.join(
                log, f"{4:020d}.checkpoint.{i:010d}.{2:010d}.parquet"
            ),
        )
    with open(os.path.join(log, "_last_checkpoint"), "w") as fh:
        json.dump({"version": 4, "size": 4, "parts": 2}, fh)
    # one JSON commit after the checkpoint
    with open(os.path.join(log, f"{5:020d}.json"), "w") as fh:
        fh.write(json.dumps({"commitInfo": {"timestamp": 5000,
                                            "operation": "APPEND"}}) + "\n")
    got = dl.read_delta(spark, p)
    assert {r.k for r in got.collect()} == {1, 2}
    assert dl.snapshot_state(p)["version"] == 5


def test_protocol_refusals(spark, tmp_path):
    def mk(proto, config=None):
        p = str(tmp_path / f"t{abs(hash(json.dumps([proto, config])))}")
        os.makedirs(os.path.join(p, "_delta_log"))
        schema_string = spark.createDataFrame([], "k int").schema.json()
        actions = [
            {"protocol": proto},
            {"metaData": {
                "id": "x", "format": {"provider": "parquet", "options": {}},
                "schemaString": schema_string, "partitionColumns": [],
                "configuration": config or {}, "createdTime": 1,
            }},
        ]
        with open(os.path.join(p, "_delta_log", f"{0:020d}.json"), "w") as fh:
            for a in actions:
                fh.write(json.dumps(a) + "\n")
        return p

    # deletionVectors / v2Checkpoint are SUPPORTED reader features now;
    # an unknown feature still refuses
    st_dv = dl.snapshot_state(mk({
        "minReaderVersion": 3, "minWriterVersion": 7,
        "readerFeatures": ["deletionVectors", "v2Checkpoint"],
    }))
    assert st_dv["files"] == {}
    with pytest.raises(dl.DeltaProtocolError, match="variantType"):
        dl.snapshot_state(mk({
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["variantType"],
        }))
    # BOTH column-mapping modes are READABLE ('name' via physicalName,
    # 'id' via parquet field ids — test_column_mapping_*); an unknown
    # mode still refuses
    st_id = dl.snapshot_state(mk(
        {"minReaderVersion": 2, "minWriterVersion": 5},
        config={"delta.columnMapping.mode": "id"},
    ))
    assert st_id["files"] == {}
    with pytest.raises(dl.DeltaProtocolError, match="mapping mode"):
        dl.snapshot_state(mk(
            {"minReaderVersion": 2, "minWriterVersion": 5},
            config={"delta.columnMapping.mode": "mystery"},
        ))
    st_name = dl.snapshot_state(mk(
        {"minReaderVersion": 2, "minWriterVersion": 5},
        config={"delta.columnMapping.mode": "name"},
    ))
    assert st_name["files"] == {}
    # v3 with only supported features reads fine
    st = dl.snapshot_state(mk({
        "minReaderVersion": 3, "minWriterVersion": 7,
        "readerFeatures": ["timestampNtz"],
    }))
    assert st["files"] == {}


# ---------------------------------------------------------------------------
# the warehouse contract over the log
# ---------------------------------------------------------------------------

@pytest.fixture
def dwh(spark, tmp_path):
    return DeltaLogWarehouse(spark, str(tmp_path / "dwh"))


def test_deltawh_basic_contract(spark, dwh):
    df = _df(spark, [(1, "a"), (2, "b")], "k int, s string")
    assert not dwh.exists("t")
    dwh.overwrite(df, "t")
    assert dwh.exists("t")
    assert sorted(dwh.read("t").collect()) == sorted(df.collect())
    dwh.append(_df(spark, [(3, "c")], df.schema), "t")
    assert dwh.read("t").count() == 3
    stats = dwh.table_stats("t")
    assert stats["num_files"] >= 1 and stats["size_bytes"] > 0
    assert dwh.register_views() == ["t"]
    assert spark.table("t").count() == 3
    dwh.drop("t")
    assert not dwh.exists("t")


def test_deltawh_merge_full_and_pruned(spark, dwh):
    schema = "yr int, k int, v string"
    dwh.merge(_df(spark, [(2024, 1, "a"), (2025, 2, "b")], schema), "m",
              keys=["k"], prune_partition_col="yr")
    # update k=1, insert k=3 — only yr=2024's files may be touched
    before = {
        p for p in dl.snapshot_state(dwh.path("m"))["files"]
        if "yr=2025" in p
    }
    dwh.merge(_df(spark, [(2024, 1, "A"), (2024, 3, "c")], schema), "m",
              keys=["k"], prune_partition_col="yr")
    after_state = dl.snapshot_state(dwh.path("m"))
    assert before <= set(after_state["files"])  # 2025 files untouched
    got = {(r.k, r.v) for r in dwh.read("m").collect()}
    assert got == {(1, "A"), (2, "b"), (3, "c")}
    # pruned rewrite = ONE commit with removes+adds; history shows MERGE
    assert dwh.history("m")[0]["operation"] == "MERGE"
    # non-pruned merge over a flat table
    dwh.merge(_df(spark, [(1, "x")], "k int, v string"), "f", keys=["k"])
    dwh.merge(_df(spark, [(1, "y"), (2, "z")], "k int, v string"), "f",
              keys=["k"])
    assert {(r.k, r.v) for r in dwh.read("f").collect()} == {(1, "y"), (2, "z")}


def test_deltawh_key_moves_partition(spark, dwh):
    """A merge key whose partition value CHANGED must die in its old
    partition — the movers logic over the delta read path."""
    schema = "yr int, k int, v string"
    dwh.merge(_df(spark, [(2024, 1, "a"), (2025, 2, "b")], schema), "m",
              keys=["k"], prune_partition_col="yr")
    dwh.merge(_df(spark, [(2025, 1, "moved")], schema), "m",
              keys=["k"], prune_partition_col="yr")
    got = {(r.yr, r.k, r.v) for r in dwh.read("m").collect()}
    assert got == {(2025, 1, "moved"), (2025, 2, "b")}


def test_deltawh_time_travel_restore_vacuum(spark, dwh):
    dwh.overwrite(_df(spark, [(1,)], "k int"), "t")            # v0
    dwh.append(_df(spark, [(2,)], "k int"), "t")               # v1
    dwh.overwrite(_df(spark, [(9,)], "k int"), "t")            # v2
    assert {r.k for r in dwh.read_version("t", 1).collect()} == {1, 2}
    assert dwh.latest_version("t") == 2
    v = dwh.restore("t", 1)                                    # v3
    assert v == 3
    assert {r.k for r in dwh.read("t").collect()} == {1, 2}
    # restore is append-only history: v2 still readable pre-vacuum
    assert {r.k for r in dwh.read_version("t", 2).collect()} == {9}
    assert [h["version"] for h in dwh.history("t")] == [3, 2, 1, 0]
    deleted = dwh.vacuum("t", retain_hours=0.0)
    assert deleted  # v2's file is unreferenced now
    assert {r.k for r in dwh.read("t").collect()} == {1, 2}
    detail = dwh.describe_detail("t")
    assert detail["format"] == "delta" and detail["version"] == 3


def test_restore_across_schema_evolution_restores_metadata(spark, dwh):
    """RESTORE to a pre-evolution version serves the OLD schema (Delta
    restores the metadata, not just the file set)."""
    dwh.overwrite(_df(spark, [(1, "a")], "k int, s string"), "t")       # v0
    dl.write_delta(
        _df(spark, [(2, "b", 1.5)], "k int, s string, score double"),
        dwh.path("t"), merge_schema=True,
    )                                                                   # v1
    assert dwh.read("t").columns == ["k", "s", "score"]
    dwh.restore("t", 0)                                                 # v2
    assert dwh.read("t").columns == ["k", "s"]
    assert [(r.k, r.s) for r in dwh.read("t").collect()] == [(1, "a")]
    # and rolling forward again works (append-only history)
    dwh.restore("t", 1)                                                 # v3
    assert dwh.read("t").columns == ["k", "s", "score"]


def test_deltawh_check_constraints_at_commit_boundary(spark, dwh):
    from global_seismic_data_pipeline_spark.sources.warehouse import (
        ConstraintViolation,
    )

    dwh.overwrite(_df(spark, [(1, 5.0)], "k int, mag double"), "c")
    dwh.add_constraint("c", "mag_range", "mag BETWEEN 0 AND 10")
    # ADD CONSTRAINT publishes ONE metadata commit (the property enters
    # the log for foreign clients); the violating batch publishes NOTHING
    v_after_add = dwh.latest_version("c")
    assert v_after_add == 1
    with pytest.raises(ConstraintViolation):
        dwh.append(_df(spark, [(2, 99.0)], "k int, mag double"), "c")
    assert dwh.latest_version("c") == v_after_add
    assert dwh.read("c").count() == 1
    # no orphan staging
    root = dwh.root
    assert not [d for d in os.listdir(root) if d.startswith(".delta-staging")]


def test_deltawh_rejects_bucketed(spark, tmp_path):
    dwh = DeltaLogWarehouse(spark, str(tmp_path / "y"))
    with pytest.raises(NotImplementedError):
        dwh.save_bucketed(None, "t", ["k"])


def test_schema_enforcement_and_evolution(spark, tmp_path):
    """Delta's write contract: a drifted append REFUSES (without the gate
    the reader would silently drop the new column — metaData's schema
    wins); merge_schema=True evolves by appending new columns, old files
    read the new column as NULL; type conflicts always refuse; overwrite
    replaces the schema outright (old files are gone)."""
    p = str(tmp_path / "t")
    dl.write_delta(_df(spark, [(1, "a")], "k int, s string"), p)
    with pytest.raises(ValueError, match="merge_schema"):
        dl.write_delta(
            _df(spark, [(2, "b", 9.5)], "k int, s string, score double"), p
        )
    dl.write_delta(
        _df(spark, [(2, "b", 9.5)], "k int, s string, score double"), p,
        merge_schema=True,
    )
    got = {(r.k, r.s, r.score) for r in dl.read_delta(spark, p).collect()}
    assert got == {(1, "a", None), (2, "b", 9.5)}
    assert dl.read_delta(spark, p).columns == ["k", "s", "score"]
    # same-name type conflict refuses even with merge_schema
    with pytest.raises(ValueError, match="type conflicts"):
        dl.write_delta(_df(spark, [(3, 7, 1.0)], "k int, s int, score double"),
                       p, merge_schema=True)
    # a subset batch needs merge_schema too (absent columns read as NULL)
    with pytest.raises(ValueError, match="absent"):
        dl.write_delta(_df(spark, [(4,)], "k int"), p)
    dl.write_delta(_df(spark, [(4,)], "k int"), p, merge_schema=True)
    assert dl.read_delta(spark, p).filter("k = 4").collect()[0].s is None
    # overwrite replaces the schema outright
    dl.write_delta(_df(spark, [(True,)], "flag boolean"), p, mode="overwrite")
    assert dl.read_delta(spark, p).columns == ["flag"]
    # time travel still serves each version under ITS schema? No — Delta
    # serves the LATEST metaData only for latest reads; versioned reads
    # replay the metaData as of that version:
    assert dl.read_delta(spark, p, version=2).columns == ["k", "s", "score"]


def test_optimize_sql_compacts_delta_backend(spark, tmp_path):
    """OPTIMIZE through the SQL façade composes with the delta backend:
    compaction is read + overwrite, i.e. one removes+adds commit, with
    time travel to the pre-compaction state intact."""
    from global_seismic_data_pipeline_spark.sources.sqldml import SqlDml

    dwh = DeltaLogWarehouse(spark, str(tmp_path / "dwh"))
    for i in range(4):
        dwh.append(_df(spark, [(i, i * 10)], "k int, v int"), "t")
    files_before = dwh.table_stats("t")["num_files"]
    out = SqlDml(dwh).sql("OPTIMIZE t").collect()[0]
    assert dwh.table_stats("t")["num_files"] < files_before
    assert dwh.read("t").count() == 4
    assert out.statement == "OPTIMIZE"
    # pre-compaction version still readable (files linger until VACUUM)
    assert dwh.read_version("t", 3).count() == 4


def test_sql_facade_full_versioned_surface_on_delta(spark, tmp_path):
    """The reference's operational SQL — DESCRIBE HISTORY / DETAIL,
    VERSION AS OF, table_changes(), RESTORE, SHALLOW CLONE, VACUUM —
    runs unchanged over the real-_delta_log backend (capability-gated,
    not class-gated)."""
    from global_seismic_data_pipeline_spark.sources.sqldml import SqlDml

    dwh = DeltaLogWarehouse(spark, str(tmp_path / "dwh"))
    engine = SqlDml(dwh)
    dwh.overwrite(_df(spark, [(1, "a"), (2, "b")], "k int, s string"), "t")  # v0
    dwh.overwrite(_df(spark, [(1, "a2"), (3, "c")], "k int, s string"), "t")  # v1

    hist = engine.sql("DESCRIBE HISTORY t").collect()
    assert [r.version for r in hist] == [1, 0]
    assert all(r.numFiles >= 1 and r.sizeBytes > 0 for r in hist)

    old = engine.sql("SELECT k, s FROM t VERSION AS OF 0 ORDER BY k").collect()
    assert [(r.k, r.s) for r in old] == [(1, "a"), (2, "b")]

    ch = engine.sql(
        "SELECT _change_type, k FROM table_changes('t', 1, 1) "
        "ORDER BY _change_type, k"
    ).collect()
    assert [(r._change_type, r.k) for r in ch] == [
        ("delete", 1), ("delete", 2), ("insert", 1), ("insert", 3),
    ]

    engine.sql("RESTORE TABLE t TO VERSION AS OF 0")  # v2
    assert {r.s for r in dwh.read("t").collect()} == {"a", "b"}
    det = engine.sql("DESCRIBE DETAIL t").collect()[0]
    assert det.version == 2 and det.numFiles >= 1

    engine.sql("CREATE TABLE t2 SHALLOW CLONE t")
    assert sorted(dwh.read("t2").collect()) == sorted(dwh.read("t").collect())
    # vacuuming the clone must never delete the SOURCE's files
    dwh.vacuum("t2", retain_hours=0.0)
    assert {r.s for r in dwh.read("t").collect()} == {"a", "b"}
    # the clone's own writes land in its root; source untouched
    dwh.append(_df(spark, [(9, "z")], "k int, s string"), "t2")
    assert dwh.read("t2").count() == 3 and dwh.read("t").count() == 2

    # VACUUM: log cleanup keeps the last 2 versions time-travelable
    engine.sql("VACUUM t")
    assert [h["version"] for h in dwh.history("t")] == [2, 1]
    assert {r.s for r in dwh.read_version("t", 1).collect()} == {"a2", "c"}


def test_watermark_store_runs_on_deltawh(spark, tmp_path):
    """The engine's own control table works over the delta backend — the
    drop-in claim, exercised end-to-end."""
    from datetime import datetime

    from global_seismic_data_pipeline_spark.state import WatermarkStore

    wh = DeltaLogWarehouse(spark, str(tmp_path / "wh"))
    store = WatermarkStore(wh)
    store.init("t", "time", datetime(2000, 1, 1))
    store.advance("t", datetime(2025, 5, 1), 100)
    store.advance("t", datetime(2024, 1, 1), 7)  # never moves backwards
    e = store.get("t")
    assert e.watermark_value == datetime(2025, 5, 1)
    assert e.records_processed == 107
    # and the control table is itself a real, time-travelable delta table
    from global_seismic_data_pipeline_spark.state import CONTROL_TABLE

    assert dl.is_delta_table(wh.path(CONTROL_TABLE))


def test_column_mapping_name_mode_read(spark, tmp_path):
    """A hand-crafted 'name'-mode column-mapping table: data files carry
    PHYSICAL column names (col-NNN), partitionValues is keyed by physical
    names, the schemaString's field metadata holds the mapping. The
    reader must return logical names — nested struct fields included —
    at every version, and honor time travel."""
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    p = str(tmp_path / "cm")
    os.makedirs(os.path.join(p, "_delta_log"))
    phys = "`col-aaa` int, `col-bbb` struct<`col-ccc`: string>"
    _write_parquet(spark, [(1, ("x",))], phys, p, "f1.parquet")
    _write_parquet(spark, [(2, ("y",))], phys, p, "f2.parquet")

    logical = StructType([
        StructField("k", IntegerType(), True, {
            "delta.columnMapping.id": 1,
            "delta.columnMapping.physicalName": "col-aaa"}),
        StructField("s", StructType([
            StructField("c", StringType(), True, {
                "delta.columnMapping.id": 3,
                "delta.columnMapping.physicalName": "col-ccc"}),
        ]), True, {
            "delta.columnMapping.id": 2,
            "delta.columnMapping.physicalName": "col-bbb"}),
    ])
    v0 = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": {
            "id": "cm01", "format": {"provider": "parquet", "options": {}},
            "schemaString": logical.json(), "partitionColumns": [],
            "configuration": {"delta.columnMapping.mode": "name",
                              "delta.columnMapping.maxColumnId": "3"},
            "createdTime": 1,
        }},
        {"add": {"path": "f1.parquet", "partitionValues": {},
                 "size": 1, "modificationTime": 1, "dataChange": True}},
        {"commitInfo": {"timestamp": 1000, "operation": "WRITE"}},
    ]
    v1 = [
        {"add": {"path": "f2.parquet", "partitionValues": {},
                 "size": 1, "modificationTime": 2, "dataChange": True}},
        {"commitInfo": {"timestamp": 2000, "operation": "APPEND"}},
    ]
    for v, actions in ((0, v0), (1, v1)):
        with open(os.path.join(p, "_delta_log", f"{v:020d}.json"), "w") as fh:
            for a in actions:
                fh.write(json.dumps(a) + "\n")

    out = dl.read_delta(spark, p)
    assert out.columns == ["k", "s"]
    assert out.schema["s"].dataType.fieldNames() == ["c"]  # nested renamed
    got = {(r.k, r.s.c) for r in out.collect()}
    assert got == {(1, "x"), (2, "y")}
    # time travel sees only v0's file
    assert {r.k for r in dl.read_delta(spark, p, version=0).collect()} == {1}
    # each version reads logically named, nested fields included
    v0_df = dl.read_delta(spark, p, version=0)
    assert v0_df.columns == ["k", "s"]
    assert [(r.k, r.s.c) for r in v0_df.collect()] == [(1, "x")]
    v1_df = dl.read_delta(spark, p, version=1)
    assert v1_df.schema["s"].dataType.fieldNames() == ["c"]
    assert sorted((r.k, r.s.c) for r in v1_df.collect()) == [
        (1, "x"), (2, "y"),
    ]
    # APPENDS into the mapped table work: the batch stages under
    # PHYSICAL names and reads back logically
    batch = spark.createDataFrame([(3, ("z",))], "k int, s struct<c: string>")
    dl.write_delta(batch, p, mode="append")
    got2 = {(r.k, r.s.c) for r in dl.read_delta(spark, p).collect()}
    assert got2 == {(1, "x"), (2, "y"), (3, "z")}
    # the new file's columns are physically named (raw parquet proof)
    import pyarrow.parquet as _pq
    new_rel = next(
        rel for rel in dl.snapshot_state(p)["files"] if rel != "f1.parquet"
        and rel != "f2.parquet"
    )
    raw_cols = _pq.ParquetFile(os.path.join(p, new_rel)).schema_arrow.names
    assert raw_cols == ["col-aaa", "col-bbb"]
    # schema evolution on a mapped table: WITHOUT merge_schema the
    # stage refuses; WITH it the new column gets a freshly-generated
    # mapping identity (next maxColumnId + col-<uuid> physical name)
    wider = spark.createDataFrame(
        [(4, ("w",), 1.5)], "k int, s struct<c: string>, extra double"
    )
    with pytest.raises(ValueError, match="fresh column ids"):
        dl.write_delta(wider, p, mode="append")
    dl.write_delta(wider, p, mode="append", merge_schema=True)
    evolved = dl.snapshot_state(p)["metadata"]
    sch = json.loads(evolved["schemaString"])
    extra_f = next(f for f in sch["fields"] if f["name"] == "extra")
    assert extra_f["metadata"]["delta.columnMapping.id"] == 4
    assert extra_f["metadata"]["delta.columnMapping.physicalName"].startswith("col-")
    assert evolved["configuration"]["delta.columnMapping.maxColumnId"] == "4"
    out3 = dl.read_delta(spark, p)
    assert out3.columns == ["k", "s", "extra"]
    got3 = {(r.k, r.extra) for r in out3.collect()}
    assert got3 == {(1, None), (2, None), (3, None), (4, 1.5)}
    # and the evolved physical name is what the new file carries
    phys_extra = extra_f["metadata"]["delta.columnMapping.physicalName"]
    newest = max(dl.snapshot_state(p)["files"])  # lexically newest part
    widest = next(
        rel for rel in dl.snapshot_state(p)["files"]
        if phys_extra in _pq.ParquetFile(
            os.path.join(p, rel)).schema_arrow.names
    )
    assert widest  # at least one file physically carries the new column


def test_column_mapping_partitioned_and_id_mode_metadata(spark, tmp_path):
    """Partitioned 'name'-mode table: partitionValues keyed by PHYSICAL
    names, files outside hive directories — literals attach under
    logical names. An (empty) 'id'-mode table opens; writes refuse."""
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    p = str(tmp_path / "cmp")
    os.makedirs(os.path.join(p, "_delta_log"))
    _write_parquet(spark, [(1,)], "`col-k` int", p, "a.parquet")
    _write_parquet(spark, [(2,)], "`col-k` int", p, "b.parquet")
    logical = StructType([
        StructField("k", IntegerType(), True, {
            "delta.columnMapping.id": 1,
            "delta.columnMapping.physicalName": "col-k"}),
        StructField("day", StringType(), True, {
            "delta.columnMapping.id": 2,
            "delta.columnMapping.physicalName": "col-day"}),
    ])
    actions = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": {
            "id": "cm02", "format": {"provider": "parquet", "options": {}},
            "schemaString": logical.json(), "partitionColumns": ["day"],
            "configuration": {"delta.columnMapping.mode": "name",
                              "delta.columnMapping.maxColumnId": "2"},
            "createdTime": 1,
        }},
        {"add": {"path": "a.parquet",
                 "partitionValues": {"col-day": "d1"},
                 "size": 1, "modificationTime": 1, "dataChange": True}},
        {"add": {"path": "b.parquet",
                 "partitionValues": {"col-day": None},
                 "size": 1, "modificationTime": 1, "dataChange": True}},
        {"commitInfo": {"timestamp": 1000, "operation": "WRITE"}},
    ]
    with open(os.path.join(p, "_delta_log", f"{0:020d}.json"), "w") as fh:
        for a in actions:
            fh.write(json.dumps(a) + "\n")
    out = dl.read_delta(spark, p)
    assert out.columns == ["k", "day"]
    assert {(r.k, r.day) for r in out.collect()} == {(1, "d1"), (2, None)}

    # an 'id'-mode table passes the protocol gate (reads are supported
    # via field-id resolution); WRITES still refuse
    pid = str(tmp_path / "cmid")
    os.makedirs(os.path.join(pid, "_delta_log"))
    idmode = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": {
            "id": "cm03", "format": {"provider": "parquet", "options": {}},
            "schemaString": logical.json(), "partitionColumns": [],
            "configuration": {"delta.columnMapping.mode": "id"},
            "createdTime": 1,
        }},
    ]
    with open(os.path.join(pid, "_delta_log", f"{0:020d}.json"), "w") as fh:
        for a in idmode:
            fh.write(json.dumps(a) + "\n")
    assert dl.read_delta(spark, pid).count() == 0
    batch = spark.createDataFrame([(1, "d")], "k int, day string")
    dl.write_delta(batch, pid, mode="append")
    assert [(r.k, r.day) for r in dl.read_delta(spark, pid).collect()] == [
        (1, "d")
    ]


def test_optimize_small_files_incremental(spark, tmp_path):
    """Incremental OPTIMIZE: only the small live files rewrite in ONE
    removes+adds commit — the big file keeps its exact path (never read,
    never moved), content is bit-identical, pre-optimize versions stay
    time-travelable, and the tombstoned stragglers are vacuum food."""
    from global_seismic_data_pipeline_spark.sources import deltalog as dl
    from global_seismic_data_pipeline_spark.sources.deltawh import (
        DeltaLogWarehouse,
    )

    wh = DeltaLogWarehouse(spark, str(tmp_path / "wh"))
    big = spark.range(0, 50_000).selectExpr(
        "id", "repeat('x', 64) AS pad"
    )
    wh.overwrite(big.coalesce(1), "t")
    for i in range(4):  # four one-row stragglers
        wh.append(
            spark.createDataFrame(
                [(1_000_000 + i, "small")], "id long, pad string"
            ),
            "t",
        )
    path = wh.path("t")
    state0 = dl.snapshot_state(path)
    big_paths = {p for p, a in state0["files"].items() if a["size"] > 64_000}
    n_small0 = len(state0["files"]) - len(big_paths)
    assert len(big_paths) == 1 and n_small0 >= 4  # 1-row appends may
    # emit extra empty part files on local[32]; never assert exact counts
    pre_version = state0["version"]
    before_rows = sorted(
        (r.id, r.pad) for r in wh.read("t").collect()
    )

    stats = wh.optimize_small_files("t", small_file_mb=0.01)
    assert stats["files_rewritten"] == n_small0
    assert stats["files_after"] < stats["files_before"]

    state1 = dl.snapshot_state(path)
    # the big file is untouched — same encoded path, still live
    assert big_paths <= set(state1["files"])
    assert sorted((r.id, r.pad) for r in wh.read("t").collect()) == before_rows
    # time travel to the pre-optimize version still reads the stragglers
    assert wh.read_version("t", pre_version).count() == len(before_rows)
    # the OPTIMIZE commit is in the history, and its actions are marked
    # dataChange=false (the spec's pure-rearrangement marker, what real
    # Delta writes) so change readers skip the rewritten rows
    opt_v = next(
        h["version"] for h in dl.delta_history(path)
        if h["operation"] == "OPTIMIZE"
    )
    log = os.path.join(path, "_delta_log")
    with open(os.path.join(log, f"{opt_v:020d}.json")) as fh:
        acts = [json.loads(x) for x in fh if x.strip()]
    file_acts = [a[k] for a in acts for k in ("add", "remove") if k in a]
    assert file_acts and all(
        fa["dataChange"] is False for fa in file_acts
    )
    # a second pass is a no-op (nothing small left twice over)
    assert wh.optimize_small_files("t", small_file_mb=0.01)[
        "files_rewritten"
    ] in (0, 1)


def test_txn_idempotent_append(spark, tmp_path):
    """Delta txn actions: a duplicate (appId, version) append SKIPS —
    no new commit, no duplicate rows, staged files unlinked; a higher
    version commits; a second app's versions are independent; the
    high-water mark survives a checkpoint + log cleanup."""
    from global_seismic_data_pipeline_spark.sources import deltalog as dl
    from global_seismic_data_pipeline_spark.sources.deltawh import (
        DeltaLogWarehouse,
    )

    wh = DeltaLogWarehouse(spark, str(tmp_path / "wh"))
    mk = lambda i: spark.createDataFrame([(i, f"b{i}")], "id long, s string")
    wh.overwrite(mk(0), "t")
    path = wh.path("t")

    wh.append(mk(1), "t", txn=("streamA", 1))
    v_after = max(wh.versions("t"))
    assert wh.last_txn_version("t", "streamA") == 1

    # duplicate delivery of batch 1: skipped entirely
    wh.append(mk(1), "t", txn=("streamA", 1))
    assert max(wh.versions("t")) == v_after
    assert wh.read("t").count() == 2
    # no orphan data files left behind by the skip
    import os as _os
    on_disk = [
        f for f in _os.listdir(path)
        if f.endswith(".parquet") and not f.startswith(".")
    ]
    assert len(on_disk) == len(dl.snapshot_state(path)["files"])

    # an OLDER version replays too (restart from an old checkpoint): skip
    wh.append(mk(0), "t", txn=("streamA", 0))
    assert wh.read("t").count() == 2

    # the next batch commits; another app is independent
    wh.append(mk(2), "t", txn=("streamA", 2))
    wh.append(mk(3), "t", txn=("streamB", 1))
    assert wh.read("t").count() == 4
    assert wh.last_txn_version("t", "streamA") == 2
    assert wh.last_txn_version("t", "streamB") == 1

    # txn marks survive checkpoint + dropping the old commit JSONs
    dl.write_checkpoint(path)
    wh.vacuum_snapshots("t", keep_last=1)
    assert wh.last_txn_version("t", "streamA") == 2
    wh.append(mk(2), "t", txn=("streamA", 2))  # still a duplicate
    assert wh.read("t").count() == 4


def _attach_dv(path, rel_file, descriptor):
    """Hand-write the next commit: protocol upgrade to the
    deletionVectors reader feature + re-add of the file with the DV
    attached (Delta's replay semantics: a later add of the same path
    replaces the entry)."""
    import json as _json
    import os as _os

    from global_seismic_data_pipeline_spark.sources import deltalog as dl

    log = _os.path.join(path, "_delta_log")
    v = max(dl.snapshot_state(path)["version"] for _ in [0]) + 1
    prev = dl.snapshot_state(path)
    add = dict(prev["files"][rel_file])
    add["deletionVector"] = descriptor
    add.setdefault("dataChange", False)
    with open(_os.path.join(log, f"{v:020d}.json"), "w") as fh:
        fh.write(_json.dumps({"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["deletionVectors"],
            "writerFeatures": ["deletionVectors"],
        }}) + "\n")
        fh.write(_json.dumps({"commitInfo": {
            "timestamp": 1700000000000, "operation": "DELETE"}}) + "\n")
        fh.write(_json.dumps({"add": add}) + "\n")
    return v


def test_deletion_vector_read(spark, tmp_path):
    """Tables with live deletion vectors READ correctly: the DV file
    (z85-uuid 'u' storage) decodes driver-side and its positions
    anti-join out; time travel to the pre-DV version sees every row;
    checkpointing a DV snapshot refuses (schema would resurrect rows);
    a wrong cardinality refuses."""
    import os
    import uuid as _uuid

    from global_seismic_data_pipeline_spark.sources import (
        deltalog as dl,
        dvbitmap as dvb,
    )

    path = str(tmp_path / "t")
    df = spark.range(0, 10).selectExpr("id", "id * 2 AS v").coalesce(1)
    dl.write_delta(df.sortWithinPartitions("id"), path)
    rel = next(iter(dl.snapshot_state(path)["files"]))

    u = _uuid.uuid4()
    dv_path = os.path.join(path, f"deletion_vector_{u}.bin")
    desc = dvb.write_dv_file(dv_path, {0, 7})
    descriptor = {
        "storageType": "u",
        "pathOrInlineDv": dvb.z85_encode(u.bytes),
        "offset": desc["offset"],
        "sizeInBytes": desc["sizeInBytes"],
        "cardinality": 2,
    }
    v_dv = _attach_dv(path, rel, descriptor)

    got = sorted(r.id for r in dl.read_delta(spark, path).collect())
    assert got == [1, 2, 3, 4, 5, 6, 8, 9]
    # pre-DV version still sees everything
    full = sorted(
        r.id for r in dl.read_delta(spark, path, version=v_dv - 1).collect()
    )
    assert full == list(range(10))
    # checkpoints CARRY the vector: reconstruct purely from the
    # checkpoint (all earlier JSONs dropped) and rows stay deleted
    import pytest as _pytest

    dl.write_checkpoint(path)
    log = os.path.join(path, "_delta_log")
    for f in list(os.listdir(log)):
        if f.endswith(".json") and not f.startswith("_"):
            os.remove(os.path.join(log, f))
    from_cp = sorted(r.id for r in dl.read_delta(spark, path).collect())
    assert from_cp == [1, 2, 3, 4, 5, 6, 8, 9]
    # cardinality mismatch refuses loudly
    bad = dict(descriptor, cardinality=5)
    _attach_dv(path, rel, bad)
    with _pytest.raises(dl.DeltaProtocolError, match="cardinality"):
        dl.read_delta(spark, path).collect()


def test_deletion_vector_distributed_expansion(spark, tmp_path, monkeypatch):
    """Above _DV_BROADCAST_MAX_ROWS the DV positions must decode on
    EXECUTORS (mapInPandas over the descriptor set) feeding a shuffled
    anti-join — never a driver-side createDataFrame of positions.
    Forced here by zeroing the threshold: results identical, the plan
    carries the Python expansion stage, and a cardinality mismatch
    still fails with the message."""
    import os
    import uuid as _uuid

    from global_seismic_data_pipeline_spark.sources import (
        deltalog as dl,
        dvbitmap as dvb,
    )

    path = str(tmp_path / "t")
    df = spark.range(0, 10).selectExpr("id", "id * 2 AS v").coalesce(1)
    dl.write_delta(df.sortWithinPartitions("id"), path)
    rel = next(iter(dl.snapshot_state(path)["files"]))
    u = _uuid.uuid4()
    desc = dvb.write_dv_file(
        os.path.join(path, f"deletion_vector_{u}.bin"), {0, 7}
    )
    descriptor = {
        "storageType": "u",
        "pathOrInlineDv": dvb.z85_encode(u.bytes),
        "offset": desc["offset"],
        "sizeInBytes": desc["sizeInBytes"],
        "cardinality": 2,
    }
    _attach_dv(path, rel, descriptor)
    monkeypatch.setattr(dl, "_DV_BROADCAST_MAX_ROWS", 0)
    got_df = dl.read_delta(spark, path)
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan or "mapInPandas" in plan
    assert sorted(r.id for r in got_df.collect()) == [
        1, 2, 3, 4, 5, 6, 8, 9,
    ]
    # the distributed path enforces cardinality too (job failure
    # surfaces the decoded-vs-declared message)
    bad = dict(descriptor, cardinality=5)
    _attach_dv(path, rel, bad)
    with pytest.raises(Exception, match="cardinality"):
        dl.read_delta(spark, path).collect()


def test_deletion_vector_inline_and_partitioned(spark, tmp_path):
    """Inline ('i') DVs on a hive-partitioned table: only the targeted
    file's positions vanish; the other partition is untouched."""
    import os

    from global_seismic_data_pipeline_spark.sources import (
        deltalog as dl,
        dvbitmap as dvb,
    )

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, "a" if i < 5 else "b") for i in range(10)], "id long, p string"
    ).repartition(1, "p").sortWithinPartitions("id")
    dl.write_delta(df, path, partition_by=["p"])
    state = dl.snapshot_state(path)
    rel_a = next(
        p for p, a in state["files"].items()
        if a["partitionValues"].get("p") == "a"
    )
    data = dvb.dv_data({0, 1})  # first two positions of partition a
    pad = (4 - len(data) % 4) % 4
    descriptor = {
        "storageType": "i",
        "pathOrInlineDv": dvb.z85_encode(data + b"\x00" * pad),
        "offset": 0,
        "sizeInBytes": len(data),
        "cardinality": 2,
    }
    _attach_dv(path, rel_a, descriptor)
    got = sorted((r.id, r.p) for r in dl.read_delta(spark, path).collect())
    # partition a wrote ids 0..4 in order; positions {0,1} -> ids {0,1}
    assert got == [(2, "a"), (3, "a"), (4, "a")] + [
        (i, "b") for i in range(5, 10)
    ]


def test_delete_with_dv_point_deletes(spark, tmp_path):
    """DV-based DELETE: data files never rewrite (paths byte-identical),
    deleted rows vanish from reads and from the change feed's notion of
    content, a second delete on the same file merges vectors, time
    travel sees through, bulk deletes refuse, and compaction
    MATERIALIZES the vectors instead of resurrecting rows."""
    from global_seismic_data_pipeline_spark.sources import deltalog as dl
    from global_seismic_data_pipeline_spark.sources.deltawh import (
        DeltaLogWarehouse,
    )

    wh = DeltaLogWarehouse(spark, str(tmp_path / "wh"))
    df = spark.range(0, 100).selectExpr("id", "id % 10 AS bucket")
    wh.overwrite(df.coalesce(2), "t")
    path = wh.path("t")
    files0 = set(dl.snapshot_state(path)["files"])
    v0 = max(wh.versions("t"))

    stats = wh.delete_with_dv("t", "id IN (3, 57, 99)")
    assert stats["rows_deleted"] == 3
    # the SAME data files are live — nothing rewrote
    st1 = dl.snapshot_state(path)
    assert set(st1["files"]) == files0
    assert any(a.get("deletionVector") for a in st1["files"].values())
    got = {r.id for r in wh.read("t").collect()}
    assert got == set(range(100)) - {3, 57, 99}
    # time travel: pre-delete snapshot has all rows
    assert wh.read_version("t", v0).count() == 100

    # second delete merges with the existing vectors
    stats2 = wh.delete_with_dv("t", "id = 4")
    assert stats2["rows_deleted"] == 1
    assert {r.id for r in wh.read("t").collect()} == (
        set(range(100)) - {3, 4, 57, 99}
    )

    # deleting an already-deleted row matches nothing (reads are
    # DV-filtered): no-op
    assert wh.delete_with_dv("t", "id = 3")["rows_deleted"] == 0

    # bulk refusal
    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_rows"):
        wh.delete_with_dv("t", "id >= 0", max_rows=10)

    # appends still work after the protocol upgrade
    wh.append(spark.range(100, 102).selectExpr("id", "id % 10 AS bucket"), "t")
    assert wh.read("t").count() == 98

    # compaction materializes the DVs: rows stay deleted, no DV remains
    out = wh.optimize_small_files("t", small_file_mb=64)
    assert out["files_rewritten"] >= 2
    st2 = dl.snapshot_state(path)
    assert not any(a.get("deletionVector") for a in st2["files"].values())
    assert {r.id for r in wh.read("t").collect()} == (
        set(range(100)) - {3, 4, 57, 99}
    ) | {100, 101}


def test_delete_with_dv_partitioned(spark, tmp_path):
    from global_seismic_data_pipeline_spark.sources import deltalog as dl
    from global_seismic_data_pipeline_spark.sources.deltawh import (
        DeltaLogWarehouse,
    )

    wh = DeltaLogWarehouse(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [(i, "a" if i < 50 else "b") for i in range(100)],
        "id long, p string",
    )
    wh.overwrite(df, "t", partition_by=["p"])
    stats = wh.delete_with_dv("t", "p = 'a' AND id < 3")
    assert stats["rows_deleted"] == 3
    got = {r.id for r in wh.read("t").collect()}
    assert got == set(range(3, 100))
    # only partition a's file(s) carry vectors
    st = dl.snapshot_state(wh.path("t"))
    for rel, a in st["files"].items():
        if a["partitionValues"].get("p") == "b":
            assert not a.get("deletionVector")


def test_restore_across_deletion_vectors(spark, tmp_path):
    """RESTORE to a pre-delete version must DROP the deletion vector
    (a path-only diff would leave the restored rows deleted); restoring
    forward re-applies it."""
    from global_seismic_data_pipeline_spark.sources.deltawh import (
        DeltaLogWarehouse,
    )

    wh = DeltaLogWarehouse(spark, str(tmp_path / "wh"))
    wh.overwrite(spark.range(0, 20).selectExpr("id"), "t")
    v0 = max(wh.versions("t"))
    wh.delete_with_dv("t", "id IN (1, 2)")
    v1 = max(wh.versions("t"))
    assert wh.read("t").count() == 18

    wh.restore("t", v0)
    assert wh.read("t").count() == 20          # vector dropped
    wh.restore("t", v1)
    assert {r.id for r in wh.read("t").collect()} == set(range(20)) - {1, 2}


def test_clone_preserves_deletion_vectors(spark, tmp_path):
    """SHALLOW CLONE of a table with live 'u'-storage vectors: the
    clone's descriptors pin to the SOURCE's DV files by absolute path,
    so the clone reads the same logical rows with zero copying."""
    from global_seismic_data_pipeline_spark.sources.deltawh import (
        DeltaLogWarehouse,
    )

    wh = DeltaLogWarehouse(spark, str(tmp_path / "wh"))
    wh.overwrite(spark.range(0, 30).selectExpr("id"), "t")
    wh.delete_with_dv("t", "id IN (5, 6, 7)")
    wh.clone("t", "t2")
    assert {r.id for r in wh.read("t2").collect()} == set(range(30)) - {5, 6, 7}
    # vacuuming the clone never reaches outside its root: source intact
    wh.vacuum("t2", retain_hours=0.0)
    assert wh.read("t").count() == 27


def test_vacuum_collects_superseded_dv_files(spark, tmp_path):
    """A second delete supersedes the first DV file; once the log no
    longer references it and retention passes, vacuum collects the
    orphaned .bin — while the LIVE vector always survives."""
    import os as _os

    from global_seismic_data_pipeline_spark.sources.deltawh import (
        DeltaLogWarehouse,
    )

    wh = DeltaLogWarehouse(spark, str(tmp_path / "wh"))
    wh.overwrite(spark.range(0, 20).selectExpr("id").coalesce(1), "t")
    wh.delete_with_dv("t", "id = 1")
    wh.delete_with_dv("t", "id = 2")   # new .bin supersedes the first
    path = wh.path("t")
    bins = lambda: sorted(
        f for f in _os.listdir(path)
        if f.startswith("deletion_vector_") and f.endswith(".bin")
    )
    assert len(bins()) == 2
    # within retention: the old commit still time-travels -> keep both
    assert wh.vacuum("t", retain_hours=1.0) == []
    assert len(bins()) == 2
    # retention expired + log cleaned (the checkpoint carries the live
    # vector): only the superseded .bin is collected
    wh.vacuum_snapshots("t", keep_last=1)
    wh.vacuum("t", retain_hours=0.0)
    assert len(bins()) == 1
    live = {r.id for r in wh.read("t").collect()}
    assert live == set(range(20)) - {1, 2}


# ---------------------------------------------------------------------------
# round-6 hardening: protocol features survive checkpoints, DV OCC, DV-keyed
# action reconciliation, writer-protocol gate
# ---------------------------------------------------------------------------

def test_checkpoint_roundtrips_protocol_features(spark, tmp_path):
    """A checkpoint of a v3/v7 table must carry readerFeatures /
    writerFeatures: after log cleanup the checkpoint is the ONLY carrier
    of the protocol contract — a checkpoint schema that silently drops
    the lists erases the table's feature requirements for every client."""
    from global_seismic_data_pipeline_spark.sources.deltawh import (
        DeltaLogWarehouse,
    )

    wh = DeltaLogWarehouse(spark, str(tmp_path / "wh"))
    wh.overwrite(spark.range(0, 10).selectExpr("id").coalesce(1), "t")
    wh.delete_with_dv("t", "id = 3")  # upgrades the protocol to 3/7
    path = wh.path("t")
    dl.write_checkpoint(path)
    log = os.path.join(path, "_delta_log")
    for f in list(os.listdir(log)):
        if f.endswith(".json") and not f.startswith("_"):
            os.remove(os.path.join(log, f))
    proto = dl.snapshot_state(path)["protocol"]
    assert int(proto["minReaderVersion"]) == 3
    assert int(proto["minWriterVersion"]) == 7
    assert "deletionVectors" in (proto.get("readerFeatures") or [])
    assert "deletionVectors" in (proto.get("writerFeatures") or [])
    # the legacy v2-implied writer features survive the upgrade too
    assert {"appendOnly", "invariants"} <= set(proto["writerFeatures"])
    got = {r.id for r in dl.read_delta(spark, path).collect()}
    assert got == set(range(10)) - {3}


def test_dv_update_occ_stale_base_aborts(spark, tmp_path):
    """Two racing DV deletes computed against the same base: the loser
    must ABORT (its vector was computed against stale content) instead of
    overwriting the winner's vector and resurrecting its deleted rows."""
    import uuid as _uuid

    from global_seismic_data_pipeline_spark.sources import dvbitmap as dvb
    from global_seismic_data_pipeline_spark.sources.deltawh import (
        DeltaLogWarehouse,
    )

    wh = DeltaLogWarehouse(spark, str(tmp_path / "wh"))
    wh.overwrite(spark.range(0, 10).selectExpr("id").coalesce(1), "t")
    path = wh.path("t")
    base = dl.snapshot_state(path)
    rel = next(iter(base["files"]))
    wh.delete_with_dv("t", "id = 1")  # the winner
    # the loser computed positions against the pre-winner base (no DV)
    u = _uuid.uuid4()
    desc = dvb.write_dv_file(
        os.path.join(path, f"deletion_vector_{u}.bin"), {2}
    )
    stale_add = {
        **base["files"][rel],
        "deletionVector": {
            "storageType": "u",
            "pathOrInlineDv": dvb.z85_encode(u.bytes),
            **desc,
        },
    }
    with pytest.raises(dl.DeltaConcurrentWriteError, match="changed under"):
        dl.commit_dv_update(path, {rel: stale_add}, base_dvs={rel: None})
    # the winner's delete is intact
    assert {r.id for r in wh.read("t").collect()} == set(range(10)) - {1}


def test_foreign_dv_commit_add_before_remove(spark, tmp_path):
    """Spec Action Reconciliation keys file actions by (path, dv
    uniqueId): an external DV-update commit ordering the add (new DV)
    BEFORE the remove (old DV) must keep the file live under the new
    vector — path-only keying popped the file, losing every row."""
    import json as _json
    import uuid as _uuid

    from global_seismic_data_pipeline_spark.sources import dvbitmap as dvb

    path = str(tmp_path / "t")
    dl.write_delta(
        spark.range(0, 10).selectExpr("id").coalesce(1).sortWithinPartitions("id"),
        path,
    )
    state = dl.snapshot_state(path)
    rel = next(iter(state["files"]))

    def _desc(positions):
        u = _uuid.uuid4()
        d = dvb.write_dv_file(
            os.path.join(path, f"deletion_vector_{u}.bin"), positions
        )
        return {
            "storageType": "u",
            "pathOrInlineDv": dvb.z85_encode(u.bytes),
            **d,
        }

    old_dv = _desc({0})
    v1 = _attach_dv(path, rel, old_dv)
    assert {r.id for r in dl.read_delta(spark, path).collect()} == set(range(1, 10))

    new_dv = _desc({0, 1})
    log = os.path.join(path, "_delta_log")
    with open(os.path.join(log, f"{v1 + 1:020d}.json"), "w") as fh:
        fh.write(_json.dumps({"commitInfo": {
            "timestamp": 1700000001000, "operation": "DELETE"}}) + "\n")
        # add FIRST (spec: in-commit order is irrelevant under uid keying)
        fh.write(_json.dumps({"add": {
            **state["files"][rel], "deletionVector": new_dv,
            "dataChange": True,
        }}) + "\n")
        fh.write(_json.dumps({"remove": {
            "path": rel, "deletionTimestamp": 1700000001000,
            "dataChange": True, "deletionVector": old_dv,
        }}) + "\n")
    st = dl.snapshot_state(path)
    assert rel in st["files"], "file silently dropped by path-keyed replay"
    assert st["files"][rel]["deletionVector"]["pathOrInlineDv"] == (
        new_dv["pathOrInlineDv"]
    )
    got = {r.id for r in dl.read_delta(spark, path).collect()}
    assert got == set(range(2, 10))
    # a remove WITHOUT a descriptor stays a path-level tombstone (what
    # pre-DV writers emit for genuine deletes): the file really goes
    with open(os.path.join(log, f"{v1 + 2:020d}.json"), "w") as fh:
        fh.write(_json.dumps({"commitInfo": {
            "timestamp": 1700000002000, "operation": "DELETE"}}) + "\n")
        fh.write(_json.dumps({"remove": {
            "path": rel, "deletionTimestamp": 1700000002000,
            "dataChange": True,
        }}) + "\n")
    assert dl.snapshot_state(path)["files"] == {}


def _set_table_conf(path, conf=None, schema_field_meta=None, protocol=None):
    """Hand-append a foreign commit that rewrites metaData configuration /
    schema field metadata (and optionally the protocol)."""
    import json as _json

    state = dl.snapshot_state(path)
    md = dict(state["metadata"])
    if conf is not None:
        md["configuration"] = conf
    if schema_field_meta is not None:
        sch = _json.loads(md["schemaString"])
        sch["fields"][0]["metadata"] = schema_field_meta
        md["schemaString"] = _json.dumps(sch)
    log = os.path.join(path, "_delta_log")
    v = state["version"] + 1
    with open(os.path.join(log, f"{v:020d}.json"), "w") as fh:
        fh.write(_json.dumps({"commitInfo": {
            "timestamp": 1700000000000, "operation": "SET TBLPROPERTIES",
        }}) + "\n")
        if protocol is not None:
            fh.write(_json.dumps({"protocol": protocol}) + "\n")
        fh.write(_json.dumps({"metaData": md}) + "\n")
    return v


def test_writer_gate_append_only(spark, tmp_path):
    """delta.appendOnly=true: appends fine, rewrites refuse."""
    path = str(tmp_path / "t")
    df = spark.range(0, 5).selectExpr("id")
    dl.write_delta(df, path)
    _set_table_conf(path, conf={"delta.appendOnly": "true"})
    dl.write_delta(df, path, mode="append")  # allowed
    with pytest.raises(dl.DeltaProtocolError, match="appendOnly"):
        dl.write_delta(df, path, mode="overwrite")
    # DV deletes are rewrites too
    from global_seismic_data_pipeline_spark.sources.deltawh import (
        DeltaLogWarehouse,
    )

    wh = DeltaLogWarehouse(spark, str(tmp_path / "wh"))
    wh.overwrite(df.coalesce(1), "t2")
    _set_table_conf(wh.path("t2"), conf={"delta.appendOnly": "true"})
    with pytest.raises(dl.DeltaProtocolError, match="appendOnly"):
        wh.delete_with_dv("t2", "id = 1")


def test_writer_gate_foreign_enforcement_demands(spark, tmp_path):
    """Foreign tables demanding enforcement this writer lacks refuse
    LOUDLY on any write: CHECK constraints, CDF rewrites, invariants,
    generated columns, unknown v7 writer features."""
    df = spark.range(0, 5).selectExpr("id")

    p1 = str(tmp_path / "cons")
    dl.write_delta(df, p1)
    _set_table_conf(p1, conf={"delta.constraints.posid": "id >= 0"})
    with pytest.raises(dl.DeltaProtocolError, match="CHECK constraints"):
        dl.write_delta(df, p1, mode="append")

    p2 = str(tmp_path / "cdf")
    dl.write_delta(df, p2)
    _set_table_conf(p2, conf={"delta.enableChangeDataFeed": "true"})
    dl.write_delta(df, p2, mode="append")  # pure append is fine
    with pytest.raises(dl.DeltaProtocolError, match="_change_data"):
        dl.write_delta(df, p2, mode="overwrite")

    p3 = str(tmp_path / "inv")
    dl.write_delta(df, p3)
    _set_table_conf(
        p3,
        schema_field_meta={
            "delta.invariants": '{"expression":{"expression":"id > 0"}}'
        },
    )
    with pytest.raises(dl.DeltaProtocolError, match="invariants"):
        dl.write_delta(df, p3, mode="append")

    p4 = str(tmp_path / "gen")
    dl.write_delta(df, p4)
    _set_table_conf(
        p4, schema_field_meta={"delta.generationExpression": "id + 1"}
    )
    with pytest.raises(dl.DeltaProtocolError, match="generated columns"):
        dl.write_delta(df, p4, mode="append")

    p5 = str(tmp_path / "v7")
    dl.write_delta(df, p5)
    _set_table_conf(p5, protocol={
        "minReaderVersion": 1, "minWriterVersion": 7,
        "writerFeatures": ["someFutureFeature"],
    })
    with pytest.raises(dl.DeltaProtocolError, match="someFutureFeature"):
        dl.write_delta(df, p5, mode="append")
    # reads are untouched by WRITER demands
    assert dl.read_delta(spark, p5).count() == 5


def test_multipart_checkpoint_write_roundtrip(spark, tmp_path):
    """A state checkpointed MULTI-PART by this writer reconstructs
    identically with every earlier JSON gone — files, deletion vectors,
    txn high-water marks, and the v3/v7 protocol feature lists all
    survive the part split; _last_checkpoint carries `parts`."""
    from global_seismic_data_pipeline_spark.sources.deltawh import (
        DeltaLogWarehouse,
    )

    wh = DeltaLogWarehouse(spark, str(tmp_path / "wh"))
    wh.overwrite(spark.range(0, 20).selectExpr("id").coalesce(2), "t")
    path = wh.path("t")
    wh.append(spark.range(20, 25).selectExpr("id"), "t", txn=("app", 7))
    wh.delete_with_dv("t", "id IN (1, 2)")

    out = dl.write_checkpoint(path, max_rows_per_part=2)
    log = os.path.join(path, "_delta_log")
    parts = sorted(
        f for f in os.listdir(log)
        if ".checkpoint." in f and f.endswith(".parquet")
    )
    assert len(parts) > 1
    assert all(f.split(".checkpoint.")[1].count(".") == 2 for f in parts)
    assert os.path.basename(out) == parts[0]
    lc = json.load(open(os.path.join(log, "_last_checkpoint")))
    assert lc["parts"] == len(parts)

    for f in list(os.listdir(log)):
        if f.endswith(".json") and not f.startswith("_"):
            os.remove(os.path.join(log, f))
    st = dl.snapshot_state(path)
    assert st["txns"] == {"app": 7}
    proto = st["protocol"]
    assert "deletionVectors" in (proto.get("readerFeatures") or [])
    got = {r.id for r in dl.read_delta(spark, path).collect()}
    assert got == set(range(25)) - {1, 2}
    # a duplicate idempotent append is STILL skipped from checkpoint state
    v_before = dl.snapshot_state(path)["version"]
    wh.append(spark.range(20, 25).selectExpr("id"), "t", txn=("app", 7))
    assert dl.snapshot_state(path)["version"] == v_before
    # and a genuine append on top of the checkpointed state works
    dl.write_delta(spark.range(25, 27).selectExpr("id"), path)
    assert dl.read_delta(spark, path).count() == 25


def test_rowtracking_and_vacuumprotocolcheck_tolerance(spark, tmp_path):
    """A v7 table listing rowTracking reads fine AND appends (round-8:
    the writer assigns row ids — see test_rowtracking_append_assigns_
    row_ids); a v7 table listing an UNKNOWN writer feature still
    refuses commits with a message saying reads remain supported;
    vacuumProtocolCheck tables read, APPEND, and vacuum (vacuum_delta
    runs the protocol gate the feature mandates)."""
    p = str(tmp_path / "rt")
    dl.write_delta(spark.range(0, 5).selectExpr("id"), p)
    log = os.path.join(p, "_delta_log")
    with open(os.path.join(log, f"{1:020d}.json"), "w") as fh:
        fh.write(json.dumps({"protocol": {
            "minReaderVersion": 1, "minWriterVersion": 7,
            "writerFeatures": ["rowTracking", "domainMetadata"],
        }}) + "\n")
    assert {r.id for r in dl.read_delta(spark, p).collect()} == set(range(5))
    dl.write_delta(spark.range(5, 6).selectExpr("id"), p, mode="append")
    assert dl.read_delta(spark, p).count() == 6

    # an unknown writer feature still refuses loudly, reads untouched
    pu = str(tmp_path / "unk")
    dl.write_delta(spark.range(0, 5).selectExpr("id"), pu)
    with open(os.path.join(pu, "_delta_log", f"{1:020d}.json"), "w") as fh:
        fh.write(json.dumps({"protocol": {
            "minReaderVersion": 1, "minWriterVersion": 7,
            "writerFeatures": ["futureFeatureX"],
        }}) + "\n")
    assert dl.read_delta(spark, pu).count() == 5
    with pytest.raises(dl.DeltaProtocolError, match="remains supported"):
        dl.write_delta(
            spark.range(5, 6).selectExpr("id"), pu, mode="append"
        )

    p2 = str(tmp_path / "vpc")
    dl.write_delta(spark.range(0, 5).selectExpr("id"), p2)
    log2 = os.path.join(p2, "_delta_log")
    with open(os.path.join(log2, f"{1:020d}.json"), "w") as fh:
        fh.write(json.dumps({"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["vacuumProtocolCheck"],
            "writerFeatures": ["vacuumProtocolCheck"],
        }}) + "\n")
    assert dl.read_delta(spark, p2).count() == 5
    dl.write_delta(spark.range(5, 7).selectExpr("id"), p2, mode="append")
    assert dl.read_delta(spark, p2).count() == 7
    assert dl.vacuum_delta(p2, retain_hours=9999) == []


def test_rowtracking_append_assigns_row_ids(spark, tmp_path):
    """Appending to a rowTracking table (default-on in current
    Databricks runtimes) must assign spec row ids: every add action
    carries baseRowId/defaultRowCommitVersion, ranges never overlap
    (unique logical ids), the rowIdHighWaterMark domain advances
    monotonically, and both the ids and the HWM survive a classic
    checkpoint + log cleanup AND a DV delete (which re-adds the file)."""
    p = str(tmp_path / "rt")
    dl.write_delta(spark.range(0, 10).selectExpr("id").coalesce(2), p)
    log = os.path.join(p, "_delta_log")
    with open(os.path.join(log, f"{1:020d}.json"), "w") as fh:
        fh.write(json.dumps({"protocol": {
            "minReaderVersion": 1, "minWriterVersion": 7,
            "writerFeatures": ["rowTracking", "domainMetadata"],
        }}) + "\n")

    v2 = dl.write_delta(
        spark.range(10, 17).selectExpr("id").coalesce(2), p,
        mode="append",
    )
    v3 = dl.write_delta(
        spark.range(17, 20).selectExpr("id").coalesce(1), p,
        mode="append",
    )
    st = dl.snapshot_state(p)
    tracked = {
        pth: a for pth, a in st["files"].items()
        if a.get("baseRowId") is not None
    }
    # the two post-feature appends carry ids; ranges are disjoint and
    # the watermark equals the last assigned id
    assert len(tracked) == 3  # 2 files in v2 + 1 in v3
    spans = sorted(
        (a["baseRowId"],
         a["baseRowId"] + json.loads(a["stats"])["numRecords"] - 1,
         a["defaultRowCommitVersion"])
        for a in tracked.values()
    )
    assert spans[0][0] == 0  # fresh table: HWM starts at -1
    for (lo1, hi1, _), (lo2, _, _) in zip(spans, spans[1:]):
        assert lo2 == hi1 + 1  # contiguous, never overlapping
    assert {s[2] for s in spans} == {v2, v3}
    hwm = json.loads(st["domains"]["delta.rowTracking"])
    assert hwm["rowIdHighWaterMark"] == spans[-1][1] == 9

    # ids + HWM survive checkpoint and full log cleanup
    dl.write_checkpoint(p)
    for f in list(os.listdir(log)):
        if f.endswith(".json") and not f.startswith("_"):
            os.remove(os.path.join(log, f))
    st2 = dl.snapshot_state(p)
    assert {
        pth: (a.get("baseRowId"), a.get("defaultRowCommitVersion"))
        for pth, a in st2["files"].items()
    } == {
        pth: (a.get("baseRowId"), a.get("defaultRowCommitVersion"))
        for pth, a in st["files"].items()
    }
    assert st2["domains"] == st["domains"]
    # next append continues from the checkpointed HWM, never reuses
    v4 = dl.write_delta(
        spark.range(20, 25).selectExpr("id").coalesce(1), p,
        mode="append",
    )
    st3 = dl.snapshot_state(p)
    newest = [
        a for a in st3["files"].values()
        if a.get("defaultRowCommitVersion") == v4
    ]
    assert len(newest) == 1 and newest[0]["baseRowId"] == 10
    assert json.loads(
        st3["domains"]["delta.rowTracking"]
    )["rowIdHighWaterMark"] == 14

    # a DV delete re-adds the file WITH its original row-id provenance
    from global_seismic_data_pipeline_spark.sources.deltawh import (
        DeltaLogWarehouse,
    )

    before = {
        pth: a["baseRowId"] for pth, a in st3["files"].items()
        if a.get("baseRowId") is not None
    }
    wh = DeltaLogWarehouse(spark, str(tmp_path))
    wh.delete_with_dv("rt", "id = 21")
    st4 = dl.snapshot_state(p)
    after = {
        pth: a["baseRowId"] for pth, a in st4["files"].items()
        if a.get("baseRowId") is not None
    }
    assert after == before
    assert {r.id for r in dl.read_delta(spark, p).collect()} == (
        set(range(25)) - {21}
    )


def test_liquid_clustering_append_preserves_domain(spark, tmp_path):
    """A liquid-clustered table (writer feature 'clustering' +
    delta.clustering domain metadata naming the clustering columns)
    accepts appends from this writer — clustering is a best-effort
    layout optimization, unclustered adds stay correct — and the
    clustering domain survives both the append and a checkpoint +
    log cleanup."""
    p = str(tmp_path / "lc")
    dl.write_delta(spark.range(0, 10).selectExpr("id"), p)
    log = os.path.join(p, "_delta_log")
    dom = {
        "domain": "delta.clustering",
        "configuration": json.dumps({"clusteringColumns": [["id"]]}),
        "removed": False,
    }
    with open(os.path.join(log, f"{1:020d}.json"), "w") as fh:
        fh.write(json.dumps({"protocol": {
            "minReaderVersion": 1, "minWriterVersion": 7,
            "writerFeatures": ["clustering", "domainMetadata"],
        }}) + "\n")
        fh.write(json.dumps({"domainMetadata": dom}) + "\n")

    dl.write_delta(spark.range(10, 15).selectExpr("id"), p, mode="append")
    st = dl.snapshot_state(p)
    assert st["domains"]["delta.clustering"] == dom["configuration"]
    assert dl.read_delta(spark, p).count() == 15

    dl.write_checkpoint(p)
    for f in list(os.listdir(log)):
        if f.endswith(".json") and not f.startswith("_"):
            os.remove(os.path.join(log, f))
    st2 = dl.snapshot_state(p)
    assert st2["domains"]["delta.clustering"] == dom["configuration"]
    assert dl.read_delta(spark, p).count() == 15


def test_rowtracking_enabled_refuses_pruned_rewrite(spark, tmp_path):
    """A rowTracking-enabled table whose live files carry NO baseRowId
    (written before the feature — a spec-invalid enablement) cannot
    have its row ids preserved through a MERGE rewrite: the writer must
    refuse loudly (naming the back-fill remedy) instead of silently
    minting new ids for other clients' rows. Plain appends on the same
    table stay fine. A direct pruned-rewrite commit_write WITHOUT
    row_ids_preserved refuses too (the materialized-columns contract)."""
    from global_seismic_data_pipeline_spark.sources.deltawh import (
        DeltaLogWarehouse,
    )

    p = str(tmp_path / "rte")
    dl.write_delta(spark.range(0, 10).selectExpr("id", "id % 2 AS k"), p)
    log = os.path.join(p, "_delta_log")
    st = dl.snapshot_state(p)
    with open(os.path.join(log, f"{1:020d}.json"), "w") as fh:
        fh.write(json.dumps({"protocol": {
            "minReaderVersion": 1, "minWriterVersion": 7,
            "writerFeatures": ["rowTracking", "domainMetadata"],
        }}) + "\n")
        fh.write(json.dumps({"metaData": {
            **st["metadata"],
            "configuration": {"delta.rowTracking.enabled": "true"},
        }}) + "\n")
    dl.write_delta(
        spark.range(10, 12).selectExpr("id", "id % 2 AS k"), p,
        mode="append",
    )  # appends fine: all rows are new
    wh = DeltaLogWarehouse(spark, str(tmp_path))
    with pytest.raises(dl.DeltaProtocolError, match="baseRowId"):
        wh.merge(
            spark.range(0, 2).selectExpr("id", "id % 2 AS k"),
            "rte", keys=["id"],
        )
    # the commit-level gate: a pruned rewrite that did NOT materialize
    # row ids still refuses even when every file has ids
    staged = dl.stage_write(
        spark.range(0, 2).selectExpr("id", "id % 2 AS k"), p
    )
    with pytest.raises(dl.DeltaProtocolError, match="materialized"):
        dl.commit_write(
            spark, p, staged, mode="append",
            extra_removes=lambda prev: [],
        )


def _rowtracking_table(spark, tmp_path, name, *, partition_by=()):
    """A spec-VALID rowTracking-enabled table: create, add the feature,
    back-fill ids via overwrite, then flip enabled=true."""
    from global_seismic_data_pipeline_spark.sources.deltawh import (
        DeltaLogWarehouse,
    )

    p = str(tmp_path / name)
    df = spark.range(0, 10).selectExpr(
        "id", "id % 2 AS k", "CAST('orig' AS STRING) AS v"
    )
    dl.write_delta(df.coalesce(2), p, partition_by=list(partition_by))
    with open(
        os.path.join(p, "_delta_log", f"{1:020d}.json"), "w"
    ) as fh:
        fh.write(json.dumps({"protocol": {
            "minReaderVersion": 1, "minWriterVersion": 7,
            "writerFeatures": ["rowTracking", "domainMetadata"],
        }}) + "\n")
    wh = DeltaLogWarehouse(spark, str(tmp_path))
    wh.overwrite(df.coalesce(2), name,
                 partition_by=list(partition_by))  # back-fill ids
    dl.commit_set_properties(p, {"delta.rowTracking.enabled": "true"})
    return wh, p


def _row_ids(spark, p):
    out = {}
    for r in dl.read_with_row_ids(spark, p).collect():
        out[r.id] = (r._row_id, r._row_commit_version)
    return out


@pytest.mark.parametrize("pruned", [False, True])
def test_rowtracking_merge_preserves_row_ids(spark, tmp_path, pruned):
    """The spec-complete rowTracking MERGE: surviving rows keep (id,
    commit version) via materialized columns, matched rows keep their
    id with a BUMPED commit version, inserts take fresh ids above the
    old high-water mark, ids stay globally unique, the materialized
    column names live in the table configuration but NEVER in the
    schemaString, and a second merge round-trips the materialized
    values. Runs both the overwrite path and the partition-pruned
    rewrite path (which exercises row_ids_preserved through
    extra_removes)."""
    name = f"rtm{int(pruned)}"
    wh, p = _rowtracking_table(
        spark, tmp_path, name,
        partition_by=["k"] if pruned else (),
    )
    ids0 = _row_ids(spark, p)
    assert len({i for i, _ in ids0.values()}) == 10  # unique
    updates = spark.range(5, 12).selectExpr(
        "id", "id % 2 AS k", "CAST('upd' AS STRING) AS v"
    )
    wh.merge(
        updates, name, keys=["id"],
        prune_partition_col="k" if pruned else None,
    )
    st = dl.snapshot_state(p)
    conf = st["metadata"]["configuration"]
    mid = conf[dl._RT_ID_NAME_KEY]
    mver = conf[dl._RT_VER_NAME_KEY]
    assert mid not in st["metadata"]["schemaString"]
    assert mver not in st["metadata"]["schemaString"]
    ids1 = _row_ids(spark, p)
    assert len(ids1) == 12
    assert len({i for i, _ in ids1.values()}) == 12  # still unique
    old_hwm = max(i for i, _ in ids0.values())
    for rid in range(0, 5):  # untouched survivors: id AND version keep
        assert ids1[rid] == ids0[rid]
    for rid in range(5, 10):  # matched: stable id, bumped version
        assert ids1[rid][0] == ids0[rid][0]
        assert ids1[rid][1] > ids0[rid][1]
    for rid in range(10, 12):  # inserts: fresh ids above the old HWM
        assert ids1[rid][0] > old_hwm
    # logical reads stay clean: no materialized columns leak
    assert set(dl.read_delta(spark, p).columns) == {"id", "k", "v"}
    vals = {r.id: r.v for r in dl.read_delta(spark, p).collect()}
    assert vals[3] == "orig" and vals[7] == "upd" and vals[11] == "upd"
    # second merge: materialized values round-trip through the read
    wh.merge(
        spark.range(0, 2).selectExpr(
            "id", "id % 2 AS k", "CAST('upd2' AS STRING) AS v"
        ),
        name, keys=["id"],
        prune_partition_col="k" if pruned else None,
    )
    ids2 = _row_ids(spark, p)
    assert len({i for i, _ in ids2.values()}) == 12
    for rid in range(2, 10):
        assert ids2[rid][0] == ids1[rid][0]
    assert ids2[0][0] == ids1[0][0] and ids2[0][1] > ids1[0][1]


def test_commit_set_properties_only_if_absent(spark, tmp_path):
    """only_if_absent makes property minting first-writer-wins: present
    keys are never overwritten, and when nothing remains to set the
    call commits NOTHING (no version bump) — the race-safety contract
    the rowTracking materialized-name mint depends on."""
    p = str(tmp_path / "oia")
    dl.write_delta(spark.range(3).selectExpr("id"), p)
    dl.commit_set_properties(p, {"a": "1"})
    v = dl.snapshot_state(p)["version"]
    dl.commit_set_properties(p, {"a": "2", "b": "3"},
                             only_if_absent=True)
    st = dl.snapshot_state(p)
    assert st["metadata"]["configuration"] == {"a": "1", "b": "3"}
    assert st["version"] == v + 1
    # everything already present: no commit happens at all
    assert dl.commit_set_properties(
        p, {"a": "9", "b": "9"}, only_if_absent=True
    ) == v + 1
    assert dl.snapshot_state(p)["version"] == v + 1


def test_rowtracking_restore_and_clone_preserve_ids(spark, tmp_path):
    """RESTORE and SHALLOW CLONE republish add actions verbatim
    ({**a}), so baseRowId/defaultRowCommitVersion — and hence every
    row's id — survive both: restoring to the pre-merge version brings
    the ORIGINAL ids back, and a clone reads the same ids as its
    source."""
    wh, p = _rowtracking_table(spark, tmp_path, "rtrc")
    ids0 = _row_ids(spark, p)
    v = wh.latest_version("rtrc")
    wh.merge(
        spark.range(3, 5).selectExpr(
            "id", "id % 2 AS k", "CAST('upd' AS STRING) AS v"
        ),
        "rtrc", keys=["id"],
    )
    assert _row_ids(spark, p)[3][1] > ids0[3][1]  # merge bumped it
    wh.restore("rtrc", v)
    assert _row_ids(spark, p) == ids0
    wh.clone("rtrc", "rtrcclone")
    clone_ids = _row_ids(spark, str(tmp_path / "rtrcclone"))
    assert clone_ids == ids0


def test_rowtracking_merge_preserves_ids_across_dv_delete(
    spark, tmp_path
):
    """DV delete → MERGE composition: the deletion vector removes rows
    but keeps survivors' PHYSICAL positions, so baseRowId + row_index
    stays exact through the subsequent id-materializing rewrite."""
    wh, p = _rowtracking_table(spark, tmp_path, "rtdv")
    ids0 = _row_ids(spark, p)
    wh.delete_with_dv("rtdv", "id IN (2, 3)")
    ids_after_dv = _row_ids(spark, p)
    assert set(ids_after_dv) == set(range(10)) - {2, 3}
    for rid, pair in ids_after_dv.items():
        assert pair == ids0[rid]  # DV re-add keeps original ids
    wh.merge(
        spark.range(4, 6).selectExpr(
            "id", "id % 2 AS k", "CAST('upd' AS STRING) AS v"
        ),
        "rtdv", keys=["id"],
    )
    ids1 = _row_ids(spark, p)
    assert set(ids1) == set(range(10)) - {2, 3}
    for rid in ids1:
        assert ids1[rid][0] == ids0[rid][0]
    assert ids1[4][1] > ids0[4][1] and ids1[9][1] == ids0[9][1]


def test_v2_checkpoint_write_roundtrip(spark, tmp_path):
    """A state checkpointed V2-STYLE by this writer (manifest +
    _sidecars/) reconstructs identically with every JSON commit deleted
    — files, deletion vectors, txn marks, protocol feature lists. The
    add set lives ONLY in sidecar files (the manifest carries no adds),
    split by max_rows_per_part. Classic-only readers cannot consume
    this layout (documented in write_checkpoint's docstring)."""
    import pyarrow.parquet as pq

    from global_seismic_data_pipeline_spark.sources.deltawh import (
        DeltaLogWarehouse,
    )

    wh = DeltaLogWarehouse(spark, str(tmp_path / "wh"))
    wh.overwrite(spark.range(0, 20).selectExpr("id").coalesce(2), "t")
    path = wh.path("t")
    wh.append(spark.range(20, 25).selectExpr("id"), "t", txn=("app", 7))
    wh.delete_with_dv("t", "id IN (1, 2)")

    out = dl.write_checkpoint(path, max_rows_per_part=2, style="v2")
    log = os.path.join(path, "_delta_log")
    manifests = [
        f for f in os.listdir(log)
        if ".checkpoint." in f and f.endswith(".parquet")
    ]
    assert manifests == [os.path.basename(out)]
    # manifest: uuid-named, no adds inside, sidecar pointers present
    stem = manifests[0].split(".checkpoint.")[1]
    assert stem.count(".") == 1  # <uuid>.parquet, not multi-part
    mrows = pq.read_table(out).to_pylist()
    assert all(r.get("add") is None for r in mrows)
    sidecars = [r["sidecar"]["path"] for r in mrows if r.get("sidecar")]
    assert len(sidecars) > 1  # 3 data files / 2-row parts
    sc_dir = os.path.join(log, "_sidecars")
    assert all(os.path.isfile(os.path.join(sc_dir, s)) for s in sidecars)
    # spec: EXACTLY ONE checkpointMetadata action carrying the
    # checkpoint version — compliant readers reject its absence
    cpm = [
        r["checkpointMetadata"] for r in mrows
        if r.get("checkpointMetadata")
    ]
    assert len(cpm) == 1
    assert cpm[0]["version"] == dl.snapshot_state(path)["version"]

    for f in list(os.listdir(log)):
        if f.endswith(".json") and not f.startswith("_"):
            os.remove(os.path.join(log, f))
    st = dl.snapshot_state(path)
    assert st["txns"] == {"app": 7}
    assert "deletionVectors" in (st["protocol"].get("readerFeatures") or [])
    got = {r.id for r in dl.read_delta(spark, path).collect()}
    assert got == set(range(25)) - {1, 2}
    # appends on top of the v2-checkpointed state work
    dl.write_delta(spark.range(25, 27).selectExpr("id"), path)
    assert dl.read_delta(spark, path).count() == 25


def test_v2_checkpoint_auto_style_on_feature(spark, tmp_path):
    """style='auto' must write the v2 layout when the protocol lists
    the v2Checkpoint writer feature (the feature REQUIRES v2
    checkpoints), and classic otherwise."""
    p = str(tmp_path / "t")
    dl.write_delta(spark.range(0, 5).selectExpr("id"), p)
    # plain table -> classic name
    out = dl.write_checkpoint(p)
    assert os.path.basename(out).endswith("0.checkpoint.parquet")

    # upgrade the protocol to v7 + v2Checkpoint via a raw commit
    log = os.path.join(p, "_delta_log")
    st = dl.snapshot_state(p)
    v = st["version"] + 1
    with open(os.path.join(log, f"{v:020d}.json"), "w") as fh:
        fh.write(json.dumps({"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["v2Checkpoint"],
            "writerFeatures": ["v2Checkpoint"],
        }}) + "\n")
    out2 = dl.write_checkpoint(p)
    stem = os.path.basename(out2).split(".checkpoint.")[1]
    assert stem.count(".") == 1  # <uuid>.parquet manifest
    assert len(stem.split(".")[0]) == 32  # uuid, not a part number
    # and the state still reads back
    assert dl.snapshot_state(p)["files"]


def _idmode_parquet(path, arrays_fields):
    """Parquet file whose columns carry parquet FIELD IDS and physical
    names chosen to DIFFER from the Delta schema's physicalName metadata
    — only field-id resolution can read it correctly."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    fields = []
    cols = []
    for name, arr, fid, children in arrays_fields:
        if children is not None:
            sub = [
                pa.field(cn, ca.type, metadata={b"PARQUET:field_id": str(cf).encode()})
                for cn, ca, cf in children
            ]
            t = pa.struct(sub)
            arr = pa.StructArray.from_arrays(
                [ca for _, ca, _ in children], fields=sub
            )
        fields.append(pa.field(
            name, arr.type, metadata={b"PARQUET:field_id": str(fid).encode()}
        ))
        cols.append(arr)
    pq.write_table(pa.Table.from_arrays(cols, schema=pa.schema(fields)), path)


def test_column_mapping_id_mode_read(spark, tmp_path):
    """Hand-crafted 'id'-mode tables (flat, nested, partitioned): the
    parquet columns are NAMED differently from the schema's physicalName
    metadata AND ordered differently — only resolution through the
    parquet field ids (delta.columnMapping.id) reads them correctly.
    Time travel resolves by id at every version; appends stamp ids."""
    import pyarrow as pa

    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    # ---- flat: file columns (weird_y, weird_x) with ids (3, 1) ----
    p = str(tmp_path / "idm")
    os.makedirs(os.path.join(p, "_delta_log"))
    _idmode_parquet(os.path.join(p, "f1.parquet"), [
        ("weird_y", pa.array(["x1", "x2"]), 3, None),
        ("weird_x", pa.array([1, 2], pa.int32()), 1, None),
    ])
    logical = StructType([
        StructField("k", IntegerType(), True, {
            "delta.columnMapping.id": 1,
            "delta.columnMapping.physicalName": "col-aaa"}),
        StructField("s", StringType(), True, {
            "delta.columnMapping.id": 3,
            "delta.columnMapping.physicalName": "col-bbb"}),
    ])
    v0 = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": {
            "id": "idm1", "format": {"provider": "parquet", "options": {}},
            "schemaString": logical.json(), "partitionColumns": [],
            "configuration": {"delta.columnMapping.mode": "id",
                              "delta.columnMapping.maxColumnId": "3"},
            "createdTime": 1,
        }},
        {"add": {"path": "f1.parquet", "partitionValues": {},
                 "size": 1, "modificationTime": 1, "dataChange": True}},
        {"commitInfo": {"timestamp": 1000, "operation": "WRITE"}},
    ]
    with open(os.path.join(p, "_delta_log", f"{0:020d}.json"), "w") as fh:
        for a in v0:
            fh.write(json.dumps(a) + "\n")
    out = dl.read_delta(spark, p)
    assert out.columns == ["k", "s"]
    assert {(r.k, r.s) for r in out.collect()} == {(1, "x1"), (2, "x2")}

    # a second commit -> its file resolves by id too
    _idmode_parquet(os.path.join(p, "f2.parquet"), [
        ("other_name", pa.array(["z"]), 3, None),
        ("zzz", pa.array([9], pa.int32()), 1, None),
    ])
    with open(os.path.join(p, "_delta_log", f"{1:020d}.json"), "w") as fh:
        fh.write(json.dumps({"add": {
            "path": "f2.parquet", "partitionValues": {},
            "size": 1, "modificationTime": 2, "dataChange": True}}) + "\n")
        fh.write(json.dumps({"commitInfo": {
            "timestamp": 2000, "operation": "APPEND"}}) + "\n")
    assert {r.k for r in dl.read_delta(spark, p, version=0).collect()} == {1, 2}
    v1_df = dl.read_delta(spark, p, version=1)
    assert v1_df.columns == ["k", "s"]
    assert {(r.k, r.s) for r in v1_df.collect()} == {
        (1, "x1"), (2, "x2"), (9, "z"),
    }
    # id-mode APPEND: stages under physical names WITH parquet field
    # ids stamped, so id-resolving readers (ours included) see it
    batch = spark.createDataFrame([(3, "w")], "k int, s string")
    dl.write_delta(batch, p, mode="append")
    assert {(r.k, r.s) for r in dl.read_delta(spark, p).collect()} == {
        (1, "x1"), (2, "x2"), (9, "z"), (3, "w"),
    }
    import pyarrow.parquet as _pq
    new_rel = next(
        rel for rel in dl.snapshot_state(p)["files"]
        if rel not in ("f1.parquet", "f2.parquet")
    )
    arrow_schema = _pq.ParquetFile(os.path.join(p, new_rel)).schema_arrow
    fids = {
        f.name: (f.metadata or {}).get(b"PARQUET:field_id")
        for f in arrow_schema
    }
    assert fids == {"col-aaa": b"1", "col-bbb": b"3"}

    # ---- nested struct: inner fields resolve by id as well ----
    pn = str(tmp_path / "idmn")
    os.makedirs(os.path.join(pn, "_delta_log"))
    _idmode_parquet(os.path.join(pn, "n1.parquet"), [
        ("blob", None, 2, [("inner_w", pa.array(["q"]), 3)]),
        ("num", pa.array([5], pa.int64()), 1, None),
    ])
    nested = StructType([
        StructField("k", LongType(), True, {
            "delta.columnMapping.id": 1,
            "delta.columnMapping.physicalName": "col-k"}),
        StructField("s", StructType([
            StructField("c", StringType(), True, {
                "delta.columnMapping.id": 3,
                "delta.columnMapping.physicalName": "col-c"}),
        ]), True, {
            "delta.columnMapping.id": 2,
            "delta.columnMapping.physicalName": "col-s"}),
    ])
    actions = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": {
            "id": "idm2", "format": {"provider": "parquet", "options": {}},
            "schemaString": nested.json(), "partitionColumns": [],
            "configuration": {"delta.columnMapping.mode": "id"},
            "createdTime": 1,
        }},
        {"add": {"path": "n1.parquet", "partitionValues": {},
                 "size": 1, "modificationTime": 1, "dataChange": True}},
        {"commitInfo": {"timestamp": 1000, "operation": "WRITE"}},
    ]
    with open(os.path.join(pn, "_delta_log", f"{0:020d}.json"), "w") as fh:
        for a in actions:
            fh.write(json.dumps(a) + "\n")
    outn = dl.read_delta(spark, pn)
    assert outn.columns == ["k", "s"]
    assert [(r.k, r.s.c) for r in outn.collect()] == [(5, "q")]

    # ---- partitioned: partitionValues keyed by physical name ----
    pp = str(tmp_path / "idmp")
    os.makedirs(os.path.join(pp, "_delta_log"))
    _idmode_parquet(os.path.join(pp, "p1.parquet"), [
        ("data_col", pa.array([7], pa.int32()), 1, None),
    ])
    plogical = StructType([
        StructField("k", IntegerType(), True, {
            "delta.columnMapping.id": 1,
            "delta.columnMapping.physicalName": "col-k"}),
        StructField("day", StringType(), True, {
            "delta.columnMapping.id": 2,
            "delta.columnMapping.physicalName": "col-day"}),
    ])
    pactions = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": {
            "id": "idm3", "format": {"provider": "parquet", "options": {}},
            "schemaString": plogical.json(), "partitionColumns": ["day"],
            "configuration": {"delta.columnMapping.mode": "id"},
            "createdTime": 1,
        }},
        {"add": {"path": "p1.parquet",
                 "partitionValues": {"col-day": "d7"},
                 "size": 1, "modificationTime": 1, "dataChange": True}},
        {"commitInfo": {"timestamp": 1000, "operation": "WRITE"}},
    ]
    with open(os.path.join(pp, "_delta_log", f"{0:020d}.json"), "w") as fh:
        for a in pactions:
            fh.write(json.dumps(a) + "\n")
    outp = dl.read_delta(spark, pp)
    assert outp.columns == ["k", "day"]
    assert [(r.k, r.day) for r in outp.collect()] == [(7, "d7")]


def test_column_mapping_partitioned_append_and_stale_mapping_occ(spark, tmp_path):
    """Appends into a PARTITIONED name-mode table key partitionValues by
    PHYSICAL names and lay out physical directories; a commit whose
    batch was staged against a superseded mapping contract aborts."""
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    p = str(tmp_path / "cmpw")
    os.makedirs(os.path.join(p, "_delta_log"))
    _write_parquet(spark, [(1,)], "`col-k` int", p, "a.parquet")
    logical = StructType([
        StructField("k", IntegerType(), True, {
            "delta.columnMapping.id": 1,
            "delta.columnMapping.physicalName": "col-k"}),
        StructField("day", StringType(), True, {
            "delta.columnMapping.id": 2,
            "delta.columnMapping.physicalName": "col-day"}),
    ])
    actions = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": {
            "id": "cmpw", "format": {"provider": "parquet", "options": {}},
            "schemaString": logical.json(), "partitionColumns": ["day"],
            "configuration": {"delta.columnMapping.mode": "name"},
            "createdTime": 1,
        }},
        {"add": {"path": "a.parquet",
                 "partitionValues": {"col-day": "d1"},
                 "size": 1, "modificationTime": 1, "dataChange": True}},
        {"commitInfo": {"timestamp": 1000, "operation": "WRITE"}},
    ]
    with open(os.path.join(p, "_delta_log", f"{0:020d}.json"), "w") as fh:
        for a in actions:
            fh.write(json.dumps(a) + "\n")

    batch = spark.createDataFrame([(2, "d2")], "k int, day string")
    dl.write_delta(batch, p, mode="append", partition_by=["day"])
    st = dl.snapshot_state(p)
    new = [a for rel, a in st["files"].items() if rel != "a.parquet"]
    assert new and new[0]["partitionValues"] == {"col-day": "d2"}
    assert "col-day=d2" in new[0]["path"]  # physical hive layout
    got = {(r.k, r.day) for r in dl.read_delta(spark, p).collect()}
    assert got == {(1, "d1"), (2, "d2")}

    # stale mapping contract: stage, then a foreign commit renames the
    # physical column -> the commit must abort, not publish wrong files
    staged = dl.stage_write(
        spark.createDataFrame([(3, "d3")], "k int, day string"),
        p, ["day"],
    )
    relogical = StructType([
        StructField("k", IntegerType(), True, {
            "delta.columnMapping.id": 1,
            "delta.columnMapping.physicalName": "col-RENAMED"}),
        logical.fields[1],
    ])
    md = dict(st["metadata"])
    md["schemaString"] = relogical.json()
    with open(os.path.join(
        p, "_delta_log", f"{st['version'] + 1:020d}.json"
    ), "w") as fh:
        fh.write(json.dumps({"commitInfo": {
            "timestamp": 3000, "operation": "RENAME COLUMN"}}) + "\n")
        fh.write(json.dumps({"metaData": md}) + "\n")
    with pytest.raises(dl.DeltaProtocolError, match="contract changed"):
        dl.commit_write(
            spark, p, staged, mode="append", partition_by=["day"],
        )


def test_foreign_check_constraints_enforced_not_refused(spark, tmp_path):
    """A FOREIGN table declaring delta.constraints.* is writable through
    the warehouse — the constraint is evaluated at the staging boundary
    (violating batches abort; clean ones publish). The raw write_delta
    path, which evaluates nothing, still refuses."""
    from global_seismic_data_pipeline_spark.sources.deltawh import (
        DeltaLogWarehouse,
    )
    from global_seismic_data_pipeline_spark.sources.warehouse import (
        ConstraintViolation,
    )

    wh = DeltaLogWarehouse(spark, str(tmp_path / "wh"))
    wh.overwrite(spark.range(0, 5).selectExpr("id"), "t")
    _set_table_conf(
        wh.path("t"),
        conf={"delta.constraints.posid": "id >= 0"},
        protocol={"minReaderVersion": 1, "minWriterVersion": 3},
    )
    wh.append(spark.range(5, 8).selectExpr("id"), "t")  # clean: publishes
    assert wh.read("t").count() == 8
    with pytest.raises(ConstraintViolation):
        wh.append(spark.createDataFrame([(-1,)], "id long"), "t")
    assert wh.read("t").count() == 8  # violating batch never published
    # the low-level path evaluates nothing -> still refuses
    with pytest.raises(dl.DeltaProtocolError, match="CHECK constraints"):
        dl.write_delta(spark.range(8, 9).selectExpr("id"), wh.path("t"))
    # a DV DELETE cannot violate a CHECK constraint: allowed
    out = wh.delete_with_dv("t", "id = 5")
    assert out["rows_deleted"] == 1


def test_add_constraint_publishes_into_the_log(spark, tmp_path):
    """ADD CONSTRAINT through the Delta warehouse round-trips the
    constraint THROUGH THE LOG (delta.constraints.* + minWriterVersion
    3) so foreign clients see it; a second warehouse instance over the
    same root enforces it with no sidecar of its own."""
    import shutil as _shutil

    from global_seismic_data_pipeline_spark.sources.deltawh import (
        DeltaLogWarehouse,
    )
    from global_seismic_data_pipeline_spark.sources.warehouse import (
        ConstraintViolation,
    )

    root = str(tmp_path / "wh")
    wh = DeltaLogWarehouse(spark, root)
    wh.overwrite(spark.range(0, 5).selectExpr("id"), "t")
    wh.add_constraint("t", "posid", "id >= 0")
    st = dl.snapshot_state(wh.path("t"))
    assert st["metadata"]["configuration"]["delta.constraints.posid"] == (
        "id >= 0"
    )
    assert int(st["protocol"]["minWriterVersion"]) >= 3
    # wipe the sidecar: the log alone must carry the contract
    _shutil.rmtree(os.path.join(root, ".constraints"), ignore_errors=True)
    wh2 = DeltaLogWarehouse(spark, root)
    assert wh2.constraints("t") == {"posid": "id >= 0"}
    with pytest.raises(ConstraintViolation):
        wh2.append(spark.createDataFrame([(-3,)], "id long"), "t")
    wh2.append(spark.range(5, 6).selectExpr("id"), "t")
    assert wh2.read("t").count() == 6
    # DROP removes the property from the log
    assert wh2.drop_constraint("t", "posid") is True
    conf = dl.snapshot_state(wh.path("t"))["metadata"]["configuration"]
    assert "delta.constraints.posid" not in conf
    wh2.append(spark.createDataFrame([(-3,)], "id long"), "t")  # now fine


def test_delete_with_dv_on_column_mapping_table(spark, tmp_path):
    """DV point-deletes now work on column-mapping tables: the probe
    scans mapping-aware, the vector attaches to the physical file, and
    reads stay logical."""
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    from global_seismic_data_pipeline_spark.sources.deltawh import (
        DeltaLogWarehouse,
    )

    wh = DeltaLogWarehouse(spark, str(tmp_path / "wh"))
    root = wh.root
    p = os.path.join(root, "t")
    os.makedirs(os.path.join(p, "_delta_log"))
    _write_parquet(spark, [(i, f"v{i}") for i in range(10)],
                   "`col-k` int, `col-v` string", p, "f1.parquet")
    logical = StructType([
        StructField("k", IntegerType(), True, {
            "delta.columnMapping.id": 1,
            "delta.columnMapping.physicalName": "col-k"}),
        StructField("v", StringType(), True, {
            "delta.columnMapping.id": 2,
            "delta.columnMapping.physicalName": "col-v"}),
    ])
    actions = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": {
            "id": "dvcm", "format": {"provider": "parquet", "options": {}},
            "schemaString": logical.json(), "partitionColumns": [],
            "configuration": {"delta.columnMapping.mode": "name"},
            "createdTime": 1,
        }},
        {"add": {"path": "f1.parquet", "partitionValues": {},
                 "size": 1, "modificationTime": 1, "dataChange": True}},
        {"commitInfo": {"timestamp": 1000, "operation": "WRITE"}},
    ]
    with open(os.path.join(p, "_delta_log", f"{0:020d}.json"), "w") as fh:
        for a in actions:
            fh.write(json.dumps(a) + "\n")

    out = wh.delete_with_dv("t", "k IN (3, 7)")  # LOGICAL condition
    assert out["rows_deleted"] == 2
    got = {(r.k, r.v) for r in wh.read("t").collect()}
    assert got == {(i, f"v{i}") for i in range(10)} - {(3, "v3"), (7, "v7")}
    # a second delete composes with the existing vector
    assert wh.delete_with_dv("t", "k = 3")["rows_deleted"] == 0
    assert wh.delete_with_dv("t", "v = 'v0'")["rows_deleted"] == 1
    assert wh.read("t").count() == 7


def test_type_widening_reads(spark, tmp_path):
    """The typeWidening reader feature: a column widened int -> long
    after v0's files were written reads as long across OLD and NEW
    files alike (Spark's parquet scan upcasts the narrow files; the
    metaData schemaString carries the widened type)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(tmp_path / "tw")
    os.makedirs(os.path.join(p, "_delta_log"))
    pq.write_table(
        pa.table({"k": pa.array([1, 2], pa.int32()),
                  "x": pa.array([1.5, 2.5], pa.float32())}),
        os.path.join(p, "old.parquet"),
    )
    pq.write_table(
        pa.table({"k": pa.array([3], pa.int64()),
                  "x": pa.array([3.5], pa.float64())}),
        os.path.join(p, "new.parquet"),
    )
    narrow = spark.createDataFrame([], "k int, x float").schema
    wide = spark.createDataFrame([], "k long, x double").schema
    v0 = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {
            "id": "tw", "format": {"provider": "parquet", "options": {}},
            "schemaString": narrow.json(), "partitionColumns": [],
            "configuration": {}, "createdTime": 1,
        }},
        {"add": {"path": "old.parquet", "partitionValues": {},
                 "size": 1, "modificationTime": 1, "dataChange": True}},
        {"commitInfo": {"timestamp": 1000, "operation": "WRITE"}},
    ]
    v1 = [
        {"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["typeWidening"],
            "writerFeatures": ["typeWidening"],
        }},
        {"metaData": {
            "id": "tw", "format": {"provider": "parquet", "options": {}},
            "schemaString": wide.json(), "partitionColumns": [],
            "configuration": {}, "createdTime": 1,
        }},
        {"add": {"path": "new.parquet", "partitionValues": {},
                 "size": 1, "modificationTime": 2, "dataChange": True}},
        {"commitInfo": {"timestamp": 2000, "operation": "ADD COLUMNS"}},
    ]
    for v, actions in ((0, v0), (1, v1)):
        with open(os.path.join(p, "_delta_log", f"{v:020d}.json"), "w") as fh:
            for a in actions:
                fh.write(json.dumps(a) + "\n")
    out = dl.read_delta(spark, p)
    assert out.schema.simpleString() == "struct<k:bigint,x:double>"
    assert sorted((r.k, r.x) for r in out.collect()) == [
        (1, 1.5), (2, 2.5), (3, 3.5),
    ]
    # time travel to v0 reads the narrow schema
    out0 = dl.read_delta(spark, p, version=0)
    assert out0.schema.simpleString() == "struct<k:int,x:float>"
    assert {r.k for r in out0.collect()} == {1, 2}


def test_in_commit_timestamps_preferred(spark, tmp_path):
    """Tables with the inCommitTimestamp feature time-travel by the
    monotonic inCommitTimestamp field, not the wall-clock one (the spec:
    ICT is authoritative once enabled)."""
    p = str(tmp_path / "ict")
    os.makedirs(os.path.join(p, "_delta_log"))
    _write_parquet(spark, [(1,)], "k int", p, "f0.parquet")
    _write_parquet(spark, [(2,)], "k int", p, "f1.parquet")
    schema_string = spark.createDataFrame([], "k int").schema.json()
    v0 = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {
            "id": "ict", "format": {"provider": "parquet", "options": {}},
            "schemaString": schema_string, "partitionColumns": [],
            "configuration": {}, "createdTime": 1,
        }},
        {"add": {"path": "f0.parquet", "partitionValues": {},
                 "size": 1, "modificationTime": 1, "dataChange": True}},
        # wall clock SKEWED FORWARD; ICT is the truth
        {"commitInfo": {"timestamp": 9_000_000,
                        "inCommitTimestamp": 1_000_000,
                        "operation": "WRITE"}},
    ]
    v1 = [
        {"add": {"path": "f1.parquet", "partitionValues": {},
                 "size": 1, "modificationTime": 2, "dataChange": True}},
        {"commitInfo": {"timestamp": 1_500_000,
                        "inCommitTimestamp": 2_000_000,
                        "operation": "APPEND"}},
    ]
    for v, actions in ((0, v0), (1, v1)):
        with open(os.path.join(p, "_delta_log", f"{v:020d}.json"), "w") as fh:
            for a in actions:
                fh.write(json.dumps(a) + "\n")
    hist = dl.delta_history(p)
    assert [(h["version"], h["timestamp"]) for h in hist] == [
        (1, 2_000_000), (0, 1_000_000),
    ]
    # time travel at ICT 1.2M -> version 0 (wall clock would have said
    # "no commit at or before")
    assert {r.k for r in dl.read_delta(spark, p, timestamp=1_200_000).collect()} == {1}
    assert {r.k for r in dl.read_delta(spark, p, timestamp=2_000_000).collect()} == {1, 2}


def test_in_commit_timestamps_written_monotonic(spark, tmp_path):
    """Appending into an ICT table stamps a monotonic inCommitTimestamp
    — strictly greater than the previous commit's, even when that one
    is in the (wall-clock) future."""
    p = str(tmp_path / "ictw")
    dl.write_delta(spark.range(0, 3).selectExpr("id"), p)
    future = int((__import__("time").time() + 3600) * 1000)
    dl.commit_set_properties(
        p, {"delta.enableInCommitTimestamps": "true"}
    )
    # hand-skew the last commit's ICT into the future
    log = os.path.join(p, "_delta_log")
    last = sorted(f for f in os.listdir(log) if f.endswith(".json"))[-1]
    lines = open(os.path.join(log, last)).read().strip().splitlines()
    patched = []
    for ln in lines:
        a = json.loads(ln)
        if "commitInfo" in a:
            a["commitInfo"]["inCommitTimestamp"] = future
        patched.append(json.dumps(a))
    with open(os.path.join(log, last), "w") as fh:
        fh.write("\n".join(patched) + "\n")

    dl.write_delta(spark.range(3, 5).selectExpr("id"), p, mode="append")
    hist = dl.delta_history(p)
    assert hist[0]["timestamp"] == future + 1  # strictly monotonic
    assert {r.id for r in dl.read_delta(spark, p).collect()} == set(range(5))


def test_v2_checkpoint_read_with_sidecars(spark, tmp_path):
    """V2 checkpoints (Delta 3.x clients): a checkpoint MANIFEST
    (%020d.checkpoint.<uuid>.parquet) carrying protocol/metaData/
    checkpointMetadata plus `sidecar` actions, with the add actions
    living in _delta_log/_sidecars/ parquet files — reconstructs the
    state with every commit JSON gone. A JSON-form manifest works too
    and must never be mistaken for a commit."""
    import uuid as _uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(tmp_path / "v2cp")
    log = os.path.join(p, "_delta_log")
    sc_dir = os.path.join(log, "_sidecars")
    os.makedirs(sc_dir)
    _write_parquet(spark, [(1,)], "k int", p, "f1.parquet")
    _write_parquet(spark, [(2,)], "k int", p, "f2.parquet")
    _write_parquet(spark, [(3,)], "k int", p, "f3.parquet")
    schema_string = spark.createDataFrame([], "k int").schema.json()

    def _sidecar(name, paths):
        pq.write_table(pa.Table.from_pylist(
            [{"add": {"path": rel, "partitionValues": {}, "size": 1,
                      "modificationTime": 1, "dataChange": False,
                      "stats": None}} for rel in paths],
            schema=pa.schema([("add", pa.struct([
                ("path", pa.string()),
                ("partitionValues", pa.map_(pa.string(), pa.string())),
                ("size", pa.int64()),
                ("modificationTime", pa.int64()),
                ("dataChange", pa.bool_()),
                ("stats", pa.string()),
            ]))]),
        ), os.path.join(sc_dir, name))

    _sidecar("sc-1.parquet", ["f1.parquet", "f2.parquet"])
    _sidecar("sc-2.parquet", ["f3.parquet"])

    manifest_rows = [
        {"checkpointMetadata": {"version": 5, "tags": None},
         "protocol": None, "metaData": None, "txn": None, "sidecar": None},
        {"checkpointMetadata": None,
         "protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["v2Checkpoint"],
                      "writerFeatures": ["v2Checkpoint"]},
         "metaData": None, "txn": None, "sidecar": None},
        {"checkpointMetadata": None, "protocol": None,
         "metaData": {"id": "v2cp",
                      "format": {"provider": "parquet"},
                      "schemaString": schema_string,
                      "partitionColumns": [], "configuration": {},
                      "createdTime": 1},
         "txn": None, "sidecar": None},
        {"checkpointMetadata": None, "protocol": None, "metaData": None,
         "txn": {"appId": "streamZ", "version": 9}, "sidecar": None},
        {"checkpointMetadata": None, "protocol": None, "metaData": None,
         "txn": None, "sidecar": {"path": "sc-1.parquet",
                                  "sizeInBytes": 1}},
        {"checkpointMetadata": None, "protocol": None, "metaData": None,
         "txn": None, "sidecar": {"path": "sc-2.parquet",
                                  "sizeInBytes": 1}},
    ]
    manifest_schema = pa.schema([
        ("checkpointMetadata", pa.struct([
            ("version", pa.int64()), ("tags", pa.string())])),
        ("protocol", pa.struct([
            ("minReaderVersion", pa.int32()),
            ("minWriterVersion", pa.int32()),
            ("readerFeatures", pa.list_(pa.string())),
            ("writerFeatures", pa.list_(pa.string())),
        ])),
        ("metaData", pa.struct([
            ("id", pa.string()),
            ("format", pa.struct([("provider", pa.string())])),
            ("schemaString", pa.string()),
            ("partitionColumns", pa.list_(pa.string())),
            ("configuration", pa.map_(pa.string(), pa.string())),
            ("createdTime", pa.int64()),
        ])),
        ("txn", pa.struct([
            ("appId", pa.string()), ("version", pa.int64())])),
        ("sidecar", pa.struct([
            ("path", pa.string()), ("sizeInBytes", pa.int64())])),
    ])
    u = _uuid.uuid4().hex
    pq.write_table(
        pa.Table.from_pylist(manifest_rows, schema=manifest_schema),
        os.path.join(log, f"{5:020d}.checkpoint.{u}.parquet"),
    )
    with open(os.path.join(log, "_last_checkpoint"), "w") as fh:
        json.dump({"version": 5, "size": 6}, fh)

    st = dl.snapshot_state(p)
    assert st["version"] == 5
    assert set(st["files"]) == {"f1.parquet", "f2.parquet", "f3.parquet"}
    assert st["txns"] == {"streamZ": 9}
    assert "v2Checkpoint" in st["protocol"]["readerFeatures"]
    assert {r.k for r in dl.read_delta(spark, p).collect()} == {1, 2, 3}
    # commits after the checkpoint replay on top
    _write_parquet(spark, [(4,)], "k int", p, "f4.parquet")
    with open(os.path.join(log, f"{6:020d}.json"), "w") as fh:
        fh.write(json.dumps({"add": {
            "path": "f4.parquet", "partitionValues": {}, "size": 1,
            "modificationTime": 2, "dataChange": True}}) + "\n")
        fh.write(json.dumps({"commitInfo": {
            "timestamp": 2000, "operation": "APPEND"}}) + "\n")
    assert {r.k for r in dl.read_delta(spark, p).collect()} == {1, 2, 3, 4}

    # JSON-form v2 manifest: same state, and _list_log must classify it
    # as a CHECKPOINT, not a commit
    p2 = str(tmp_path / "v2cpj")
    log2 = os.path.join(p2, "_delta_log")
    os.makedirs(os.path.join(log2, "_sidecars"))
    _write_parquet(spark, [(7,)], "k int", p2, "g1.parquet")
    import shutil as _shutil
    _shutil.copy(
        os.path.join(sc_dir, "sc-2.parquet"),
        os.path.join(log2, "_sidecars", "sc-2.parquet"),
    )
    _write_parquet(spark, [(8,)], "k int", p2, "f3.parquet")
    with open(os.path.join(
        log2, f"{3:020d}.checkpoint.{_uuid.uuid4().hex}.json"
    ), "w") as fh:
        for a in [
            {"checkpointMetadata": {"version": 3}},
            {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                          "readerFeatures": ["v2Checkpoint"],
                          "writerFeatures": ["v2Checkpoint"]}},
            {"metaData": {"id": "v2cpj",
                          "format": {"provider": "parquet", "options": {}},
                          "schemaString": schema_string,
                          "partitionColumns": [], "configuration": {},
                          "createdTime": 1}},
            {"sidecar": {"path": "sc-2.parquet", "sizeInBytes": 1}},
            {"add": {"path": "g1.parquet", "partitionValues": {},
                     "size": 1, "modificationTime": 1,
                     "dataChange": False}},
        ]:
            fh.write(json.dumps(a) + "\n")
    commits, checkpoints = dl._list_log(p2)
    assert commits == {} and list(checkpoints) == [3]
    st2 = dl.snapshot_state(p2)
    assert set(st2["files"]) == {"g1.parquet", "f3.parquet"}
    assert {r.k for r in dl.read_delta(spark, p2).collect()} == {7, 8}


# ---------------------------------------------------------------------------
# change data feed (_change_data files + cdc actions)
# ---------------------------------------------------------------------------

def test_cdf_file_based_roundtrip(spark, dwh):
    """The CDF writer contract end-to-end on the real log: MERGE and
    DV-DELETE publish _change_data files + cdc actions in the SAME
    commit (closing the former rewrite refusal), appends derive
    inserts, overwrite publishes delete+insert, and table_changes
    serves the whole feed file-based with exact pre/postimage
    pairing."""
    dwh.overwrite(_df(spark, [(1, "a"), (2, "b")], "k int, s string"), "t")
    dl.commit_set_properties(
        dwh.path("t"), {"delta.enableChangeDataFeed": "true"}
    )
    v_cdf = dl.snapshot_state(dwh.path("t"))["version"]
    # pure append: derived inserts, no change file needed
    dwh.append(_df(spark, [(3, "c")], "k int, s string"), "t")
    v_append = dl.snapshot_state(dwh.path("t"))["version"]
    # MERGE: update k=2, insert k=4 — must publish cdc
    dwh.merge(
        _df(spark, [(2, "B"), (4, "d")], "k int, s string"), "t", ["k"]
    )
    v_merge = dl.snapshot_state(dwh.path("t"))["version"]
    assert os.path.isdir(os.path.join(dwh.path("t"), "_change_data"))
    with open(os.path.join(
        dwh.path("t"), "_delta_log", f"{v_merge:020d}.json"
    )) as fh:
        acts = [json.loads(x) for x in fh if x.strip()]
    assert any("cdc" in a for a in acts)
    assert any("remove" in a for a in acts)  # it really is a rewrite

    ch = dwh.table_changes("t", v_merge, v_merge)
    got = {
        (r.k, r.s, r._change_type) for r in ch.collect()
    }
    assert got == {
        (2, "b", "update_preimage"),
        (2, "B", "update_postimage"),
        (4, "d", "insert"),
    }
    assert {r._commit_version for r in ch.collect()} == {v_merge}

    # append-derived inserts
    ins = dwh.table_changes("t", v_append, v_append).collect()
    assert {(r.k, r._change_type) for r in ins} == {(3, "insert")}

    # DV delete publishes delete change rows
    out = dwh.delete_with_dv("t", "k = 1")
    assert out["rows_deleted"] == 1
    v_del = dl.snapshot_state(dwh.path("t"))["version"]
    dels = dwh.table_changes("t", v_del, v_del).collect()
    assert {(r.k, r.s, r._change_type) for r in dels} == {
        (1, "a", "delete")
    }
    # table state agrees with the feed
    assert {(r.k, r.s) for r in dwh.read("t").collect()} == {
        (2, "B"), (3, "c"), (4, "d")
    }

    # overwrite: delete every old row + insert every new one
    dwh.overwrite(_df(spark, [(9, "z")], "k int, s string"), "t")
    v_ow = dl.snapshot_state(dwh.path("t"))["version"]
    ow = dwh.table_changes("t", v_ow, v_ow).collect()
    assert {(r.k, r._change_type) for r in ow} == {
        (2, "delete"), (3, "delete"), (4, "delete"),
        (9, "insert"),
    }
    # full-feed scan from the property flip onward never errors
    all_ch = dwh.table_changes("t", v_cdf + 1).collect()
    assert {r._commit_version for r in all_ch} == {
        v_append, v_merge, v_del, v_ow
    }


def test_cdf_mixed_rewrite_without_cdc_refuses(spark, dwh):
    """A rewrite commit (adds+removes) WITHOUT cdc actions cannot be
    served as row-level changes — the file-based reader refuses loudly
    instead of guessing (non-CDF tables use the snapshot-diff
    table_changes, which the warehouse dispatches automatically)."""
    dwh.overwrite(_df(spark, [(1, "a"), (2, "b")], "k int, s string"), "t")
    dwh.merge(_df(spark, [(2, "B")], "k int, s string"), "t", ["k"])
    v = dl.snapshot_state(dwh.path("t"))["version"]
    with pytest.raises(dl.DeltaProtocolError, match="without\\s+cdc"):
        dl.table_changes_from_log(spark, dwh.path("t"), v, v)
    # the warehouse-level call falls back to snapshot diff and works
    ch = dwh.table_changes("t", v, v, keys=["k"]).collect()
    assert {(r.k, r.s, r._change_type) for r in ch} == {
        (2, "b", "update_preimage"), (2, "B", "update_postimage")
    }


def test_cdf_foreign_change_data_fixture(spark, tmp_path):
    """A FOREIGN writer's CDF shape, hand-built from the protocol text:
    the commit carries a cdc action whose _change_data file is
    partition-STRIPPED (the partition column lives in the action's
    partitionValues, like real engines write) — the reader re-attaches
    it as a typed literal. Readers must use cdc actions EXCLUSIVELY
    for that commit (the add in the same commit must not double-count
    as inserts)."""
    p = str(tmp_path / "foreign_cdf")
    os.makedirs(os.path.join(p, "_delta_log"))
    schema_string = spark.createDataFrame(
        [], "k int, s string, region string"
    ).schema.json()
    _write_parquet(spark, [(1, "a")], "k int, s string", p,
                   "region=eu/f0.parquet")
    _write_parquet(spark, [(1, "A")], "k int, s string", p,
                   "region=eu/f1.parquet")
    cdc_rows = [(1, "a", "update_preimage"), (1, "A", "update_postimage")]
    _write_parquet(spark, cdc_rows, "k int, s string, _change_type string",
                   p, "_change_data/cdc-0.parquet")
    v0 = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 4}},
        {"metaData": {
            "id": "0001", "format": {"provider": "parquet", "options": {}},
            "schemaString": schema_string,
            "partitionColumns": ["region"],
            "configuration": {"delta.enableChangeDataFeed": "true"},
            "createdTime": 1,
        }},
        {"add": {"path": "region=eu/f0.parquet",
                 "partitionValues": {"region": "eu"},
                 "size": 1, "modificationTime": 1, "dataChange": True}},
        {"commitInfo": {"timestamp": 1000, "operation": "WRITE"}},
    ]
    v1 = [
        {"remove": {"path": "region=eu/f0.parquet",
                    "deletionTimestamp": 2, "dataChange": True}},
        {"add": {"path": "region=eu/f1.parquet",
                 "partitionValues": {"region": "eu"},
                 "size": 1, "modificationTime": 2, "dataChange": True}},
        {"cdc": {"path": "_change_data/cdc-0.parquet",
                 "partitionValues": {"region": "eu"},
                 "size": 1, "dataChange": False}},
        {"commitInfo": {"timestamp": 2000, "operation": "UPDATE"}},
    ]
    for v, actions in ((0, v0), (1, v1)):
        with open(os.path.join(p, "_delta_log", f"{v:020d}.json"), "w") as fh:
            for a in actions:
                fh.write(json.dumps(a) + "\n")

    ch = dl.table_changes_from_log(spark, p, 0, 1)
    rows = {(r.k, r.s, r.region, r._change_type, r._commit_version)
            for r in ch.collect()}
    assert rows == {
        (1, "a", "eu", "insert", 0),
        (1, "a", "eu", "update_preimage", 1),
        (1, "A", "eu", "update_postimage", 1),
    }
    assert {r._commit_timestamp_ms for r in ch.collect()} == {1000, 2000}


def test_cdf_column_mapping_table_reads(spark, tmp_path):
    """What's-missing r9 #1: CDF reads on column-mapping tables. A
    name-mode fixture with renamed columns, a physical-named partition
    column, and a foreign _change_data file (physical data column
    names, partitionValues keyed by physical names per spec) must serve
    the feed under LOGICAL names across all three branches: adds-only
    (insert), cdc (update pair), remove-only (delete)."""
    from pyspark.sql.types import (
        IntegerType, StringType, StructField, StructType,
    )

    p = str(tmp_path / "cmcdf")
    os.makedirs(os.path.join(p, "_delta_log"))
    phys = "`col-aaa` int, `col-bbb` string"
    _write_parquet(spark, [(1, "a")], phys, p, "f0.parquet")
    _write_parquet(spark, [(2, "b")], phys, p, "f1.parquet")
    _write_parquet(
        spark,
        [(1, "a", "update_preimage"), (2, "b", "update_postimage")],
        "`col-aaa` int, `col-bbb` string, _change_type string",
        p, "_change_data/cdc-0.parquet",
    )
    logical = StructType([
        StructField("k", IntegerType(), True, {
            "delta.columnMapping.id": 1,
            "delta.columnMapping.physicalName": "col-aaa"}),
        StructField("s", StringType(), True, {
            "delta.columnMapping.id": 2,
            "delta.columnMapping.physicalName": "col-bbb"}),
        StructField("region", StringType(), True, {
            "delta.columnMapping.id": 3,
            "delta.columnMapping.physicalName": "col-rrr"}),
    ])
    v0 = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": {
            "id": "cmcdf1", "format": {
                "provider": "parquet", "options": {},
            },
            "schemaString": logical.json(),
            "partitionColumns": ["region"],
            "configuration": {
                "delta.columnMapping.mode": "name",
                "delta.columnMapping.maxColumnId": "3",
                "delta.enableChangeDataFeed": "true",
            },
            "createdTime": 1,
        }},
        {"add": {"path": "f0.parquet",
                 "partitionValues": {"col-rrr": "eu"},
                 "size": 1, "modificationTime": 1, "dataChange": True}},
        {"commitInfo": {"timestamp": 1000, "operation": "WRITE"}},
    ]
    v1 = [
        {"remove": {"path": "f0.parquet", "deletionTimestamp": 2,
                    "dataChange": True}},
        {"add": {"path": "f1.parquet",
                 "partitionValues": {"col-rrr": "eu"},
                 "size": 1, "modificationTime": 2, "dataChange": True}},
        {"cdc": {"path": "_change_data/cdc-0.parquet",
                 "partitionValues": {"col-rrr": "eu"},
                 "size": 1, "dataChange": False}},
        {"commitInfo": {"timestamp": 2000, "operation": "UPDATE"}},
    ]
    v2 = [
        {"remove": {"path": "f1.parquet", "deletionTimestamp": 3,
                    "dataChange": True}},
        {"commitInfo": {"timestamp": 3000, "operation": "DELETE"}},
    ]
    for v, actions in ((0, v0), (1, v1), (2, v2)):
        with open(os.path.join(p, "_delta_log", f"{v:020d}.json"), "w") as fh:
            for a in actions:
                fh.write(json.dumps(a) + "\n")
    ch = dl.table_changes_from_log(spark, p, 0, 2)
    assert set(ch.columns) == {
        "k", "s", "region", "_change_type", "_commit_version",
        "_commit_timestamp_ms",
    }
    rows = {
        (r.k, r.s, r.region, r._change_type, r._commit_version)
        for r in ch.collect()
    }
    assert rows == {
        (1, "a", "eu", "insert", 0),
        (1, "a", "eu", "update_preimage", 1),
        (2, "b", "eu", "update_postimage", 1),
        (2, "b", "eu", "delete", 2),
    }


def test_cdf_restore_publishes_change_files(spark, dwh):
    """RESTORE on a CDF table publishes its file-level change set
    (removed files' rows as delete, re-added files' rows as insert)
    as _change_data in the same commit — the feed crosses the restore
    instead of hitting the mixed-rewrite refusal."""
    dwh.overwrite(_df(spark, [(1, "a"), (2, "b")], "k int, s string"), "t")
    dl.commit_set_properties(
        dwh.path("t"), {"delta.enableChangeDataFeed": "true"}
    )
    v_good = dl.snapshot_state(dwh.path("t"))["version"]
    dwh.overwrite(_df(spark, [(9, "z")], "k int, s string"), "t")
    v_restore = dwh.restore("t", v_good)
    assert {(r.k, r.s) for r in dwh.read("t").collect()} == {
        (1, "a"), (2, "b")
    }
    ch = dwh.table_changes("t", v_restore, v_restore).collect()
    assert {(r.k, r._change_type) for r in ch} == {
        (9, "delete"), (1, "insert"), (2, "insert")
    }


def test_cdf_restore_dv_diff_reports_delete_side(spark, dwh):
    """Review finding: a file re-added by RESTORE only because its
    deletion vector differs must contribute its CURRENT live rows to
    the delete side (the re-add's old-DV rows return as inserts) —
    otherwise the feed over-reports inserts and a folding consumer
    double-counts every untouched row of the file."""
    # ONE data file: the DV-diff hazard needs live rows sharing the
    # file with the deleted one
    dwh.overwrite(
        _df(spark, [(1, "a"), (2, "b"), (3, "c")], "k int, s string")
        .coalesce(1),
        "t",
    )
    assert len(dl.snapshot_state(dwh.path("t"))["files"]) == 1
    dl.commit_set_properties(
        dwh.path("t"), {"delta.enableChangeDataFeed": "true"}
    )
    v_before = dl.snapshot_state(dwh.path("t"))["version"]
    dwh.delete_with_dv("t", "k = 2")
    v_restore = dwh.restore("t", v_before)
    assert {r.k for r in dwh.read("t").collect()} == {1, 2, 3}
    ch = dwh.table_changes("t", v_restore, v_restore).collect()
    got = sorted((r.k, r._change_type) for r in ch)
    # file-level restore CDF: current live rows (1,3) out, the
    # restored full file (1,2,3) in — net = row 2 re-appears
    assert got == [
        (1, "delete"), (1, "insert"),
        (2, "insert"),
        (3, "delete"), (3, "insert"),
    ]


def test_replace_where_overwrite(spark, dwh):
    """Delta replaceWhere: replace exactly the matching region in one
    commit — untouched partitions' files survive untouched, NULL-
    predicate rows are kept (non-matching), and an out-of-region batch
    refuses loudly."""
    rows = [(i, "A" if i < 4 else "B") for i in range(8)] + [(99, None)]
    dwh.overwrite(_df(spark, rows, "k int, band string"), "t", ["band"])
    st0 = dl.snapshot_state(dwh.path("t"))
    b_files = {rel for rel in st0["files"] if "band=B" in rel}
    assert b_files
    out = dwh.overwrite_where(
        _df(spark, [(100, "A")], "k int, band string"), "t", "band = 'A'"
    )
    assert out["files_replaced"] >= 1
    got = {(r.k, r.band) for r in dwh.read("t").collect()}
    assert got == (
        {(100, "A")} | {(i, "B") for i in range(4, 8)} | {(99, None)}
    )
    st1 = dl.snapshot_state(dwh.path("t"))
    assert b_files <= set(st1["files"])  # untouched files survive
    with pytest.raises(ValueError, match="do not satisfy"):
        dwh.overwrite_where(
            _df(spark, [(1, "B")], "k int, band string"), "t", "band = 'A'"
        )
    # time travel still sees the pre-replace state
    v1 = st1["version"]
    old = {(r.k, r.band)
           for r in dwh.read_version("t", v1 - 1).collect()}
    assert (1, "A") in old


def test_replace_where_mixed_file_dv_and_cdf(spark, dwh):
    """replaceWhere on a MIXED file (matching + surviving rows sharing
    one parquet) with a deletion vector on it: survivors re-stage
    DV-filtered (a DV-deleted row never resurrects), the remove carries
    the DV descriptor, and a CDF table publishes delete+insert change
    rows for exactly the replaced region."""
    from global_seismic_data_pipeline_spark.session import tiny_df

    dwh.overwrite(
        tiny_df(
            spark, [(1, "A"), (2, "A"), (3, "B"), (4, "B")],
            "k int, band string",
        ),
        "t",
    )
    assert len(dl.snapshot_state(dwh.path("t"))["files"]) == 1
    dl.commit_set_properties(
        dwh.path("t"), {"delta.enableChangeDataFeed": "true"}
    )
    dwh.delete_with_dv("t", "k = 2")
    res = dwh.overwrite_where(
        _df(spark, [(10, "A")], "k int, band string"), "t", "band = 'A'"
    )
    assert res["files_replaced"] == 1
    got = {(r.k, r.band) for r in dwh.read("t").collect()}
    assert got == {(10, "A"), (3, "B"), (4, "B")}  # k=2 never resurrects
    v = dl.snapshot_state(dwh.path("t"))["version"]
    ch = dwh.table_changes("t", v, v).collect()
    assert {(r.k, r._change_type) for r in ch} == {
        (1, "delete"), (10, "insert")
    }


def test_replace_where_demands_and_concurrency(spark, dwh, tmp_path):
    """Review findings (r10): (a) a batch legitimately omits GENERATED
    columns — replaceWhere computes them before the union and survivors'
    stored values still verify; (b) identity-column tables refuse loudly
    (survivors would re-enter the writer-assignment machinery);
    (c) a concurrent write landing between the probe and the commit
    raises DeltaConcurrentWriteError instead of silently committing
    stale survivors."""
    # (a) generated column: batch omits g, survivors carry it
    p = _demand_table(spark, tmp_path, {
        "g": {"delta.generationExpression": "k * 2"},
    })
    dwh2 = DeltaLogWarehouse(spark, str(tmp_path))
    dwh2.append(_df(spark, [(1, 1), (2, 2)], "k int, v int"), "demand")
    dwh2.overwrite_where(
        _df(spark, [(10, 7)], "k int, v int"), "demand", "k >= 2"
    )
    got = {(r.k, r.v, r.g) for r in dwh2.read("demand").collect()}
    # the fixture's seed row (1, 5, 10) and the appended (1, 1, 2) both
    # survive (k < 2); the replaced region is exactly k >= 2
    assert got == {(1, 5, 10), (1, 1, 2), (10, 7, 20)}

    # (b) identity table refuses with guidance
    fields = [
        {"name": "k", "type": "integer", "nullable": True, "metadata": {}},
        {"name": "uid", "type": "long", "nullable": True, "metadata": {
            "delta.identity.start": 1,
            "delta.identity.step": 1,
            "delta.identity.allowExplicitInsert": False,
        }},
    ]
    pid = str(tmp_path / "identrw")
    os.makedirs(os.path.join(pid, "_delta_log"))
    v0 = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 6}},
        {"metaData": {
            "id": "0010", "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(
                {"type": "struct", "fields": fields}
            ),
            "partitionColumns": [], "configuration": {}, "createdTime": 1,
        }},
        {"commitInfo": {"timestamp": 1000, "operation": "CREATE TABLE"}},
    ]
    with open(os.path.join(pid, "_delta_log", f"{0:020d}.json"), "w") as fh:
        for a in v0:
            fh.write(json.dumps(a) + "\n")
    dwh2.append(_df(spark, [(1,)], "k int"), "identrw")
    with pytest.raises(dl.DeltaProtocolError, match="identity"):
        dwh2.overwrite_where(
            _df(spark, [(2,)], "k int"), "identrw", "k >= 1"
        )

    # (c) concurrent write between probe and commit refuses
    dwh.overwrite(_df(spark, [(1, "A"), (2, "B")], "k int, band string"), "t")
    real_commit = dl.commit_write
    interleaved = {"done": False}

    def racing_commit(spark_, path_, staged_, **kw):
        if not interleaved["done"]:
            interleaved["done"] = True
            dl.write_delta(
                _df(spark, [(9, "A")], "k int, band string"),
                dwh.path("t"), mode="append",
            )
        return real_commit(spark_, path_, staged_, **kw)

    import unittest.mock as mock

    with mock.patch.object(dl, "commit_write", racing_commit):
        with pytest.raises(dl.DeltaConcurrentWriteError, match="restage"):
            dwh.overwrite_where(
                _df(spark, [(10, "A")], "k int, band string"),
                "t", "band = 'A'",
            )


def test_overwrite_dynamic_single_commit_and_cdf(spark, dwh):
    """Delta dynamic partition overwrite is ONE log commit (removes of
    the touched partitions' files + adds, atomic) and a CDF table
    publishes the touched partitions' old rows as delete + the batch as
    insert."""
    dwh.overwrite(
        _df(
            spark, [(1, "A"), (2, "B"), (3, "C")], "k int, band string"
        ),
        "t", ["band"],
    )
    dl.commit_set_properties(
        dwh.path("t"), {"delta.enableChangeDataFeed": "true"}
    )
    v0 = dl.snapshot_state(dwh.path("t"))["version"]
    out = dwh.overwrite_dynamic(
        _df(spark, [(10, "A"), (11, "A"), (20, "B")], "k int, band string"),
        "t",
    )
    assert out["partitions_replaced"] == 2
    v1 = dl.snapshot_state(dwh.path("t"))["version"]
    assert v1 == v0 + 1  # ONE commit
    got = {(r.k, r.band) for r in dwh.read("t").collect()}
    assert got == {(10, "A"), (11, "A"), (20, "B"), (3, "C")}
    ch = dwh.table_changes("t", v1, v1).collect()
    assert {(r.k, r._change_type) for r in ch} == {
        (1, "delete"), (2, "delete"),
        (10, "insert"), (11, "insert"), (20, "insert"),
    }


def test_overwrite_dynamic_empty_string_partition(spark, dwh):
    """Review finding (r10): NULL and '' both land in the hive default
    partition — a batch keyed on '' must REPLACE that partition (and
    its CDF delete set must cover it), not silently append beside the
    old rows."""
    dwh.overwrite(
        _df(
            spark, [(1, ""), (2, None), (3, "B")], "k int, band string"
        ),
        "t", ["band"],
    )
    dl.commit_set_properties(
        dwh.path("t"), {"delta.enableChangeDataFeed": "true"}
    )
    out = dwh.overwrite_dynamic(
        _df(spark, [(10, "")], "k int, band string"), "t"
    )
    assert out["partitions_replaced"] == 1
    got = {(r.k, r.band) for r in dwh.read("t").collect()}
    # hive layout folds '' and NULL into one default partition: both
    # old rows of that partition replace (Spark reads the dir's values
    # back as NULL)
    assert got == {(10, None), (3, "B")}
    v = dl.snapshot_state(dwh.path("t"))["version"]
    ch = dwh.table_changes("t", v, v).collect()
    assert {(r.k, r._change_type) for r in ch} == {
        (1, "delete"), (2, "delete"), (10, "insert")
    }


def test_replace_where_no_match_and_missing_table(spark, dwh):
    """An empty replace region just appends the batch (no removes); on
    a missing table replaceWhere degenerates to a plain write."""
    out = dwh.overwrite_where(
        _df(spark, [(1, "A")], "k int, band string"), "fresh", "band = 'A'"
    )
    assert out == {"files_replaced": 0}
    out = dwh.overwrite_where(
        _df(spark, [(2, "C")], "k int, band string"), "fresh", "band = 'C'"
    )
    assert out == {"files_replaced": 0}
    got = {(r.k, r.band) for r in dwh.read("fresh").collect()}
    assert got == {(1, "A"), (2, "C")}


def test_cdf_dv_delete_single_scan(spark, dwh, monkeypatch):
    """Judge finding (r9, perf): delete_with_dv re-ran the full probe
    scan to stage its change file. The matched set persists once — the
    staged change rows must read the CACHE (InMemoryTableScan), never a
    second FileScan over the table."""
    dwh.overwrite(
        _df(spark, [(i, f"s{i}") for i in range(10)], "k int, s string"),
        "t",
    )
    dl.commit_set_properties(
        dwh.path("t"), {"delta.enableChangeDataFeed": "true"}
    )
    plans: list[str] = []
    real = dl.stage_cdc_files

    def spy(sp, path, df):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return real(sp, path, df)

    monkeypatch.setattr(dl, "stage_cdc_files", spy)
    out = dwh.delete_with_dv("t", "k in (2, 5)")
    assert out["rows_deleted"] == 2
    assert plans, "CDF delete must stage a change file"
    assert "InMemoryTableScan" in plans[0]
    # the only FileScan is the cache definition's child (printed inside
    # the InMemoryRelation) — the executed read is the cache
    assert plans[0].index("InMemoryTableScan") < plans[0].index("FileScan")
    # and the feed is still exact
    v = dl.snapshot_state(dwh.path("t"))["version"]
    ch = dwh.table_changes("t", v, v).collect()
    assert {(r.k, r._change_type) for r in ch} == {
        (2, "delete"), (5, "delete")
    }


def test_cdf_overwrite_schema_change(spark, dwh):
    """Review finding: a schema-CHANGING overwrite on a CDF table must
    not crash building its change set; delete rows carry the old
    columns, insert rows the new, each aligned to the committed schema
    with null fill."""
    dwh.overwrite(_df(spark, [(1, "a")], "k int, s string"), "t")
    dl.commit_set_properties(
        dwh.path("t"), {"delta.enableChangeDataFeed": "true"}
    )
    dwh.overwrite(_df(spark, [(2, 7.5)], "k int, extra double"), "t")
    v = dl.snapshot_state(dwh.path("t"))["version"]
    ch = dwh.table_changes("t", v, v).collect()
    got = {(r.k, r.extra, r._change_type) for r in ch}
    assert got == {(1, None, "delete"), (2, 7.5, "insert")}


def test_cdf_remove_only_survives_later_schema_evolution(spark, dwh):
    """Judge finding (r9): the remove-only DELETE branch scans with the
    v-1 snapshot state but projects the LATEST schema — after a later
    mergeSchema append adds a column, a feed range covering the old
    DELETE must null-fill the new column (like the cdc branch) instead
    of throwing."""
    dwh.overwrite(_df(spark, [(1, "a")], "k int, s string"), "t")
    p = dwh.path("t")
    dl.commit_set_properties(p, {"delta.enableChangeDataFeed": "true"})
    dwh.append(_df(spark, [(2, "b")], "k int, s string"), "t")
    v_add = dl.snapshot_state(p)["version"]
    with open(os.path.join(p, "_delta_log", f"{v_add:020d}.json")) as fh:
        acts = [json.loads(x) for x in fh if x.strip()]
    rels = [a["add"]["path"] for a in acts if "add" in a]
    # hand-written remove-only DELETE commit (whole-file delete — the
    # shape retention deletes and foreign engines produce); remove every
    # file of the append (tiny local writes can split into 2+ parts)
    v_del = v_add + 1
    with open(os.path.join(p, "_delta_log", f"{v_del:020d}.json"), "w") as fh:
        for rel in rels:
            fh.write(json.dumps({"remove": {
                "path": rel, "deletionTimestamp": 2, "dataChange": True,
            }}) + "\n")
        fh.write(json.dumps({"commitInfo": {
            "timestamp": 2000, "operation": "DELETE",
        }}) + "\n")
    # LATER schema evolution: the latest schema now has a column the
    # v_del-1 snapshot never knew about
    dl.write_delta(
        _df(spark, [(3, "c", 7.5)], "k int, s string, v double"),
        p, mode="append", merge_schema=True,
    )
    v_evo = dl.snapshot_state(p)["version"]
    ch = dl.table_changes_from_log(spark, p, v_del, v_evo)
    rows = {(r.k, r.s, r.v, r._change_type) for r in ch.collect()}
    assert rows == {
        (2, "b", None, "delete"),
        (3, "c", 7.5, "insert"),
    }


def test_cdf_mixed_null_partition_values(spark, tmp_path):
    """Review finding: a commit whose change files mix null and
    non-null partitionValues for the same column must not crash the
    partition-reattachment grouping."""
    p = str(tmp_path / "nullpv")
    os.makedirs(os.path.join(p, "_delta_log"))
    schema_string = spark.createDataFrame(
        [], "k int, region string"
    ).schema.json()
    _write_parquet(spark, [(1, "update_preimage")],
                   "k int, _change_type string", p,
                   "_change_data/cdc-a.parquet")
    _write_parquet(spark, [(2, "update_postimage")],
                   "k int, _change_type string", p,
                   "_change_data/cdc-b.parquet")
    _write_parquet(spark, [(9, "eu")], "k int, region string", p,
                   "f1.parquet")
    v0 = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 4}},
        {"metaData": {
            "id": "0002", "format": {"provider": "parquet", "options": {}},
            "schemaString": schema_string,
            "partitionColumns": ["region"],
            "configuration": {"delta.enableChangeDataFeed": "true"},
            "createdTime": 1,
        }},
        {"add": {"path": "f1.parquet", "partitionValues": {"region": "eu"},
                 "size": 1, "modificationTime": 1, "dataChange": True}},
        {"cdc": {"path": "_change_data/cdc-a.parquet",
                 "partitionValues": {"region": None},
                 "size": 1, "dataChange": False}},
        {"cdc": {"path": "_change_data/cdc-b.parquet",
                 "partitionValues": {"region": "eu"},
                 "size": 1, "dataChange": False}},
        {"commitInfo": {"timestamp": 1000, "operation": "MERGE"}},
    ]
    with open(os.path.join(p, "_delta_log", f"{0:020d}.json"), "w") as fh:
        for a in v0:
            fh.write(json.dumps(a) + "\n")
    ch = dl.table_changes_from_log(spark, p, 0, 0)
    rows = {(r.k, r.region, r._change_type) for r in ch.collect()}
    assert rows == {
        (1, None, "update_preimage"),
        (2, "eu", "update_postimage"),
    }


# ---------------------------------------------------------------------------
# generated columns + column invariants (schema-embedded writer demands)
# ---------------------------------------------------------------------------

def _demand_table(spark, tmp_path, field_meta: dict):
    """Foreign table whose schema carries writer demands in field
    metadata (the delta-spark shapes)."""
    p = str(tmp_path / "demand")
    os.makedirs(os.path.join(p, "_delta_log"))
    fields = [
        {"name": "k", "type": "integer", "nullable": True, "metadata": {}},
        {"name": "v", "type": "integer", "nullable": True,
         "metadata": field_meta.get("v", {})},
        {"name": "g", "type": "integer", "nullable": True,
         "metadata": field_meta.get("g", {})},
    ]
    schema_string = json.dumps(
        {"type": "struct", "fields": fields}
    )
    _write_parquet(spark, [(1, 5, 10)], "k int, v int, g int", p,
                   "f0.parquet")
    v0 = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 4}},
        {"metaData": {
            "id": "0003", "format": {"provider": "parquet", "options": {}},
            "schemaString": schema_string, "partitionColumns": [],
            "configuration": {}, "createdTime": 1,
        }},
        {"add": {"path": "f0.parquet", "partitionValues": {},
                 "size": 1, "modificationTime": 1, "dataChange": True}},
        {"commitInfo": {"timestamp": 1000, "operation": "WRITE"}},
    ]
    with open(os.path.join(p, "_delta_log", f"{0:020d}.json"), "w") as fh:
        for a in v0:
            fh.write(json.dumps(a) + "\n")
    return p


def test_generated_columns_computed_and_verified(spark, tmp_path):
    """A foreign table with delta.generationExpression: appends WITHOUT
    the column get it computed; appends WITH it are null-safe-verified
    (wrong values refuse, the staged files never publish)."""
    from global_seismic_data_pipeline_spark.sources.warehouse import (
        ConstraintViolation,
    )

    p = _demand_table(spark, tmp_path, {
        "g": {"delta.generationExpression": "k * 2"},
    })
    dwh = DeltaLogWarehouse(spark, str(tmp_path))
    name = "demand"
    # absent -> computed
    dwh.append(_df(spark, [(2, 6)], "k int, v int"), name)
    assert {(r.k, r.g) for r in dwh.read(name).collect()} == {
        (1, 10), (2, 4)
    }
    # provided + correct -> lands
    dwh.append(_df(spark, [(3, 7, 6)], "k int, v int, g int"), name)
    # provided + WRONG -> refuses, nothing published
    with pytest.raises(ConstraintViolation):
        dwh.append(_df(spark, [(4, 8, 99)], "k int, v int, g int"), name)
    assert {(r.k, r.g) for r in dwh.read(name).collect()} == {
        (1, 10), (2, 4), (3, 6)
    }
    # a raw commit_write WITHOUT the markers still refuses (the gate)
    staged = dl.stage_write(
        _df(spark, [(9, 9, 18)], "k int, v int, g int"), p, []
    )
    with pytest.raises(dl.DeltaProtocolError, match="generated columns"):
        dl.commit_write(spark, p, staged, mode="append")


def test_column_invariants_enforced(spark, tmp_path):
    """A foreign table with delta.invariants: violating batches refuse
    at the staging boundary (NULL passes, per Delta's rule); the bare
    commit path without the marker still refuses."""
    from global_seismic_data_pipeline_spark.sources.warehouse import (
        ConstraintViolation,
    )

    p = _demand_table(spark, tmp_path, {
        "v": {"delta.invariants": json.dumps(
            {"expression": {"expression": "v > 0"}}
        )},
    })
    dwh = DeltaLogWarehouse(spark, str(tmp_path))
    name = "demand"
    dwh.append(_df(spark, [(2, 1, 0)], "k int, v int, g int"), name)
    dwh.append(_df(spark, [(3, None, 0)], "k int, v int, g int"), name)
    with pytest.raises(ConstraintViolation):
        dwh.append(_df(spark, [(4, -5, 0)], "k int, v int, g int"), name)
    assert {r.k for r in dwh.read(name).collect()} == {1, 2, 3}
    staged = dl.stage_write(
        _df(spark, [(9, 9, 0)], "k int, v int, g int"), p, []
    )
    with pytest.raises(dl.DeltaProtocolError, match="invariants"):
        dl.commit_write(spark, p, staged, mode="append")


def test_demands_compose_with_check_constraints(spark, tmp_path):
    """CHECK constraints (base Observation) and schema demands (the
    joined Observation) evaluate together on one staging write."""
    from global_seismic_data_pipeline_spark.sources.warehouse import (
        ConstraintViolation,
    )

    _demand_table(spark, tmp_path, {
        "g": {"delta.generationExpression": "k * 2"},
    })
    dwh = DeltaLogWarehouse(spark, str(tmp_path))
    name = "demand"
    dwh.add_constraint(name, "k_pos", "k > 0")
    dwh.append(_df(spark, [(5, 1)], "k int, v int"), name)
    with pytest.raises(ConstraintViolation):  # CHECK trips
        dwh.append(_df(spark, [(-1, 1)], "k int, v int"), name)
    with pytest.raises(ConstraintViolation):  # generated-verify trips
        dwh.append(_df(spark, [(6, 1, 99)], "k int, v int, g int"), name)
    assert {(r.k, r.g) for r in dwh.read(name).collect()} == {
        (1, 10), (5, 10)
    }


def test_identity_columns_assigned_and_hwm_maintained(spark, tmp_path):
    """Identity columns (the last schema-demand refusal closed):
    GENERATED ALWAYS assigns values on the start/step lattice above the
    high-water mark and commits the HWM update in the SAME commit;
    explicit values refuse; BY DEFAULT accepts explicit values and
    advances the HWM past them; the bare commit path still refuses."""
    p = str(tmp_path / "ident")
    os.makedirs(os.path.join(p, "_delta_log"))
    fields = [
        {"name": "k", "type": "integer", "nullable": True, "metadata": {}},
        {"name": "uid", "type": "long", "nullable": True, "metadata": {
            "delta.identity.start": 100,
            "delta.identity.step": 10,
            "delta.identity.allowExplicitInsert": False,
        }},
    ]
    schema_string = json.dumps({"type": "struct", "fields": fields})
    _write_parquet(spark, [(1, 100)], "k int, uid long", p, "f0.parquet")
    v0 = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 6}},
        {"metaData": {
            "id": "0004", "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps({"type": "struct", "fields": [
                fields[0],
                {**fields[1], "metadata": {
                    **fields[1]["metadata"],
                    "delta.identity.highWaterMark": 100,
                }},
            ]}),
            "partitionColumns": [], "configuration": {}, "createdTime": 1,
        }},
        {"add": {"path": "f0.parquet", "partitionValues": {},
                 "size": 1, "modificationTime": 1, "dataChange": True}},
        {"commitInfo": {"timestamp": 1000, "operation": "WRITE"}},
    ]
    with open(os.path.join(p, "_delta_log", f"{0:020d}.json"), "w") as fh:
        for a in v0:
            fh.write(json.dumps(a) + "\n")
    dwh = DeltaLogWarehouse(spark, str(tmp_path))
    name = "ident"
    dwh.append(_df(spark, [(2,), (3,), (4,)], "k int"), name)
    rows = {r.k: r.uid for r in dwh.read(name).collect()}
    assigned = {rows[k] for k in (2, 3, 4)}
    # lattice-valid (≡ start mod step), above the HWM, unique
    assert all(u > 100 and (u - 100) % 10 == 0 for u in assigned)
    assert len(assigned) == 3
    st = dl.snapshot_state(dwh.path(name))
    hwm1 = next(
        f["metadata"]["delta.identity.highWaterMark"]
        for f in json.loads(st["metadata"]["schemaString"])["fields"]
        if f["name"] == "uid"
    )
    assert hwm1 == max(assigned)
    # second batch: strictly above the committed HWM — no collisions
    dwh.append(_df(spark, [(5,), (6,)], "k int"), name)
    rows2 = {r.k: r.uid for r in dwh.read(name).collect()}
    assert len(set(rows2.values())) == 6
    assert min(rows2[k] for k in (5, 6)) > hwm1
    # GENERATED ALWAYS refuses explicit values
    with pytest.raises(dl.DeltaProtocolError, match="GENERATED ALWAYS"):
        dwh.append(_df(spark, [(7, 9999)], "k int, uid long"), name)
    # the bare commit path without the HWM maintenance refuses
    staged = dl.stage_write(
        _df(spark, [(8, 8888)], "k int, uid long"), dwh.path(name), []
    )
    with pytest.raises(dl.DeltaProtocolError, match="identity columns"):
        dl.commit_write(spark, dwh.path(name), staged, mode="append")


def test_identity_negative_step_never_duplicates(spark, tmp_path):
    """Judge finding (r9): delta.identity.step is parsed signed, but the
    mark was maintained with max — for step<0 it never moved and every
    write re-issued the same values. The mark is a LOW-water mark for
    negative steps: two consecutive writes must allocate disjoint,
    descending, lattice-valid values; step=0 refuses loudly."""
    p = str(tmp_path / "identneg")
    os.makedirs(os.path.join(p, "_delta_log"))
    fields = [
        {"name": "k", "type": "integer", "nullable": True, "metadata": {}},
        {"name": "uid", "type": "long", "nullable": True, "metadata": {
            "delta.identity.start": -100,
            "delta.identity.step": -10,
            "delta.identity.allowExplicitInsert": False,
        }},
    ]
    schema_string = json.dumps({"type": "struct", "fields": fields})
    v0 = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 6}},
        {"metaData": {
            "id": "0006", "format": {"provider": "parquet", "options": {}},
            "schemaString": schema_string, "partitionColumns": [],
            "configuration": {}, "createdTime": 1,
        }},
        {"commitInfo": {"timestamp": 1000, "operation": "CREATE TABLE"}},
    ]
    with open(os.path.join(p, "_delta_log", f"{0:020d}.json"), "w") as fh:
        for a in v0:
            fh.write(json.dumps(a) + "\n")
    dwh = DeltaLogWarehouse(spark, str(tmp_path))
    name = "identneg"
    dwh.append(_df(spark, [(1,), (2,)], "k int"), name)
    rows1 = {r.k: r.uid for r in dwh.read(name).collect()}
    first = set(rows1.values())
    # lattice-valid (≡ start mod step), at/below start, unique
    assert all(u <= -100 and (u - (-100)) % 10 == 0 for u in first)
    assert len(first) == 2
    st = dl.snapshot_state(dwh.path(name))
    hwm1 = next(
        f["metadata"]["delta.identity.highWaterMark"]
        for f in json.loads(st["metadata"]["schemaString"])["fields"]
        if f["name"] == "uid"
    )
    assert hwm1 == min(first)  # the mark moved DOWN to the far value
    # second write: strictly below the committed mark — no re-issue
    dwh.append(_df(spark, [(3,), (4,)], "k int"), name)
    rows2 = {r.k: r.uid for r in dwh.read(name).collect()}
    assert len(set(rows2.values())) == 4
    assert max(rows2[k] for k in (3, 4)) < hwm1
    # step=0 refuses loudly instead of silently re-issuing one value
    p0 = str(tmp_path / "identzero")
    os.makedirs(os.path.join(p0, "_delta_log"))
    z = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 6}},
        {"metaData": {
            "id": "0007", "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps({"type": "struct", "fields": [
                fields[0],
                {**fields[1], "metadata": {
                    "delta.identity.start": 1, "delta.identity.step": 0,
                }},
            ]}),
            "partitionColumns": [], "configuration": {}, "createdTime": 1,
        }},
        {"commitInfo": {"timestamp": 1000, "operation": "CREATE TABLE"}},
    ]
    with open(os.path.join(p0, "_delta_log", f"{0:020d}.json"), "w") as fh:
        for a in z:
            fh.write(json.dumps(a) + "\n")
    with pytest.raises(dl.DeltaProtocolError, match="step=0"):
        dwh.append(_df(spark, [(1,)], "k int"), "identzero")


def test_identity_by_default_accepts_explicit(spark, tmp_path):
    """allowExplicitInsert=true (BY DEFAULT): provided values land and
    the high-water mark advances past them, so later assignments never
    collide."""
    p = str(tmp_path / "identd")
    os.makedirs(os.path.join(p, "_delta_log"))
    fields = [
        {"name": "k", "type": "integer", "nullable": True, "metadata": {}},
        {"name": "uid", "type": "long", "nullable": True, "metadata": {
            "delta.identity.start": 1,
            "delta.identity.step": 1,
            "delta.identity.allowExplicitInsert": True,
        }},
    ]
    schema_string = json.dumps({"type": "struct", "fields": fields})
    _write_parquet(spark, [(1, 1)], "k int, uid long", p, "f0.parquet")
    v0 = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 6}},
        {"metaData": {
            "id": "0005", "format": {"provider": "parquet", "options": {}},
            "schemaString": schema_string, "partitionColumns": [],
            "configuration": {}, "createdTime": 1,
        }},
        {"add": {"path": "f0.parquet", "partitionValues": {},
                 "size": 1, "modificationTime": 1, "dataChange": True}},
        {"commitInfo": {"timestamp": 1000, "operation": "WRITE"}},
    ]
    with open(os.path.join(p, "_delta_log", f"{0:020d}.json"), "w") as fh:
        for a in v0:
            fh.write(json.dumps(a) + "\n")
    dwh = DeltaLogWarehouse(spark, str(tmp_path))
    name = "identd"
    dwh.append(_df(spark, [(2, 500)], "k int, uid long"), name)
    st = dl.snapshot_state(dwh.path(name))
    hwm = next(
        f["metadata"]["delta.identity.highWaterMark"]
        for f in json.loads(st["metadata"]["schemaString"])["fields"]
        if f["name"] == "uid"
    )
    assert hwm == 500
    dwh.append(_df(spark, [(3,)], "k int"), name)
    rows = {r.k: r.uid for r in dwh.read(name).collect()}
    assert rows[3] > 500 and len(set(rows.values())) == 3


def test_overwrite_preserves_field_metadata(spark, tmp_path):
    """An overwrite whose batch has the SAME columns must not strip
    the table's field metadata (identity/generation/invariants live
    there; a batch StructType never carries them)."""
    p = _demand_table(spark, tmp_path, {
        "g": {"delta.generationExpression": "k * 2"},
    })
    dwh = DeltaLogWarehouse(spark, str(tmp_path))
    dwh.overwrite(_df(spark, [(7, 1, 14)], "k int, v int, g int"), "demand")
    st = dl.snapshot_state(p)
    metas = {
        f["name"]: f.get("metadata") or {}
        for f in json.loads(st["metadata"]["schemaString"])["fields"]
    }
    assert metas["g"].get("delta.generationExpression") == "k * 2"
    # and the demand still ENFORCES after the overwrite
    from global_seismic_data_pipeline_spark.sources.warehouse import (
        ConstraintViolation,
    )

    with pytest.raises(ConstraintViolation):
        dwh.append(_df(spark, [(9, 1, 5)], "k int, v int, g int"), "demand")
    # a REAL column change still adopts the batch schema: the fill
    # computes g one last time (the demand holds while declared), and
    # the adopted schema then DROPS the generation metadata — the
    # overwriteSchema contract
    dwh.overwrite(_df(spark, [(1, 2.5)], "k int, z double"), "demand")
    st2 = dl.snapshot_state(p)
    fields2 = json.loads(st2["metadata"]["schemaString"])["fields"]
    assert [f["name"] for f in fields2] == ["k", "z", "g"]
    assert all(
        "delta.generationExpression" not in (f.get("metadata") or {})
        for f in fields2
    )
    assert {(r.k, r.g) for r in dwh.read("demand").collect()} == {(1, 2)}


def test_schema_changing_overwrite_keeps_identity_declaration(
    spark, tmp_path
):
    """Judge finding (r9): a schema-CHANGING overwrite re-stamped only
    delta.identity.highWaterMark onto the batch-derived schemaString —
    start/step/allowExplicitInsert were lost and the next writer fell
    back to start=1/step=1, leaving the lattice. The full identity
    declaration (and plain metadata like comments) must survive; only
    writer DEMANDS drop, per the overwriteSchema contract above."""
    p = str(tmp_path / "identow")
    os.makedirs(os.path.join(p, "_delta_log"))
    fields = [
        {"name": "k", "type": "integer", "nullable": True,
         "metadata": {"comment": "the key"}},
        {"name": "uid", "type": "long", "nullable": True, "metadata": {
            "delta.identity.start": 100,
            "delta.identity.step": 10,
            "delta.identity.allowExplicitInsert": False,
        }},
    ]
    v0 = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 6}},
        {"metaData": {
            "id": "0008", "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(
                {"type": "struct", "fields": fields}
            ),
            "partitionColumns": [], "configuration": {}, "createdTime": 1,
        }},
        {"commitInfo": {"timestamp": 1000, "operation": "CREATE TABLE"}},
    ]
    with open(os.path.join(p, "_delta_log", f"{0:020d}.json"), "w") as fh:
        for a in v0:
            fh.write(json.dumps(a) + "\n")
    dwh = DeltaLogWarehouse(spark, str(tmp_path))
    name = "identow"
    dwh.append(_df(spark, [(1,), (2,)], "k int"), name)
    # schema-CHANGING overwrite: adds a column, uid assigned by fill
    dwh.overwrite(_df(spark, [(3, "x")], "k int, note string"), name)
    st = dl.snapshot_state(p)
    metas = {
        f["name"]: f.get("metadata") or {}
        for f in json.loads(st["metadata"]["schemaString"])["fields"]
    }
    assert metas["uid"]["delta.identity.start"] == 100
    assert metas["uid"]["delta.identity.step"] == 10
    assert metas["uid"]["delta.identity.allowExplicitInsert"] is False
    assert metas["k"].get("comment") == "the key"
    hwm = metas["uid"]["delta.identity.highWaterMark"]
    # the next writer stays on the ORIGINAL lattice above the mark
    dwh.append(_df(spark, [(4, "y")], "k int, note string"), name)
    rows = {r.k: r.uid for r in dwh.read(name).collect()}
    assert rows[4] > hwm and (rows[4] - 100) % 10 == 0
    assert len(set(rows.values())) == len(rows)
    # explicit values still refuse after the overwrite
    with pytest.raises(dl.DeltaProtocolError, match="GENERATED ALWAYS"):
        dwh.append(
            _df(spark, [(5, "z", 9999)], "k int, note string, uid long"),
            name,
        )


def test_same_columns_overwrite_keeps_nested_field_metadata(
    spark, tmp_path
):
    """Judge finding (r9): _schema_core compared raw nested type dicts,
    so a same-columns overwrite of a table with NESTED field metadata
    looked schema-changing and adopted the (metadata-less) batch
    schema. Core compare is now nested-metadata-insensitive — the
    table's schemaString (nested comments included) survives."""
    p = str(tmp_path / "nestedmeta")
    os.makedirs(os.path.join(p, "_delta_log"))
    schema_string = json.dumps({"type": "struct", "fields": [
        {"name": "k", "type": "integer", "nullable": True, "metadata": {}},
        {"name": "s", "nullable": True, "metadata": {},
         "type": {"type": "struct", "fields": [
             {"name": "a", "type": "integer", "nullable": True,
              "metadata": {"comment": "inner field"}},
         ]}},
    ]})
    v0 = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {
            "id": "0009", "format": {"provider": "parquet", "options": {}},
            "schemaString": schema_string, "partitionColumns": [],
            "configuration": {}, "createdTime": 1,
        }},
        {"commitInfo": {"timestamp": 1000, "operation": "CREATE TABLE"}},
    ]
    with open(os.path.join(p, "_delta_log", f"{0:020d}.json"), "w") as fh:
        for a in v0:
            fh.write(json.dumps(a) + "\n")
    dwh = DeltaLogWarehouse(spark, str(tmp_path))
    dwh.overwrite(
        spark.createDataFrame([(1, (7,))], "k int, s struct<a:int>"),
        "nestedmeta",
    )
    st = dl.snapshot_state(p)
    s_field = next(
        f for f in json.loads(st["metadata"]["schemaString"])["fields"]
        if f["name"] == "s"
    )
    inner = s_field["type"]["fields"][0]
    assert inner["metadata"].get("comment") == "inner field"
    assert {(r.k, r.s.a) for r in dwh.read("nestedmeta").collect()} == {
        (1, 7)
    }
