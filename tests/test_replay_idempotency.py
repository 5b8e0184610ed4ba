"""foreachBatch replay idempotency: Structured Streaming redelivers a
batch_id after a crash between sink completion and checkpoint commit.
The dedup sink must tolerate (a) redelivery of a fully committed batch
and (b) a torn replay — crash mid-batch after some appends."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from global_seismic_data_pipeline_spark.operators.neardup_incremental import (
    build_minhash_index,
    incremental_minhash_pairs,
)
from global_seismic_data_pipeline_spark.sources.warehouse import Warehouse
from global_seismic_data_pipeline_spark.streaming import facade

BASE = (
    "the quick brown fox jumps over the lazy dog near the river bank "
    "while birds sing in the tall green trees above"
)
DOCS = [
    (0, BASE),
    (1, BASE + " today"),
    (2, "completely different text about spark shuffles and "
        "partitions in distributed query engines at scale"),
    (3, BASE),
    (4, "another unrelated document discussing bloom filters "
        "sketches and hyperloglog registers for analytics"),
]
SCHEMA = "doc_id long, text string"


def _snapshot(wh: Warehouse, name: str) -> dict:
    out = {}
    for suffix in ("_docs", "_bands", "_pairs_log", "_clusters", "_epochs"):
        t = f"{name}{suffix}"
        if suffix in ("_docs", "_bands"):
            df = wh.spark.table(t)
        elif wh.exists(t):
            df = wh.read(t)
        else:
            out[suffix] = None
            continue
        # shingle sets are unordered arrays — normalize for comparison
        cols = [
            F.array_sort(c).alias(c) if c == "shingles" else F.col(c)
            for c in df.columns
        ]
        out[suffix] = sorted(map(tuple, df.select(*cols).collect()))
    return out


@pytest.fixture()
def wh(spark, tmp_path):
    return Warehouse(spark, str(tmp_path / "wh"))


def test_committed_batch_redelivery_is_noop(spark, wh):
    """Same (batch_df, batch_id) delivered twice — exactly what SS does
    after a crash post-sink pre-checkpoint: every table bit-identical."""
    build_minhash_index(
        wh, spark.createDataFrame([], SCHEMA), bands=16, name="rp1"
    )
    fn = facade.make_dedup_batch_fn(wh, name="rp1", maintain_clusters=True)

    b0 = spark.createDataFrame(DOCS[:2], SCHEMA)
    b1 = spark.createDataFrame(DOCS[2:4], SCHEMA)
    fn(b0, 0)
    fn(b1, 1)
    snap = _snapshot(wh, "rp1")
    assert snap["_pairs_log"]  # pairs exist (0-1 near dup, 0-3 exact)

    fn(b1, 1)  # redelivery of the last committed batch
    assert _snapshot(wh, "rp1") == snap
    fn(b0, 0)  # stale redelivery of an older batch
    assert _snapshot(wh, "rp1") == snap


def test_torn_replay_scrubs_and_reprocesses(spark, wh, tmp_path):
    """Crash mid-batch: signatures + pair-log rows appended but no epoch
    commit. Redelivery must scrub the partial state and end bit-identical
    to a clean single delivery (reference warehouse)."""
    for nm, root in (("rp2", "wh"), ("rp2ref", "whref")):
        build_minhash_index(
            Warehouse(spark, str(tmp_path / root)),
            spark.createDataFrame([], SCHEMA), bands=16, name=nm,
        )
    ref = Warehouse(spark, str(tmp_path / "whref"))

    b0 = spark.createDataFrame(DOCS[:2], SCHEMA)
    b1 = spark.createDataFrame(DOCS[2:4], SCHEMA)

    fn = facade.make_dedup_batch_fn(wh, name="rp2", maintain_clusters=True)
    fn(b0, 0)
    # simulate the torn attempt of batch 1: the sink got as far as the
    # store append + pair-log append, then died before the epoch commit
    partial = incremental_minhash_pairs(
        wh, b1, threshold=0.5, name="rp2", append=True
    )
    wh.append(partial.withColumn("batch_id", F.lit(1)), "rp2_pairs_log")
    # redelivery of batch 1 through the sink
    fn(b1, 1)

    fn_ref = facade.make_dedup_batch_fn(ref, name="rp2ref",
                                        maintain_clusters=True)
    fn_ref(b0, 0)
    fn_ref(b1, 1)

    got, want = _snapshot(wh, "rp2"), _snapshot(ref, "rp2ref")
    assert got == want
    # sanity: the cross-batch exact dup survived the scrub exactly once
    pair_keys = [(r[0], r[1]) for r in got["_pairs_log"]]
    assert pair_keys.count((0, 3)) == 1


def test_upsert_sink_merge_batch_redelivery(spark, wh):
    """The MERGE sink's per-batch function is keyed upsert — replaying
    the same micro-batch (same batch_id, same rows) leaves the table
    bit-identical (MERGE idempotency carries the replay contract)."""
    from global_seismic_data_pipeline_spark.operators import dedup as dedup_ops

    batch = spark.createDataFrame(
        [("e1", 5.0, 10), ("e2", 6.0, 20), ("e1", 5.5, 30)],
        "event_id string, mag double, ingestion_ts long",
    )
    # mirror upsert_sink's merge_batch body (version-keyed batch dedup →
    # warehouse MERGE) — delivered twice with the same content
    for _ in range(2):
        unique = dedup_ops.keep_latest(batch, ["event_id"], "ingestion_ts")
        wh.merge(unique, "silver", ["event_id"])
    got = sorted(tuple(r) for r in wh.read("silver").collect())
    assert got == [("e1", 5.5, 30), ("e2", 6.0, 20)]


# -- streaming ANN-index sink ----------------------------------------------


def _vecs(spark, lo, hi, seed=0):
    import random

    rng = random.Random(seed)
    return spark.createDataFrame(
        [(i, [rng.gauss(0, 1) for _ in range(64)]) for i in range(lo, hi)],
        "vec_id long, embedding array<double>",
    )


def _lists_snapshot(spark, name):
    # refresh first: appends from foreachBatch CLONES update files but not
    # this session's relation cache (the hazard the library read paths
    # handle via ann_index._fresh_table)
    spark.catalog.refreshTable(f"{name}_lists")
    return sorted(
        (r.vec_id, r.cell)
        for r in spark.table(f"{name}_lists").select("vec_id", "cell").collect()
    )


def test_ann_sink_stream_equals_batch_and_replays_exactly(spark, tmp_path):
    """Drained stream ≡ batch appends under the frozen codebook;
    committed redelivery is a no-op; torn replay scrubbed ≡ clean."""
    from global_seismic_data_pipeline_spark.operators import ann_index
    from global_seismic_data_pipeline_spark.streaming import facade

    wh = Warehouse(spark, str(tmp_path / "wh"))
    base = _vecs(spark, 0, 60, seed=1)
    ann_index.build_ivf_index(wh, base, cells=8, iters=3, name="sann")
    fn = facade.make_ann_batch_fn(wh, name="sann")

    b0, b1 = _vecs(spark, 100, 130, seed=2), _vecs(spark, 200, 240, seed=3)
    fn(b0, 0)
    fn(b1, 1)
    snap = _lists_snapshot(spark, "sann")
    assert len(snap) == 60 + 30 + 40

    # committed redelivery (latest and stale): bit-identical
    fn(b1, 1)
    fn(b0, 0)
    assert _lists_snapshot(spark, "sann") == snap

    # torn replay of batch 2: store append happened, epoch commit did not
    b2 = _vecs(spark, 300, 320, seed=4)
    ann_index.append_to_ivf_index(wh, b2, name="sann")
    fn(b2, 2)  # sink redelivery must scrub the partial rows first
    snap2 = _lists_snapshot(spark, "sann")
    assert len(snap2) == 60 + 30 + 40 + 20  # each id exactly once

    # stream result ≡ clean batch appends into a reference index
    ref = Warehouse(spark, str(tmp_path / "whref"))
    ann_index.build_ivf_index(ref, base, cells=8, iters=3, name="sannref")
    for b in (b0, b1, b2):
        ann_index.append_to_ivf_index(ref, b, name="sannref")
    assert snap2 == _lists_snapshot(spark, "sannref")
    spark.sql("DROP TABLE IF EXISTS sann_lists")
    spark.sql("DROP TABLE IF EXISTS sannref_lists")


def test_ann_sink_through_real_stream(spark, tmp_path):
    """End-to-end through readStream/foreachBatch with availableNow."""
    from global_seismic_data_pipeline_spark.operators import ann_index
    from global_seismic_data_pipeline_spark.streaming import facade

    wh = Warehouse(spark, str(tmp_path / "wh"))
    ann_index.build_ivf_index(
        wh, _vecs(spark, 0, 40, seed=5), cells=8, iters=3, name="tann"
    )
    d = tmp_path / "arrivals"
    _vecs(spark, 500, 520, seed=6).coalesce(1).write.mode("append").parquet(str(d))
    _vecs(spark, 600, 630, seed=7).coalesce(1).write.mode("append").parquet(str(d))
    schema = spark.createDataFrame([], "vec_id long, embedding array<double>").schema
    stream = facade.read_stream(spark, str(d), schema, max_files_per_trigger=1)
    facade.run_available_now(
        facade.incremental_ann_sink(
            stream, wh, checkpoint_dir=str(tmp_path / "ckpt"), name="tann"
        )
    )
    assert len(_lists_snapshot(spark, "tann")) == 40 + 20 + 30
    # probing the grown index sees streamed vectors as neighbors
    out = ann_index.probe_ivf_index(
        wh, _vecs(spark, 500, 501, seed=6), name="tann", k=3, nprobe=8
    )
    assert out.count() > 0
    spark.sql("DROP TABLE IF EXISTS tann_lists")
