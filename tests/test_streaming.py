"""Structured Streaming façade: streaming results == batch results
(SURVEY.md §2.10 — the tumbling daily agg IS gold's A3)."""

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from global_seismic_data_pipeline_spark.schemas import BRONZE_EARTHQUAKES
from global_seismic_data_pipeline_spark.sources.warehouse import Warehouse
from global_seismic_data_pipeline_spark.streaming import facade

from conftest import bronze_row


@pytest.fixture(scope="module")
def stream_dir(spark, tmp_path_factory):
    """A directory with two parquet 'arrival' batches of events."""
    d = tmp_path_factory.mktemp("stream")
    t = datetime
    batch1 = [
        bronze_row("s1", t(2025, 5, 1, 1), mag=4.0),
        bronze_row("s2", t(2025, 5, 1, 2), mag=5.0),
        bronze_row("s3", t(2025, 5, 2, 3), mag=6.0),
    ]
    batch2 = [
        bronze_row("s3", t(2025, 5, 2, 3), mag=6.5, batch_id="b2"),  # dup key
        bronze_row("s4", t(2025, 5, 3, 4), mag=7.0),
    ]
    spark.createDataFrame(batch1, BRONZE_EARTHQUAKES).write.mode("append").parquet(str(d / "events"))
    spark.createDataFrame(batch2, BRONZE_EARTHQUAKES).write.mode("append").parquet(str(d / "events"))
    return d


def test_tumbling_daily_matches_batch(spark, stream_dir):
    stream = facade.read_stream(
        spark, str(stream_dir / "events"), BRONZE_EARTHQUAKES
    )
    facade.to_memory_table(
        facade.tumbling_daily(stream), "t_daily", complete=True
    )
    got = {
        str(r.event_date): (r.total_events, r.avg_magnitude, r.max_magnitude)
        for r in spark.table("t_daily").collect()
    }
    batch = (
        spark.read.parquet(str(stream_dir / "events"))
        .groupBy(F.to_date("time").alias("d"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("mag"), 3).alias("a"),
            F.round(F.max("mag"), 2).alias("m"),
        )
    )
    want = {str(r.d): (r.n, r.a, r.m) for r in batch.collect()}
    assert got == want


def test_streaming_upsert_dedups_by_key(spark, stream_dir, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    stream = facade.read_stream(
        spark, str(stream_dir / "events"), BRONZE_EARTHQUAKES,
        max_files_per_trigger=1,
    )
    writer = facade.upsert_sink(
        stream, wh, "silver_stream", ["event_id"],
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    facade.run_available_now(writer)
    got = {r.event_id: r.mag for r in wh.read("silver_stream").collect()}
    assert set(got) == {"s1", "s2", "s3", "s4"}
    assert got["s3"] in (6.0, 6.5)  # one winner per key, no duplicates

    # restart from checkpoint: nothing new → table unchanged
    stream2 = facade.read_stream(
        spark, str(stream_dir / "events"), BRONZE_EARTHQUAKES
    )
    facade.run_available_now(
        facade.upsert_sink(
            stream2, wh, "silver_stream", ["event_id"],
            checkpoint_dir=str(tmp_path / "ckpt"),
        )
    )
    assert wh.read("silver_stream").count() == 4


def test_streaming_upsert_version_col_keeps_latest(spark, stream_dir, tmp_path):
    """With version_col, in-batch duplicates resolve deterministically to
    the greatest version — matching the batch keep-latest semantics."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    stream = facade.read_stream(
        spark, str(stream_dir / "events"), BRONZE_EARTHQUAKES
    )
    facade.run_available_now(
        facade.upsert_sink(
            stream, wh, "silver_v", ["event_id"],
            checkpoint_dir=str(tmp_path / "ck2"),
            version_col="batch_id",  # b2 > b1 lexicographically
        )
    )
    got = {r.event_id: r.mag for r in wh.read("silver_v").collect()}
    # s3 appears in both files (mag 6.0 @b1, 6.5 @b2): one availableNow
    # micro-batch may carry both — the b2 version must win
    assert got["s3"] == 6.5


def test_streaming_dedup_one_row_per_key(spark, stream_dir, tmp_path):
    stream = facade.read_stream(
        spark, str(stream_dir / "events"), BRONZE_EARTHQUAKES
    )
    out = facade.deduped(stream).select("event_id", "mag")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.table("dedup_stream").collect()
    ids = [r.event_id for r in rows]
    assert sorted(ids) == sorted(set(ids))  # exactly one row per key
    assert set(ids) == {"s1", "s2", "s3", "s4"}


def test_sliding_weekly_counts(spark, stream_dir):
    stream = facade.read_stream(
        spark, str(stream_dir / "events"), BRONZE_EARTHQUAKES
    )
    facade.to_memory_table(
        facade.sliding_weekly(stream), "t_weekly", complete=True
    )
    rows = spark.table("t_weekly").collect()
    # every event lands in 7 overlapping windows; peak window covers all 5
    assert max(r.rolling_7d_count for r in rows) == 5


def test_stream_static_band_enrichment_matches_batch(spark, stream_dir, tmp_path):
    """Stream-static broadcast join: per-event risk band on the stream
    equals the batch band_join result (stateless — append mode, no
    watermark)."""
    from global_seismic_data_pipeline_spark.operators.bands import band_join
    from global_seismic_data_pipeline_spark.refdata import risk_classification

    bands = risk_classification(spark)
    stream = facade.read_stream(
        spark, str(stream_dir / "events"), BRONZE_EARTHQUAKES
    )
    out = facade.enriched_bands(stream, bands).select(
        "event_id", "batch_id", "mag", "risk_level"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("band_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.event_id, r.batch_id): r.risk_level
        for r in spark.table("band_stream").collect()
    }
    batch = band_join(
        spark.read.parquet(str(stream_dir / "events")), bands, value_col="mag"
    )
    want = {(r.event_id, r.batch_id): r.risk_level for r in batch.collect()}
    assert got == want and len(got) == 5


def test_windowed_hll_registers_match_batch(spark, stream_dir):
    """Streaming per-window HLL registers == batch registers bit-for-bit,
    and the estimate on the streamed register table == batch hll_distinct."""
    from global_seismic_data_pipeline_spark.operators import sketch

    stream = facade.read_stream(
        spark, str(stream_dir / "events"), BRONZE_EARTHQUAKES
    )
    facade.to_memory_table(
        facade.windowed_hll_registers(stream, key_col="event_id", p=10),
        "t_hll_regs",
        complete=True,
    )
    streamed = spark.table("t_hll_regs")

    batch = spark.read.parquet(str(stream_dir / "events")).select(
        F.window("time", "1 day").alias("w"), "event_id"
    )
    batch_regs = sketch.hll_registers(batch, "event_id", ["w"], p=10).select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        "bucket",
        "m_j",
    )
    assert streamed.exceptAll(batch_regs).count() == 0
    assert batch_regs.exceptAll(streamed).count() == 0

    est = {
        str(r.window_start): r.hll_count
        for r in sketch.hll_estimate(
            streamed, ["window_start", "window_end"], p=10
        ).collect()
    }
    want = {
        str(r.w.start): r.hll_count
        for r in sketch.hll_distinct(batch, "event_id", ["w"], p=10).collect()
    }
    assert est == want
    # tiny per-day cardinalities sit in the exact linear-counting range
    assert set(est.values()) == {1, 2}


def test_interval_join_streams_matches_batch(spark, tmp_path):
    """Stream-stream interval join (mainshock -> aftershocks within 1 day,
    same network) drains to exactly the batch join's pairs."""
    t = datetime
    rows = [
        bronze_row("m1", t(2025, 5, 1, 0), mag=6.5, net="us"),
        bronze_row("a1", t(2025, 5, 1, 5), mag=3.0, net="us"),   # +5h: match
        bronze_row("a2", t(2025, 5, 2, 0), mag=2.5, net="us"),   # +24h: match (<=)
        bronze_row("a3", t(2025, 5, 2, 0, 0, 1), mag=2.0, net="us"),  # past
        bronze_row("b1", t(2025, 5, 1, 1), mag=3.5, net="ak"),   # other net
        bronze_row("m2", t(2025, 5, 3, 0), mag=7.0, net="ak"),
        bronze_row("a4", t(2025, 5, 3, 2), mag=4.0, net="ak"),   # match m2
    ]
    d = tmp_path / "sj"
    spark.createDataFrame(rows, BRONZE_EARTHQUAKES).write.parquet(str(d))

    def mains(df):
        return df.filter(F.col("mag") >= 6.0).select("event_id", "time", "net")

    def after(df):
        return df.select("event_id", "time", "net", "mag")

    joined = facade.interval_join_streams(
        mains(facade.read_stream(spark, str(d), BRONZE_EARTHQUAKES)),
        after(facade.read_stream(spark, str(d), BRONZE_EARTHQUAKES)),
        on=("net",),
        left_time="time",
        right_time="time",
        lower="0 SECONDS",
        upper="1 DAY",
    ).select(
        F.col("l.event_id").alias("main_id"),
        F.col("r.event_id").alias("after_id"),
    )
    facade.to_memory_table(joined, "sj_pairs", complete=False)
    got = {(r.main_id, r.after_id) for r in spark.table("sj_pairs").collect()}

    batch = spark.read.parquet(str(d))
    exp_df = (
        mains(batch).alias("l")
        .join(
            after(batch).alias("r"),
            F.expr(
                "l.net = r.net AND r.time > l.time AND "
                "r.time <= l.time + INTERVAL 1 DAY"
            ),
        )
        .select(F.col("l.event_id").alias("m"), F.col("r.event_id").alias("a"))
    )
    exp = {(r.m, r.a) for r in exp_df.collect()}
    assert got == exp
    assert got == {("m1", "a1"), ("m1", "a2"), ("m2", "a4")}


def test_windowed_cms_counters_match_batch(spark, stream_dir):
    """Streaming per-window CMS counters == batch counters bit-for-bit,
    and probing the streamed table upper-bounds true per-window counts."""
    from global_seismic_data_pipeline_spark.operators import sketch

    kw = dict(w_log2=8, d=3, salt="scms")
    stream = facade.read_stream(
        spark, str(stream_dir / "events"), BRONZE_EARTHQUAKES
    )
    facade.to_memory_table(
        facade.windowed_cms_counters(stream, key_col="event_id", **kw),
        "t_cms",
        complete=True,
    )
    streamed = spark.table("t_cms")

    batch = spark.read.parquet(str(stream_dir / "events")).select(
        F.window("time", "1 day").alias("w"), "event_id"
    )
    batch_cms = sketch.cms_counters(batch, "event_id", ["w"], **kw).select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        "row",
        "pos",
        "cnt",
    )
    assert streamed.exceptAll(batch_cms).count() == 0
    assert batch_cms.exceptAll(streamed).count() == 0

    # probe one window's sketch: estimates must upper-bound true counts
    one_day = streamed.filter(
        F.col("window_start") == F.lit("2025-05-02 00:00:00").cast("timestamp")
    ).select("row", "pos", "cnt")
    probes = spark.createDataFrame([("s3",), ("s1",)], "event_id string")
    got = {
        r["event_id"]: r["cms_cnt"]
        for r in sketch.cms_estimate(one_day, probes, "event_id", **kw).collect()
    }
    assert got["s3"] >= 2  # s3 appears twice on 5/2 (dup arrival)
    assert got["s1"] >= 0  # s1 is on 5/1: zero in this window's sketch


def test_streaming_incremental_dedup_equals_batch_operator(spark, tmp_path):
    """Docs arriving across micro-batches: the accumulated pairs log
    equals the one-shot batch LSH pairs over the full corpus — a pair is
    found exactly when its later member arrives. The store starts EMPTY
    (index built on zero docs) and is only appended."""
    from global_seismic_data_pipeline_spark.operators import neardup
    from global_seismic_data_pipeline_spark.operators.neardup_incremental import (
        build_minhash_index,
    )

    base = (
        "the quick brown fox jumps over the lazy dog near the river bank "
        "while birds sing in the tall green trees above"
    )
    docs = [
        (0, base),
        (1, base + " today"),                                   # near-dup of 0
        (2, "completely different text about spark shuffles and "
            "partitions in distributed query engines at scale"),
        (3, base),                                              # exact dup of 0
        (4, "another unrelated document discussing bloom filters "
            "sketches and hyperloglog registers for analytics"),
    ]
    schema = "doc_id long, text string"
    d = tmp_path / "docs"
    # three arrival files → three micro-batches (maxFilesPerTrigger=1)
    spark.createDataFrame(docs[:2], schema).coalesce(1).write.mode("append").parquet(str(d))
    spark.createDataFrame(docs[2:4], schema).coalesce(1).write.mode("append").parquet(str(d))
    spark.createDataFrame(docs[4:], schema).coalesce(1).write.mode("append").parquet(str(d))

    wh = Warehouse(spark, str(tmp_path / "wh"))
    empty = spark.createDataFrame([], schema)
    build_minhash_index(wh, empty, bands=16, name="smh")

    from pyspark.sql.types import StructType

    stream_schema = spark.createDataFrame([], schema).schema
    assert isinstance(stream_schema, StructType)
    stream = facade.read_stream(
        spark, str(d), stream_schema, max_files_per_trigger=1
    )
    facade.run_available_now(
        facade.incremental_dedup_sink(
            stream, wh, checkpoint_dir=str(tmp_path / "ckpt"),
            name="smh", threshold=0.5,
        )
    )

    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in wh.read("smh_pairs_log").collect()
    }
    full = spark.createDataFrame(docs, schema)
    want = {
        (r.id_a, r.id_b): r.jaccard
        for r in neardup.minhash_lsh_pairs(
            full, id_col="doc_id", text_col="text", bands=16, threshold=0.5
        ).collect()
    }
    assert got == want
    assert (0, 3) in got and got[(0, 3)] == 1.0  # exact dup found cross-batch


def test_windowed_quantile_histogram_matches_batch(spark, stream_dir):
    """Streaming per-window quantile histograms == batch sketch
    bit-for-bit (sum-mergeable counts; exact-integer bucketing)."""
    from global_seismic_data_pipeline_spark.operators import sketch

    stream = facade.read_stream(
        spark, str(stream_dir / "events"), BRONZE_EARTHQUAKES
    )
    # histogram over integer depth-decimeters (non-negative int column)
    depth_dm = (F.col("depth") * 10).cast("long")
    facade.to_memory_table(
        facade.windowed_quantile_histogram(
            stream.withColumn("depth_dm", depth_dm), value_col="depth_dm", k=5
        ),
        "t_qh",
        complete=True,
    )
    streamed = spark.table("t_qh")

    batch = (
        spark.read.parquet(str(stream_dir / "events"))
        .withColumn("depth_dm", depth_dm)
        .select(F.window("time", "1 day").alias("w"), "depth_dm")
    )
    batch_qh = sketch.quantile_histogram(batch, "depth_dm", ["w"], k=5).select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        "qbucket",
        "cnt",
        "rep",
    )
    assert streamed.exceptAll(batch_qh).count() == 0
    assert batch_qh.exceptAll(streamed).count() == 0
    assert streamed.count() > 0


def test_streaming_dedup_maintains_cluster_table(spark, tmp_path):
    """With maintain_clusters=True the per-batch contracted CC keeps
    {name}_clusters equal to a from-scratch CC over the full pair log."""
    from global_seismic_data_pipeline_spark.operators import cluster, neardup
    from global_seismic_data_pipeline_spark.operators.neardup_incremental import (
        build_minhash_index,
    )

    base = (
        "the quick brown fox jumps over the lazy dog near the river bank "
        "while birds sing in the tall green trees above"
    )
    alt = (
        "completely different text about spark shuffles and partitions "
        "in distributed query engines running at warehouse scale"
    )
    docs = [
        (0, base), (1, base + " today"),
        (2, alt), (3, base), (4, alt + " indeed"),
    ]
    schema = "doc_id long, text string"
    d = tmp_path / "docs"
    spark.createDataFrame(docs[:2], schema).coalesce(1).write.mode("append").parquet(str(d))
    spark.createDataFrame(docs[2:4], schema).coalesce(1).write.mode("append").parquet(str(d))
    spark.createDataFrame(docs[4:], schema).coalesce(1).write.mode("append").parquet(str(d))

    wh = Warehouse(spark, str(tmp_path / "wh"))
    build_minhash_index(wh, spark.createDataFrame([], schema), bands=16, name="cmh")
    stream = facade.read_stream(
        spark, str(d), spark.createDataFrame([], schema).schema,
        max_files_per_trigger=1,
    )
    facade.run_available_now(
        facade.incremental_dedup_sink(
            stream, wh, checkpoint_dir=str(tmp_path / "ckpt"),
            name="cmh", threshold=0.5, maintain_clusters=True,
        )
    )

    got = {
        (r.id, r.component) for r in wh.read("cmh_clusters").collect()
    }
    all_pairs = wh.read("cmh_pairs_log").select("id_a", "id_b")
    want = {
        (r.id, r.comp)
        for r in cluster.connected_components(all_pairs).collect()
    }
    assert got == want and got
    # the two base-doc variants and the exact dup form one component
    comp_of = dict(got)
    assert comp_of[0] == comp_of[1] == comp_of[3] == 0


def test_dedup_batch_fn_releases_what_each_batch_cached(spark, tmp_path):
    """Each micro-batch of the dedup sink releases the frames it cached
    (the new index rows and bands): four batches leave no new persistent
    RDD behind."""
    from global_seismic_data_pipeline_spark.operators.neardup_incremental import (
        build_minhash_index,
    )

    schema = "doc_id long, text string"
    base = "the quick brown fox jumps over the lazy dog near the river bank"
    docs = [(i, f"{base} {i % 3} {'x' * (i % 2)}") for i in range(8)]
    wh = Warehouse(spark, str(tmp_path / "wh"))
    build_minhash_index(wh, spark.createDataFrame([], schema), bands=16, name="lk")
    fn = facade.make_dedup_batch_fn(wh, name="lk", maintain_clusters=False)

    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = set(persistent().keys())
    for b in range(4):
        fn(spark.createDataFrame(docs[2 * b: 2 * b + 2], schema), b)
    assert wh.read("lk_epochs").count() == 4
    # compared as ids, not counts: Spark's ContextCleaner may free older
    # RDDs (e.g. earlier tests' local checkpoints) meanwhile
    assert set(persistent().keys()) - before == set()


def test_materialized_view_sink_continuous_ivm(spark, stream_dir, tmp_path):
    """Streaming MERGE + per-batch IVM: after the stream drains, every
    listed aggregate view equals the from-scratch aggregate over the
    final table (no gold rescan happened — the views rolled forward via
    the change data feed, commit by commit); checkpoint restart with no
    new data leaves table and views untouched."""
    from global_seismic_data_pipeline_spark.operators import ivm
    from global_seismic_data_pipeline_spark.sources.deltawh import (
        DeltaLogWarehouse,
    )

    vwh = DeltaLogWarehouse(spark, str(tmp_path / "vwh"))
    # seed the table + define the view at v0
    seed = spark.createDataFrame(
        [("s0", "seed", 1)], "event_id string, status string, one int"
    )
    vwh.overwrite(seed, "sv")
    ivm.define_agg_view(
        vwh, "sv", "sv_by_status", ["status"],
        {"n": ("count", None), "s1": ("sum", "one")},
    )

    stream = facade.read_stream(
        spark, str(stream_dir / "events"), BRONZE_EARTHQUAKES,
        max_files_per_trigger=1,  # two micro-batches → two commits
    ).selectExpr(
        "event_id", "status", "cast(1 as int) AS one"
    )
    writer = facade.materialized_view_sink(
        stream, vwh, "sv", ["event_id"], ["sv_by_status"],
        checkpoint_dir=str(tmp_path / "ck"),
        version_col="one",
    )
    facade.run_available_now(writer)

    recompute = sorted(
        tuple(r)
        for r in vwh.read("sv")
        .groupBy("status")
        .agg(F.count(F.lit(1)).cast("long").alias("n"),
             F.sum("one").cast("long").alias("s1"))
        .collect()
    )
    got = sorted(tuple(r) for r in vwh.read("sv_by_status").collect())
    assert got == recompute
    assert vwh.read("sv").count() == 5  # s0 + s1..s4

    # view high-water mark tracks the table's latest commit
    meta = vwh.read(f"sv_by_status{ivm.META_SUFFIX}").collect()[0]
    assert meta.last_version == vwh.latest_version("sv")

    # checkpoint restart, no new files: nothing moves
    v_table = vwh.latest_version("sv")
    facade.run_available_now(
        facade.materialized_view_sink(
            facade.read_stream(
                spark, str(stream_dir / "events"), BRONZE_EARTHQUAKES
            ).selectExpr("event_id", "status", "cast(1 as int) AS one"),
            vwh, "sv", ["event_id"], ["sv_by_status"],
            checkpoint_dir=str(tmp_path / "ck"),
        )
    )
    assert vwh.latest_version("sv") == v_table
    assert sorted(tuple(r) for r in vwh.read("sv_by_status").collect()) == got

    # plain warehouse refused up front
    with pytest.raises(ValueError, match="needs a DeltaLogWarehouse"):
        facade.materialized_view_sink(
            stream, Warehouse(spark, str(tmp_path / "pw")), "sv",
            ["event_id"], [], checkpoint_dir=str(tmp_path / "ck3"),
        )


def test_delta_cdf_tail_consumer(spark, tmp_path):
    """The change-feed tail: serves per-commit insert/delete/update
    rows from _change_data with a durable cursor — at-least-once
    (crash before advance replays the slice), caught-up no-op, and a
    separate cursor from an append tail on the same source."""
    from global_seismic_data_pipeline_spark.sources import deltalog as dl
    from global_seismic_data_pipeline_spark.sources.deltawh import (
        DeltaLogWarehouse,
    )
    from global_seismic_data_pipeline_spark.streaming.delta_source import (
        DeltaCdfTailConsumer,
    )

    src = DeltaLogWarehouse(spark, str(tmp_path / "src"))
    ctl = DeltaLogWarehouse(spark, str(tmp_path / "ctl"))
    src.overwrite(
        spark.createDataFrame([(1, "a"), (2, "b")], "k int, s string"), "t"
    )
    dl.commit_set_properties(
        src.path("t"), {"delta.enableChangeDataFeed": "true"}
    )
    v_cdf = dl.snapshot_state(src.path("t"))["version"]
    src.merge(
        spark.createDataFrame([(2, "B"), (3, "c")], "k int, s string"),
        "t", ["k"],
    )
    consumer = DeltaCdfTailConsumer(ctl, src.path("t"))
    # fast-forward past the pre-CDF creation commit (its rewrite has
    # no change files by definition)
    consumer._advance(v_cdf)

    seen: list[set] = []

    def fn(df):
        seen.append({
            (r.k, r.s, r._change_type, r._commit_version)
            for r in df.collect()
        })

    n = consumer.process_available(fn)
    assert n == 1
    merge_v = v_cdf + 1
    assert seen[-1] == {
        (2, "b", "update_preimage", merge_v),
        (2, "B", "update_postimage", merge_v),
        (3, "c", "insert", merge_v),
    }
    # caught up: no-op, fn not called
    assert consumer.process_available(fn) == 0 and len(seen) == 1

    # crash-replay: fn raises -> cursor NOT advanced -> same slice again
    src.delete_with_dv("t", "k = 1")

    def boom(df):
        raise RuntimeError("crash before cursor advance")

    with pytest.raises(RuntimeError):
        consumer.process_available(boom)
    assert consumer.process_available(fn) == 1
    assert seen[-1] == {(1, "a", "delete", merge_v + 1)}
    # the cursor is namespaced away from an append tail's
    assert consumer.name.endswith("#cdf")


def test_delta_cdf_tail_consumer_skips_housekeeping(spark, tmp_path):
    """A metadata-only commit on the source advances the cursor WITHOUT
    invoking fn (no no-op downstream job per property flip)."""
    from global_seismic_data_pipeline_spark.sources import deltalog as dl
    from global_seismic_data_pipeline_spark.sources.deltawh import (
        DeltaLogWarehouse,
    )
    from global_seismic_data_pipeline_spark.streaming.delta_source import (
        DeltaCdfTailConsumer,
    )

    src = DeltaLogWarehouse(spark, str(tmp_path / "src"))
    ctl = DeltaLogWarehouse(spark, str(tmp_path / "ctl"))
    src.overwrite(spark.createDataFrame([(1,)], "k int"), "t")
    dl.commit_set_properties(
        src.path("t"), {"delta.enableChangeDataFeed": "true"}
    )
    consumer = DeltaCdfTailConsumer(ctl, src.path("t"))
    consumer._advance(dl.snapshot_state(src.path("t"))["version"])
    dl.commit_set_properties(src.path("t"), {"custom.note": "x"})
    calls = []
    n = consumer.process_available(lambda df: calls.append(1))
    assert n == 1 and calls == []  # consumed, fn never invoked
    # and the cursor really moved
    assert consumer.process_available(lambda df: calls.append(1)) == 0


def test_dynamic_overwrite_sink_replaces_partitions(spark, tmp_path):
    """Streaming partition reprocessing: each micro-batch replaces
    exactly the partitions it carries — untouched partitions survive,
    a later batch for the same partition wins, and a checkpoint
    restart with nothing new changes nothing (idempotent replay by
    construction)."""
    from global_seismic_data_pipeline_spark.session import tiny_df

    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.overwrite(
        spark.createDataFrame(
            [(1, "d1"), (2, "d1"), (3, "d2")], "k int, day string"
        ),
        "agg", ["day"],
    )
    src = str(tmp_path / "src")
    # two appended files → up to two micro-batches
    # (max_files_per_trigger=1), both reprocessing day d2
    tiny_df(spark, [(30, "d2"), (31, "d2")], "k int, day string") \
        .write.mode("append").parquet(src)
    tiny_df(spark, [(40, "d2")], "k int, day string") \
        .write.mode("append").parquet(src)
    stream = facade.read_stream(
        spark, src, "k int, day string", max_files_per_trigger=1,
    )
    facade.run_available_now(
        facade.dynamic_overwrite_sink(
            stream, wh, "agg", checkpoint_dir=str(tmp_path / "ckpt"),
        )
    )
    got = {(r.k, r.day) for r in wh.read("agg").collect()}
    # d1 untouched; d2 = whichever file's batch ran LAST. File order in
    # availableNow is by modification time, f1 then f2 → f2 wins.
    assert {(1, "d1"), (2, "d1")} <= got
    assert got - {(1, "d1"), (2, "d1")} in (
        {(40, "d2")},                     # two batches, f2 last
        {(30, "d2"), (31, "d2"), (40, "d2")},  # one combined batch
    ) or got - {(1, "d1"), (2, "d1")} == {(30, "d2"), (31, "d2")}
    # restart from checkpoint: no new files → unchanged
    before = got
    stream2 = facade.read_stream(spark, src, "k int, day string")
    facade.run_available_now(
        facade.dynamic_overwrite_sink(
            stream2, wh, "agg", checkpoint_dir=str(tmp_path / "ckpt"),
        )
    )
    assert {(r.k, r.day) for r in wh.read("agg").collect()} == before
    # an UNPARTITIONED target refuses loudly (whole-table wipe hazard)
    wh.overwrite(
        spark.createDataFrame([(1, "x")], "k int, day string"), "flat"
    )
    stream3 = facade.read_stream(spark, src, "k int, day string")
    with pytest.raises(Exception, match="unpartitioned"):
        facade.run_available_now(
            facade.dynamic_overwrite_sink(
                stream3, wh, "flat",
                checkpoint_dir=str(tmp_path / "ckpt3"),
            )
        )
    # first contact without partition_by refuses too
    stream4 = facade.read_stream(spark, src, "k int, day string")
    with pytest.raises(Exception, match="partition_by"):
        facade.run_available_now(
            facade.dynamic_overwrite_sink(
                stream4, wh, "brand_new",
                checkpoint_dir=str(tmp_path / "ckpt4"),
            )
        )
