"""Structured Streaming façade — the idiomatic-Spark form of the
reference's batch-CDC semantics (SURVEY.md §2.10).

The reference hand-rolls incrementality: a persisted watermark, a ``>``
predicate, dedup-on-rewrite, MERGE upsert (02_ingestion.py / 04_silver_
transformation.py). Structured Streaming expresses the same contract
natively:

- file source ``readStream`` discovers new files exactly-once (the
  checkpoint is the watermark table),
- ``withWatermark`` + ``dropDuplicates`` is the dedup pass (W1),
- ``withWatermark`` + 1-day tumbling window is gold_temporal_metrics' daily
  grain (A3) with late-data handling the batch form lacks,
- ``foreachBatch`` + warehouse MERGE is the silver upsert (S5).

Tests drive these with ``trigger(availableNow=True)`` so they are hermetic
batch-equivalent runs; on a cluster the same code runs continuously.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.types import StructType

from ..session import materialized_scope, tiny_df
from ..sources.warehouse import Warehouse


def read_stream(
    spark: SparkSession,
    path: str,
    schema: StructType,
    *,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over a directory new batches land in."""
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def deduped(
    stream: DataFrame,
    *,
    key: str = "event_id",
    time_col: str = "time",
    late_threshold: str = "1 day",
) -> DataFrame:
    """Streaming W1: watermark-bounded exactly-one-row-per-key.

    ``dropDuplicatesWithinWatermark`` (not plain ``dropDuplicates([key])``):
    with a key-only subset, plain dropDuplicates keeps every key's state
    FOREVER (the watermark only evicts state when the event-time column is
    part of the dedup keys) — unbounded state on an unbounded stream. The
    WithinWatermark variant evicts each key once the watermark passes its
    first-seen event time, which is exactly the reference's dedup contract
    (duplicates arrive within the lateness bound; ref 03:99-109)."""
    return stream.withWatermark(
        time_col, late_threshold
    ).dropDuplicatesWithinWatermark([key])


def tumbling_daily(
    stream: DataFrame,
    *,
    time_col: str = "time",
    mag_col: str = "mag",
    late_threshold: str = "1 day",
) -> DataFrame:
    """Streaming A3: the daily-grain gold aggregate as a 1-day tumbling
    window with late-data tolerance."""
    return (
        stream.withWatermark(time_col, late_threshold)
        .groupBy(F.window(time_col, "1 day").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("total_events"),
            F.round(F.avg(mag_col), 3).alias("avg_magnitude"),
            F.round(F.max(mag_col), 2).alias("max_magnitude"),
        )
        .select(
            F.col("w.start").cast("date").alias("event_date"),
            "total_events",
            "avg_magnitude",
            "max_magnitude",
        )
    )


def sliding_weekly(
    stream: DataFrame,
    *,
    time_col: str = "time",
    late_threshold: str = "1 day",
) -> DataFrame:
    """Streaming W3 analogue: 7-day window sliding daily — the continuous
    form of the rolling_7d_count column."""
    return (
        stream.withWatermark(time_col, late_threshold)
        .groupBy(F.window(time_col, "7 days", "1 day").alias("w"))
        .agg(F.count(F.lit(1)).alias("rolling_7d_count"))
        .select(
            F.col("w.end").cast("date").alias("as_of_date"),
            "rolling_7d_count",
        )
    )


def windowed_hll_registers(
    stream: DataFrame,
    *,
    key_col: str = "event_id",
    time_col: str = "time",
    window: str = "1 day",
    late_threshold: str = "1 day",
    p: int = 12,
) -> DataFrame:
    """Streaming approximate-distinct: per-window portable-HLL registers.

    The register table (window_start, window_end, bucket, m_j) is the
    streamable form of ``operators/sketch.py``: ``max(rho)`` is an
    order-insensitive, incrementally-mergeable aggregate, so each
    micro-batch folds into window state exactly like HLL union, the state
    per window is bounded by 2^p rows regardless of stream volume, and the
    watermark evicts closed windows. Estimation (``sketch.hll_estimate`` on
    the sink table, grouped by the window bounds) happens on read — a
    chained second stateful aggregate would be a multi-stateful-operator
    pipeline, and the registers themselves are the right thing to store
    anyway (they keep merging across windows, days, or tables).

    Determinism: registers are exact integers (sketch.py docstring), so the
    streaming result equals the batch ``hll_registers`` on the same rows
    bit-for-bit — asserted in tests."""
    from ..operators.sketch import hll_registers

    windowed = stream.withWatermark(time_col, late_threshold).select(
        F.window(time_col, window).alias("w"), F.col(key_col)
    )
    regs = hll_registers(windowed, key_col, ["w"], p=p)
    return regs.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        "bucket",
        "m_j",
    )


def windowed_cms_counters(
    stream: DataFrame,
    *,
    key_col: str = "event_id",
    time_col: str = "time",
    window: str = "1 day",
    late_threshold: str = "1 day",
    w_log2: int = 10,
    d: int = 4,
    salt: str = "cms",
) -> DataFrame:
    """Streaming heavy-hitter sketch: per-window Count-Min counters.

    The counter table is the streamable form of ``operators/sketch.py
    cms_counters`` — ``count`` is sum-mergeable, so each micro-batch folds
    into window state exactly like CMS merge, state per window is bounded
    by d·w rows regardless of stream volume, and the watermark evicts
    closed windows. Same design as ``windowed_hll_registers``: store the
    counters (they keep merging across windows/days/tables), probe with
    ``sketch.cms_estimate`` on read. Streamed counters equal the batch
    sketch on the same rows bit-for-bit — asserted in tests."""
    from ..operators.sketch import cms_counters

    windowed = stream.withWatermark(time_col, late_threshold).select(
        F.window(time_col, window).alias("w"), F.col(key_col)
    )
    out = cms_counters(windowed, key_col, ["w"], w_log2=w_log2, d=d, salt=salt)
    return out.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        "row",
        "pos",
        "cnt",
    )


def windowed_quantile_histogram(
    stream: DataFrame,
    *,
    value_col: str,
    time_col: str = "time",
    window: str = "1 day",
    late_threshold: str = "1 day",
    k: int = 5,
) -> DataFrame:
    """Streaming quantiles: per-window mergeable quantile histograms —
    the third sketch of the streaming family (distincts =
    :func:`windowed_hll_registers`, heavy hitters =
    :func:`windowed_cms_counters`, quantiles = this).

    The histogram counts of ``operators/sketch.quantile_histogram`` are
    sum-mergeable on (window, qbucket), so each micro-batch folds into
    window state like any windowed count; state per window is bounded by
    the bucket count (exact-integer OR-smear bucketing — no libm, no
    float state), and the watermark evicts closed windows. Store the
    histograms, answer any quantile on read with the cumulative walk
    (``sketch.approx_quantiles``'s estimator over the stored counts).
    Streamed histograms equal the batch sketch bit-for-bit — asserted in
    tests."""
    from ..operators.sketch import quantile_histogram

    windowed = stream.withWatermark(time_col, late_threshold).select(
        F.window(time_col, window).alias("w"), F.col(value_col)
    )
    out = quantile_histogram(windowed, value_col, ["w"], k=k)
    return out.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        "qbucket",
        "cnt",
        "rep",
    )


def enriched_bands(
    stream: DataFrame,
    bands: DataFrame,
    *,
    value_col: str = "mag",
    carry_cols: tuple[str, ...] = ("risk_level",),
) -> DataFrame:
    """Streaming J5: stream-static broadcast band classification.

    A stream-static left join is STATELESS — each micro-batch joins the
    broadcast dimension map-side, no watermark and no state store — so the
    batch ``band_join`` operator applies to a streaming DataFrame as-is
    (disjoint bands ⇒ at most one match per row, row count preserved).
    The static side is re-resolved per micro-batch, so a dimension table
    updated in place is picked up without restarting the query."""
    from ..operators.bands import band_join

    return band_join(stream, bands, value_col=value_col, carry_cols=list(carry_cols))


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    *,
    on: tuple[str, ...],
    left_time: str,
    right_time: str,
    lower: str,
    upper: str,
    late_threshold: str = "1 day",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream event correlation: right events in the interval
    ``(left_time + lower, left_time + upper]`` of a left event, equi-keyed
    on ``on`` — the continuous form of the batch range join
    (operators/rangejoin.py) and the canonical stateful two-stream shape.

    Both inputs are watermarked and the join carries an event-time range
    condition; together these BOUND THE STATE STORE — Spark buffers each
    side only until the other side's watermark passes the end of its join
    window, then evicts. A stream-stream join without the time bound
    accumulates state forever (the documented anti-pattern this wrapper
    exists to prevent). ``how='left_outer'`` is supported (outer results
    emit once the watermark closes the window; inner results emit as
    matches arrive).

    The result carries BOTH sides' columns — select through the ``l``/``r``
    aliases (``F.col("l.event_id")``), since the sides usually share names.
    """
    half_open = (
        f"r.{right_time} > l.{left_time} + INTERVAL {lower} AND "
        f"r.{right_time} <= l.{left_time} + INTERVAL {upper}"
    )
    keys = " AND ".join([f"l.{k} = r.{k}" for k in on])
    cond = f"{keys} AND {half_open}" if keys else half_open
    return (
        left.withWatermark(left_time, late_threshold)
        .alias("l")
        .join(
            right.withWatermark(right_time, late_threshold).alias("r"),
            F.expr(cond),
            how,
        )
    )


def upsert_sink(
    stream: DataFrame,
    wh: Warehouse,
    table: str,
    keys: list[str],
    *,
    checkpoint_dir: str,
    version_col: str | None = None,
) -> DataStreamWriter:
    """Streaming S5: MERGE each micro-batch into a warehouse table via
    foreachBatch — the streaming form of the silver upsert.

    ``version_col`` (e.g. ``ingestion_ts``) makes batch-local dedup
    deterministic: when one micro-batch carries several versions of a key
    (availableNow routinely batches many files), the greatest version wins
    — matching the batch pipeline's keep-latest semantics. Without it,
    ``dropDuplicates`` keeps an arbitrary version (documented hazard)."""
    from ..operators import dedup as dedup_ops

    def merge_batch(batch_df: DataFrame, _batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if version_col is not None:
            unique = dedup_ops.keep_latest(batch_df, keys, version_col)
        else:
            unique = batch_df.dropDuplicates(keys)
        wh.merge(unique, table, keys)

    return (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )


def dynamic_overwrite_sink(
    stream: DataFrame,
    wh: Warehouse,
    table: str,
    *,
    checkpoint_dir: str,
    partition_by: list[str] | None = None,
) -> DataStreamWriter:
    """Streaming partition REPROCESSING: each micro-batch replaces
    exactly the partitions it carries (``Warehouse.overwrite_dynamic``)
    — the streaming form of the daily recompute that lands corrected
    per-day/per-region results. Untouched partitions never rewrite; a
    late re-emission of a partition simply replaces it again.

    Replay safety comes FREE here: a redelivered batch re-replaces the
    same partitions with the same rows — idempotent by construction,
    no epoch log needed (unlike the append-shaped sinks). The
    warehouse re-binds to each batch's session, PRESERVING the
    caller's backend class (the dedup/ANN sinks bind the base class
    deliberately — their stores are plain bucketed parquet, which the
    Delta backend refuses). ``partition_by`` lays out the table on
    first contact; afterwards the table's own partitioning governs.

    An UNPARTITIONED target refuses loudly: ``overwrite_dynamic``'s
    degenerate path would replace the whole table on EVERY micro-batch
    (last batch silently wins) — the opposite of this sink's contract.
    The partitioning check runs once, not per batch (on Iceberg,
    ``exists`` walks manifests)."""

    state = {"ready": False}

    def replace_batch(batch_df: DataFrame, _batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        bwh = type(wh)(batch_df.sparkSession, wh.root)
        if not state["ready"]:
            if not bwh.exists(table):
                if not partition_by:
                    raise ValueError(
                        "dynamic_overwrite_sink: pass partition_by for "
                        "first contact — an unpartitioned table would "
                        "degrade every micro-batch to a full overwrite "
                        "(last batch wins)"
                    )
                bwh.overwrite(batch_df, table, partition_by)
                state["ready"] = True
                return
            if not bwh.partition_columns(table):
                raise ValueError(
                    f"dynamic_overwrite_sink target {table!r} is "
                    "unpartitioned — every micro-batch would replace "
                    "the WHOLE table (last batch wins); partition the "
                    "table or use upsert_sink"
                )
            state["ready"] = True
        bwh.overwrite_dynamic(batch_df, table)

    return (
        stream.writeStream.foreachBatch(replace_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )


def incremental_dedup_sink(
    stream: DataFrame,
    wh: Warehouse,
    *,
    checkpoint_dir: str,
    name: str = "minhash_index",
    text_col: str = "text",
    threshold: float = 0.5,
    maintain_clusters: bool = False,
) -> DataStreamWriter:
    """Streaming near-dup dedup: each micro-batch of documents probes the
    persisted MinHash-LSH signature store
    (operators/neardup_incremental.py), emits its duplicate pairs, and
    appends its own signatures — the continuous form of the daily
    incremental dedup (build the index once with
    ``build_minhash_index``, possibly on an empty corpus, then stream).

    Per-batch pairs accumulate in ``{name}_pairs_log`` with the micro-
    batch id; because a pair is emitted exactly when its LATER document
    arrives, the log after draining equals the one-shot batch operator's
    pairs over the full corpus (pinned in ``test_streaming.py``).
    foreachBatch runs micro-batches sequentially, so probe-then-append
    per batch is race-free; the store is only ever appended, never
    rewritten.

    ``maintain_clusters=True`` additionally keeps ``{name}_clusters``
    — the (id, component) table — current after every batch, via
    :func:`..operators.cluster.incremental_components`: settled
    components contract to super-nodes, only the batch's new pairs are
    traversed. After draining, the table equals a from-scratch CC over
    the full pair log (tested).

    **Replay idempotency**: Structured Streaming REDELIVERS a batch_id
    after a restart that crashed between the sink completing and the
    checkpoint commit. The sink keeps a ``{name}_epochs`` commit log,
    appended as the LAST step of each batch:

    - a replayed batch whose id is in the log is skipped outright — the
      store, pair log, and cluster table are bit-identical to a single
      delivery (tested);
    - a TORN replay (crash mid-batch, after some appends, before the
      epoch commit) is detected because the batch's doc ids are already
      in the signature store (new ids are disjoint from stored ids by
      the CDC contract, so presence ⟹ partial earlier attempt). The
      scrub path rebuilds the store without those ids and drops the
      batch's pair-log rows, then reprocesses from clean state — a
      full-store rewrite, but only on the rare torn path, never per
      batch."""
    dedup_batch = make_dedup_batch_fn(
        wh, name=name, text_col=text_col, threshold=threshold,
        maintain_clusters=maintain_clusters,
    )

    return (
        stream.writeStream.foreachBatch(dedup_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )


def make_dedup_batch_fn(
    wh: Warehouse,
    *,
    name: str = "minhash_index",
    text_col: str = "text",
    threshold: float = 0.5,
    maintain_clusters: bool = False,
):
    """The foreachBatch callable behind :func:`incremental_dedup_sink`,
    exposed so replay semantics are testable deterministically: calling
    it twice with the same ``batch_id`` is exactly what Structured
    Streaming does on post-crash redelivery."""
    from pyspark.sql import functions as F

    from ..operators import cluster as cluster_ops
    from ..operators.neardup_incremental import (
        incremental_minhash_pairs,
        scrub_batch_ids,
    )

    def dedup_batch(batch_df: DataFrame, batch_id: int) -> None:
        # one scope per batch: the frames a batch materializes (the new
        # index rows and bands) are released on exit, so a long-running
        # stream pins nothing across micro-batches
        with materialized_scope():
            if batch_df.isEmpty():
                return
            # foreachBatch hands a DataFrame of a CLONED session; resolving
            # the store tables through the outer session would mix sessions
            # and read a stale relation cache (the clone's appends don't
            # invalidate the outer session's cached file listing — batch N+1
            # would probe the store as it looked before batch 1). Bind a
            # per-batch warehouse to the batch's own session: every probe
            # resolves fresh.
            bwh = Warehouse(batch_df.sparkSession, wh.root)
            epochs = f"{name}_epochs"
            if bwh.exists(epochs) and (
                bwh.read(epochs)
                .filter(F.col("batch_id") == batch_id)
                .limit(1)
                .count()
            ):
                return  # committed batch redelivered — exact skip
            # torn-replay scrub: any batch id already in the store means a
            # prior attempt appended before crashing short of the epoch commit
            scrub_batch_ids(bwh, batch_df, name=name)
            log_tbl = f"{name}_pairs_log"
            if bwh.exists(log_tbl):
                stale = (
                    bwh.read(log_tbl)
                    .filter(F.col("batch_id") == batch_id)
                    .limit(1)
                    .count()
                )
                if stale:
                    bwh.overwrite(
                        bwh.read(log_tbl).filter(
                            F.col("batch_id") != batch_id
                        ),
                        log_tbl,
                    )
            pairs = incremental_minhash_pairs(
                bwh, batch_df, text_col=text_col, threshold=threshold,
                name=name, append=True,
            )
            bwh.append(
                pairs.withColumn("batch_id", F.lit(batch_id)),
                log_tbl,
            )
            if maintain_clusters:
                edges = pairs.select("id_a", "id_b")
                # no new pairs -> the cluster table is already current
                if edges.limit(1).count():
                    ctable = f"{name}_clusters"
                    if bwh.exists(ctable):
                        prev = bwh.read(ctable)
                        comp = cluster_ops.incremental_components(prev, edges)
                    else:
                        comp = cluster_ops.connected_components(edges)
                    bwh.overwrite(
                        comp.select(
                            F.col("id"), F.col("comp").alias("component")
                        ),
                        ctable,
                    )
            # commit the epoch LAST: everything above is now replay-safe —
            # a crash before this append leaves a torn batch that the scrub
            # path cleans on redelivery
            bwh.append(
                tiny_df(
                    batch_df.sparkSession, [(int(batch_id),)],
                    "batch_id long",
                ),
                epochs,
            )

    return dedup_batch


def incremental_ann_sink(
    stream: DataFrame,
    wh: Warehouse,
    *,
    checkpoint_dir: str,
    name: str = "ivf_index",
) -> DataStreamWriter:
    """Streaming vector ingestion into the persisted IVF index — the
    embedding-store twin of :func:`incremental_dedup_sink`: each
    micro-batch is assigned with the FROZEN stored codebook
    (:func:`..operators.ann_index.append_to_ivf_index`) and
    bucketed-appended; the stored corpus is never re-read or re-assigned,
    and append ≡ rebuild under the frozen codebook (the invariant the
    batch operator pins against its oracle). Build the index first with
    ``build_ivf_index`` (possibly on an empty/base corpus), then stream.

    Same replay contract as the dedup sink: an ``{name}_epochs`` commit
    log is appended as the LAST step per batch, so a redelivered
    committed batch_id skips exactly, and a TORN replay (ids already in
    the lists, no epoch row) scrubs the partial append before
    reprocessing (:func:`..operators.ann_index.scrub_ids`)."""
    fn = make_ann_batch_fn(wh, name=name)
    return (
        stream.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )


def make_ann_batch_fn(wh: Warehouse, *, name: str = "ivf_index"):
    """The foreachBatch callable behind :func:`incremental_ann_sink`,
    exposed so replay semantics are testable deterministically."""
    from ..operators import ann_index

    def ann_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # per-batch warehouse bound to the micro-batch's cloned session
        # (same stale-relation-cache hazard as the dedup sink)
        bwh = Warehouse(batch_df.sparkSession, wh.root)
        epochs = f"{name}_epochs"
        if bwh.exists(epochs) and (
            bwh.read(epochs)
            .filter(F.col("batch_id") == batch_id)
            .limit(1)
            .count()
        ):
            return  # committed batch redelivered — exact skip
        ann_index.scrub_ids(bwh, batch_df, name=name)  # torn-replay repair
        ann_index.append_to_ivf_index(bwh, batch_df, name=name)
        bwh.append(
            tiny_df(
                batch_df.sparkSession, [(int(batch_id),)],
                "batch_id long",
            ),
            epochs,
        )

    return ann_batch


def run_available_now(writer: DataStreamWriter) -> None:
    """Drain everything currently available, then stop (hermetic test
    trigger; on a cluster use processingTime/continuous triggers)."""
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()


def to_memory_table(stream: DataFrame, name: str, *, complete: bool) -> None:
    """Run a streaming aggregate to a memory sink with availableNow."""
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete" if complete else "append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def materialized_view_sink(
    stream: DataFrame,
    wh,
    table: str,
    keys: list[str],
    views: list[str],
    *,
    checkpoint_dir: str,
    version_col: str | None = None,
) -> DataStreamWriter:
    """Streaming MERGE + continuous incremental view maintenance: each
    micro-batch (a) MERGEs into a Delta warehouse table — one commit
    per batch — then (b) rolls every listed ``operators.ivm`` aggregate
    view forward through the change data feed of exactly that commit.
    The streaming form of Delta Live Tables' incremental aggregates:
    downstream rollups stay current within a batch of the source, at
    O(batch) cost, with no gold-layer rescan.

    Replay discipline: the MERGE is idempotent by key (redelivered rows
    upsert to the same state), and ``refresh_agg_view`` derives from its
    meta-recorded pre-state snapshot and applies feed commits AFTER its
    high-water mark only — a redelivered batch whose MERGE was a no-op
    produces an empty feed delta, and a crash between view write and
    meta write replays to the identical result (operators/ivm.py crash
    discipline). Per-batch state resolves through ``batch_df
    .sparkSession`` (foreachBatch hands a CLONED session — module rule)."""
    from ..operators import dedup as dedup_ops
    from ..operators import ivm
    from ..sources.deltawh import DeltaLogWarehouse

    if not isinstance(wh, DeltaLogWarehouse):
        raise ValueError(
            "materialized_view_sink needs a DeltaLogWarehouse — the "
            "view refresh consumes the Delta log's change data feed"
        )

    def batch_fn(batch_df: DataFrame, _batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        bwh = DeltaLogWarehouse(batch_df.sparkSession, wh.root)
        if version_col is not None:
            unique = dedup_ops.keep_latest(batch_df, keys, version_col)
        else:
            unique = batch_df.dropDuplicates(keys)
        bwh.merge(unique, table, keys)
        for view in views:
            ivm.refresh_agg_view(bwh, view)

    return (
        stream.writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
