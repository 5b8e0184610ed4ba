"""Scalable global ranking: range-partitioned two-pass rank/dense_rank.

``Window.orderBy(...)`` with no partition key moves EVERY row into one
task (Spark's own WindowExec warning) — fine at the reference's
post-aggregation grain (25 nations, ref: 05_gold_aggregation.py:179),
fatal on a raw 100 TB fact. This operator is the scale form, mirroring
what ``operators/rolling.py`` does for the rolling frames:

1. ``repartitionByRange`` on the order keys — one shuffle; partition i
   holds only keys ordered before partition i+1's, and a given key value
   never straddles partitions (the range partitioner assigns by key).
2. JVM sort within each partition (Tungsten, spillable).
3. One tiny per-partition aggregate — (rows, distinct keys) per
   partition id — collected to the driver (num_partitions rows,
   control-plane) and turned into cumulative offsets.
4. A single Arrow-batched ``mapInPandas`` pass adds the partition's
   offset to a vectorized within-partition running rank. Python is
   justified here: the within-partition pass is inherently sequential
   (each row's rank depends on its predecessor), which a window without
   a partition key can only express single-task.

Total cost: one full shuffle + one pass — the same as the degenerate
global window pays, but parallel across ``num_partitions`` tasks.

Semantics match ``F.dense_rank()`` / ``F.rank()`` over
``Window.orderBy(order_cols)`` exactly (equivalence is pinned in
``tests/test_ranking.py``). Order keys must be non-null (null ordering
is engine-specific; filter or coalesce first).

Skew: ``dense_rank`` is HOT-KEY-PROOF — it ranks the DISTINCT keys
(each key value becomes ONE row before the range partition, so a 90%-
one-key distribution ranks as evenly as a uniform one) and joins the
key→rank map back; the join-back is an ordinary equi-join that AQE's
skew handling / broadcast covers. ``rank`` is inherently exposed: equal
rows must share a rank yet occupy distinct row positions, so every
duplicate row of the hot key genuinely participates — the range
partitioner then carries the skew (documented limitation; use
dense_rank when tie positions don't matter).
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.storagelevel import StorageLevel

from ..session import materialize

_PID = "__rank_pid"


def ranked(
    df: DataFrame,
    order_cols: Sequence[str],
    *,
    method: str = "dense_rank",
    out_col: str = "rank",
    ascending: bool = True,
    num_partitions: int | None = None,
) -> DataFrame:
    """``df`` + ``out_col`` = global ``dense_rank`` or ``rank`` over
    ``order_cols``, computed without a single-partition window.

    ``dense_rank`` routes through the distinct-first shape (rank the
    distinct keys, join the key→rank map back) — hot-key-proof, see
    module docstring. ``rank`` runs the range-partitioned two-pass over
    the full rows (row positions need every duplicate)."""
    if method not in ("dense_rank", "rank"):
        raise ValueError(f"method must be 'dense_rank' or 'rank', not {method!r}")
    order_cols = list(order_cols)
    if method == "dense_rank":
        # distinct collapses each key to one row: the range partitioner
        # sees a uniform key set regardless of row-level skew, and rank ≡
        # dense_rank on unique keys. The map-side-combined distinct plus
        # the join-back replace the full-row range shuffle.
        keys = df.select(*order_cols).distinct()
        key_ranks = _range_ranked(
            keys,
            order_cols,
            method="rank",
            out_col=out_col,
            ascending=ascending,
            num_partitions=num_partitions,
        )
        # Join back NULL-SAFE (<=> is still an equi-join key, so this
        # stays a hash/sort-merge join): a plain inner equi-join would
        # silently DROP rows whose order key is NULL, whereas a window
        # dense_rank ranks them (NULLS FIRST asc / LAST desc — exactly
        # where the range pass placed them).
        for c in order_cols:
            key_ranks = key_ranks.withColumnRenamed(c, f"__kr_{c}")
        cond = reduce(
            lambda a, b: a & b,
            [df[c].eqNullSafe(key_ranks[f"__kr_{c}"]) for c in order_cols],
        )
        return df.join(key_ranks, cond, "inner").select(
            *[df[c] for c in df.columns], key_ranks[out_col]
        )
    return _range_ranked(
        df,
        order_cols,
        method=method,
        out_col=out_col,
        ascending=ascending,
        num_partitions=num_partitions,
    )


def _range_ranked(
    df: DataFrame,
    order_cols: list[str],
    *,
    method: str,
    out_col: str,
    ascending: bool,
    num_partitions: int | None,
) -> DataFrame:
    """Range-partitioned two-pass rank (steps 1-4 of the module
    docstring) over ``df`` as-is."""
    sort_exprs = [
        F.col(c).asc() if ascending else F.col(c).desc() for c in order_cols
    ]
    spark = df.sparkSession
    n_parts = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))

    # pin: the stats job and the rank pass must see the SAME range
    # boundaries (the partitioner samples; two independent executions could
    # split differently and corrupt the offsets), so the partitioning stays
    # materialized while the ranked output is alive — until the caller's
    # materialized_scope closes
    part = materialize(
        df.repartitionByRange(n_parts, *sort_exprs).sortWithinPartitions(*sort_exprs),
        StorageLevel.MEMORY_AND_DISK_DESER,
    )
    try:
        stats = (
            part.select(F.spark_partition_id().alias(_PID), *order_cols)
            .groupBy(_PID)
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.countDistinct(*order_cols).alias("n_keys"),
            )
            .collect()
        )
        by_pid = {int(r[_PID]): (int(r["n_rows"]), int(r["n_keys"])) for r in stats}
        rank_off: dict[int, int] = {}
        dense_off: dict[int, int] = {}
        rows_cum = keys_cum = 0
        for p in range(n_parts):
            rank_off[p], dense_off[p] = rows_cum, keys_cum
            n_rows, n_keys = by_pid.get(p, (0, 0))
            rows_cum += n_rows
            keys_cum += n_keys
        offsets = rank_off if method == "rank" else dense_off
        use_rank = method == "rank"

        # fresh StructType — StructType.add MUTATES the receiver, and
        # df.schema hands back the DataFrame's own object: a second
        # ranked() call on the same df would see a corrupted schema
        out_schema = T.StructType(
            list(df.schema.fields) + [T.StructField(out_col, T.LongType())]
        )
        key_cols = list(order_cols)

        def rank_pass(batches):
            from pyspark import TaskContext

            off = offsets[TaskContext.get().partitionId()]
            last_key: tuple | None = None
            cur_rank = 0  # rank of last_key (method-dependent)
            rows_seen = 0
            for pdf in batches:
                n = len(pdf)
                if n == 0:
                    continue
                keys = pdf[key_cols]
                prev = keys.shift()
                new = (keys.ne(prev)).any(axis=1).to_numpy()
                first_key = tuple(keys.iloc[0])
                new[0] = last_key is None or first_key != last_key
                if use_rank:
                    pos = rows_seen + np.arange(n, dtype=np.int64)
                    vals = np.where(new, pos + 1, 0)
                    vals = np.maximum.accumulate(vals)  # carry rank forward
                    if not new[0]:
                        vals = np.maximum(vals, cur_rank)
                else:
                    vals = np.cumsum(new.astype(np.int64)) + cur_rank
                out = pdf.copy()
                out[out_col] = vals + off
                last_key = tuple(keys.iloc[-1])
                cur_rank = int(vals[-1])
                rows_seen += n
                yield out

        return part.mapInPandas(rank_pass, schema=out_schema)
    except Exception:
        part.unpersist()
        raise


def prefix_sums(
    df: DataFrame,
    order_cols: Sequence[str],
    sum_cols: Sequence[str],
    *,
    ascending: bool = True,
    num_partitions: int | None = None,
    suffix: str = "_cum",
) -> DataFrame:
    """Scalable GLOBAL running totals: for each ``c`` in ``sum_cols``,
    add ``c{suffix}`` = sum of ``c`` over all rows ordered at-or-before
    this row (``SUM(c) OVER (ORDER BY order_cols ROWS UNBOUNDED
    PRECEDING)`` semantics, ROW frame) — without the single-partition
    window. Same two-pass architecture as :func:`ranked`: range
    partition + sort, per-partition integer totals collected as offsets
    (control-plane), one Arrow cumsum pass adds them.

    ROW-frame semantics make tie handling ORDER-dependent — pass a
    tie-breaking key in ``order_cols`` (as you must for the equivalent
    window) or equal-key rows get an arbitrary-but-consistent internal
    order. Sum columns must be integral (int64 running sums are exact
    and associative; float running sums are order-fragile by nature —
    convert to exact cents first, the repo-wide discipline)."""
    order_cols, sum_cols = list(order_cols), list(sum_cols)
    for f in df.schema.fields:
        if f.name in sum_cols and not isinstance(
            f.dataType, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)
        ):
            raise ValueError(
                f"sum column {f.name!r} must be integral, got {f.dataType.simpleString()}"
            )
    spark = df.sparkSession
    n_parts = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    sort_exprs = [
        F.col(c).asc() if ascending else F.col(c).desc() for c in order_cols
    ]
    part = materialize(
        df.repartitionByRange(n_parts, *sort_exprs).sortWithinPartitions(*sort_exprs),
        StorageLevel.MEMORY_AND_DISK_DESER,
    )
    try:
        stats = (
            part.groupBy(F.spark_partition_id().alias(_PID))
            .agg(*[F.sum(c).alias(c) for c in sum_cols])
            .collect()
        )
        by_pid = {int(r[_PID]): [int(r[c] or 0) for c in sum_cols] for r in stats}
        offsets: dict[int, list[int]] = {}
        running = [0] * len(sum_cols)
        for p in range(n_parts):
            offsets[p] = list(running)
            totals = by_pid.get(p, [0] * len(sum_cols))
            running = [a + b for a, b in zip(running, totals)]

        out_schema = T.StructType(
            list(df.schema.fields)
            + [T.StructField(f"{c}{suffix}", T.LongType()) for c in sum_cols]
        )

        def cum_pass(batches):
            from pyspark import TaskContext

            carry = list(offsets[TaskContext.get().partitionId()])
            for pdf in batches:
                if not len(pdf):
                    continue
                out = pdf.copy()
                for k, c in enumerate(sum_cols):
                    vals = pdf[c].to_numpy(dtype=np.int64).cumsum() + carry[k]
                    out[f"{c}{suffix}"] = vals
                    carry[k] = int(vals[-1])
                yield out

        return part.mapInPandas(cum_pass, schema=out_schema)
    except Exception:
        part.unpersist()
        raise
