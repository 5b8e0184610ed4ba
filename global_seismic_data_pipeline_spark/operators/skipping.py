"""Data-skipping index: file-level min/max stats + pruned reads.

Delta/Iceberg keep per-file column min/max in the table log and skip
whole files whose range cannot match a predicate (the reference relies on
this via Delta + ZORDER, ref: TABLE OPTIMIZATION.py:33-36). Parquet
footers carry row-group stats too, but at 100 TB the planner still has to
LIST and OPEN every file to read footers — a stats TABLE (one tiny row
per file) moves skipping before any file is touched, which is the whole
point of the index. This module provides that layer over the plain-
parquet warehouse:

- :func:`collect_file_stats` — one scan → (file, n_rows, min/max per
  indexed column). Stored as ``{name}__stats`` beside the table.
- :func:`refresh_file_stats` — INCREMENTAL maintenance: only files not
  yet in the stored stats are scanned (bronze appends never rewrite old
  files, so their stats are immutable); stats of deleted files drop out.
- :func:`pruned_read` — prune the stats table by range-overlap, then
  read ONLY the surviving files. The exact predicate is re-applied to
  the surviving rows, so pruning can only skip work, never change
  results (pinned by the ``skipping_pruned_scan`` driver oracle).

Skipping pays off exactly when files are VALUE-CLUSTERED on the indexed
columns — ``repartitionByRange`` at write time or
``maintenance.compact(zorder_by=...)`` (operators/zorder.py) — otherwise
every file's [min, max] spans the domain and nothing prunes; the tests
demonstrate both regimes.

Scale notes: the stats table is #files rows (control-plane at any scale —
a 100 TB table with 128 MB files is ~800k rows); the pruned file list is
collected on the driver like any catalog file listing. Stats rows are
per-file independent, so incremental refresh parallelizes over new files
only.
"""

from __future__ import annotations

import os

from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.warehouse import Warehouse

STATS_SUFFIX = "__stats"


def _list_parquet_files(path: str) -> list[str]:
    out = []
    for root_, _dirs, files in os.walk(path):
        out += [
            os.path.join(root_, f) for f in files if f.endswith(".parquet")
        ]
    return sorted(out)


def _stats_agg(cols: Sequence[str]):
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        # n_nonnull matters because min/max skip nulls: a file whose
        # non-null values all sit in [lo, hi] still reads as "contained"
        # even when half its rows are NULL — those rows must NOT count
        # toward a range predicate (hybrid_range_count).
        aggs += [
            F.min(c).alias(f"min_{c}"),
            F.max(c).alias(f"max_{c}"),
            F.count(F.col(c)).alias(f"n_nonnull_{c}"),
        ]
    return aggs


def collect_file_stats(
    spark: SparkSession, files: Sequence[str], cols: Sequence[str]
) -> DataFrame:
    """(file, n_rows, min_<c>, max_<c>...) — one row per parquet file.

    One scan with a map-side-partial aggregate keyed on the (low-
    cardinality, scan-local) file name; the shuffle carries one row per
    file."""
    if not files:
        raise ValueError("no files to index")
    df = spark.read.parquet(*files)
    return (
        df.select(F.input_file_name().alias("file"), *cols)
        .groupBy("file")
        .agg(*_stats_agg(cols))
    )


def refresh_file_stats(
    warehouse: Warehouse, name: str, cols: Sequence[str]
) -> int:
    """Create or incrementally refresh ``{name}__stats``: scan ONLY files
    that appeared since the last refresh (append-only files never change,
    so their stats rows are reusable verbatim); drop rows of files that
    vanished (compaction/vacuum). Returns the number of files scanned."""
    spark = warehouse.spark
    stats_name = f"{name}{STATS_SUFFIX}"
    # normalize to the file:// URI scheme input_file_name() reports
    # ("file:///abs/path"), so set arithmetic between the disk listing and
    # stored stats lines up
    live = {"file://" + f for f in _list_parquet_files(warehouse.path(name))}
    if warehouse.exists(stats_name):
        old = warehouse.read(stats_name)
        known = {r["file"] for r in old.select("file").collect()}
    else:
        old, known = None, set()
    new_files = sorted(live - known)
    keep_old = old.filter(F.col("file").isin(list(live & known))) if old else None
    if new_files:
        fresh = collect_file_stats(
            spark, [f.removeprefix("file://") for f in new_files], list(cols)
        )
        # allowMissingColumns: a stats table written before a schema
        # addition (e.g. n_nonnull_<c>) evolves in place — old rows get
        # NULL for the new stat and consumers treat NULL conservatively
        merged = (
            keep_old.unionByName(fresh, allowMissingColumns=True)
            if keep_old is not None
            else fresh
        )
    else:
        merged = keep_old
    if merged is not None:
        warehouse.overwrite(merged, stats_name)
    return len(new_files)


def prune_files(
    stats: DataFrame, ranges: Mapping[str, tuple]
) -> list[str]:
    """Files whose [min, max] ranges can intersect every ``col: (lo, hi)``
    predicate (inclusive; pass None for an open bound). Files with null
    stats on a predicate column are kept — skipping must be conservative."""
    cond = F.lit(True)
    for c, (lo, hi) in ranges.items():
        mn, mx = F.col(f"min_{c}"), F.col(f"max_{c}")
        ok = F.lit(True)
        if lo is not None:
            ok = ok & (mx >= F.lit(lo))
        if hi is not None:
            ok = ok & (mn <= F.lit(hi))
        cond = cond & (ok | mn.isNull() | mx.isNull())
    return [r["file"] for r in stats.filter(cond).select("file").collect()]


def stats_only_agg(
    warehouse: Warehouse, name: str, cols: Sequence[str]
) -> DataFrame:
    """Answer ``SELECT count(*), min(c), max(c)...`` from the stats table
    ALONE — zero data files touched (Delta/Iceberg's metadata-only query
    path: a 100 TB table answers in #files-row time).

    Exactness rides the stats-freshness invariant: call
    :func:`refresh_file_stats` first (incremental — only new files scan).
    count = Σ per-file n_rows; global min/max = min/max of per-file
    min/max (both levels skip nulls, so all-null files drop out of min/max
    exactly as they would from a direct aggregate). These are the three
    aggregates file stats CAN answer exactly; anything value-dependent
    (sum/avg) still needs the data. The single-row result is
    driver-oracle-checked against the direct full-table aggregate in
    ``metadata_only_agg`` — a stale or wrong stats row hash-fails."""
    stats = warehouse.read(f"{name}{STATS_SUFFIX}")
    aggs = [F.sum("n_rows").cast("long").alias("n_rows")]
    for c in cols:
        aggs += [
            F.min(f"min_{c}").alias(f"min_{c}"),
            F.max(f"max_{c}").alias(f"max_{c}"),
        ]
    return stats.agg(*aggs)


def hybrid_range_count(
    spark: SparkSession,
    stats: DataFrame,
    col: str,
    lo,
    hi,
) -> DataFrame:
    """Exact ``count(*) WHERE lo <= col <= hi`` with the metadata fast
    path: files FULLY contained in [lo, hi] contribute their stats-table
    ``n_rows`` without being opened; only boundary files (ranges that
    straddle an endpoint) and null-stats files (conservative) are scanned,
    with the exact predicate applied. On a range-clustered layout the
    scan set is O(1) files regardless of table size — the manifest
    answers the interior. Single-row (n_rows bigint) result; the two
    contributions come from disjoint file sets by construction, so
    meta + scan is exact, not approximate.

    Null discipline: min/max skip nulls, so "contained" only says the
    NON-NULL values fit [lo, hi] — a contained file contributes its
    ``n_nonnull_<col>`` count (null rows never satisfy a range
    predicate). Stats rows written before n_nonnull existed carry NULL
    there and are routed to the scan set instead — conservative, never
    wrong."""
    mn, mx = F.col(f"min_{col}"), F.col(f"max_{col}")
    nn_name = f"n_nonnull_{col}"
    nn = (
        F.col(nn_name)
        if nn_name in stats.columns
        else F.lit(None).cast("long")
    )
    contained = (mn >= F.lit(lo)) & (mx <= F.lit(hi))
    overlap = (mx >= F.lit(lo)) & (mn <= F.lit(hi))
    meta_ok = mn.isNotNull() & mx.isNotNull() & contained & nn.isNotNull()
    meta_cnt = (
        stats.filter(meta_ok)
        .agg(F.coalesce(F.sum(nn), F.lit(0)).cast("long").alias("c"))
    )
    scan_files = [
        r["file"]
        for r in stats.filter(
            mn.isNull() | mx.isNull()
            | (overlap & ~contained)
            | (contained & nn.isNull())
        ).select("file").collect()
    ]
    if scan_files:
        scan_cnt = (
            spark.read.parquet(*[f.removeprefix("file://") for f in scan_files])
            .filter((F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi)))
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
        )
        both = meta_cnt.unionByName(scan_cnt)
    else:
        both = meta_cnt
    return both.agg(F.sum("c").cast("long").alias("n_rows"))


def pruned_read(
    spark: SparkSession,
    stats: DataFrame,
    ranges: Mapping[str, tuple],
) -> DataFrame:
    """Read only the files surviving :func:`prune_files`, with the exact
    range predicate re-applied (pruning is a superset guarantee — the
    residual filter also pushes into the parquet scan for row-group
    skipping inside the surviving files). When NO file survives, Spark
    can't express a zero-file parquet read — one sentinel file is read
    under an always-false filter to produce the empty, correctly-typed
    result."""
    files = prune_files(stats, ranges)
    all_files = [r["file"] for r in stats.select("file").collect()]
    if not all_files:
        raise ValueError("empty stats table")
    if files:
        df = spark.read.parquet(*[f.removeprefix("file://") for f in files])
        keep = F.lit(True)
    else:
        df = spark.read.parquet(all_files[0].removeprefix("file://"))
        keep = F.lit(False)
    for c, (lo, hi) in ranges.items():
        if lo is not None:
            keep = keep & (F.col(c) >= F.lit(lo))
        if hi is not None:
            keep = keep & (F.col(c) <= F.lit(hi))
    return df.filter(keep)


# -- Bloom file-skipping sidecar -------------------------------------------
#
# min/max skipping cannot prune POINT lookups on an unclustered high-
# cardinality key (every file's [min, max] spans the domain — the exact
# case the reference Z-orders bronze on (event_id, time) for, ref TABLE
# OPTIMIZATION.py:33-36, when clustering on that key isn't available).
# The bloom sidecar closes it: per file, a portable 32-bit-word Bloom
# bitmap over the key column (operators/bloom.py construction — md5 →
# two 60-bit halves → Kirsch-Mitzenmacher double hashing), stored as
# (file, word, bits, m_log2, k) rows. An equality probe hashes the value
# DRIVER-SIDE (same md5 arithmetic, pinned by a parity test), reads only
# the k probed words per file from the sidecar (word-pruned scan:
# O(k · #files) rows regardless of m), and skips every file whose bitmap
# proves the value absent. False positives read harmlessly (the exact
# predicate re-applies); absent sidecar rows keep the file —
# conservative, never wrong. Size m_log2 to the per-file distinct-key
# count (FP ≈ (1 − e^(−k·n/m))^k).

BLOOM_SUFFIX = "__bloom"


def _bloom_table(name: str, col: str) -> str:
    return f"{name}{BLOOM_SUFFIX}_{col}"


def refresh_file_blooms(
    warehouse: Warehouse,
    name: str,
    col: str,
    *,
    m_log2: int = 16,
    k: int = 4,
) -> int:
    """Create or incrementally refresh the per-file Bloom sidecar for
    ``col`` — same incremental discipline as :func:`refresh_file_stats`
    (only NEW files scan; vanished files' rows drop). Integer/string key
    columns only (the probe must reproduce Spark's cast-to-string
    exactly). Returns files scanned."""
    from . import bloom as _bloom

    _bloom._validate(m_log2, k)
    spark = warehouse.spark
    side_name = _bloom_table(name, col)
    live = {"file://" + f for f in _list_parquet_files(warehouse.path(name))}
    if warehouse.exists(side_name):
        old = warehouse.read(side_name)
        known = {r["file"] for r in old.select("file").distinct().collect()}
        stored = old.select("m_log2", "k").first()
        if (stored["m_log2"], stored["k"]) != (m_log2, k):
            raise ValueError(
                f"{side_name}: stored bitmap has (m_log2={stored['m_log2']}, "
                f"k={stored['k']}) != requested ({m_log2}, {k}) — rebuild "
                "the sidecar, bitmaps of different geometry cannot merge"
            )
    else:
        old, known = None, set()
    new_files = sorted(live - known)
    keep_old = (
        old.filter(F.col("file").isin(list(live & known))) if old is not None else None
    )
    if new_files:
        m = 1 << m_log2
        df = spark.read.parquet(*[f.removeprefix("file://") for f in new_files])
        h1, h2 = _bloom._h12(F.col(col), f"fskip|{col}")
        pos = F.explode(
            F.array(*[(h1 + F.lit(i) * h2) % F.lit(m) for i in range(k)])
        ).alias("p")
        fresh = (
            df.select(F.input_file_name().alias("file"), col)
            .filter(F.col(col).isNotNull())
            .select("file", pos)
            .select(
                "file",
                F.expr("p div 32").alias("word"),
                F.expr("shiftleft(1L, cast(p % 32 as int))").alias("mask"),
            )
            .groupBy("file", "word")
            .agg(F.bit_or("mask").alias("bits"))
            .select(
                "file", "word", "bits",
                F.lit(m_log2).cast("int").alias("m_log2"),
                F.lit(k).cast("int").alias("k"),
            )
        )
        merged = (
            keep_old.unionByName(fresh) if keep_old is not None else fresh
        )
    else:
        merged = keep_old
    if merged is not None:
        warehouse.overwrite(merged, side_name)
    return len(new_files)


def _bloom_positions_py(value, m_log2: int, k: int, col: str) -> list[int]:
    """Driver-side twin of the Spark-side hashing in
    :func:`refresh_file_blooms` — must match bit-for-bit (md5 of
    ``str(value)|fskip|col``, hex[0:15]/hex[16:31] as h1/h2, k double-
    hashed positions). Parity is pinned by a test that cross-checks
    against the Spark expressions."""
    import hashlib

    hx = hashlib.md5(f"{value}|fskip|{col}".encode()).hexdigest()
    h1, h2 = int(hx[0:15], 16), int(hx[16:31], 16)
    m = 1 << m_log2
    return [(h1 + i * h2) % m for i in range(k)]


def bloom_prune_files(
    sidecar: DataFrame, col: str, value
) -> tuple[set, set]:
    """(indexed_files, may_contain_files) for ``col = value``.

    Only the k probed words are read from the sidecar (``word IN (...)``
    prunes the scan); a file may contain the value iff EVERY position's
    bit is set. Files not in ``indexed_files`` have no sidecar rows and
    must be kept by the caller (conservative)."""
    geo = sidecar.select("m_log2", "k").first()
    if geo is None:
        return set(), set()
    positions = _bloom_positions_py(value, geo["m_log2"], geo["k"], col)
    words = sorted({p // 32 for p in positions})
    indexed = {
        r["file"] for r in sidecar.select("file").distinct().collect()
    }
    per_pos = [
        F.max(
            F.when(
                (F.col("word") == p // 32)
                & (F.col("bits").bitwiseAND(F.lit(1 << (p % 32))) != 0),
                1,
            ).otherwise(0)
        ).alias(f"h{i}")
        for i, p in enumerate(positions)
    ]
    hits = (
        sidecar.filter(F.col("word").isin(words))
        .groupBy("file")
        .agg(*per_pos)
    )
    may = {
        r["file"]
        for r in hits.filter(
            sum(F.col(f"h{i}") for i in range(len(positions)))
            == len(positions)
        ).select("file").collect()
    }
    return indexed, may


def point_lookup_read(
    warehouse: Warehouse, name: str, col: str, value
) -> DataFrame:
    """``SELECT * FROM name WHERE col = value`` reading ONLY the files
    the Bloom sidecar cannot rule out (plus any file the sidecar has no
    rows for — conservative). The exact equality predicate re-applies to
    the surviving rows, so skipping can only skip work, never change the
    result (driver-oracle-pinned by ``bloom_point_lookup_events`` — a
    wrongly-skipped file means missing rows and a hash fail). On a 100 TB
    unclustered table this reads O(k · #files) sidecar rows and the
    handful of true-hit files instead of every file."""
    spark = warehouse.spark
    side_name = _bloom_table(name, col)
    all_files = {
        "file://" + f for f in _list_parquet_files(warehouse.path(name))
    }
    if not all_files:
        raise ValueError(f"{name}: no parquet files")
    if warehouse.exists(side_name):
        indexed, may = bloom_prune_files(warehouse.read(side_name), col, value)
        survivors = sorted((all_files - indexed) | (may & all_files))
    else:
        survivors = sorted(all_files)
    if survivors:
        df = spark.read.parquet(
            *[f.removeprefix("file://") for f in survivors]
        )
        keep = F.col(col) == F.lit(value)
    else:
        # zero-file parquet reads are inexpressible — sentinel file under
        # an always-false filter yields the empty, correctly-typed result
        df = spark.read.parquet(sorted(all_files)[0].removeprefix("file://"))
        keep = F.lit(False)
    return df.filter(keep)
