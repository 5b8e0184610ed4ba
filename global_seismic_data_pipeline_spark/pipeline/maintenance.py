"""Maintenance ops: compaction, clustering, statistics.

Maps TABLE OPTIMIZATION.py to plain-parquet equivalents (SURVEY.md §2.1
S10): OPTIMIZE → small-file compaction; Z-ORDER → range-partition +
sort-within-partitions (1-D clustering per sort key prefix — parquet min/max
row-group stats then give the same data-skipping effect for predicates on
those keys); ANALYZE → catalog statistics when the table is cataloged;
VACUUM → staging/trash cleanup (the warehouse already removes old data at
swap time, so there is no retention backlog by construction).

The reference runs OPTIMIZE as a separate pass after its writes. Here the
pipeline writes each ``DEFAULT_CLUSTERING`` table in its OPTIMIZE layout
already (``Warehouse.overwrite_clustered``: bronze dedup, the silver
MERGE, the clustered gold tables), so the daily ``optimize_all`` finds
every table laid out and skips it without a Spark job. The skip is safe
because the warehouse vouches only for the exact file set its clustered
write left (``Warehouse.laid_out``): an append, a pruned merge, a write by
another ``Warehouse`` instance or a raw Spark write changes that set, and
the table is rewritten as before.
"""

from __future__ import annotations

import os
import re
import shutil
import urllib.parse
from collections.abc import Sequence

from pyspark.sql import functions as F

from ..sources.warehouse import TARGET_FILE_MB, Warehouse, target_files

# ZORDER key sets the reference declares (TABLE OPTIMIZATION.py:33-36,60-97)
DEFAULT_CLUSTERING = {
    "bronze_earthquakes": ("event_id", "time"),
    "silver_earthquakes": ("magnitude", "event_time", "tectonic_region"),
    "gold_regional_risk": ("tectonic_region", "year", "month"),
    "gold_temporal_metrics": ("event_date",),
    "gold_region_summary": ("risk_rank",),
    "gold_physics_analysis": ("magnitude", "tectonic_region"),
}


def compact(
    wh: Warehouse,
    name: str,
    *,
    sort_cols: Sequence[str] = (),
    zorder_by: tuple[str, str] | None = None,
    curve: str = "morton",
    target_file_mb: int = TARGET_FILE_MB,
) -> dict:
    """Rewrite ``name`` into ~target-sized files, clustered on ``sort_cols``
    (ref OPTIMIZE/ZORDER, TABLE OPTIMIZATION.py:33-36).

    ``sort_cols`` gives the layout of ``warehouse.lay_out``: global range
    clustering on the leading sort keys, rows sorted inside each file so
    parquet row-group min/max stats prune scans on those columns — the
    plain-parquet analogue of Z-ORDER's data skipping along the leading
    key. ``zorder_by=(a, b)`` instead lays rows along the Morton curve of
    TWO integer keys (``operators/zorder.cluster_by_zorder``) — the
    genuine multi-dimensional ZORDER: every file covers a compact
    rectangle of (a, b) space, so min/max stats prune on EITHER key.
    ``curve="hilbert"`` upgrades the two-key layout to the Hilbert curve
    (``operators/hilbert.cluster_by_hilbert`` — strictly tighter per-file
    boxes, what Databricks liquid clustering moved to).

    A flat table that this warehouse instance last wrote in the
    ``sort_cols`` layout (``Warehouse.laid_out``) and that already has the
    target file count is left alone, without a Spark job: rewriting it
    would produce the same rows, file count and order. Any write since
    then changes the table's file set and the rewrite runs as usual.

    Returns ``files_before``/``files_after``, ``bytes`` written (0 when
    skipped) and ``rewritten``.
    """
    if zorder_by and sort_cols:
        raise ValueError("pass either sort_cols or zorder_by, not both")
    if curve not in ("morton", "hilbert"):
        raise ValueError(f"unknown curve {curve!r}: morton or hilbert")
    before = wh.table_stats(name)
    part_cols = wh.partition_columns(name)  # preserve hive-style layout
    n_parts = target_files(before["size_bytes"], target_file_mb)
    if (
        sort_cols
        and not part_cols
        and before["num_files"] == n_parts
        and wh.laid_out(name, sort_cols)
    ):
        return {"files_before": n_parts, "files_after": n_parts, "bytes": 0,
                "rewritten": False}
    df = wh.read(name)
    if zorder_by:
        if curve == "hilbert":
            from ..operators.hilbert import cluster_by_hilbert

            df = cluster_by_hilbert(
                df, list(zorder_by), num_partitions=n_parts
            )
        else:
            from ..operators.zorder import cluster_by_zorder

            df = cluster_by_zorder(df, list(zorder_by), num_partitions=n_parts)
        wh.overwrite(df, name, partition_by=part_cols)
    elif sort_cols:
        wh.overwrite_clustered(
            df, name, sort_cols, partition_by=part_cols,
            target_file_mb=target_file_mb,
        )
    else:
        wh.overwrite(df.coalesce(n_parts), name, partition_by=part_cols)
    after = wh.table_stats(name)
    return {"files_before": before["num_files"], "files_after": after["num_files"],
            "bytes": after["size_bytes"], "rewritten": True}


def optimize_all(wh: Warehouse) -> dict[str, dict[str, int]]:
    """Compact every table that exists, using the reference's clustering
    keys (ref: TABLE OPTIMIZATION.py whole flow). Returns the stats of
    the tables actually rewritten; tables their last write already laid
    out are skipped (see ``compact``)."""
    results = {}
    for name, keys in DEFAULT_CLUSTERING.items():
        if wh.exists(name):
            res = compact(wh, name, sort_cols=keys)
            if res["rewritten"]:
                results[name] = res
    return results


def compact_bucketed(
    wh: Warehouse,
    name: str,
    bucket_cols: Sequence[str],
    *,
    num_buckets: int,
    sort_cols: Sequence[str] | None = None,
) -> dict[str, int]:
    """Compact a BUCKETED table (the incremental signature / IVF stores):
    every ``append_bucketed`` batch adds one more file per bucket, so a
    daily pipeline accumulates #batches × #buckets small files — this
    rewrites the table back to ~one file per bucket under the SAME bucket
    spec, so the shuffle-free co-partitioned join property survives
    (asserted in tests: the post-compaction bucket join still plans with
    no Exchange). The rewrite stages through an eager localCheckpoint
    because ``save_bucketed`` drops the old files before writing.

    Must be called with the ORIGINAL bucket spec (bucket columns and
    count are catalog metadata a rewrite must reproduce — changing them
    silently would re-shuffle every downstream join). Returns
    before/after file stats."""
    before = wh.table_stats(name)
    current = wh.spark.table(name).localCheckpoint()
    # one file per bucket: hash-repartition on the bucket columns with
    # the bucket count — Spark's repartition hash and its bucket hash are
    # the same Murmur3, so each write task holds exactly one bucket's
    # rows (otherwise every task emits a file for every bucket it sees:
    # tasks × buckets files, which is the problem being fixed)
    wh.save_bucketed(
        current.repartition(num_buckets, *[F.col(c) for c in bucket_cols]),
        name, bucket_cols,
        num_buckets=num_buckets, sort_cols=sort_cols,
    )
    after = wh.table_stats(name)
    return {
        "files_before": before["num_files"],
        "files_after": after["num_files"],
        "bytes": after["size_bytes"],
    }


def analyze(wh: Warehouse, name: str) -> None:
    """Compute CBO statistics (ref: ANALYZE TABLE, TABLE OPTIMIZATION.py:
    119-124). Works when ``name`` is registered in a real catalog; for the
    temp-view warehouse it is a documented no-op (temp views carry no
    persisted stats — AQE supplies runtime stats instead)."""
    if any(t.name == name and not t.isTemporary
           for t in wh.spark.catalog.listTables()):
        wh.spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS")


def vacuum(wh: Warehouse) -> int:
    """Remove leftover staging/trash directories from interrupted writes
    (ref VACUUM, TABLE OPTIMIZATION.py:136-144). Returns dirs removed."""
    removed = 0
    for d in os.listdir(wh.root):
        if d.startswith((".staging-", ".trash-")):
            shutil.rmtree(os.path.join(wh.root, d))
            removed += 1
    return removed


# Partition-value encodings whose lexicographic order provably equals
# value order: ISO dates / timestamps (fixed-width, most-significant-first)
# and zero-padded digit strings of uniform width. Values must be DECODED
# (hive %-unescaped) before matching/comparing: '%' (0x25) sorts before
# ':' (0x3A), so an encoded '2024-01-02 12%3A00' compares below the
# unencoded cutoff '2024-01-02 09:00:00' despite being a later time.
_ISO_DATETIME = re.compile(
    r"^\d{4}-\d{2}-\d{2}([ T]\d{2}:\d{2}(:\d{2})?)?$"
)


def _lexicographic_order_is_value_order(vals: list[str], cutoff: str) -> bool:
    """True only when comparing ``vals`` (and ``cutoff``) as strings is
    guaranteed to agree with comparing them as values — ISO date/timestamp
    strings, or all-digit strings of one uniform width (zero-padded ints).
    Anything else (unpadded ints, floats, free text) must use the rewrite
    path: e.g. ``"100" < "20"`` lexicographically though 100 > 20."""
    candidates = [*vals, cutoff]
    if all(_ISO_DATETIME.match(v) for v in candidates):
        # same-format prefix comparison is safe; mixed date vs timestamp
        # widths still order correctly because the date prefix dominates
        return True
    if all(v.isdigit() for v in candidates):
        widths = {len(v) for v in candidates}
        return len(widths) == 1
    return False


def retention_delete(
    wh: Warehouse, name: str, col: str, cutoff
) -> dict:
    """Row-level retention (TTL / GDPR erasure): drop every row with
    ``col`` < ``cutoff``. Two regimes:

    - **partition-drop fast path** — when the table is directory-
      partitioned on ``col``, expired partitions are whole directories:
      they are REMOVED without scanning or rewriting a single surviving
      row (Delta's drop-partition-predicate DELETE). Hive directory
      values compare as strings, so this path applies only to formats
      whose lexicographic order equals value order (ISO dates,
      zero-padded numbers) — it refuses otherwise rather than guessing;
    - **filter-rewrite** — any other layout: one atomic overwrite of the
      surviving rows (the plan executes into staging before the swap,
      so deriving from the current table is safe).

    Returns {"mode", "partitions_dropped" | "rows_deleted"}. Idempotent:
    a re-run deletes nothing further.
    """
    from pyspark.sql import functions as F

    pcols = wh.partition_columns(name)
    if pcols and pcols[0] == col:
        cutoff_str = str(cutoff)
        table = wh.path(name)
        # Hive directory names %-encode special chars (':' → '%3A');
        # decode for the format check and the comparison, but keep the
        # RAW name for rmtree — the directory on disk is the encoded one.
        raw_vals = [
            d.split("=", 1)[1]
            for d in sorted(os.listdir(table))
            if d.startswith(f"{col}=")
        ]
        live = [(v, urllib.parse.unquote(v)) for v in raw_vals
                if v != "__HIVE_DEFAULT_PARTITION__"]
        if _lexicographic_order_is_value_order(
            [dec for _, dec in live], cutoff_str
        ):
            dropped = []
            for raw, dec in live:
                if dec < cutoff_str:
                    shutil.rmtree(os.path.join(table, f"{col}={raw}"))
                    dropped.append(raw)
            return {"mode": "partition_drop",
                    "partitions_dropped": len(dropped)}
        # Encoding where string order may diverge from value order
        # (e.g. unpadded integers: "100" < "20"): refuse the fast path
        # and fall through to the always-correct filter-rewrite.
    before = wh.read(name).count()
    kept = wh.read(name).filter(
        F.col(col).isNull() | (F.col(col) >= F.lit(cutoff))
    )
    # preserve the hive layout — a retention rewrite must not silently
    # flatten a partitioned table
    wh.overwrite(kept, name, partition_by=pcols)
    after = wh.read(name).count()
    return {"mode": "rewrite", "rows_deleted": before - after}
