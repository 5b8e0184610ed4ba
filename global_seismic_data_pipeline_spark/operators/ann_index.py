"""Persisted incremental IVF ANN index — the vector-side counterpart of
:mod:`.neardup_incremental`.

A production embedding store is built once and grows daily; queries probe
it without touching raw corpus text or re-training anything. Three
warehouse tables (an IVF-Flat index):

- ``{name}_lists``    — (id, cell, embedding): the inverted lists,
  bucketed on ``cell`` — a probe joins on exactly that key, so the
  stored side reads co-partitioned from disk and only the (small) query
  side shuffles;
- ``{name}_codebook`` — (cell, dim_idx, q): the TRAINED quantized
  centroids as rows. Freezing the codebook at build time is what makes
  the index incremental — batch N+1 assigns its vectors with the stored
  centroids (control-plane read: cells × dim ints) and bucketed-appends
  its list entries; the stored corpus is never re-read or re-assigned.
  Assignment is exact int64 argmax (``similarity.QUANT``), so
  append-then-probe ≡ rebuild-with-the-same-codebook bit-for-bit
  (pytest-pinned) and the driver oracle can replay the whole index;
- ``{name}_meta``     — (dim, cells, seed) knobs; probes and appends
  validate against it so mismatched parameters fail loudly instead of
  silently probing the wrong geometry.

Recall drifts only as the DATA distribution drifts away from the frozen
centroids — the standard IVF operational trade; retrain + rebuild is the
(rare, full-rebuild) maintenance action, exactly as in FAISS practice.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.warehouse import Warehouse
from . import similarity

_LISTS, _CB, _META = "_lists", "_codebook", "_meta"


def _fresh_table(spark, table: str):
    """Catalog read with the relation cache invalidated first: an append
    by another session or process updates the files but not THIS
    session's cached file listing — without the refresh, the reader sees
    the index as it looked before that append. The refresh costs one file
    re-listing — the normal price of a fresh query over an
    externally-appended table."""
    spark.catalog.refreshTable(table)
    return spark.table(table)


def build_ivf_index(
    warehouse: Warehouse,
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    cells: int = 16,
    iters: int = 4,
    seed: int = 42,
    name: str = "ivf_index",
    num_buckets: int = 8,
) -> np.ndarray:
    """Train the codebook on ``df`` (distributed exact-integer Lloyd),
    assign every vector its cell, persist lists + codebook + meta.
    Returns the trained quantized codebook."""
    cb_q = similarity.train_ivf_codebook(
        df, vec_col=vec_col, dim=dim, cells=cells, iters=iters, seed=seed
    )
    assigned = similarity.with_ivf_cells(
        df.select(F.col(id_col), F.col(vec_col)),
        vec_col=vec_col, dim=dim, cells=cells, nprobe=1, seed=seed,
        codebook_q=cb_q,
    )
    warehouse.save_bucketed(
        assigned, f"{name}{_LISTS}", ("cell",), num_buckets=num_buckets
    )
    from ..session import tiny_df

    cb_rows = [
        (c, d, int(cb_q[c][d])) for c in range(cells) for d in range(dim)
    ]
    warehouse.overwrite(
        tiny_df(
            warehouse.spark, cb_rows, "cell int, dim_idx int, q long"
        ),
        f"{name}{_CB}",
    )
    warehouse.overwrite(
        tiny_df(
            warehouse.spark,
            [(id_col, vec_col, dim, cells, seed, num_buckets)],
            "id_col string, vec_col string, dim int, cells int, seed int, "
            "num_buckets int",
        ),
        f"{name}{_META}",
    )
    return cb_q


def _load(warehouse: Warehouse, name: str) -> tuple[dict, np.ndarray]:
    meta_rows = warehouse.read(f"{name}{_META}").collect()
    if len(meta_rows) != 1:
        raise ValueError(f"index {name!r} has no valid meta table")
    meta = meta_rows[0].asDict()
    cb = np.zeros((meta["cells"], meta["dim"]), dtype=np.int64)
    for r in warehouse.read(f"{name}{_CB}").collect():
        cb[r["cell"]][r["dim_idx"]] = r["q"]
    return meta, cb


def append_to_ivf_index(
    warehouse: Warehouse, new_df: DataFrame, *, name: str = "ivf_index"
) -> None:
    """Assign ``new_df`` with the STORED (frozen) codebook and bucketed-
    append its list entries. Only the new vectors are scanned; ids must
    be disjoint from the stored ones (watermark CDC upstream)."""
    meta, cb_q = _load(warehouse, name)
    assigned = similarity.with_ivf_cells(
        new_df.select(F.col(meta["id_col"]), F.col(meta["vec_col"])),
        vec_col=meta["vec_col"], dim=meta["dim"], cells=meta["cells"],
        nprobe=1, seed=meta["seed"], codebook_q=cb_q,
    )
    warehouse.append_bucketed(
        assigned, f"{name}{_LISTS}", ("cell",), num_buckets=meta["num_buckets"]
    )


def probe_ivf_index(
    warehouse: Warehouse,
    queries: DataFrame,
    *,
    name: str = "ivf_index",
    k: int = 5,
    nprobe: int = 4,
) -> DataFrame:
    """Top-k per query against the stored lists: query side computes its
    ``nprobe`` cells with the stored codebook and broadcasts into the
    bucketed list join (stored side read co-partitioned, never
    shuffled), exact cosine re-rank within probed lists. Output matches
    ``similarity.ivf_topk``."""
    meta, cb_q = _load(warehouse, name)
    id_col, vec_col = meta["id_col"], meta["vec_col"]
    lists = _fresh_table(warehouse.spark, f"{name}{_LISTS}").select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        "cell",
    )
    qb = similarity.with_ivf_cells(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")),
        vec_col="qv", dim=meta["dim"], cells=meta["cells"], nprobe=nprobe,
        seed=meta["seed"], codebook_q=cb_q,
    )
    cands = (
        lists.join(F.broadcast(qb), ["cell"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    qv = similarity.as_double_vec(F.col("qv"))
    cv = similarity.as_double_vec(F.col("cv"))
    sim = F.round(
        similarity._dot(qv, cv) / (similarity._norm(qv) * similarity._norm(cv)), 6
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        cands.select("query_id", "neighbor_id", sim.alias("cosine_sim"))
        .withColumn("sim_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("sim_rank") <= k)
    )


DRIFT_BASELINE = "_drift_base"


def sum_best_dot_agg():
    """The drift-alignment aggregate: Σ best_dot evaluated in
    DECIMAL(38,0). Per-member dots are int64 (< 2^46 at unit norm), but
    a LONG sum wraps silently past ~1.3·10^5 members/cell — the decimal
    sum is exact for any realistic cell (38 digits ≫ 10^19 · members).
    Exposed standalone so the overflow behavior is pinned by a direct
    expression-level test."""
    return F.sum(F.col("best_dot").cast("decimal(38,0)")).alias(
        "sum_best_dot"
    )


def ivf_drift_metrics(
    warehouse: Warehouse,
    *,
    name: str = "ivf_index",
    new_pred: str | None = None,
) -> DataFrame:
    """Per-cell index-health metrics from the STORED lists — the corpus
    is never re-read: (cell, n_vecs, n_new, sum_best_dot, mean_cos).

    ``sum_best_dot`` sums each member's exact int64 dot against its own
    (frozen) centroid — the quantization-alignment statistic: vectors
    drifting away from the trained codebook push it down per member.
    ``n_vecs`` per cell exposes occupancy skew: a shifted append crowds
    a few cells, degrading probe pruning. ``new_pred`` (a SQL boolean
    over the list columns, e.g. ``"vec_id % 5 = 0"``) splits out the
    appended population as ``n_new`` so the drift of a specific batch is
    attributable. All integers — bit-for-bit oracle-checkable
    (``ivf_index_drift`` driver query). Magnitudes: member dot < 2^46
    (QUANT²·dim with unit-norm data), so an int64 SUM would silently
    wrap past ~10^5 members/cell — the sum therefore evaluates in
    DECIMAL(38,0) unconditionally (:func:`sum_best_dot_agg`), exact at
    any cell size. ``mean_cos``
    is the scale-free member-to-centroid cosine (float, for the
    :func:`reindex_due` trigger — the oracle-checked driver query selects
    the integer columns only)."""
    meta, cb_q = _load(warehouse, name)
    vec_col = meta["vec_col"]
    lists = _fresh_table(warehouse.spark, f"{name}{_LISTS}")

    from pyspark.sql.types import DoubleType, LongType

    cb_norm = np.sqrt((cb_q.astype(np.float64) ** 2).sum(axis=1))

    @F.pandas_udf(LongType())
    def best_dot_pd(vecs: pd.Series, cells_s: pd.Series) -> pd.Series:
        mat = np.array(vecs.tolist(), dtype=np.float64)
        q = similarity.quantize(mat)
        cidx = cells_s.to_numpy(dtype=np.int64)
        return pd.Series(np.einsum("ij,ij->i", q, cb_q[cidx]))

    @F.pandas_udf(DoubleType())
    def cos_pd(vecs: pd.Series, cells_s: pd.Series) -> pd.Series:
        mat = np.array(vecs.tolist(), dtype=np.float64)
        q = similarity.quantize(mat).astype(np.float64)
        cidx = cells_s.to_numpy(dtype=np.int64)
        dots = np.einsum("ij,ij->i", q, cb_q[cidx].astype(np.float64))
        denom = np.sqrt((q**2).sum(axis=1)) * cb_norm[cidx]
        return pd.Series(np.where(denom > 0, dots / denom, 0.0))

    new_flag = F.expr(new_pred) if new_pred else F.lit(False)
    # both UDFs evaluate in ONE ArrowEvalPython pass over the same batch
    scored = lists.select(
        "cell",
        new_flag.cast("long").alias("is_new"),
        best_dot_pd(F.col(vec_col), F.col("cell")).alias("best_dot"),
        cos_pd(F.col(vec_col), F.col("cell")).alias("cos"),
    )
    return (
        scored.groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("is_new").alias("n_new"),
            sum_best_dot_agg(),
            F.avg("cos").alias("mean_cos"),
        )
        .select(
            F.col("cell").cast("long"),
            "n_vecs",
            "n_new",
            "sum_best_dot",
            "mean_cos",
        )
    )


def save_drift_baseline(warehouse: Warehouse, *, name: str = "ivf_index") -> None:
    """Snapshot the drift metrics at (re)build time — the reference point
    :func:`reindex_due` compares against."""
    warehouse.overwrite(
        ivf_drift_metrics(warehouse, name=name).coalesce(1),
        f"{name}{DRIFT_BASELINE}",
    )


def reindex_due(
    warehouse: Warehouse,
    *,
    name: str = "ivf_index",
    occupancy_factor: float = 1.5,
    dot_drop: float = 0.2,
) -> dict:
    """Frozen-codebook maintenance trigger: compare current drift metrics
    against the build-time baseline (both cells-row tables —
    control-plane reads). Fires when either

    - occupancy skew (max cell size / mean cell size) grew by more than
      ``occupancy_factor``× over the baseline skew — appends are crowding
      a few cells, probe pruning is degrading; or
    - the n-weighted mean cosine-to-own-centroid fell more than
      ``dot_drop`` (fraction) below baseline — scale-free, so a batch of
      larger-norm vectors cannot mask misalignment the way a raw-dot
      average would. The default tolerates the inherent fit-shrinkage of
      fresh in-distribution samples (centroids are trained ON the base,
      so any unseen batch aligns somewhat worse — ~10% on unclustered
      data in the tests); only a drop beyond that is distribution drift.

    Returns {due, occupancy_skew, baseline_skew, avg_dot, baseline_avg_dot,
    reasons}; the caller's action is build_ivf_index + save_drift_baseline
    (full retrain — the standard, rare IVF maintenance op)."""
    cur = {r["cell"]: r for r in ivf_drift_metrics(warehouse, name=name).collect()}
    base = {
        r["cell"]: r
        for r in warehouse.read(f"{name}{DRIFT_BASELINE}").collect()
    }

    def _skew(rows) -> float:
        ns = [r["n_vecs"] for r in rows.values()]
        return max(ns) / (sum(ns) / len(ns)) if ns else 0.0

    def _avg_dot(rows) -> float:
        n = sum(r["n_vecs"] for r in rows.values())
        if not n:
            return 0.0
        return sum(r["mean_cos"] * r["n_vecs"] for r in rows.values()) / n

    skew_c, skew_b = _skew(cur), _skew(base)
    dot_c, dot_b = _avg_dot(cur), _avg_dot(base)
    reasons = []
    if skew_b and skew_c > occupancy_factor * skew_b:
        reasons.append(
            f"occupancy skew {skew_c:.2f} > {occupancy_factor}x baseline {skew_b:.2f}"
        )
    if dot_b > 0 and dot_c < (1 - dot_drop) * dot_b:
        reasons.append(
            f"avg centroid alignment {dot_c:.3g} fell >{dot_drop:.0%} below "
            f"baseline {dot_b:.3g}"
        )
    return {
        "due": bool(reasons),
        "occupancy_skew": skew_c,
        "baseline_skew": skew_b,
        "avg_dot": dot_c,
        "baseline_avg_dot": dot_b,
        "reasons": reasons,
    }

