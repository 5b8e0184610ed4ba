"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: exact brute-force top-k — the correctness baseline.
  Queries (small set) are broadcast against the corpus, so the corpus
  never shuffles; per-query top-k runs as a window over query_id.
  Dot products use higher-order functions (zip_with + aggregate) in
  double precision — JVM-side, no Python.
- ``lsh_topk``: the scale path — random-hyperplane LSH buckets the corpus
  once (map-side expression), candidates collide on bucket (optionally
  multi-probe via several tables), then exact re-rank within candidates.
  At 100 TB the bucketed variant turns an O(Q×N) scan into O(Q×N/2^bits)
  with recall tunable by tables×bits (verified against brute force in
  tests).

Cosines are rounded to 6 decimals before ranking (with id tiebreak) so
rankings are reproducible across engines and summation orders.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType
from pyspark.storagelevel import StorageLevel

from ..session import materialize, materialized_scope
from .partitioning import ensure_parallelism


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def as_double_vec(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k neighbors per query by cosine (query_id != neighbor id).

    Returns (query_id, neighbor_id, cosine_sim, sim_rank)."""
    c = ensure_parallelism(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), as_double_vec(F.col(vec_col)).alias("cv")
        )
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double_vec(F.col(vec_col)).alias("qv")
    )
    pairs = c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
    sim = F.round(_dot(F.col("qv"), F.col("cv")) / (_norm(F.col("qv")) * _norm(F.col("cv"))), 6)
    scored = pairs.select("query_id", "neighbor_id", sim.alias("cosine_sim"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("sim_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("sim_rank") <= k)
    )


QUANT = 1 << 20
"""Fixed-point scale for bucket/cell assignment: vectors and planes are
quantized to ``floor(x * 2^20)`` int64 and dotted in EXACT integer
arithmetic. Rationale: float dot products are summation-order-dependent
(numpy's 8-way-unrolled pairwise sum vs a SQL engine's left fold differ in
the last ulps), so a sign/argmax taken on floats can disagree across
engines on knife-edge values — unverifiable by an oracle. Integer dots are
associative: bucket assignment is bit-identical everywhere (and 2^-20
resolution is far below any LSH/IVF accuracy scale). Magnitudes: |x|<~100
→ |q|<2^27, dim-64 dot < 2^62 — no int64 overflow."""


def quantize(mat: np.ndarray) -> np.ndarray:
    return np.floor(mat * QUANT).astype(np.int64)


_LLOYD_ROWS_PER_TASK = 1 << 16
"""Target rows per task for the Lloyd iteration passes: enough that the
per-task integer matmul (~rows × dim × cells ops) dwarfs the fixed
Python-task launch cost, derived from the DATA size (not the local core
count — a 10⁶-row training sample still fans out to ~16 tasks, and the
cap never exceeds the cached partition count)."""


def _hyperplanes(dim: int, bits: int, tables: int, seed: int) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.standard_normal((tables, bits, dim))


def with_lsh_buckets(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    dim: int = 64,
    bits: int = 12,
    tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Add (table, bucket) rows per vector via random-hyperplane signs.

    Buckets for ALL tables are computed in one Arrow-batched Pandas UDF as
    a single integer matmul — quantized (batch × dim) @ (dim × tables·bits)
    (see ``QUANT``: exact int64 arithmetic makes bucket assignment
    engine-portable, so the whole ANN pipeline is oracle-checkable) — then
    posexploded to rows. One vectorized pass beats tables×bits interpreted
    higher-order-function dot products per row by an order of magnitude,
    and the UDF output is a materialized attribute, so the explode is a
    plain codegen Generate (no lambda re-evaluation). Planes are seeded
    and baked into the closure — identical across executors and runs."""
    planes = _hyperplanes(dim, bits, tables, seed)
    # (dim, tables*bits), column-major by table; quantized int64
    proj = quantize(np.concatenate([planes[t].T for t in range(tables)], axis=1))
    weights = np.power(2, np.arange(bits)).astype(np.int64)

    @F.pandas_udf(ArrayType(LongType()))
    def buckets_pd(vecs: pd.Series) -> pd.Series:
        mat = np.array(vecs.tolist(), dtype=np.float64)  # (n, dim)
        signs = (quantize(mat) @ proj) > 0  # exact int64 dots
        per_table = signs.reshape(len(mat), tables, bits)
        bkt = (per_table * weights).sum(axis=2).astype(np.int64)  # (n, tables)
        return pd.Series(list(bkt))

    with_b = df.withColumn("__buckets", buckets_pd(F.col(vec_col)))
    # posexplode_OUTER: the UDF always returns exactly ``tables`` entries,
    # so outer vs inner explode are equivalent — but the inner form makes
    # InferFiltersFromGenerate add a `size(__buckets) > 0` filter that
    # pushes below the repartition and drags a SECOND ArrowEvalPython of
    # the same UDF with it (the whole bucketing matmul, computed twice)
    return with_b.select(
        "*", F.posexplode_outer("__buckets").alias("table", "bucket")
    ).drop("__buckets")


def cosine_all_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
    round_decimals: int = 4,
    blocks: int = 8,
) -> DataFrame:
    """Exact all-pairs cosine near-duplicates: (id_a < id_b, cosine ≥ τ).

    Block-pair self-join, fully distributed — the plan is lazy, nothing is
    collected to the driver and no broadcast is leaked. Each vector lands
    in block ``blk = hash(id) % blocks`` and is replicated to the
    ``blocks`` group keys ``(min(blk, t), max(blk, t))``; every group then
    holds exactly the vectors of its two blocks and computes their
    cross-block (or upper-triangular, when i == j) matmul in one Arrow
    batch. Similarities round to ``round_decimals`` BEFORE thresholding so
    the cut is reproducible across engines/summation orders.

    Scale shape: shuffle = N·blocks rows, per-task memory = 2N/blocks
    vectors, total flops ~N²·d/2 spread over blocks·(blocks+1)/2
    independent tasks. Exact all-pairs is inherently O(N²) — size
    ``blocks`` so a block pair fits executor memory; beyond exact-feasible
    corpus sizes use ``lsh_topk``/``ivf_topk`` candidates + exact verify.
    """
    if blocks < 1:
        raise ValueError("blocks must be >= 1")
    src = df.select(
        F.col(id_col).cast("long").alias("_id"),
        as_double_vec(F.col(vec_col)).alias("_v"),
    )
    spread = ensure_parallelism(src).withColumn(
        "_blk", F.pmod(F.xxhash64("_id"), F.lit(blocks)).cast("int")
    )
    replicated = spread.select(
        "_id",
        "_v",
        "_blk",
        F.explode(F.array(*[F.lit(t) for t in range(blocks)])).alias("_partner"),
    ).select(
        "_id",
        "_v",
        "_blk",
        F.least("_blk", "_partner").alias("_lo"),
        F.greatest("_blk", "_partner").alias("_hi"),
    )

    def pairs_for_group(key, pdf):
        lo, hi = key
        empty = pd.DataFrame(
            {
                "id_a": pd.Series(dtype="int64"),
                "id_b": pd.Series(dtype="int64"),
                "cosine_sim": pd.Series(dtype="float64"),
            }
        )
        a = pdf[pdf["_blk"] == lo]
        b = pdf[pdf["_blk"] == hi]
        if not len(a) or not len(b):
            return empty
        a_ids = a["_id"].to_numpy(dtype=np.int64)
        b_ids = b["_id"].to_numpy(dtype=np.int64)
        am = np.array(a["_v"].tolist(), dtype=np.float64)
        bm = np.array(b["_v"].tolist(), dtype=np.float64)
        an = np.linalg.norm(am, axis=1, keepdims=True)
        an[an == 0] = 1.0
        bn = np.linalg.norm(bm, axis=1, keepdims=True)
        bn[bn == 0] = 1.0
        sims = np.round((am / an) @ (bm / bn).T, round_decimals)
        ia, ib = np.nonzero(sims >= threshold)
        left, right = a_ids[ia], b_ids[ib]
        # same-block groups see each unordered pair twice ((x,y) and (y,x)
        # land in the same matrix) — the strict < keeps one; cross-block
        # groups see it once with arbitrary id order — normalize to (min,max)
        if lo == hi:
            keep = left < right
            left, right, sim = left[keep], right[keep], sims[ia, ib][keep]
        else:
            sim = sims[ia, ib]
            left, right = np.minimum(left, right), np.maximum(left, right)
        return pd.DataFrame({"id_a": left, "id_b": right, "cosine_sim": sim})

    return replicated.groupBy("_lo", "_hi").applyInPandas(
        pairs_for_group, schema="id_a long, id_b long, cosine_sim double"
    )


def _centroids(dim: int, cells: int, seed: int) -> np.ndarray:
    """Seeded spherical centroids — the k-means INIT (and the fallback
    codebook when no training pass is run)."""
    rng = np.random.RandomState(seed)
    c = rng.standard_normal((cells, dim))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def _lloyd(
    df: DataFrame, vec_col: str, cb: np.ndarray, iters: int, partials
) -> np.ndarray:
    """The exact-integer Lloyd loop behind :func:`train_ivf_codebook` and
    :func:`train_pq_codebooks`, from the initial quantized codebook ``cb``.
    ``partials(xq, cb)`` runs one assignment pass over the quantized
    training set ``xq`` (column ``xq``) and returns ``(key, n, sums)``
    partials for centroid ``cb[key]``, a key possibly repeated (one per
    partition); they are totalled in python ints, the update floor-divides
    ``sums // n`` (matches ``np.floor_divide``) and empty centroids keep
    their previous value.

    The quantized column is materialized once across iterations, in a
    scope of its own. After iteration 1 it is COALESCED to
    ~``_LLOYD_ROWS_PER_TASK`` rows per task (row count comes free from
    iteration 1's partial counts — no extra action): a Lloyd pass over a
    small training sample is fixed-overhead-bound, and AQE's
    parallelism-first coalescing never shrinks below core count, so a
    1600-row sample otherwise pays 32 Python-task launches per iteration
    (measured 0.47 s/iter vs 0.21 s on one task). The coalesce is narrow
    (reads the cached blocks, no shuffle) and the partial sums are
    associative exact ints, so the codebook is bit-identical under any
    task count."""

    @F.pandas_udf(ArrayType(LongType()))
    def quant_pd(vecs: pd.Series) -> pd.Series:
        mat = np.array(vecs.tolist(), dtype=np.float64)
        return pd.Series(list(quantize(mat)))

    with materialized_scope():
        cached = materialize(
            df.select(quant_pd(F.col(vec_col)).alias("xq")),
            StorageLevel.MEMORY_AND_DISK_DESER,
        )
        xq = cached
        for it in range(iters):
            totals: dict = {}
            for key, n, sums in partials(xq, cb):
                t = totals.setdefault(key, [0, [0] * len(sums)])
                t[0] += n
                t[1] = [a + b for a, b in zip(t[1], sums)]
            if it == 0:
                # each vector counts once per codebook (PQ: once per
                # subspace), so Σn over the codebook count is the row count
                n_rows = sum(n for n, _s in totals.values()) // int(
                    np.prod(cb.shape[:-2])
                )
                cur = xq.rdd.getNumPartitions()
                want = max(1, min(cur, -(-n_rows // _LLOYD_ROWS_PER_TASK)))
                if want < cur:
                    xq = cached.coalesce(want)
            cb = cb.copy()
            for key, (n, sums) in totals.items():
                cb[key] = [v // n for v in sums]
        return cb


def train_ivf_codebook(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    dim: int = 64,
    cells: int = 16,
    iters: int = 4,
    seed: int = 42,
) -> np.ndarray:
    """Distributed Lloyd k-means over the (sampled) corpus, entirely in
    EXACT integer arithmetic — returns the trained quantized codebook
    (int64, cells × dim) for :func:`with_ivf_cells` / :func:`ivf_topk`.

    Why integer Lloyd: float centroid means are summation-order-dependent,
    so a trained codebook would differ run-to-run and engine-to-engine —
    unverifiable. Here every step is order-free and deterministic:

    - assignment: argmax of int64 dots of quantized vectors against the
      quantized codebook (ties → lowest cell, ``np.argmax`` first-hit);
    - update: per-cell per-dim int64 SUMS (associative — any partial
      aggregation order gives the same total) + a count, floor-divided
      on the driver (cells × dim ints — control-plane sized);
    - empty cells keep their previous centroid.

    ``plans/oracles_ext._trained_ivf_codebook`` replicates this loop in
    numpy from the same parquet and lands on the identical codebook, which
    is what keeps the trained ``ivf_ann_topk`` hash-checkable.

    Scale shape per iteration: ONE fused Arrow pass (mapInPandas) that
    assigns cells AND emits per-partition partial sums — ≤ cells ×
    (dim+2) longs per partition, collected and combined driver-side in
    exact python ints (no shuffle, no wide-aggregate codegen; measured
    3× faster than the assign-then-groupBy form it replaced, and the
    partial sums are associative so the codebook is bit-identical).
    The int64 executor partials cannot overflow: |quantized| ≤ 2^20
    and a partition holds ≪ 2^40 rows. The loop itself (materialized
    quantized column, coalesce, update) is :func:`_lloyd`. Train on a
    sample at 100 TB (pass a pre-sampled df — k-means quality saturates
    far below corpus size).
    """
    part_cols = ["cell", "n"] + [f"s{d}" for d in range(dim)]
    part_schema = ", ".join(f"{c} long" for c in part_cols)

    def partials(xq: DataFrame, cb: np.ndarray):
        def partials_fn(batches):
            agg: dict[int, list] = {}
            for pdf in batches:
                m = np.array(pdf["xq"].tolist(), dtype=np.int64)
                if not len(m):
                    continue
                idx = np.argmax(m @ cb.T, axis=1)
                for c in np.unique(idx):
                    sel = m[idx == c]
                    e = agg.get(int(c))
                    if e is None:
                        agg[int(c)] = [len(sel), sel.sum(axis=0, dtype=np.int64)]
                    else:
                        e[0] += len(sel)
                        e[1] = e[1] + sel.sum(axis=0, dtype=np.int64)
            rows = [[c, e[0], *map(int, e[1])] for c, e in agg.items()]
            yield pd.DataFrame(rows, columns=part_cols)

        return [
            (int(r["cell"]), int(r["n"]), [int(r[f"s{d}"]) for d in range(dim)])
            for r in xq.mapInPandas(partials_fn, part_schema).collect()
        ]

    return _lloyd(
        df, vec_col, quantize(_centroids(dim, cells, seed)), iters, partials
    )


def with_ivf_cells(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    dim: int = 64,
    cells: int = 16,
    nprobe: int = 1,
    seed: int = 42,
    codebook_q: np.ndarray | None = None,
) -> DataFrame:
    """Assign each vector its ``nprobe`` nearest coarse cells (IVF lists).

    One Arrow-batched integer matmul against the quantized codebook per
    batch (see ``QUANT``); emits one row per (vector, probed cell). Cell
    ranking uses the raw dot against unit-norm centroids — same argmax as
    cosine (normalizing the query is a positive scalar on every dot), so
    skipping the normalization removes the one float step that would make
    ranking engine-dependent. Ties break to the LOWEST cell index (stable
    argsort ↔ the oracle's ROW_NUMBER ... ORDER BY dot DESC, idx ASC).
    Corpus side uses nprobe=1 (each vector lives in exactly one inverted
    list); query side probes several.

    ``codebook_q`` overrides the seeded random codebook with a TRAINED
    quantized one (:func:`train_ivf_codebook`)."""
    cb_q = codebook_q if codebook_q is not None else quantize(_centroids(dim, cells, seed))

    @F.pandas_udf(ArrayType(LongType()))
    def cells_pd(vecs: pd.Series) -> pd.Series:
        mat = np.array(vecs.tolist(), dtype=np.float64)
        sims = quantize(mat) @ cb_q.T  # (n, cells), exact int64
        top = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe].astype(np.int64)
        return pd.Series(list(top))

    with_c = df.withColumn("__cells", cells_pd(F.col(vec_col)))
    # explode_outer for the same reason as with_lsh_buckets: the inferred
    # size()>0 filter otherwise re-evaluates the UDF below the exchange
    return with_c.select("*", F.explode_outer("__cells").alias("cell")).drop("__cells")


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    k: int = 5,
    cells: int = 16,
    nprobe: int = 4,
    seed: int = 42,
    codebook_q: np.ndarray | None = None,
) -> DataFrame:
    """IVF approximate top-k: coarse-quantize the corpus into ``cells``
    inverted lists, probe the query's ``nprobe`` nearest lists, exact
    re-rank within them.

    The 100 TB path: the corpus is bucketed ONCE (map-side matmul), the
    per-query scan shrinks by ~cells/nprobe, and the probe join is a
    broadcast of the (small) query side — the corpus never shuffles.
    Recall grows with nprobe (tests measure it against brute force) and
    with codebook quality — pass ``codebook_q`` from
    :func:`train_ivf_codebook` (recall vs the random codebook is measured
    in ``test_neardup_similarity.py``)."""
    cb = with_ivf_cells(
        ensure_parallelism(
            corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
        ),
        vec_col="cv", dim=dim, cells=cells, nprobe=1, seed=seed, codebook_q=codebook_q,
    )
    qb = with_ivf_cells(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")),
        vec_col="qv", dim=dim, cells=cells, nprobe=nprobe, seed=seed, codebook_q=codebook_q,
    )
    cands = (
        cb.join(F.broadcast(qb), ["cell"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    qv, cv = as_double_vec(F.col("qv")), as_double_vec(F.col("cv"))
    sim = F.round(_dot(qv, cv) / (_norm(qv) * _norm(cv)), 6)
    scored = cands.select("query_id", "neighbor_id", sim.alias("cosine_sim"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("sim_rank", F.row_number().over(w).cast("long")).filter(
        F.col("sim_rank") <= k
    )


def train_pq_codebooks(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 8,
    ksub: int = 16,
    iters: int = 3,
    seed: int = 42,
) -> np.ndarray:
    """Distributed Lloyd k-means per PQ subspace, exact integer arithmetic —
    returns quantized codebooks (int64, m × ksub × dim/m) for
    :func:`with_pq_codes` / :func:`ivf_pq_topk`.

    Product quantization splits each vector into ``m`` contiguous
    subvectors and learns an independent ``ksub``-centroid codebook per
    subspace; a vector's code is then ``m`` small integers (m·log2(ksub)
    bits — 4 GB for a billion vectors at m=8, ksub=16, vs 256 GB of raw
    float32). Codebooks train on raw subvectors (no IVF residual) — the
    residual refinement is a quality knob, not a semantics change, and
    raw-subvector PQ keeps the oracle replay a single pass.

    Same exact-integer discipline as :func:`train_ivf_codebook` (argmin of
    L2 on quantized int64s, order-free int64 sums, floor-div update, empty
    cells keep their centroid, ties → lowest code) so the oracle builder
    retrains the bit-identical codebooks in numpy. ALL m subspaces train in
    one pass per iteration: codes come from one Arrow matmul, the update is
    one groupBy(sub, code) whose shuffle carries m rows × (dim/m + 2) longs
    per vector with map-side partials.

    L2 argmin drops the per-vector ``‖x‖²`` term: argmin over c of
    ``‖c‖² − 2x·c`` — every quantity int64 (|q| < 2^27, dsub=8 products
    < 2^58, no overflow).
    """
    if dim % m:
        raise ValueError(f"m ({m}) must divide dim ({dim})")
    dsub = dim // m
    rng = np.random.RandomState(seed)
    # init matches the data scale of unit-norm vectors (per-dim std ~ 1/sqrt(dim))
    cb = quantize(rng.standard_normal((m, ksub, dsub)) / np.sqrt(dim))

    sums = [
        F.sum(
            F.element_at("xq", (F.col("sub") * dsub + F.lit(d + 1)).cast("int"))
        ).alias(f"s{d}")
        for d in range(dsub)
    ]

    def partials(xq: DataFrame, cb: np.ndarray):
        codes_pd = _pq_codes_udf(cb)
        rows = (
            xq.select(F.posexplode_outer(codes_pd("xq")).alias("sub", "code"), "xq")
            .groupBy("sub", "code")
            .agg(F.count(F.lit(1)).alias("n"), *sums)
            .collect()
        )
        return [
            (
                (int(r["sub"]), int(r["code"])),
                int(r["n"]),
                [int(r[f"s{d}"]) for d in range(dsub)],
            )
            for r in rows
        ]

    return _lloyd(df, vec_col, cb, iters, partials)


def _pq_codes_udf(cb_q: np.ndarray):
    """Factory: Arrow-batched PQ encoder for ONE codebook generation
    (bakes the codebook into the closure — a loop capture would late-bind).
    Input: quantized int64 vector column; output: m int64 codes, argmin of
    exact-integer L2 per subspace, first-hit (lowest-code) tie-break."""
    m, ksub, dsub = cb_q.shape
    cnorm = (cb_q.astype(np.int64) ** 2).sum(axis=2)  # (m, ksub)

    @F.pandas_udf(ArrayType(LongType()))
    def codes_pd(xqs: pd.Series) -> pd.Series:
        x = np.array(xqs.tolist(), dtype=np.int64).reshape(-1, m, dsub)
        terms = cnorm[None, :, :] - 2 * np.einsum("nmd,mkd->nmk", x, cb_q)
        return pd.Series(list(np.argmin(terms, axis=2).astype(np.int64)))

    return codes_pd


def with_pq_codes(
    df: DataFrame, cb_q: np.ndarray, *, vec_col: str
) -> DataFrame:
    """Add ``codes`` (array<long>, m entries) — the PQ code of each vector.
    One Arrow-batched integer einsum per batch; map-side only."""
    m, ksub, dsub = cb_q.shape

    @F.pandas_udf(ArrayType(LongType()))
    def quant_codes_pd(vecs: pd.Series) -> pd.Series:
        mat = quantize(np.array(vecs.tolist(), dtype=np.float64))
        terms = (cb_q.astype(np.int64) ** 2).sum(axis=2)[None, :, :] - 2 * np.einsum(
            "nmd,mkd->nmk", mat.reshape(-1, m, dsub), cb_q
        )
        return pd.Series(list(np.argmin(terms, axis=2).astype(np.int64)))

    return df.withColumn("codes", quant_codes_pd(F.col(vec_col)))


def with_pq_lut(df: DataFrame, cb_q: np.ndarray, *, vec_col: str) -> DataFrame:
    """Add ``lut`` (array<long>, m·ksub entries): the query's asymmetric-
    distance table. Entry ``sub·ksub + code`` holds the exact-integer
    partial distance ``‖c‖² − 2·xq_sub·c`` of the query's sub-vector
    against centroid ``code`` of subspace ``sub`` (the constant ‖xq_sub‖²
    is dropped — it cannot change per-query ranking)."""
    m, ksub, dsub = cb_q.shape
    cnorm = (cb_q.astype(np.int64) ** 2).sum(axis=2)

    @F.pandas_udf(ArrayType(LongType()))
    def lut_pd(vecs: pd.Series) -> pd.Series:
        x = quantize(np.array(vecs.tolist(), dtype=np.float64)).reshape(-1, m, dsub)
        terms = cnorm[None, :, :] - 2 * np.einsum("nmd,mkd->nmk", x, cb_q)
        return pd.Series(list(terms.reshape(len(x), m * ksub)))

    return df.withColumn("lut", lut_pd(F.col(vec_col)))


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    k: int = 5,
    cells: int = 16,
    nprobe: int = 4,
    refine: int = 20,
    seed: int = 42,
    ivf_codebook_q: np.ndarray | None = None,
    pq_codebooks_q: np.ndarray | None = None,
) -> DataFrame:
    """IVF-PQ approximate top-k — the billion-vector ANN shape (FAISS
    IVFPQ): IVF cells bound WHICH vectors are scanned (~nprobe/cells of
    the corpus), PQ codes bound the BYTES per scanned vector (m small ints
    instead of dim floats), and only the ``refine`` ADC-nearest candidates
    per query ever touch raw vectors again for the exact cosine re-rank.

    Scale shape: the candidate join ships (id, cell, codes) — never the
    embedding; ADC is a JVM-side sum of m LUT lookups against the
    broadcast query side; the refine set (≤ Q·refine rows) broadcasts
    BACK into the corpus scan to fetch raw vectors, so the corpus never
    shuffles and raw vectors cross the wire only for re-ranked survivors.
    Everything up to the refine cut is exact int64 (see ``QUANT``) with
    id tie-breaks — bit-identical in the DuckDB oracle.

    Pass trained codebooks (:func:`train_ivf_codebook`,
    :func:`train_pq_codebooks`); seeded-random fallbacks otherwise.
    """
    m, ksub, _ = (
        pq_codebooks_q.shape
        if pq_codebooks_q is not None
        else (8, 16, dim // 8)
    )
    if pq_codebooks_q is None:
        rng = np.random.RandomState(seed)
        pq_codebooks_q = quantize(rng.standard_normal((m, ksub, dim // m)) / np.sqrt(dim))

    base = ensure_parallelism(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    )
    corpus_idx = with_pq_codes(
        with_ivf_cells(
            base, vec_col="cv", dim=dim, cells=cells, nprobe=1, seed=seed,
            codebook_q=ivf_codebook_q,
        ),
        pq_codebooks_q,
        vec_col="cv",
    ).select("neighbor_id", "cell", "codes")  # the compressed-domain index

    qside = with_pq_lut(
        with_ivf_cells(
            queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")),
            vec_col="qv", dim=dim, cells=cells, nprobe=nprobe, seed=seed,
            codebook_q=ivf_codebook_q,
        ),
        pq_codebooks_q,
        vec_col="qv",
    ).select("query_id", "cell", "lut")

    # a pair reached via several probed cells must score once
    cands = (
        corpus_idx.join(F.broadcast(qside), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    adc = sum(
        F.element_at(
            "lut",
            (F.lit(sub * ksub) + F.element_at("codes", sub + 1) + 1).cast("int"),
        )
        for sub in range(m)
    )
    w_adc = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    survivors = (
        cands.select("query_id", "neighbor_id", adc.alias("adc_dist"))
        .withColumn("adc_rank", F.row_number().over(w_adc))
        .filter(F.col("adc_rank") <= refine)
        .select("query_id", "neighbor_id")
    )
    # exact re-rank: raw vectors fetched ONLY for survivors (broadcast
    # back into the two vector scans — neither big side shuffles)
    qvecs = queries.select(
        F.col(id_col).alias("query_id"), as_double_vec(F.col(vec_col)).alias("qv")
    )
    nvecs = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double_vec(F.col(vec_col)).alias("cv")
    )
    pairs = nvecs.join(F.broadcast(survivors), "neighbor_id").join(
        F.broadcast(qvecs), "query_id"
    )
    sim = F.round(_dot(F.col("qv"), F.col("cv")) / (_norm(F.col("qv")) * _norm(F.col("cv"))), 6)
    scored = pairs.select("query_id", "neighbor_id", sim.alias("cosine_sim"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("sim_rank", F.row_number().over(w).cast("long")).filter(
        F.col("sim_rank") <= k
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    k: int = 5,
    bits: int = 8,
    tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: LSH-bucket candidates, exact re-rank within them.

    Recall < 1 by construction; tests measure it against cosine_topk."""
    cb = with_lsh_buckets(
        ensure_parallelism(
            corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
        ),
        vec_col="cv", dim=dim, bits=bits, tables=tables, seed=seed,
    )
    qb = with_lsh_buckets(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")),
        vec_col="qv", dim=dim, bits=bits, tables=tables, seed=seed,
    )
    cands = (
        cb.join(F.broadcast(qb), ["table", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    qv, cv = as_double_vec(F.col("qv")), as_double_vec(F.col("cv"))
    sim = F.round(_dot(qv, cv) / (_norm(qv) * _norm(cv)), 6)
    scored = cands.select("query_id", "neighbor_id", sim.alias("cosine_sim"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("sim_rank", F.row_number().over(w).cast("long")).filter(
        F.col("sim_rank") <= k
    )


def jl_projection_matrix(dim: int, out_dim: int, seed: int) -> np.ndarray:
    """Seeded Gaussian JL matrix (out_dim × dim), scaled 1/√out_dim so
    squared distances are preserved in expectation, then quantized."""
    rng = np.random.RandomState(seed)
    return quantize(rng.standard_normal((out_dim, dim)) / np.sqrt(out_dim))


def jl_project(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    out_dim: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Johnson–Lindenstrauss random projection: (id, proj array<long>)
    with proj = Q(x) · Q(R)ᵀ — the dimensionality-reduction front of an
    embedding pipeline (4× fewer bytes per vector into ANN/dedup, with
    JL's distance-distortion guarantee; preservation measured in tests).

    One Arrow-batched integer matmul per batch, map-side only. The
    DOUBLE-quantized integer output (scale 2^40) is exact — the same
    argmax/threshold discipline as the LSH/IVF operators (see ``QUANT``),
    so projected vectors are bit-identical in the DuckDB oracle; consumers
    rescale by 2^-40 when they need real-valued coordinates."""
    proj_q = jl_projection_matrix(dim, out_dim, seed)

    @F.pandas_udf(ArrayType(LongType()))
    def project_pd(vecs: pd.Series) -> pd.Series:
        mat = quantize(np.array(vecs.tolist(), dtype=np.float64))
        return pd.Series(list(mat @ proj_q.T))

    return df.select(F.col(id_col), project_pd(F.col(vec_col)).alias("proj"))


def filtered_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    filter_col: str = "label",
    k: int = 5,
) -> DataFrame:
    """Metadata-FILTERED vector search: exact top-k restricted to
    neighbors sharing the query's ``filter_col`` value — the headline
    vector-database feature (search within a tenant / language / split)
    that post-filtering an unfiltered ANN result gets WRONG (k survivors
    are not the top-k of the filtered set when the filter is selective).

    The filter value joins as a key, so candidate generation is already
    restricted — per-query work is the filter partition, not the corpus,
    and at scale a corpus stored partitioned/bucketed on the filter
    column turns the join into a pruned scan. Compose with the IVF/PQ
    operators inside each filter group when partitions are themselves
    huge. Output carries the filter value."""
    c = ensure_parallelism(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            as_double_vec(F.col(vec_col)).alias("cv"),
            F.col(filter_col),
        )
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        as_double_vec(F.col(vec_col)).alias("qv"),
        F.col(filter_col),
    )
    pairs = c.join(F.broadcast(q), [filter_col]).filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    sim = F.round(
        _dot(F.col("qv"), F.col("cv")) / (_norm(F.col("qv")) * _norm(F.col("cv"))), 6
    )
    scored = pairs.select("query_id", "neighbor_id", filter_col, sim.alias("cosine_sim"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("sim_rank", F.row_number().over(w).cast("long")).filter(
        F.col("sim_rank") <= k
    )
