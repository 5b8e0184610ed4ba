"""Portable HyperLogLog: approximate distinct counts as native algebra.

Classic HLL (Flajolet et al., "HyperLogLog: the analysis of a near-optimal
cardinality estimation algorithm", 2007) with the standard linear-counting
small-range correction, built entirely from DataFrame expressions — no UDF,
no sketch library. Spark's built-in ``approx_count_distinct`` (HLL++) is
the production default at 100 TB (see ``plans/workloads.py``), but its
register layout is engine-private, so results can't be cross-checked by
another engine. This implementation trades a little speed for
*portability*: every step up to the final estimate is exact 64-bit integer
arithmetic over the md5-derived 60-bit hash (``neardup.portable_hash64``),
so DuckDB replicates registers AND estimates bit-for-bit and the driver's
value-hash gate covers the whole pipeline.

Scale shape: one hash-aggregate to registers — map-side partial ``max``
per (group, bucket), shuffle carries at most m=2^p rows per group — then a
second tiny aggregate to estimates. Registers are max-mergeable, so
incremental variants union register tables and re-``max`` (see
``test_sketch.py::test_register_merge``); that is the HLL property that
makes the sketch a warehouse primitive (store registers, merge on read).

Determinism across engines, step by step:
- bucket = hash mod m and w = hash div m: exact integers.
- rho(w) = trailing-zero count of w, + 1 (geometric with P(rho=k)=2^-k,
  same as the leading-zero form): ``w & -w`` isolates the lowest set bit —
  an exact power of two — and ``round(log2(.))`` recovers its exponent.
  log2 of a power of two is within 1e-13 of an integer in any IEEE libm,
  so the round is exact in both engines and rho is an exact integer.
- Registers m_j = max(rho): exact integers.
- sum(2^-m_j) is kept as the exact integer S = sum(2^(RHO_MAX - m_j)),
  absent buckets contributing 2^RHO_MAX each; S <= 2^61 (m*2^(RHO_MAX+1-p)
  = 2^61 for every p), no overflow.
- Raw estimate alpha*m^2/sum(2^-m_j) = C/S where C = alpha*m^2*2^RHO_MAX
  is embedded as one repr'd double literal (parsed to the identical double
  by both engines); a single IEEE division is identically rounded
  everywhere.
- Linear counting (E <= 2.5m and zeros > 0): m*ln(m/zeros). ln may differ
  by ~1 ulp between libms — relative 2e-16, absolute << 1e-9 at any
  cardinality a sketch would report — and the result is rounded to a whole
  count, so both engines agree unless the true value sits within 1e-9 of
  .5, which the 3-SF oracle sweep would catch on this deterministic data.
  The branch condition itself compares identical doubles, so both engines
  always take the same branch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import materialize
from .neardup import portable_hash64

HASH_BITS = 60  # portable_hash64 yields 15 hex digits


def _rho_max(p: int) -> int:
    return HASH_BITS - p + 1


def _alpha_c(p: int) -> float:
    """alpha_m * m^2 * 2^RHO_MAX — the raw-estimate numerator constant."""
    m = 1 << p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    return alpha * m * m * float(1 << _rho_max(p))


def hll_registers(
    df: DataFrame,
    key_col: str,
    group_cols: list[str],
    p: int = 12,
) -> DataFrame:
    """(group_cols..., bucket, m_j) HLL registers, one row per non-empty
    bucket. Null keys are ignored (countDistinct semantics). Max-mergeable:
    union register tables and re-aggregate ``max(m_j)`` to combine
    sketches."""
    if not 4 <= p <= 18:
        raise ValueError(f"p={p} out of range [4, 18]")
    m = 1 << p
    rho_max = _rho_max(p)
    h = df.filter(F.col(key_col).isNotNull()).select(
        *group_cols,
        portable_hash64(F.col(key_col).cast("string")).alias("hv_"),
    )
    w = f"(hv_ div {m})"
    rho = F.when(
        F.expr(w) > F.lit(0),
        F.round(F.log2(F.expr(f"{w} & -{w}"))).cast("long") + F.lit(1),
    ).otherwise(F.lit(rho_max))
    return (
        h.select(*group_cols, F.pmod("hv_", F.lit(m)).alias("bucket"), rho.alias("rho_"))
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rho_").alias("m_j"))
    )


def hll_estimate(
    registers: DataFrame,
    group_cols: list[str],
    p: int = 12,
    out_col: str = "hll_count",
) -> DataFrame:
    """Collapse a register table to one approximate distinct count (long)
    per group. Groups must be the same ``group_cols`` the registers were
    built with."""
    m = 1 << p
    rho_max = _rho_max(p)
    c_lit = repr(_alpha_c(p))
    lc_threshold = repr(2.5 * m)
    g = registers.groupBy(*group_cols).agg(
        F.sum(F.expr(f"shiftleft(cast(1 as bigint), cast({rho_max} - m_j as int))")).alias(
            "s_present_"
        ),
        F.count(F.lit(1)).alias("nonzero_"),
    )
    zeros = F.lit(m) - F.col("nonzero_")
    s_total = F.col("s_present_") + zeros * F.lit(1 << rho_max)
    e_raw = F.lit(float(c_lit)) / s_total.cast("double")
    est = F.when(
        (e_raw <= F.lit(float(lc_threshold))) & (zeros > F.lit(0)),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double")),
    ).otherwise(e_raw)
    return g.select(*group_cols, F.round(est).cast("long").alias(out_col))


def hll_distinct(
    df: DataFrame,
    key_col: str,
    group_cols: list[str],
    p: int = 12,
    out_col: str = "hll_count",
) -> DataFrame:
    """One-shot: registers + estimate."""
    return hll_estimate(
        hll_registers(df, key_col, group_cols, p=p), group_cols, p=p, out_col=out_col
    )


def hll_merge(registers: DataFrame, group_cols: list[str]) -> DataFrame:
    """Max-merge a register table to a coarser grouping — the sketch
    rollup primitive: registers built per (day, key) collapse to per-key
    (or global) registers with ONE max-aggregate, no rescan of the raw
    data. Because a register is max(rho) over hash values and max is
    associative, merging partial sketches is bit-identical to sketching
    the union — the property that makes HLL a 100 TB warehouse type
    (store daily registers, answer any date-range distinct by merge)."""
    return registers.groupBy(*group_cols, "bucket").agg(
        F.max("m_j").alias("m_j")
    )


# ---------------------------------------------------------------------------
# Portable quantile histogram (HDR-histogram / DDSketch-shaped, exact-integer)
#
# Buckets a non-negative INTEGER value column into log2 octaves with 2^k
# linear sub-buckets each (HdrHistogram's layout; DDSketch quality bounds):
# values below 2^k index to themselves (exact region); larger values index
# by (exponent, top-k mantissa bits), giving relative error < 2^-k per
# bucket. The exponent is NOT computed with libm log2 on arbitrary values
# (1-ulp differences near powers of two would shift bucket boundaries
# between engines): a 6-step OR-smear isolates the highest set bit — an
# exact power of two, whose log2 rounds exactly (same argument as rho in
# the HLL above) — so bucket ids, counts, and representatives are exact
# integers in both engines. Histograms are sum-mergeable; the quantile walk
# is a window cumulative sum; the only float op is the literal q * n rank
# product, which is one identically-rounded IEEE multiply.

QH_K_BITS = 5  # 32 sub-buckets per octave -> < 3.2% relative error


def _exponent_expr(v: str) -> str:
    """Exact floor(log2({v})) for {v} >= 1 as a SQL expression string
    (valid in both Spark SQL and DuckDB): OR-smear to fill all bits below
    the highest, then isolate it and take its (exact) log2."""
    x = f"({v})"
    for s in (1, 2, 4, 8, 16, 32):
        x = f"({x} | ({x} >> {s}))"
    highbit = f"({x} - ({x} >> 1))"
    return f"CAST(ROUND(LOG2({highbit}), 0) AS BIGINT)"


def _bucket_expr(v: str, k: int) -> str:
    """Bucket index for non-negative integer {v}: identity below 2^k, else
    ((e - k + 1) << k) + top-k mantissa bits — contiguous, order-preserving."""
    e = _exponent_expr(v)
    sub = f"((({v}) >> ({e} - {k})) & {(1 << k) - 1})"
    return (
        f"CASE WHEN ({v}) < {1 << k} THEN ({v}) "
        f"ELSE ((({e}) - {k} + 1) * {1 << k}) + {sub} END"
    )


def quantile_histogram(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    k: int = QH_K_BITS,
) -> DataFrame:
    """(group_cols..., qbucket, cnt, rep) histogram of a non-negative
    integer column. Sum-mergeable on (group, qbucket) — ``rep`` is a pure
    function of the bucket id. Null and negative values are dropped."""
    v = f"cast({value_col} as bigint)"
    base = df.filter(F.col(value_col).isNotNull() & (F.col(value_col) >= 0)).select(
        *group_cols, F.expr(_bucket_expr(v, k)).alias("qbucket")
    )
    hist = base.groupBy(*group_cols, "qbucket").agg(F.count(F.lit(1)).alias("cnt"))
    return hist.withColumn(
        "rep", F.expr(_spark_rep_expr("qbucket", k))
    )


def _spark_rep_expr(idx: str, k: int) -> str:
    # Spark SQL has no '//' operator; 'div' is its exact integer division.
    e = f"((({idx}) div {1 << k}) + {k} - 1)"
    sub = f"(({idx}) % {1 << k})"
    return (
        f"CASE WHEN ({idx}) < {1 << k} THEN cast(({idx}) as bigint) "
        f"ELSE cast(({1 << k} + {sub}) as bigint) * cast(shiftleft(cast(1 as bigint), cast({e} - {k} as int)) as bigint) END"
    )


def _duck_rep_expr(idx: str, k: int) -> str:
    e = f"((({idx}) // {1 << k}) + {k} - 1)"
    sub = f"(({idx}) % {1 << k})"
    return (
        f"CASE WHEN ({idx}) < {1 << k} THEN CAST(({idx}) AS BIGINT) "
        f"ELSE CAST(({1 << k} + {sub}) AS BIGINT) * (1::BIGINT << CAST({e} - {k} AS INTEGER)) END"
    )


def approx_quantiles(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    qs: list[float],
    k: int = QH_K_BITS,
) -> DataFrame:
    """Per-group approximate quantiles (bucket lower bounds, as longs) at
    the given fractions: rank = greatest(1, ceil(q*n)) against the
    cumulative histogram. Column names are p{100q} (p50, p99, ...)."""
    from pyspark.sql import Window

    hist = quantile_histogram(df, value_col, group_cols, k=k)
    tot = hist.groupBy(*group_cols).agg(F.sum("cnt").alias("n_"))
    w = Window.partitionBy(*group_cols).orderBy("qbucket")
    cum = hist.withColumn("cum_", F.sum("cnt").over(w)).join(tot, group_cols)
    aggs = []
    for q in qs:
        rank = F.greatest(F.lit(1).cast("long"), F.ceil(F.lit(q) * F.col("n_")).cast("long"))
        aggs.append(
            F.min(F.when(F.col("cum_") >= rank, F.col("rep"))).alias(_q_name(q))
        )
    return cum.groupBy(*group_cols).agg(*aggs)


def _q_name(q: float) -> str:
    name = f"p{q * 100:g}".replace(".", "_")
    return name


def quantile_oracle_sql(
    table_expr: str,
    value_expr: str,
    group_cols: list[str],
    qs: list[float],
    k: int = QH_K_BITS,
) -> str:
    """DuckDB SQL replicating ``approx_quantiles`` exactly. ``value_expr``
    must already be a non-negative BIGINT expression."""
    gcols = ", ".join(group_cols)
    sels = ",\n        ".join(
        f"MIN(CASE WHEN cum_ >= GREATEST(1, CAST(CEIL({q!r} * n_) AS BIGINT)) "
        f"THEN rep END) AS {_q_name(q)}"
        for q in qs
    )
    return f"""
WITH qh_base AS (
    SELECT {gcols}, {_bucket_expr(f"({value_expr})", k)} AS qbucket
    FROM {table_expr}
    WHERE ({value_expr}) IS NOT NULL AND ({value_expr}) >= 0
), qh_hist AS (
    SELECT {gcols}, qbucket, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM qh_base GROUP BY {gcols}, qbucket
), qh_rep AS (
    SELECT {gcols}, qbucket, cnt, {_duck_rep_expr("qbucket", k)} AS rep
    FROM qh_hist
), qh_cum AS (
    SELECT {gcols}, qbucket, cnt, rep,
        SUM(cnt) OVER (PARTITION BY {gcols} ORDER BY qbucket
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_,
        SUM(cnt) OVER (PARTITION BY {gcols}) AS n_
    FROM qh_rep
)
SELECT {gcols},
    {sels}
FROM qh_cum GROUP BY {gcols}
"""


def oracle_sql(
    table_expr: str,
    key_col: str,
    group_cols: list[str],
    p: int = 12,
    out_col: str = "hll_count",
) -> str:
    """DuckDB SQL replicating ``hll_distinct`` bit-for-bit (same hash, same
    integer register math, same float literals). ``table_expr`` may be a
    table name or a parenthesized subquery."""
    m = 1 << p
    rho_max = _rho_max(p)
    c_lit = repr(_alpha_c(p))
    lc_threshold = repr(2.5 * m)
    gcols = ", ".join(group_cols)
    w = f"(hv // {m})"
    return f"""
WITH hll_h AS (
  SELECT {gcols},
         ('0x' || substr(md5(CAST({key_col} AS VARCHAR)), 1, 15))::BIGINT AS hv
  FROM {table_expr} WHERE {key_col} IS NOT NULL
),
hll_r AS (
  SELECT {gcols}, hv % {m} AS bucket,
         MAX(CASE WHEN {w} > 0
                  THEN CAST(ROUND(LOG2({w} & (-{w})), 0) AS BIGINT) + 1
                  ELSE {rho_max} END) AS m_j
  FROM hll_h GROUP BY {gcols}, hv % {m}
),
hll_g AS (
  SELECT {gcols},
         SUM(1::BIGINT << CAST({rho_max} - m_j AS INTEGER)) AS s_present,
         COUNT(*) AS nonzero
  FROM hll_r GROUP BY {gcols}
),
hll_e AS (
  SELECT {gcols},
         {m} - nonzero AS zeros,
         CAST(s_present + ({m} - nonzero) * (1::BIGINT << {rho_max}) AS DOUBLE) AS s_total
  FROM hll_g
)
SELECT {gcols},
       CAST(ROUND(
         CASE WHEN {c_lit} / s_total <= {lc_threshold} AND zeros > 0
              THEN {float(m)!r} * ln({float(m)!r} / zeros)
              ELSE {c_lit} / s_total END, 0) AS BIGINT) AS {out_col}
FROM hll_e
"""


# ---------------------------------------------------------------------------
# Count-Min sketch: mergeable heavy-hitter counters (Cormode & Muthukrishnan,
# "An improved data stream summary: the count-min sketch and its
# applications", 2005). Third member of the sketch family next to the HLL
# (distincts) and the quantile histogram (quantiles): d×w integer counters,
# estimate = min over rows — always an UPPER bound on the true count, exact
# when no collision lands in all d rows. Counters are sum-mergeable across
# partitions/days/tables, which is what makes them a warehouse primitive at
# 100 TB: store the (row, pos, cnt) table, add on merge, probe on read.
#
# Positions use the same md5 double-hash (Kirsch–Mitzenmacher) as the bloom
# filter, so DuckDB reproduces every counter and every estimate exactly —
# integer arithmetic end to end.


def cms_counters(
    df: DataFrame,
    col: str,
    groups: list[str] | None = None,
    *,
    w_log2: int = 10,
    d: int = 4,
    salt: str = "cms",
) -> DataFrame:
    """(groups..., row, pos, cnt) Count-Min counter table over occurrences
    of ``df[col]``, one sketch per group (e.g. per time window).

    One shuffle: occurrences explode to d position rows (bounded ×d, like
    the bloom build), then a partial-aggregated count onto ≤ d·w rows per
    group. The count aggregate is sum-mergeable: counter tables built
    over disjoint batches add up to the table over their union.
    """
    from .bloom import _h12

    if d < 1:
        raise ValueError("d must be >= 1")
    groups = list(groups or [])
    w = 1 << w_log2
    h1, h2 = _h12(F.col(col), salt)
    pos = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("row"),
                    ((h1 + F.lit(i) * h2) % F.lit(w)).alias("pos"),
                )
                for i in range(d)
            ]
        )
    ).alias("rp")
    return (
        df.select(*groups, pos)
        .select(*groups, "rp.row", "rp.pos")
        .groupBy(*groups, "row", "pos")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_estimate(
    cms: DataFrame,
    probes: DataFrame,
    probe_col: str,
    *,
    w_log2: int = 10,
    d: int = 4,
    salt: str = "cms",
    out_col: str = "cms_cnt",
) -> DataFrame:
    """Probe rows + ``out_col`` = min over the d counters — the CMS
    count estimate (≥ the true count; parameters must match the build).
    d broadcast left-joins of the ≤ d·w-row counter table; map-side only.
    """
    from .bloom import _h12

    w = 1 << w_log2
    h1, h2 = _h12(F.col(probe_col), salt)
    # materialize once (same hazard as bloom_prune): the probe joins the
    # counter table d times, and an unpersisted counter build would
    # re-execute once PER PROBE JOIN
    cms = materialize(cms)
    out = probes
    temp: list[str] = []
    for i in range(d):
        out = out.withColumn(f"__cp{i}", (h1 + F.lit(i) * h2) % F.lit(w))
        side = F.broadcast(
            cms.where(F.col("row") == i).select(
                F.col("pos").alias(f"__cp{i}"), F.col("cnt").alias(f"__cc{i}")
            )
        )
        out = out.join(side, f"__cp{i}", "left")
        temp += [f"__cp{i}", f"__cc{i}"]
    counters = [F.coalesce(F.col(f"__cc{i}"), F.lit(0)) for i in range(d)]
    est = counters[0] if d == 1 else F.least(*counters)
    return out.withColumn(out_col, est.cast("long")).drop(*temp)


def join_size_estimate(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    p: int = 12,
) -> DataFrame:
    """Pre-execution equi-join cardinality estimate from sketch statistics
    — the System-R / Selinger formula every cost-based optimizer uses:

        |L ⋈ R|  ≈  n_L · n_R / max(ndv_L(k), ndv_R(k))

    with the NDVs taken from the portable HLL (the stored-register
    ANALYZE artifact — at 100 TB the planner reads two tiny register
    tables, never the data). Returns one row:
    (n_left, n_right, ndv_left, ndv_right, est_join_rows,
    actual_join_rows) — the actual count is computed too so the estimate
    is auditable; a real planner would skip it. The estimate arithmetic
    is integer (floor div on HLL longs), so the whole row is
    oracle-checkable bit-for-bit, approximation error included.
    """
    lg = left.select(F.col(left_key).alias("k")).withColumn("g", F.lit(1))
    rg = right.select(F.col(right_key).alias("k")).withColumn("g", F.lit(1))
    ndv_l = hll_distinct(lg, "k", ["g"], p=p, out_col="ndv_left")
    ndv_r = hll_distinct(rg, "k", ["g"], p=p, out_col="ndv_right")
    n_l = left.agg(F.count(F.lit(1)).alias("n_left"))
    n_r = right.agg(F.count(F.lit(1)).alias("n_right"))
    actual = (
        left.select(F.col(left_key).alias("k"))
        .join(right.select(F.col(right_key).alias("k")), "k")
        .agg(F.count(F.lit(1)).alias("actual_join_rows"))
    )
    est = F.expr("(n_left * n_right) div greatest(ndv_left, ndv_right)")
    return (
        n_l.crossJoin(n_r)
        .crossJoin(ndv_l.drop("g"))
        .crossJoin(ndv_r.drop("g"))
        .crossJoin(actual)
        .select(
            "n_left", "n_right", "ndv_left", "ndv_right",
            est.alias("est_join_rows"), "actual_join_rows",
        )
    )


def kmv_sketch(df: DataFrame, key_col: str, k: int) -> DataFrame:
    """K-minimum-values sketch: the ``k`` smallest distinct 60-bit
    portable hashes of ``key_col`` (one tiny k-row table). TakeOrdered
    shape — sort-limit pushes the top-k into per-partition heaps, no
    global sort. Mergeable: union two sketches and re-take the k
    smallest (:func:`kmv_overlap` does exactly that)."""
    if k < 2:
        raise ValueError("k must be >= 2")
    return (
        df.filter(F.col(key_col).isNotNull())
        .select(portable_hash64(F.col(key_col).cast("string")).alias("hv"))
        .distinct()
        .orderBy("hv")
        .limit(k)
    )


def kmv_overlap(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    k: int = 256,
) -> DataFrame:
    """Set-overlap estimation from two KMV sketches (Beyer et al., "On
    synopses for distinct-value estimation under multiset operations",
    SIGMOD 2007): how much do two key sets overlap — WITHOUT joining
    them. The workhorse audit for dataset overlap at 100 TB (corpus vs
    corpus, audience vs audience, train vs eval): each side is reduced
    to its k smallest distinct hashes; everything after that is
    arithmetic on 2k rows.

    - union sketch = k smallest of (sketch_L ∪ sketch_R); its k-th value
      ``kth_min`` estimates |L ∪ R| ≈ (k−1)·M / kth_min (hashes are
      uniform on [0, M), M = 2^60);
    - ``matches`` = union-sketch members present in BOTH sketches;
      Jaccard ≈ matches / k, |L ∩ R| ≈ matches · est_union / k.

    Every estimator here is INTEGER floor-div arithmetic on the md5-
    derived hashes — deterministic and engine-portable, so the sketch
    estimates themselves (error included) are oracle-checked bit-for-bit
    next to the exact audited counts. One row:
    (k_used, kth_min, matches, est_union, est_intersection,
    actual_union, actual_intersection)."""
    m_space = 1 << 60
    skl = kmv_sketch(left, left_key, k)
    skr = kmv_sketch(right, right_key, k)
    union_sk = skl.unionByName(skr).distinct().orderBy("hv").limit(k)
    # membership flags via tiny broadcast joins (k rows each side)
    marked = (
        union_sk.join(
            F.broadcast(skl.withColumn("in_l", F.lit(1))), "hv", "left"
        )
        .join(F.broadcast(skr.withColumn("in_r", F.lit(1))), "hv", "left")
    )
    est = marked.agg(
        F.count(F.lit(1)).alias("k_used"),
        F.max("hv").alias("kth_min"),
        F.sum(
            (F.col("in_l").isNotNull() & F.col("in_r").isNotNull()).cast("long")
        ).alias("matches"),
    ).select(
        "k_used",
        "kth_min",
        "matches",
        # not-full sketch (< k distinct hashes in the union) = the sketch
        # IS the set: counts are exact, no extrapolation
        # (k−1)·2^60 exceeds int64 — evaluate in DECIMAL(38,0) (HUGEINT in
        # the oracle), floor-div back to bigint
        F.when(F.col("k_used") < F.lit(k), F.col("k_used"))
        .otherwise(
            F.expr(
                f"cast((cast(k_used - 1 as decimal(38,0)) * {m_space}) "
                "div kth_min as bigint)"
            )
        )
        .alias("est_union"),
    ).select(
        "*",
        F.when(F.col("k_used") < F.lit(k), F.col("matches"))
        .otherwise(F.expr("(matches * est_union) div k_used"))
        .alias("est_intersection"),
    )
    lk = left.select(F.col(left_key).alias("kk")).filter(F.col("kk").isNotNull()).distinct()
    rk = right.select(F.col(right_key).alias("kk")).filter(F.col("kk").isNotNull()).distinct()
    actual = lk.unionByName(rk).distinct().agg(
        F.count(F.lit(1)).alias("actual_union")
    ).crossJoin(
        lk.join(rk, "kk").agg(F.count(F.lit(1)).alias("actual_intersection"))
    )
    return est.crossJoin(actual)
