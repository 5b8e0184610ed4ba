"""Deterministic dataset splitting and shard packing for training pipelines.

Two staples of large-scale training-data preparation, both pure Catalyst
expressions (no Python, no randomness, reproducible across runs/engines):

- **hash_split**: assign each row to train/val/test by comparing a hex
  prefix of ``md5(key || '|' || salt)`` against cumulative-fraction
  thresholds. Splitting on a GROUP key (e.g. ``source``) instead of the
  row id keeps all rows of a group in one split — the standard guard
  against train/eval leakage through near-duplicate documents from the
  same origin. Changing ``salt`` re-deals the assignment; md5 is
  engine-portable (identical lowercase hex in Spark and DuckDB, so the
  split is oracle-checkable and stable across the stack).
- **pack_token_shards**: pack documents into fixed-token-budget shards the
  way a sequential shard writer would. A GLOBAL greedy pack is inherently
  serial (one running total), so the corpus is first split across
  ``writers`` independent writers (``id % writers``); each writer packs
  its docs in id order via a windowed running sum — the window shuffles
  once on the writer key and each partition runs independently, which is
  exactly how parallel shard writers behave at 100 TB. A doc that crosses
  the budget boundary finishes its current shard (shards can overflow by
  at most one document, never split a document).

Scale notes: hash_split is map-side only (no shuffle). pack_token_shards
shuffles once (hash by writer) and sorts within writers; skew is bounded
because ``id % writers`` spreads uniformly regardless of data skew.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window
from pyspark.storagelevel import StorageLevel

from ..session import materialize

_HEX_DIGITS = 8  # 32 bits of the md5 — fraction resolution ~2.3e-10


def split_thresholds(fractions: Mapping[str, float]) -> list[tuple[str, str]]:
    """(label, upper-bound hex prefix) per split, cumulative order.

    The last split's bound is forced to the maximum so fractions that sum
    to 1 within float error still cover every row."""
    if not fractions:
        raise ValueError("fractions must be non-empty")
    total = sum(fractions.values())
    if not 0.999 <= total <= 1.001:
        raise ValueError(f"fractions must sum to 1 (got {total})")
    out: list[tuple[str, str]] = []
    cum = 0.0
    labels = list(fractions)
    for label in labels[:-1]:
        cum += fractions[label]
        bound = min(int(cum * 16**_HEX_DIGITS), 16**_HEX_DIGITS - 1)
        out.append((label, format(bound, f"0{_HEX_DIGITS}x")))
    out.append((labels[-1], "g" * _HEX_DIGITS))  # > every hex string
    return out


def split_column(key: Column, fractions: Mapping[str, float], *, salt: str = "") -> Column:
    """The split label as an expression over a (group) key column."""
    prefix = F.substring(F.md5(F.concat(key.cast("string"), F.lit("|" + salt))), 1, _HEX_DIGITS)
    thresholds = split_thresholds(fractions)
    expr = F.lit(thresholds[-1][0])
    for label, bound in reversed(thresholds[:-1]):
        expr = F.when(prefix < F.lit(bound), F.lit(label)).otherwise(expr)
    return expr


def hash_split(
    df: DataFrame,
    *,
    key_col: str,
    fractions: Mapping[str, float] | None = None,
    salt: str = "",
    out_col: str = "split",
) -> DataFrame:
    """Add a deterministic train/val/test assignment keyed on ``key_col``.

    All rows sharing a key land in the same split (leakage-safe when the
    key is a group id like ``source``). Map-side only — no shuffle."""
    fractions = fractions or {"train": 0.9, "val": 0.05, "test": 0.05}
    return df.withColumn(out_col, split_column(F.col(key_col), fractions, salt=salt))


def rate_bound(rate: float) -> str:
    """Hex md5-prefix upper bound for a keep-rate in [0, 1]."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0, 1] (got {rate})")
    if rate >= 1.0:
        return "g" * _HEX_DIGITS  # > every hex string: keep all
    return format(int(rate * 16**_HEX_DIGITS), f"0{_HEX_DIGITS}x")


def stratified_sample(
    df: DataFrame,
    *,
    strata_col: str,
    key_col: str,
    rates: Mapping[str, float],
    default_rate: float = 0.0,
    salt: str = "",
) -> DataFrame:
    """Deterministic per-stratum sampling: keep a row iff the md5-prefix of
    its key falls under the stratum's rate threshold.

    The map-side, engine-portable form of ``df.sampleBy``: same md5
    mechanics as :func:`hash_split` (reproducible across runs, engines and
    partitionings — seeded RNG sampling is none of those), so rebalancing
    a corpus (e.g. downsampling over-represented languages) is exactly
    repeatable and oracle-checkable. No shuffle; strata not in ``rates``
    fall back to ``default_rate``."""
    prefix = F.substring(
        F.md5(F.concat(F.col(key_col).cast("string"), F.lit("|" + salt))),
        1,
        _HEX_DIGITS,
    )
    bound = F.lit(rate_bound(default_rate))
    for label, rate in rates.items():
        bound = F.when(
            F.col(strata_col) == F.lit(label), F.lit(rate_bound(rate))
        ).otherwise(bound)
    return df.filter(prefix < bound)


_TEMP_BITS = 20  # per-row hash fraction resolution (2^-20 ≈ 1e-6)


def temperature_sample(
    df: DataFrame,
    *,
    domain_col: str,
    key_col: str,
    salt: str = "",
) -> DataFrame:
    """Deterministic sqrt-temperature domain rebalancing (α = 1/2).

    Training mixtures flatten domain frequencies with a temperature:
    target counts ∝ n_d^α. For the standard α = 1/2, each domain keeps
    rows at rate ``sqrt(n_min / n_d)`` (the smallest domain is kept whole,
    larger domains are downsampled toward equal representation).

    The keep decision is EXACT INTEGER math — no pow/sqrt calls whose last
    ulp could differ between engines and flip a membership near the
    threshold. With h a ``2^k``-bounded hash of the row key (k=20 bits of
    md5, the portable-hash idiom of operators/neardup.py) and
    u = h / 2^k the row's uniform draw::

        keep  ⟺  u < sqrt(n_min / n_d)
              ⟺  u² < n_min / n_d
              ⟺  h² · n_d < n_min · 4^k      (all integers)

    The product comparison runs in DECIMAL(38,0) (exact in Spark decimal
    arithmetic and DuckDB HUGEINT alike): h² < 2^40, so both sides stay
    under 1e38 for any n_d below ~1e13 rows per domain — comfortably past
    100 TB corpora.

    Shape at scale: one partial-aggregated shuffle over the (tiny) domain
    key to get counts, a broadcast join of those counts back (the corpus
    itself never shuffles), then a map-side filter. Reproducible across
    runs, engines, and partitionings; re-deal with ``salt``.
    """
    counts = df.groupBy(domain_col).agg(F.count(F.lit(1)).alias("__n_d"))
    n_min = counts.agg(F.min("__n_d").alias("__n_min"))
    rates = F.broadcast(counts.crossJoin(F.broadcast(n_min)))
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.col(key_col).cast("string"), F.lit("|" + salt))),
            1,
            _TEMP_BITS // 4,
        ),
        16,
        10,
    ).cast("long")
    dec = "decimal(38,0)"
    keep = (
        F.col("__h").cast(dec) * F.col("__h").cast(dec) * F.col("__n_d").cast(dec)
        < F.col("__n_min").cast(dec) * F.lit(4 ** _TEMP_BITS).cast(dec)
    )
    return (
        df.withColumn("__h", h)
        .join(rates, domain_col)
        .where(keep)
        .drop("__h", "__n_d", "__n_min")
    )


def pack_token_shards(
    df: DataFrame,
    *,
    id_col: str,
    token_col: str,
    budget: int,
    writers: int = 8,
) -> DataFrame:
    """Add (writer, shard) columns: contiguous fixed-budget packing.

    writer = id % writers; within a writer, docs pack in id order: a doc
    goes to the budget window its running-total START falls in, and the
    occupied windows are dense-ranked so shard numbers are 0..n with no
    gaps (a single doc spanning several whole budgets still yields one
    shard — documents are never split). Shards hold at most budget +
    one-overflowing-document tokens. One shuffle (by writer), then each
    writer packs independently via two same-partition window passes — the
    distributed form of parallel sequential shard writers."""
    if budget <= 0 or writers <= 0:
        raise ValueError("budget and writers must be positive")
    writer = F.pmod(F.col(id_col), F.lit(writers)).cast("long")
    w = (
        Window.partitionBy("writer")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(token_col).over(w)
    # integer `div`, not FLOOR(x / float): double division loses exactness
    # past ~2^53 cumulative tokens per writer, which matters at 100 TB
    with_start = (
        df.withColumn("writer", writer)
        .withColumn("__start", (cum - F.col(token_col)).cast("long"))
    )
    with_bucket = with_start.withColumn(
        "__bucket", F.expr(f"__start div {int(budget)}")
    ).drop("__start")
    dense = Window.partitionBy("writer").orderBy("__bucket")
    return with_bucket.withColumn(
        "shard", (F.dense_rank().over(dense) - 1).cast("long")
    ).drop("__bucket")


def dsir_importance_scores(
    docs: DataFrame,
    target: Column,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 256,
    ratio_scale: int = 1024,
) -> DataFrame:
    """Importance-weighted data selection à la DSIR (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling") with
    the log-likelihood-ratio arithmetic rearranged to EXACT integers.

    DSIR scores each raw document by how target-like its hashed n-gram
    features are: score(d) = Σ_f c_df·(log p_target(f) − log p_raw(f)).
    Floats + libm logs make that unverifiable across engines, so here:

    - features are word unigrams hashed into ``buckets`` buckets with the
      portable md5 hash (identical in Spark and DuckDB);
    - the Laplace-smoothed probability ratio becomes one integer floor
      division: r_f = ((T_f+1)·R_tot·scale) div ((R_f+1)·T_tot);
    - log2 is the INTEGER log ``length(bin(r_f))``, giving the weight
      w_f = ⌊log2 r_f⌋ + 1 − (⌊log2 scale⌋ + 1) ∈ [−log2 scale, …] —
      0 for features exactly as common in target as in raw;
    - score(d) = Σ c_df·w_f is an associative int64 sum; keep = score ≥ 0.

    Scale shape: one tokenization pass; the feature table is ``buckets``
    rows (partial-aggregated map-side — low key cardinality is fine
    BECAUSE of the map-side combine) and joins back BROADCAST, so corpus
    tokens shuffle only for the per-doc score aggregate. The target set
    is identified by a per-row boolean column — no second corpus scan.

    Returns (id, n_tokens, dsir_score, keep)."""
    from .neardup import portable_hash64
    from .text import normalized

    base = docs.select(
        F.col(id_col).alias("id_"),
        F.col(text_col).alias("txt_"),
        target.cast("long").alias("is_t"),
    )
    toks = base.select(
        "id_",
        "is_t",
        F.explode(F.split(normalized(F.col("txt_")), " ")).alias("tok"),
    ).withColumn("f", portable_hash64(F.col("tok")) % F.lit(int(buckets)))
    feat = toks.groupBy("f").agg(
        F.sum("is_t").alias("t_f"), F.count(F.lit(1)).alias("r_f")
    )
    totals = feat.agg(
        F.sum("t_f").alias("t_tot"), F.sum("r_f").alias("r_tot")
    )
    log2_scale_p1 = int(ratio_scale).bit_length()  # length(bin(scale))
    weights = feat.crossJoin(F.broadcast(totals)).select(
        "f",
        (
            F.length(
                F.bin(
                    F.expr(
                        f"((t_f + 1) * r_tot * {int(ratio_scale)}) div ((r_f + 1) * t_tot)"
                    )
                )
            ).cast("long")
            - F.lit(log2_scale_p1)
        ).alias("w"),
    )
    scored = (
        toks.join(F.broadcast(weights), "f")
        .groupBy("id_")
        .agg(F.count(F.lit(1)).alias("n_tokens"), F.sum("w").alias("dsir_score"))
    )
    return scored.select(
        F.col("id_").alias(id_col),
        "n_tokens",
        "dsir_score",
        (F.col("dsir_score") >= 0).cast("long").alias("keep"),
    )


def negative_samples(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    k: int = 4,
    salt: str = "neg",
) -> DataFrame:
    """``k`` deterministic pseudo-random negatives per anchor row —
    contrastive/DPO pair construction without a cross join and without
    nondeterministic ``rand()``.

    Every doc gets a dense 1..N position by ranking on ``md5(id)`` (a
    deterministic shuffle of the id space), via the range-partitioned
    :func:`operators.ranking.ranked` — no single-partition window. For
    anchor ``a`` and slot ``i``, the negative is the doc at position
    ``(pos(a) - 1 + step) % N + 1`` with
    ``step = hash64(a || salt || i) % (N-1) + 1``: step ∈ [1, N-1] can
    never select the anchor itself, and distinct slots of one anchor use
    independent hashes. Engine-portable md5 arithmetic end-to-end, so
    the pair set is oracle-checkable bit-for-bit.

    Scale shape: one range shuffle for the position index (ranked pins
    it), one N·k ↔ N equi-join on integer positions (uniform keys — the
    md5 shuffle destroys any id clustering, so no skew); N is a
    control-plane count. Real pipelines post-filter accidental positives
    (a hashed negative that is a near-dup of its anchor) with the
    near-dup operators; sampling and filtering stay separate passes.
    """
    from .neardup import portable_hash64
    from .ranking import ranked

    if k < 1:
        raise ValueError("k must be >= 1")
    ids = df.select(F.col(id_col))
    n = ids.count()
    if n < 2:
        raise ValueError("need at least 2 rows to draw negatives")
    keyed = ids.withColumn("__h", F.md5(F.col(id_col).cast("string")))
    # id_col as tie-break key: md5 collisions are negligible but the
    # position map must be a PERMUTATION (rank ties would alias two docs
    # onto one position and duplicate join rows)
    pos = ranked(keyed, ["__h", id_col], method="rank", out_col="__p").drop("__h")
    anchors = pos.select(
        F.col(id_col).alias("anchor_id"),
        "__p",
        F.explode(F.array(*[F.lit(i) for i in range(k)])).alias("slot"),
    )
    step = (
        F.pmod(
            portable_hash64(
                F.concat(
                    F.col("anchor_id").cast("string"),
                    F.lit(f"|{salt}|"),
                    F.col("slot").cast("string"),
                )
            ),
            F.lit(n - 1),
        )
        + 1
    )
    with_tgt = anchors.withColumn(
        "__tp", F.pmod(F.col("__p") - 1 + step, F.lit(n)) + 1
    ).drop("__p")
    lookup = pos.select(
        F.col(id_col).alias("neg_id"), F.col("__p").alias("__tp")
    )
    return (
        with_tgt.join(lookup, "__tp")
        .select(
            F.col("anchor_id").alias(id_col),
            F.col("slot").cast("long").alias("slot"),
            F.col("neg_id").alias("neg_doc_id"),
        )
    )


def epoch_repeats(
    df: DataFrame,
    *,
    key_col: str,
    epochs: Mapping[str, float],
    strata_col: str,
    salt: str = "mix",
    default_epochs: float = 1.0,
) -> DataFrame:
    """Data mixing with REPETITION: realize fractional per-source epoch
    counts (e.g. books ×2.25, web ×0.8) as integer per-row copy counts —
    how a training mixture over/under-samples sources when weighting
    alone is not enough (the Gopher/LLaMA recipe of "N epochs of X").

    Each row repeats ``floor(e)`` times plus one more iff its md5
    fraction falls below ``frac(e)`` — so any population's realized total
    is exactly ``e`` in expectation with per-row determinism (same
    rows get the extra copy on every run/engine; e < 1 becomes a plain
    deterministic subsample). Output: input rows replicated with a
    ``copy_ix`` (1-based) — downstream shuffling/packing treats copies
    as independent rows.

    Map-side only: a CASE over the strata column picks the rate, one
    ``sequence``+explode realizes the copies (bounded ×⌈e⌉ blowup). The
    md5 rule reuses :func:`rate_bound`, so the oracle replays assignments
    bit-for-bit."""
    if default_epochs < 0 or any(e < 0 for e in epochs.values()):
        raise ValueError("epoch counts must be >= 0")

    def parts(e: float) -> tuple[int, str]:
        base = int(e)
        return base, rate_bound(e - base)

    base_col = F.lit(int(default_epochs))
    bound_col = F.lit(rate_bound(default_epochs - int(default_epochs)))
    for src, e in epochs.items():
        b, frac_bound = parts(e)
        base_col = F.when(F.col(strata_col) == src, F.lit(b)).otherwise(base_col)
        bound_col = F.when(F.col(strata_col) == src, F.lit(frac_bound)).otherwise(
            bound_col
        )
    prefix = F.substring(
        F.md5(F.concat(F.col(key_col).cast("string"), F.lit("|" + salt))),
        1,
        _HEX_DIGITS,
    )
    repeats = base_col + (prefix < bound_col).cast("int")
    return (
        df.withColumn("__rep", repeats)
        .filter(F.col("__rep") > 0)
        .withColumn("copy_ix", F.explode(F.sequence(F.lit(1), F.col("__rep"))))
        .drop("__rep")
        .withColumn("copy_ix", F.col("copy_ix").cast("long"))
    )


def seeded_shuffle_shards(
    df,
    *,
    id_col: str = "doc_id",
    n_shards: int = 8,
    seed: str = "epoch0",
) -> "DataFrame":
    """Reproducible global training order + balanced shard assignment —
    the step between a curated corpus and a training job: every run (and
    every engine) must agree on which example is sample k of shard s.

    Order key = md5(seed || '|' || id) — a deterministic permutation
    that reshuffles completely when the seed (e.g. the epoch tag)
    changes, with the id itself as tiebreak so the order is total even
    under hash collisions. Global positions come from the scalable rank
    (:func:`.ranking.ranked` — range partition + Arrow carry pass; the
    md5 keys are uniform, so the range partitioner is perfectly
    balanced and the single-partition ORDER BY window never appears).
    Shards interleave round-robin — |shard sizes| differ by ≤ 1 by
    construction, no post-hoc rebalancing.

    Returns (id, shard, pos): shard ∈ [0, n_shards), pos = position
    within the shard's read order. Exact string/integer arithmetic
    end-to-end, so the DuckDB oracle replays the whole permutation
    (``training_shuffle_shards``)."""
    from . import ranking

    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    keyed = df.select(
        F.col(id_col),
        F.md5(
            F.concat(F.lit(str(seed) + "|"), F.col(id_col).cast("string"))
        ).alias("__okey"),
    )
    pos = ranking.ranked(
        keyed, ["__okey", id_col], method="rank", out_col="__rn"
    )
    return pos.select(
        F.col(id_col),
        ((F.col("__rn") - 1) % n_shards).cast("long").alias("shard"),
        # integer div, not float-divide-then-cast: exact at any N
        F.expr(f"(__rn - 1) div {int(n_shards)}").cast("long").alias("pos"),
    )


def perplexity_buckets(
    scored: DataFrame,
    *,
    id_col: str = "doc_id",
    sum_col: str = "surprisal_sum",
    n_col: str = "n_tokens",
    n_buckets: int = 3,
    scale: int = 1_000_000,
) -> DataFrame:
    """Assign each document to an equal-population perplexity bucket
    (0 = most predictable … n_buckets-1 = most surprising) — the
    CCNet-style head/middle/tail cut that downstream sampling keeps at
    different rates.

    The ordering key is the EXACT scaled-integer ratio
    ``sum_col · scale div n_col`` (CLAUDE.md float discipline: a double
    ratio could order differently across engines at ties); the global
    position comes from the range-partitioned scalable rank over
    ``(scaled, id)`` — unique keys, so rank ≡ row_number with NO
    single-partition window — and ``bucket = (rank-1)·n_buckets div N``
    puts bucket sizes within 1 of each other at any N. Output: the input
    columns + ``scaled_bits``, ``rk``, ``bucket``."""
    from . import ranking

    if n_buckets < 2:
        raise ValueError("n_buckets must be >= 2")
    scaled = scored.withColumn(
        "scaled_bits",
        F.expr(f"{sum_col} * {int(scale)} div {n_col}").cast("long"),
    )
    # the ranked table feeds BOTH the row-count aggregate and the bucket
    # projection — materialize the diamond or the Arrow rank pass (and the
    # whole upstream scoring chain's cache read) runs twice per action
    pos = materialize(
        ranking.ranked(scaled, ["scaled_bits", id_col], method="rank", out_col="rk"),
        StorageLevel.MEMORY_AND_DISK_DESER,
    )
    n = pos.agg(F.count(F.lit(1)).alias("__n"))
    return (
        pos.crossJoin(F.broadcast(n))
        .withColumn(
            "bucket",
            F.expr(f"(rk - 1) * {int(n_buckets)} div __n").cast("long"),
        )
        .drop("__n")
    )


def mixture_budget_allocate(
    df: DataFrame,
    *,
    source_col: str = "source",
    key_col: str = "doc_id",
    text_col: str = "text",
    weights: Mapping[str, int],
    salt: str = "",
) -> DataFrame:
    """Training-mixture budget allocation under single-epoch supply —
    the planning step between "we want mixture w" (DoReMi / GPT-3-style
    domain weights) and "sample the corpus": the largest total token
    budget B such that every weighted source can supply its share
    without repeating data is ``B = min_s ⌊T_s·W / w_s⌋`` (T_s = tokens
    available in source s, W = Σ weights); each source's target is then
    ``tgt_s = ⌊B·w_s / W⌋`` and documents keep at rate tgt_s/T_s.

    Every decision is exact-integer: B and tgt via int division, the
    per-document keep via the md5-hash cross-multiplication
    ``h·T_s < tgt_s·2^k`` evaluated in DECIMAL(38,0) (the
    temperature_sample idiom — no float rate whose last ulp could flip
    a membership). Sources absent from ``weights`` are excluded.

    Output: one row per weighted source — available tokens/docs, the
    global budget, the source's target, and the docs/tokens actually
    kept by the deterministic sample (expected ≈ target; sampling is
    doc-granular, as in every published pipeline).

    Shape at 100 TB: one partial-aggregated shuffle by source for the
    supply counts (source cardinality is tiny), a broadcast of the
    per-source rate table back over the corpus, a map-side keep filter,
    and one more partial aggregation — the corpus never shuffles."""
    if not weights:
        raise ValueError("weights must be non-empty")
    if any(w <= 0 for w in weights.values()):
        raise ValueError("weights must be positive integers")
    W = int(sum(weights.values()))
    w_col = None
    for label, w in weights.items():
        c = F.when(F.col(source_col) == F.lit(label), F.lit(int(w)))
        w_col = c if w_col is None else w_col.when(
            F.col(source_col) == F.lit(label), F.lit(int(w))
        )
    docs = df.select(
        source_col,
        F.col(key_col).alias("__key"),
        F.size(F.split(F.trim(F.col(text_col)), r"\s+"))
        .cast("long")
        .alias("__toks"),
    ).filter(F.col(source_col).isin(list(weights)))
    per_src = (
        docs.groupBy(source_col)
        .agg(
            F.sum("__toks").alias("avail_tokens"),
            F.count(F.lit(1)).alias("avail_docs"),
        )
        .withColumn("weight", w_col.cast("long"))
    )
    bmin = per_src.agg(
        F.min(
            F.expr(f"(avail_tokens * {W}) div weight")
        ).alias("budget")
    )
    rates = F.broadcast(
        per_src.crossJoin(F.broadcast(bmin)).withColumn(
            "target_tokens", F.expr(f"(budget * weight) div {W}")
        )
    )
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(F.col("__key").cast("string"), F.lit("|" + salt))
            ),
            1,
            _TEMP_BITS // 4,
        ),
        16,
        10,
    ).cast("long")
    dec = "decimal(38,0)"
    kept = (
        docs.withColumn("__h", h)
        .join(rates, source_col)
        .where(
            F.col("__h").cast(dec) * F.col("avail_tokens").cast(dec)
            < F.col("target_tokens").cast(dec)
            * F.lit(2**_TEMP_BITS).cast(dec)
        )
        .groupBy(source_col)
        .agg(
            F.count(F.lit(1)).alias("kept_docs"),
            F.sum("__toks").alias("kept_tokens"),
        )
    )
    return rates.join(kept, source_col, "left").select(
        source_col,
        "weight",
        "avail_docs",
        "avail_tokens",
        "budget",
        "target_tokens",
        F.coalesce("kept_docs", F.lit(0)).alias("kept_docs"),
        F.coalesce("kept_tokens", F.lit(0)).alias("kept_tokens"),
    )
