"""Near-duplicate detection at corpus scale.

Three families, all deterministic (seeded) and UDF-free:

- **n-gram Jaccard (exact)**: shingle rows → self-join on shingle →
  pair-intersection counts → Jaccard ≥ τ. Exhaustive and
  oracle-checkable; the shuffle key is the shingle, so extremely common
  shingles create skew — ``max_shingle_freq`` drops them (a standard
  stop-shingle cut; at 100 TB this is the difference between a bounded
  join and a quadratic blowup).
- **MinHash + LSH**: per-doc signature of K minimums over universal-hash
  permutations of shingle hashes, banded into B buckets; candidate pairs
  collide in ≥1 band and are then verified with exact Jaccard.
- **SimHash**: 48-bit sign-aggregated token-hash fingerprint; candidates
  pair via band equality on 12-bit chunks, verified by Hamming distance
  (bit_count(xor)).

Shingles are generated as ROWS (posexplode words + window ``lead``), never
as per-doc arrays built by higher-order functions: every stage stays in
whole-stage codegen (split → explode → window → hash-aggregate with
map-side partials). The HOF form (transform/slice over a captured array)
drops the stage to interpreted evaluation, and Generate/Filter over a
HOF-produced array re-evaluates the lambda chain per consumed element —
measured ~15× slower end-to-end at sf0.1.

MinHash/SimHash hashing is pluggable (``hasher=``): ``xxhash64`` (fastest,
JVM intrinsic, default) or ``md5`` — a 60-bit integer from the md5 hex
prefix, computable bit-identically in DuckDB as
``('0x' || substr(md5(x), 1, 15))::BIGINT`` — which makes the FULL
MinHash-LSH and SimHash pipelines oracle-checkable cross-engine (the
driver queries use ``md5``; pure-Spark callers keep xxhash64).

Diamond DAGs here are persisted explicitly (MEMORY_AND_DISK): each pair
operator consumes its shingle/signature table from 2-4 places (band-join
left/right, per-side verify joins), and Spark does NOT collapse those into
one computation — the executed plan shows the full split → explode →
window → collect_set pipeline repeated per consumer (exchange reuse does
not fire across these subtrees under AQE; verified empirically on 4.1).
Materialize-once is the standard MinHash build anyway: at corpus scale the
signature/set tables are written once and joined many times, never
recomputed per consumer. Tables go through ``session.materialize``:
they stay in the session cache (LRU-evicted; MEMORY_AND_DISK spills
instead of OOMing) until the caller's ``materialized_scope()`` closes,
and repeated calls with the same input reuse them via CacheManager plan
matching.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import materialize
from .text import normalized

HASH_PRIME = 2147483647  # 2^31 - 1; keeps a*h + b within int64


def portable_hash64(col) -> "F.Column":
    """60-bit non-negative hash of a string column, identical across
    engines: Spark ``conv(substring(md5(x),1,15),16,10)`` ==
    DuckDB ``('0x' || substr(md5(x),1,15))::BIGINT``. Costs ~2-3x
    xxhash64 (md5 is not an intrinsic), so it is opt-in via ``hasher``."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _hash64(col, hasher: str) -> "F.Column":
    if hasher == "xxhash64":
        return F.xxhash64(col)
    if hasher == "md5":
        return portable_hash64(col)
    raise ValueError(f"unknown hasher {hasher!r}; use 'xxhash64' or 'md5'")


def _minhash_perms(num: int, seed: int) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [
        (rng.randrange(1, HASH_PRIME), rng.randrange(0, HASH_PRIME))
        for _ in range(num)
    ]


def shingle_rows(
    df: DataFrame, *, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(id, shingle) rows — word n-grams of the normalized text, WITH
    within-doc duplicates (min-hashing is duplicate-insensitive; use
    ``dropDuplicates`` or ``shingle_sets`` where set semantics matter).

    Shape: split → posexplode → per-doc window of ``lead`` words → concat.
    The input is hash-repartitioned on the DOC ID before the explode: the
    per-doc window (and every downstream doc-keyed aggregate) needs
    exactly that clustering, so the exchange moves the raw documents —
    never the exploded token rows, which are strictly larger (guide §2.3:
    shuffle fewer bytes; §2.4: operations keyed the same way share one
    exchange). High-cardinality key, no skew (partition size = words per
    doc); every operator is codegen-friendly; small single-file inputs
    get spread to full shuffle parallelism by the same repartition."""
    spread = df.select(F.col(id_col), F.col(text_col)).repartition(
        F.col(id_col)
    )
    words_df = spread.select(
        F.col(id_col), F.split(normalized(F.col(text_col)), " ").alias("words")
    )
    wpos = words_df.select(F.col(id_col), F.posexplode("words").alias("pos", "w"))
    win = Window.partitionBy(id_col).orderBy("pos")
    leads = [F.col("w")] + [F.lead("w", i).over(win) for i in range(1, n)]
    out = wpos.select(F.col(id_col), "pos", *[l.alias(f"w{i}") for i, l in enumerate(leads)])
    return out.filter(F.col(f"w{n-1}").isNotNull()).select(
        F.col(id_col),
        F.concat_ws(" ", *[f"w{i}" for i in range(n)]).alias("shingle"),
    )


def shingle_sets(
    df: DataFrame, *, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(id, shingles array<string>) distinct shingle sets per doc, built by
    aggregating ``shingle_rows`` (collect_set dedups); empty docs drop out
    naturally. The aggregate output is materialized, so downstream
    array_intersect/size over it are cheap attribute references."""
    return (
        shingle_rows(df, id_col=id_col, text_col=text_col, n=n)
        .groupBy(id_col)
        .agg(F.collect_set("shingle").alias("shingles"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Exact all-pairs Jaccard over word n-gram shingles (≥ threshold).

    Returns (id_a, id_b, intersection, size_a, size_b, jaccard) with
    id_a < id_b. ``max_shingle_freq`` removes shingles appearing in more
    than that many docs before the self-join (skew/size control)."""
    distinct_rows = shingle_rows(
        df, id_col=id_col, text_col=text_col, n=n
    ).dropDuplicates([id_col, "shingle"])
    exploded = distinct_rows.select(F.col(id_col).alias("doc_id_"), "shingle")
    if max_shingle_freq is not None:
        # the pre-cut rows feed BOTH the frequency aggregate and the join
        # probe side — materialize first or the shingling runs twice
        exploded = materialize(exploded)
        freq_ok = (
            exploded.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df_"))
            .filter(F.col("df_") <= max_shingle_freq)
            .select("shingle")
        )
        exploded = exploded.join(freq_ok, "shingle")
    # three consumers (sizes, join left, join right) — materialize once
    exploded = materialize(exploded)
    # sizes AFTER the stop-shingle cut: intersection and sizes must count
    # the same shingle universe or Jaccard is systematically understated
    # (a fully-filtered duplicate pair would score 0 against stale sizes)
    sizes = exploded.groupBy("doc_id_").agg(F.count(F.lit(1)).alias("set_size")) \
        .select(F.col("doc_id_").alias("sid"), "set_size")
    a = exploded.select(F.col("doc_id_").alias("id_a"), "shingle")
    b = exploded.select(F.col("doc_id_").alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("intersection"))
    )
    out = (
        inter.join(sizes.withColumnRenamed("sid", "id_a").withColumnRenamed("set_size", "size_a"), "id_a")
        .join(sizes.withColumnRenamed("sid", "id_b").withColumnRenamed("set_size", "size_b"), "id_b")
        .withColumn(
            "jaccard",
            F.col("intersection")
            / (F.col("size_a") + F.col("size_b") - F.col("intersection")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select("id_a", "id_b", "intersection", "size_a", "size_b", "jaccard")


def minhash_signatures(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 64,
    seed: int = 42,
    hasher: str = "xxhash64",
) -> DataFrame:
    """(id, sig array<long>[num_hashes]) MinHash signatures.

    Shingle → hash64 → fold into [0, 2^31) → K universal-hash minimums,
    as shingle rows + one hash-aggregate with K ``min`` columns. The agg
    runs with map-side partial mins, so the shuffle carries one K-long row
    per doc. Within-doc duplicate shingles are harmless (min is idempotent),
    so the rows skip the dedup shuffle entirely."""
    hashed = shingle_rows(df, id_col=id_col, text_col=text_col, n=n).select(
        F.col(id_col), F.pmod(_hash64(F.col("shingle"), hasher), F.lit(HASH_PRIME)).alias("h")
    )
    return _signatures_from_hashes(hashed, id_col, num_hashes, seed)


def sig_expr(num_hashes: int, seed: int, h_col: str = "h") -> "F.Column":
    """The whole K-minimum signature array as ONE SQL expression —
    ``array(min(pmod(a_i*h + b_i, P)), ...)`` over the seeded universal
    hash permutations. Semantically identical to building K separate
    ``F.min(F.pmod(...))`` Columns + ``F.array``, but composed in a
    single py4j round-trip instead of ~5 per hash function (the hilbert
    lesson: at K=64 the per-Column py4j chatter costs real DRIVER time
    on every plan build, twice per incremental probe).
    ``a*h + b`` stays within int64: a, b, h < 2^31."""
    perms = _minhash_perms(num_hashes, seed)
    parts = ",".join(
        f"min(pmod({a}L * {h_col} + {b}L, {HASH_PRIME}L))" for a, b in perms
    )
    return F.expr(f"array({parts})")


def _signatures_from_hashes(
    hashed: DataFrame, id_col: str, num_hashes: int, seed: int
) -> DataFrame:
    return hashed.groupBy(id_col).agg(
        sig_expr(num_hashes, seed).alias("sig")
    )


def band_rows(
    sigs: DataFrame,
    *,
    id_col: str,
    num_hashes: int,
    bands: int,
    hasher: str = "xxhash64",
) -> DataFrame:
    """(id, band, bucket) LSH band rows from a signature table: signature
    slices of ``num_hashes // bands`` values hash to one bucket id per
    band. Pure map-side (explode of a bands-long literal array); the band
    join carries ONLY these three columns — never the signature or the
    shingle arrays (see ``minhash_lsh_pairs``)."""
    rows = num_hashes // bands
    return sigs.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        _hash64(
                            F.concat_ws(
                                ",",
                                *[
                                    F.element_at("sig", i * rows + j + 1).cast("string")
                                    for j in range(rows)
                                ],
                            ),
                            hasher,
                        ).alias("bucket"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(F.col(id_col), F.col("bb.band"), F.col("bb.bucket"))


def minhash_lsh_pairs(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    seed: int = 42,
    hasher: str = "xxhash64",
) -> DataFrame:
    """LSH candidate generation + exact-Jaccard verification.

    Signatures band into ``bands`` groups of ``num_hashes/bands`` rows;
    docs sharing any band bucket become candidates; candidates are verified
    with exact Jaccard on the shingle sets. Output matches
    ``ngram_jaccard_pairs`` columns (minus sizes) for pairs LSH recalls."""
    if not 1 <= bands <= num_hashes or num_hashes % bands:
        raise ValueError(
            f"bands ({bands}) must divide num_hashes ({num_hashes}); "
            "rows-per-band = num_hashes // bands must be >= 1"
        )
    # ONE text-processing pass: the shingle ROWS table feeds the shingle-set
    # aggregate AND the signature aggregate (min over raw rows == min over
    # distinct shingles — no dedup needed), both running in the shingle
    # window's existing doc-id partitioning, so neither agg re-shuffles and
    # the old explode→rehash→agg chain over the set table disappears. The
    # set table then feeds both verify joins and the signature table both
    # band-join sides — persist each, or the split→window pipeline
    # re-executes per consumer (see module docstring).
    srows = materialize(shingle_rows(df, id_col=id_col, text_col=text_col, n=n))
    sets = materialize(
        srows.groupBy(id_col).agg(F.collect_set("shingle").alias("shingles"))
    )
    hashed = srows.select(
        F.col(id_col), F.pmod(_hash64(F.col("shingle"), hasher), F.lit(HASH_PRIME)).alias("h")
    )
    sigs = materialize(_signatures_from_hashes(hashed, id_col, num_hashes, seed))
    # the band self-join carries ONLY (id, band, bucket) — shipping the
    # shingle arrays through a B-way explode + shuffle would multiply the
    # shuffled bytes by bands×|shingles|; arrays attach later, once, to the
    # (few) surviving candidate pairs
    banded = band_rows(
        sigs, id_col=id_col, num_hashes=num_hashes, bands=bands, hasher=hasher
    )

    left = banded.select(F.col(id_col).alias("id_a"), "band", "bucket")
    right = banded.select(F.col(id_col).alias("id_b"), "band", "bucket")
    cands = (
        left.join(right, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    cands = cands.join(
        sets.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a")),
        "id_a",
    ).join(
        sets.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b")),
        "id_b",
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        cands.withColumn("intersection", inter.cast("long"))
        .withColumn("jaccard", F.col("intersection") / union)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "intersection", "jaccard")
    )


SIMHASH_BITS = 48
SIMHASH_BANDS = 4


def simhash_fingerprints(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    bits: int = SIMHASH_BITS,
    hasher: str = "xxhash64",
) -> DataFrame:
    """(id, sh long) sign-aggregated token-hash fingerprints (bits ≤ 62
    for xxhash64; ≤ 60 for the md5 hasher, whose hash is 60-bit).

    For each bit j: sum over distinct tokens of ±1 by token-hash bit j; the
    fingerprint sets bit j when the sum is positive. Shaped as explode +
    one hash-aggregate with ``bits`` sum columns (codegen, map-side partial
    sums) — the array-aggregate form re-evaluates the token-hash subtree
    per bit per element in interpreted mode, ~bits× redundant work."""
    tokens = F.array_distinct(F.split(normalized(F.col(text_col)), " "))
    hashed = (
        # doc-id repartition BEFORE the explode (same rationale as
        # shingle_rows): the bit-vote aggregate is keyed by the doc id,
        # so the raw docs shuffle once and the token rows never do
        df.select(F.col(id_col), F.col(text_col))
        .repartition(F.col(id_col))
        .select(F.col(id_col), F.explode(tokens).alias("tok"))
        .select(F.col(id_col), _hash64(F.col("tok"), hasher).alias("h"))
    )
    votes = hashed.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright("h", j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"v{j}")
            for j in range(bits)
        ]
    )
    sh = F.lit(0).cast("long")
    for j in range(bits):
        sh = sh + F.when(F.col(f"v{j}") > 0, F.lit(2**j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return votes.select(F.col(id_col), sh.alias("sh"))


def simhash_pairs(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    hasher: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs by SimHash banding + Hamming verification.

    The 48-bit fingerprint splits into 4 × 12-bit chunks; by pigeonhole any
    pair within Hamming distance 3 shares at least one exact chunk, so the
    band join has full recall at ≤3 and the verify step is exact."""
    chunk_bits = SIMHASH_BITS // SIMHASH_BANDS
    mask = (1 << chunk_bits) - 1
    # both band-join sides consume the fingerprints — materialize once
    sh = materialize(
        simhash_fingerprints(df, id_col=id_col, text_col=text_col, hasher=hasher)
    )
    banded = sh.select(
        F.col(id_col),
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright("sh", i * chunk_bits).bitwiseAND(F.lit(mask)).alias("chunk"),
                    )
                    for i in range(SIMHASH_BANDS)
                ]
            )
        ).alias("bb"),
    ).select(F.col(id_col), "sh", F.col("bb.band"), F.col("bb.chunk"))
    left = banded.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"), "band", "chunk")
    right = banded.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"), "band", "chunk")
    return (
        left.join(right, ["band", "chunk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def prefix_filtered_jaccard_pairs(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold_num: int = 1,
    threshold_den: int = 2,
) -> DataFrame:
    """Exact all-pairs Jaccard ≥ τ via PREFIX FILTERING (AllPairs/PPJoin,
    Bayardo et al., "Scaling up all pairs similarity search", WWW 2007) —
    lossless candidate pruning that replaces the full inverted-index
    self-join of :func:`ngram_jaccard_pairs`.

    Under any GLOBAL total order on tokens (here: document frequency
    ascending, then token — rarest first), two sets with
    ``J = |∩|/|∪| ≥ τ`` must both contain their smallest common token
    within their own first ``|s| − ⌈τ·|s|⌉ + 1`` tokens: if a's common
    tokens all sat outside that prefix they would number at most
    ``⌈τ|a|⌉ − 1 < τ|a| ≤ τ|∪| ≤ |∩|`` — contradiction; symmetrically
    for b. So indexing ONLY prefix tokens generates every qualifying
    pair (pair-set equality with the exhaustive join is pytest-pinned),
    while frequent tokens — the quadratic blowup in a full inverted
    index — mostly fall outside prefixes (rarest-first ordering pushes
    them to suffix positions).

    τ is taken as a RATIONAL ``threshold_num/threshold_den`` so the
    prefix length ``|s| − ⌈τ|s|⌉ + 1`` is exact integer arithmetic
    (``⌈τ·s⌉ = (s·num + den − 1) div den``) — no float boundary can
    admit or drop a prefix token differently across engines.

    Scale shape: one doc-keyed shuffle for ordering/sizing (window over
    the doc id), one token-keyed LINEAR join to attach frequencies, and
    a candidate join only over prefix tokens; verification touches the
    (few) surviving pairs. Unlike ``max_shingle_freq`` this prunes with
    NO recall loss — the 100 TB exact-join path when a hard cut is not
    acceptable. Output matches ``ngram_jaccard_pairs``.
    """
    if not 0 < threshold_num <= threshold_den:
        raise ValueError("threshold must be a rational in (0, 1]")
    threshold = threshold_num / threshold_den
    rows = materialize(
        shingle_rows(df, id_col=id_col, text_col=text_col, n=n)
        .dropDuplicates([id_col, "shingle"])
        .select(F.col(id_col).alias("doc_id_"), "shingle")
    )
    dfreq = rows.groupBy("shingle").agg(F.count(F.lit(1)).alias("df_"))
    w_ord = Window.partitionBy("doc_id_").orderBy("df_", "shingle")
    w_all = Window.partitionBy("doc_id_")
    sized = (
        rows.join(dfreq, "shingle")
        .select(
            "doc_id_", "shingle",
            F.row_number().over(w_ord).alias("pos"),
            F.count(F.lit(1)).over(w_all).alias("set_size"),
        )
    )
    ceil_tau_s = F.expr(
        f"((set_size * {threshold_num}) + {threshold_den} - 1) div {threshold_den}"
    )
    prefix = sized.filter(
        F.col("pos") <= F.col("set_size") - ceil_tau_s + 1
    ).select("doc_id_", "shingle", "pos", "set_size")
    a = prefix.select(
        F.col("doc_id_").alias("id_a"),
        "shingle",
        F.col("pos").alias("pos_a"),
        F.col("set_size").alias("size_a"),
    )
    b = prefix.select(
        F.col("doc_id_").alias("id_b"),
        "shingle",
        F.col("pos").alias("pos_b"),
        F.col("set_size").alias("size_b"),
    )
    # PPJoin's other two LOSSLESS prunes ride the candidate join (both
    # exact integer arithmetic, both published theorems — Xiao et al.,
    # "Efficient Similarity Joins for Near Duplicate Detection", WWW'08):
    #
    # J ≥ τ  ⟺  |∩| ≥ α  with  α = ⌈num·(|a|+|b|) / (num+den)⌉
    #
    # - LENGTH filter (map-side, pre-shuffle): |∩| ≤ min(|a|,|b|), so a
    #   qualifying pair needs den·min ≥ num·max.
    # - POSITIONAL filter (map-side, per matched occurrence): a common
    #   token at ranks (pa, pb) splits each set; common tokens before it
    #   number ≤ min(pa−1, pb−1) and after it ≤ min(|a|−pa, |b|−pb), so
    #   |∩| ≤ min(pa−1, pb−1) + 1 + min(|a|−pa, |b|−pb). A qualifying
    #   pair satisfies the bound at EVERY common occurrence, so rows
    #   failing it can drop before the dedup shuffle.
    # - TIGHT positional re-check (post-group): for a qualifying pair the
    #   (min pos_a, min pos_b) of its surviving join rows both belong to
    #   the globally FIRST common token (ranks are monotone in the shared
    #   (df, shingle) order), where zero common tokens precede — so
    #   1 + min(|a|−pa*, |b|−pb*) ≥ α must hold. Non-qualifying pairs
    #   dropped by a mixed-token bound were never in the output anyway
    #   (verification requires J ≥ τ).
    #
    # At a high-document-frequency corpus the prefix filter alone prunes
    # weakly (measured here: 118,826 candidates for 27 output pairs at
    # τ = 4/5) and verification replicates token rows PER candidate —
    # these two filters are what keep the candidate set near the output
    # size, the property that makes the operator the 100 TB exact path.
    alpha = F.expr(
        f"((size_a + size_b) * {threshold_num} + {threshold_num} + "
        f"{threshold_den} - 1) div ({threshold_num} + {threshold_den})"
    )
    occ_bound = (
        F.least(F.col("pos_a") - 1, F.col("pos_b") - 1)
        + 1
        + F.least(
            F.col("size_a") - F.col("pos_a"),
            F.col("size_b") - F.col("pos_b"),
        )
    )
    length_ok = (
        F.least("size_a", "size_b") * threshold_den
        >= F.greatest("size_a", "size_b") * threshold_num
    )
    grouped = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(length_ok & (occ_bound >= alpha))
        .groupBy("id_a", "id_b")
        .agg(
            F.min("pos_a").alias("pos_a"),
            F.min("pos_b").alias("pos_b"),
            F.first("size_a").alias("size_a"),
            F.first("size_b").alias("size_b"),
        )
    )
    tight_bound = F.lit(1) + F.least(
        F.col("size_a") - F.col("pos_a"),
        F.col("size_b") - F.col("pos_b"),
    )
    cands = grouped.filter(tight_bound >= alpha).select("id_a", "id_b")
    cands = materialize(cands)
    # verification = the exhaustive count join RESTRICTED to candidates:
    # replicate id_a's token rows per candidate partner, match id_b's rows
    # on (id_b, shingle), count. Token-row work is O(tokens of candidate
    # docs), not O(candidates × set size) — the array_intersect form
    # (intersecting two collected arrays per pair) re-touches every token
    # of both docs per PAIR and loses map-side partial aggregation,
    # measured ~10× slower on a weakly-pruned candidate set.
    a_tok = rows.select(F.col("doc_id_").alias("id_a"), "shingle").join(cands, "id_a")
    inter = (
        a_tok.join(
            rows.select(F.col("doc_id_").alias("id_b"), "shingle"),
            ["id_b", "shingle"],
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("intersection"))
    )
    sizes = rows.groupBy("doc_id_").agg(F.count(F.lit(1)).alias("set_size"))
    out = (
        inter.join(
            sizes.select(F.col("doc_id_").alias("id_a"), F.col("set_size").alias("size_a")),
            "id_a",
        )
        .join(
            sizes.select(F.col("doc_id_").alias("id_b"), F.col("set_size").alias("size_b")),
            "id_b",
        )
        .withColumn(
            "jaccard",
            F.col("intersection")
            / (F.col("size_a") + F.col("size_b") - F.col("intersection")),
        )
    )
    return out.filter(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", "intersection", "size_a", "size_b", "jaccard"
    )
