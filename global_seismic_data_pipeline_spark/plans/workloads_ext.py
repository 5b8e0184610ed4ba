"""Extension workloads: LLM-training-data operators + event windows.

These go beyond the reference's surface (SURVEY.md §7 step 9): text
analysis, exact/near-duplicate detection, embedding similarity search,
multimodal metadata plumbing, and tumbling/sliding event-time windows.
Every query here has oracle SQL in ``oracles_ext.py`` —
including the full MinHash-LSH / SimHash pipelines (portable md5-derived
hash), the LSH/IVF ANN pipelines (quantized integer bucket/cell
assignment, similarity.QUANT), connected-components clustering (recursive
CTE closure), BM25 (identical expression tree), and the portable
HLL/quantile sketches (exact-integer register and bucket math) — DuckDB
replicates all of them bit-identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..operators import (
    cluster,
    dedup,
    multimodal,
    neardup,
    scrub,
    search,
    similarity,
    sketch,
    skew,
    text,
)

# Fixed query-term bag for the BM25 query — shared with the oracle SQL so
# the pivot column order (and thus the float addition order) is identical.
BM25_TERMS = ["hash", "merge", "stream", "vector"]
BM25_K = 25
from ..operators.asof import asof_join
from ..operators.partitioning import ensure_parallelism
from ..session import materialize
from ..sources.catalog import load_table


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents, spread to full parallelism: the single parquet file
    otherwise pins every CPU-bound text op to one task."""
    return ensure_parallelism(load_table(spark, sf_dir, "documents"))


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ensure_parallelism(load_table(spark, sf_dir, "embeddings"))


# --------------------------------------------------------------------------
# Text analysis
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = text.with_quality_features(_docs(spark, sf_dir))
    return out.select(
        "doc_id",
        "char_len",
        "word_cnt",
        "punct_cnt",
        "stopword_cnt",
        "avg_word_len",
        "punct_ratio",
        "stopword_ratio",
        "quality_score",
    )


def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = text.with_language_guess(_docs(spark, sf_dir))
    return out.select(
        "doc_id", "hits_en", "hits_es", "hits_de", "hits_fr", "lang_guess"
    )


def text_tokenize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        text.word_count(F.col("text")).alias("ws_tokens"),
        text.token_count_bpe_ish(F.col("text")).alias("bpe_tokens"),
        # cast: no raw boolean outputs (driver-hash discipline)
        (F.length("text").cast("long") == F.col("n_chars")).cast("long").alias("len_matches_meta"),
    )


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return d.select("doc_id", text.fingerprint(F.col("text")).alias("fp"))


# --------------------------------------------------------------------------
# Deduplication
def exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup(_docs(spark, sf_dir), ["text"], "doc_id")


def ngram_jaccard_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exhaustive word-n-gram Jaccard pairs (oracle ground truth); the
    n / threshold knobs are shared with the oracle SQL."""
    from .oracles_ext import NGRAM_N, NGRAM_THRESHOLD

    return neardup.ngram_jaccard_pairs(
        _docs(spark, sf_dir), id_col="doc_id", text_col="text",
        n=NGRAM_N, threshold=NGRAM_THRESHOLD,
    )


def ppjoin_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard pairs via PREFIX FILTERING
    (neardup.prefix_filtered_jaccard_pairs, AllPairs/PPJoin) at τ = 4/5 —
    the technique's regime: near-exact dup detection, where only each
    doc's rarest ~|s|/5 shingles enter the inverted index and the
    candidate set collapses to close pairs (at low τ the prefix covers
    most of the doc and prunes nothing — measured, documented in the
    operator). Lossless for J ≥ τ, so the oracle is the exhaustive join
    at the same threshold: a pruning bug that drops any qualifying pair
    hash-fails."""
    from .oracles_ext import NGRAM_N

    return neardup.prefix_filtered_jaccard_pairs(
        _docs(spark, sf_dir), id_col="doc_id", text_col="text",
        n=NGRAM_N, threshold_num=4, threshold_den=5,
    )


def minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidates verified by exact Jaccard. Uses the portable
    md5-derived hash so the FULL pipeline (shingle hash → 64 universal-hash
    minimums → 16 band buckets → candidate join → Jaccard verify) is
    replicated bit-identically by the DuckDB oracle; recall vs the
    exhaustive operator is additionally asserted in tests."""
    return neardup.minhash_lsh_pairs(
        _docs(spark, sf_dir),
        id_col="doc_id",
        text_col="text",
        n=3,
        num_hashes=64,
        bands=16,
        threshold=0.2,
        hasher="md5",
    )


def approx_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch (operators/sketch.py HDR-histogram-shaped
    buckets, exact-integer bucketing): p50/p90/p99 of order price in cents
    per priority, <3.2% relative error, replicated bit-for-bit by DuckDB.
    At 100 TB the histogram (group, bucket, cnt) is the storable artifact:
    sum-mergeable across partitions/days, quantiles recomputed on read."""
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * F.lit(100)).cast("long")
    d = orders.select("o_orderpriority", cents.alias("cents"))
    return sketch.approx_quantiles(
        d, "cents", ["o_orderpriority"], [0.5, 0.9, 0.99]
    )


def bm25_search_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-k relevance search (operators/search.py) for a fixed
    query-term bag. One corpus term-count aggregate feeds dl and the
    query-term tf rows (a map-side filter of the shared table), broadcast
    df/corpus stats, fixed-order float sum — the DuckDB oracle replicates
    the identical expression tree."""
    return search.bm25_topk(
        _docs(spark, sf_dir),
        BM25_TERMS,
        id_col="doc_id",
        text_col="text",
        k=BM25_K,
    )


def near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs → clusters → canonical picks: the MinHash-LSH pairs collapsed
    into connected components (operators/cluster.py min-label propagation
    with pointer jumping), one row per clustered doc with its component id,
    component size, and keep flag (1 = the minimum-id canonical member).
    The DuckDB oracle recomputes the same edges and closes them with a
    recursive CTE, so the whole pairs→components pipeline is hash-checked."""
    edges = neardup.minhash_lsh_pairs(
        _docs(spark, sf_dir),
        id_col="doc_id",
        text_col="text",
        n=3,
        num_hashes=64,
        bands=16,
        threshold=0.2,
        hasher="md5",
    ).select("id_a", "id_b")
    return cluster.cluster_assignments(edges, id_out="doc_id").select(
        "doc_id", "cluster_id", "cluster_size", "keep"
    )


def incremental_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally MAINTAINED dedup clusters
    (cluster.incremental_components): the MinHash pair set splits into a
    'day 1' batch (component table built) and a 'day 2' batch (merged by
    CONTRACTION — old components collapse to super-nodes, CC runs on the
    delta-sized contracted graph, old edges never re-traversed). The
    oracle is near_dup_clusters' recursive-CTE closure over ALL pairs,
    UNCHANGED — pinning incremental ≡ from-scratch, labels included."""
    edges = neardup.minhash_lsh_pairs(
        _docs(spark, sf_dir),
        id_col="doc_id", text_col="text",
        n=3, num_hashes=64, bands=16, threshold=0.2, hasher="md5",
    ).select("id_a", "id_b")
    day1 = edges.filter((F.col("id_a") + F.col("id_b")) % 2 == 0)
    day2 = edges.filter((F.col("id_a") + F.col("id_b")) % 2 != 0)
    prev = (
        cluster.connected_components(day1)
        .withColumnRenamed("comp", "component")
    )
    comp = cluster.incremental_components(prev, day2)
    sizes = comp.groupBy("comp").agg(F.count(F.lit(1)).alias("cluster_size"))
    return comp.join(sizes, "comp").select(
        F.col("id").alias("doc_id"),
        F.col("comp").alias("cluster_id"),
        "cluster_size",
        (F.col("id") == F.col("comp")).cast("long").alias("keep"),
    )


MIX_EPOCHS = {"src0": 2.25, "src1": 0.5, "src2": 3.0}


def mixture_epoch_repeats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data mixing with repetition (sampling.epoch_repeats): fractional
    per-source epoch targets (src0 ×2.25, src1 ×0.5, src2 ×3, rest ×1)
    realized as deterministic integer copy counts — floor(e) copies plus
    one more iff the doc's md5 fraction < frac(e). The oracle replays
    the same base/bound CASE and lateral range, so every copy row is
    pinned."""
    from ..operators import sampling

    return sampling.epoch_repeats(
        _docs(spark, sf_dir).select("doc_id", "source"),
        key_col="doc_id", strata_col="source", epochs=MIX_EPOCHS,
    ).select("doc_id", "source", "copy_ix")


def leakage_safe_split_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-aware dataset splitting: train/val/test assigned per
    NEAR-DUP CLUSTER, not per document — a doc and its near-duplicates
    can never straddle splits, closing the classic eval-contamination
    vector that plain per-doc hashing leaves open (near-identical copies
    of a val doc leaking into train). Split key = the doc's MinHash
    component id (singletons: the doc itself), then the standard
    md5-threshold split rule. The oracle composes the recursive-CTE
    closure with the same thresholds, so every assignment is pinned."""
    from ..operators import sampling

    docs = _docs(spark, sf_dir).select("doc_id")
    edges = neardup.minhash_lsh_pairs(
        _docs(spark, sf_dir),
        id_col="doc_id", text_col="text",
        n=3, num_hashes=64, bands=16, threshold=0.2, hasher="md5",
    ).select("id_a", "id_b")
    clusters = cluster.cluster_assignments(edges, id_out="doc_id").select(
        "doc_id", "cluster_id"
    )
    keyed = docs.join(clusters, "doc_id", "left").withColumn(
        "split_key", F.coalesce("cluster_id", F.col("doc_id"))
    )
    return sampling.hash_split(keyed, key_col="split_key", salt="cl").select(
        "doc_id", "split_key", "split"
    )


def simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash band-join near-dups at Hamming ≤ 3 of 48 bits — the radius
    where 4-band pigeonhole gives full recall. Portable md5 hashing makes
    the whole pipeline oracle-checkable in DuckDB."""
    out = neardup.simhash_pairs(
        _docs(spark, sf_dir), id_col="doc_id", text_col="text", hasher="md5",
        max_hamming=3,
    )
    return out.withColumn("hamming", F.col("hamming").cast("long"))


# --------------------------------------------------------------------------
# Similarity search
def cosine_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") < 20)
    return similarity.cosine_topk(embs, queries, k=5)


def lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via random-hyperplane LSH. Fully oracle-checked:
    quantized integer bucket assignment is bit-identical in DuckDB
    (similarity.QUANT); recall vs brute force additionally asserted in
    tests."""
    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") < 20)
    return similarity.lsh_topk(embs, queries, k=5, bits=8, tables=4)


def embedding_cosine_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs embedding near-duplicates at cosine ≥ 0.45
    (oracle-checked against DuckDB's list_cosine_similarity)."""
    return similarity.cosine_all_pairs(
        _embs(spark, sf_dir), threshold=0.45, round_decimals=4
    )


def ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via IVF coarse quantization + probe re-rank, with
    a TRAINED codebook: 4 rounds of distributed exact-integer Lloyd
    k-means over the corpus (similarity.train_ivf_codebook) replace the
    seeded random centroids. Fully oracle-checked: the integer Lloyd loop
    is order-free and deterministic, so the oracle builder retrains the
    identical codebook in numpy from the same parquet and embeds it as
    literals; integer cell assignment with lowest-index tie-break is then
    bit-identical in DuckDB. Recall vs brute force (and vs the untrained
    codebook) asserted in tests."""
    embs = _embs(spark, sf_dir)
    cb_q = similarity.train_ivf_codebook(embs, dim=64, cells=16, iters=4)
    queries = embs.filter(F.col("vec_id") < 20)
    return similarity.ivf_topk(
        embs, queries, k=5, cells=16, nprobe=4, codebook_q=cb_q
    )


def filtered_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered vector search (similarity.filtered_cosine_topk):
    top-5 neighbors per query RESTRICTED to the query's own label — the
    filter joins as a key, so candidates never leave the label partition
    (post-filtering an unfiltered top-k would return fewer/wrong rows).
    Oracle = the brute-force cosine join with the label equi-condition."""
    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") < 20)
    return similarity.filtered_cosine_topk(embs, queries, k=5)


def jl_project_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss reduction 64 → 16 dims
    (similarity.jl_project): the embedding-pipeline front-end that cuts
    per-vector bytes 4× before ANN/dedup. Quantized integer matmul —
    the projected coordinates are exact int64, so the oracle reproduces
    the full projected table bit-for-bit from the seeded matrix
    literals; distance preservation is measured in pytest. Coordinates
    are emitted CSV-joined (the checker's row compare needs scalar
    columns, same convention as the other array outputs)."""
    proj = similarity.jl_project(_embs(spark, sf_dir), dim=64, out_dim=16, seed=42)
    return proj.select(
        "vec_id", F.concat_ws(",", F.col("proj").cast("array<string>")).alias("proj_csv")
    )


def pq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ approximate top-k (similarity.ivf_pq_topk): trained IVF
    cells bound which vectors are scanned, trained product-quantization
    codes (m=8 subspaces × 16 centroids) bound the bytes per scanned
    vector, asymmetric-distance (ADC) ranking keeps only the 20 nearest
    codes per query for the exact cosine re-rank. Both trainings and the
    whole candidate/ADC/refine path are exact int64 with id tie-breaks,
    so the oracle retrains identical codebooks in numpy and replays the
    pipeline bit-for-bit in DuckDB."""
    embs = _embs(spark, sf_dir)
    ivf_cb = similarity.train_ivf_codebook(embs, dim=64, cells=16, iters=4)
    pq_cb = similarity.train_pq_codebooks(embs, dim=64, m=8, ksub=16, iters=3)
    queries = embs.filter(F.col("vec_id") < 20)
    return similarity.ivf_pq_topk(
        embs, queries, k=5, cells=16, nprobe=4, refine=20,
        ivf_codebook_q=ivf_cb, pq_codebooks_q=pq_cb,
    )


def incremental_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted incremental ANN index (operators/ann_index.py): the base
    corpus (vec_id % 5 != 0) trains the codebook and builds bucketed
    inverted lists ONCE; the 'daily batch' (vec_id % 5 == 0) is assigned
    with the FROZEN stored codebook and bucketed-appended — the base is
    never re-read or re-assigned; queries then probe the grown index.
    The oracle retrains the codebook on the base subset in numpy and
    assigns the WHOLE corpus with it — pinning frozen-codebook
    append ≡ rebuild, the invariant that makes the index trustworthy."""
    import tempfile

    from ..operators import ann_index
    from ..sources.warehouse import Warehouse

    embs = _embs(spark, sf_dir)
    base = embs.filter(F.col("vec_id") % 5 != 0)
    batch = embs.filter(F.col("vec_id") % 5 == 0)
    wh = Warehouse(spark, tempfile.mkdtemp(prefix="incivf-"))
    ann_index.build_ivf_index(wh, base, cells=16, iters=4, name="inc_ivf")
    ann_index.append_to_ivf_index(wh, batch, name="inc_ivf")
    queries = embs.filter(F.col("vec_id") < 20)
    return ann_index.probe_ivf_index(wh, queries, name="inc_ivf", k=5, nprobe=4)


def ivf_index_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index-health / drift metrics (operators/ann_index.py
    ivf_drift_metrics): the base corpus trains + builds the index, the
    'daily batch' appends under the FROZEN codebook, then per-cell
    (occupancy, new-batch share, Σ member·centroid alignment) come from
    the STORED lists alone — the corpus is never re-read. The oracle
    replays assignment with the base-trained codebook over the union,
    pinning both the metrics arithmetic AND (again) append ≡ rebuild.
    These are the rows reindex_due() thresholds against the build-time
    baseline to trigger the (rare) full retrain."""
    ctx = _ivf_drift_build(spark, sf_dir)
    return _ivf_drift_probe(spark, sf_dir, ctx)


def _ivf_drift_build(spark: SparkSession, sf_dir: str) -> dict:
    """Index build + daily-batch append for ``ivf_index_drift`` — the
    by-construction setup cost bench times separately from the monitor
    probe (a deployment pays it at (re)build time only)."""
    import tempfile

    from ..operators import ann_index
    from ..sources.warehouse import Warehouse

    embs = _embs(spark, sf_dir)
    base = embs.filter(F.col("vec_id") % 5 != 0)
    batch = embs.filter(F.col("vec_id") % 5 == 0)
    wh = Warehouse(spark, tempfile.mkdtemp(prefix="driftivf-"))
    ann_index.build_ivf_index(wh, base, cells=16, iters=4, name="drift_ivf")
    ann_index.append_to_ivf_index(wh, batch, name="drift_ivf")
    return {"wh": wh}


def _ivf_drift_probe(spark: SparkSession, sf_dir: str, ctx: dict) -> DataFrame:
    """The monitor itself: per-cell metrics from the STORED lists only."""
    from ..operators import ann_index

    return ann_index.ivf_drift_metrics(
        ctx["wh"], name="drift_ivf", new_pred="vec_id % 5 = 0"
    ).select(
        "cell", "n_vecs", "n_new",
        # the operator sums in DECIMAL(38,0) (overflow-proof at any cell
        # size); the checker compares scalar BIGINTs, so cast back —
        # lossless at test SFs (sums ≪ 2^63)
        F.col("sum_best_dot").cast("long").alias("sum_best_dot"),
    )


def asof_join_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's latest click value
    at-or-before the purchase time (oracle: DuckDB's native ASOF JOIN).
    Right side is deduped to one row per (user, ts) so tie resolution is
    engine-independent."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts", "value"
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("click_value"))
    )
    out = asof_join(
        purchases, clicks, on=["user_id"], left_time="ts", right_time="ts",
        value_cols=["click_value"],
    )
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "value",
        F.col("click_value_asof"),
    )


def salted_agg_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase aggregation — must equal the direct groupBy
    (the oracle IS the direct form), exercising the hot-key scatter path."""
    li = load_table(spark, sf_dir, "lineitem")
    out = skew.salted_agg(
        li,
        ["l_returnflag"],
        {
            "qty_sum": ("sum", "l_quantity"),
            "n": ("count", "l_quantity"),
            "qty_min": ("min", "l_quantity"),
            "qty_max": ("max", "l_quantity"),
        },
        salt=16,
    )
    return out.select(
        "l_returnflag",
        F.round(F.col("qty_sum"), 2).alias("qty_sum"),
        "n", "qty_min", "qty_max",
    )


# --------------------------------------------------------------------------
# Multimodal plumbing
def multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload → typed metadata via Arrow-batched mapInPandas."""
    payloads = multimodal.with_binary_payload(_docs(spark, sf_dir))
    return multimodal.extract_metadata(payloads)


# --------------------------------------------------------------------------
# Event-time windows
def tumbling_window_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-day tumbling window aggregate over the event log."""
    ev = load_table(spark, sf_dir, "events")
    win = F.window("ts", "1 day")
    return (
        ev.groupBy(win.alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.round(F.sum("value"), 2) / F.count(F.lit(1))).alias("avg_value"),
        )
        .select(
            F.col("w.start").cast("date").cast("string").alias("window_start"),
            "event_type",
            "n_events",
            "avg_value",
        )
    )


def sliding_window_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day window sliding by 1 day: each event lands in 7 windows."""
    ev = load_table(spark, sf_dir, "events")
    win = F.window("ts", "7 days", "1 day")
    return (
        ev.groupBy(win.alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("active_users"),
        )
        .select(
            F.col("w.start").cast("date").cast("string").alias("window_start"),
            "n_events",
            "active_users",
        )
    )


# --------------------------------------------------------------------------
# Dataset splitting / shard packing (training-data staples)
def split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic leakage-safe split: every doc of a source lands in the
    same split (md5-threshold on the source key; operators/sampling.py).
    Returns per-split doc/char/source counts."""
    from ..operators import sampling

    d = sampling.hash_split(
        _docs(spark, sf_dir), key_col="source", salt="s1"
    )
    return d.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.countDistinct("source").alias("n_sources"),
    )


def pack_token_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-token-budget shard packing across 8 parallel writers
    (operators/sampling.py). Returns per-(writer, shard) doc and token
    totals."""
    from ..operators import sampling

    toks = _docs(spark, sf_dir).select(
        "doc_id", text.word_count(F.col("text")).alias("toks")
    )
    packed = sampling.pack_token_shards(
        toks, id_col="doc_id", token_col="toks", budget=2000, writers=8
    )
    return packed.groupBy("writer", "shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("toks").alias("shard_tokens"),
    )


def pii_redact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub: every third doc gets deterministic synthetic PII (email,
    phone, IPv4, SSN-shaped) appended, then the redaction operator counts
    and replaces each kind. Map-side only — JVM regex under whole-stage
    codegen, no Python, no shuffle: at 100 TB the scan is the cost.
    The synthesis is part of the query on BOTH engines, so the oracle
    checks the actual regex semantics, not a no-op."""
    d = _docs(spark, sf_dir)
    i = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    pii = F.concat(
        F.col("text"),
        F.lit(" contact u"), s(i), F.lit("@mail.example.com ph 555-"),
        F.lpad(s(i % 1000), 3, "0"), F.lit("-"), F.lpad(s(i % 10000), 4, "0"),
        F.lit(" ip 10.0."), s(i % 256), F.lit("."), s((i * 7) % 256),
        F.lit(" ssn 987-65-"), F.lpad(s(i % 10000), 4, "0"),
    )
    aug = d.select(
        "doc_id",
        F.when(i % 3 == 0, pii).otherwise(F.col("text")).alias("text"),
    )
    out = scrub.redact_pii(aug)
    return out.select(
        "doc_id", "n_email", "n_ssn", "n_phone", "n_ipv4", "clean_text"
    )


def repetition_filter_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality features + keep flag
    (operators/text.py repetition_stats)."""
    out = text.repetition_stats(_docs(spark, sf_dir))
    return out.select(
        "doc_id", "total_tokens", "distinct_tokens", "top_token_cnt",
        "total_bigrams", "top_bigram_cnt", "dup_token_frac",
        "top_token_frac", "top_bigram_frac", "keep",
    )


def url_host_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization: synthetic per-doc URLs (scheme, www, port,
    tracking params, fragment) are normalized — host extracted and
    lower-cased, www./port stripped, query+fragment dropped — then
    aggregated per host. Map-side scrub + one partial-aggregated shuffle
    on the (tiny) host key."""
    d = _docs(spark, sf_dir)
    i = F.col("doc_id")
    url = F.concat(
        F.lit("https://WWW.Host"), (i % 50).cast("string"),
        F.lit(".example.com:443/p/"), i.cast("string"),
        F.lit("?utm_source=x&sid="), (i % 7).cast("string"), F.lit("#frag"),
    )
    urls = d.select("doc_id", F.lower(url).alias("url"))
    canon = urls.select(
        scrub.url_host(F.col("url")).alias("host"),
        scrub.url_strip_tracking(F.col("url")).alias("clean_url"),
    )
    return canon.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_urls"),
        F.countDistinct("clean_url").alias("n_pages"),
    )


def stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-rebalancing sample: per-lang keep rates via deterministic
    md5-threshold (operators/sampling.py stratified_sample) — the
    engine-portable, reproducible form of sampleBy. Returns the sampled
    rows themselves so the oracle hash checks membership exactly."""
    from ..operators import sampling

    out = sampling.stratified_sample(
        _docs(spark, sf_dir),
        strata_col="lang",
        key_col="doc_id",
        rates={"en": 0.5, "zh": 0.8, "es": 0.6, "fr": 1.0},
        default_rate=0.25,  # exercised by 'de'
        salt="strat1",
    )
    return out.select("doc_id", "lang", "source")


def temperature_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sqrt-temperature (α = 1/2) domain rebalancing over ``lang`` (the
    skewed domain in the corpus: en is ~3× the others, so en is really
    downsampled — operators/sampling.py temperature_sample). Keep
    decisions are exact integer math so the DuckDB oracle reproduces the
    membership bit-for-bit."""
    from ..operators import sampling

    out = sampling.temperature_sample(
        _docs(spark, sf_dir), domain_col="lang", key_col="doc_id",
        salt="temp1",
    )
    return out.select("doc_id", "lang", "source")


def token_diversity_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson-diversity token concentration per doc (operators/text.py
    token_diversity): exact-integer Σcnt² with single-division float
    outputs, bit-identical in DuckDB."""
    return text.token_diversity(_docs(spark, sf_dir))


def chunk_docs_for_training(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking (operators/chunking.py): 40-token windows
    every 20 tokens (50% overlap), trailing windows under 20 tokens
    dropped. The oracle reproduces every chunk's exact text by list
    slicing, so window boundaries are hash-checked token-for-token."""
    from ..operators import chunking

    return chunking.chunk_tokens(
        _docs(spark, sf_dir), chunk_len=40, stride=20, min_tokens=20
    )


def jsonl_parse_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL ingestion with corrupt-record recovery (sources/jsonl.py):
    each doc is serialized to a JSON line, every 7th line is truncated
    (simulating damaged shard lines), then the corpus is re-ingested
    through the text→from_json PERMISSIVE path. Corrupt lines surface in
    the quarantine column; their doc_id is salvaged from the raw line by
    regex — per-line outcome (id, ok flag, parsed text length) is
    oracle-checked, so BOTH engines agree on exactly which lines parse."""
    from ..sources import jsonl

    d = _docs(spark, sf_dir)
    js = F.to_json(F.struct("doc_id", "text"))
    line = F.when(
        F.col("doc_id") % 7 == 0, js.substr(F.lit(1), F.length(js) - 5)
    ).otherwise(js)
    parsed = jsonl.parse_jsonl_lines(
        d.select(line.alias("value")), "doc_id long, text string"
    )
    ok = F.col(jsonl.CORRUPT_COL).isNull()
    salvaged = F.regexp_extract(
        F.col(jsonl.CORRUPT_COL), r'"doc_id":([0-9]+)', 1
    ).cast("long")
    return parsed.select(
        F.coalesce(F.col("doc_id"), salvaged).alias("doc_id"),
        ok.cast("long").alias("ok"),
        F.when(ok, F.length("text").cast("long")).alias("parsed_text_len"),
    )


def zorder_cluster_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering key (operators/zorder.py): lineitem keyed by the
    Morton interleave of (partkey, suppkey) 1024-buckets — the layout that
    gives min/max row-group pruning on BOTH dimensions after
    ``cluster_by_zorder``'s range shuffle + in-partition sort. Returns the
    first 100 rows in Z order (deterministic tiebreak), pinning the exact
    mask-spread bit interleave and the clustering order against the
    DuckDB oracle."""
    from ..operators import zorder

    li = load_table(spark, sf_dir, "lineitem")
    zkey = zorder.zvalue("(l_partkey % 1024)", "(l_suppkey % 1024)")
    return (
        li.select(
            "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
            zkey.alias("zkey"),
        )
        .orderBy("zkey", "l_orderkey", "l_linenumber")
        .limit(100)
    )


def star_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped six-table star join: per-nation revenue for one
    region and one order year, where the supplying nation must equal the
    customer's nation. The fact (lineitem) joins five dimensions — region
    and nation broadcast outright; Catalyst + AQE pick build sides and
    reorder the rest; the date filter pushes into the orders scan.

    Revenue is hash-stable by construction: Σ price_cents·(100 − disc_pct)
    is an exact integer (2-decimal inputs), divided once by 10⁴ at the
    end — no float-sum ordering between engines."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "ASIA"
    )
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc = F.round(F.col("l_discount") * 100).cast("long")
    joined = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            supp,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return (
        joined.groupBy("n_name")
        .agg(
            F.sum(cents * (F.lit(100) - disc)).alias("rev_e4"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
        .select(
            "n_name",
            (F.col("rev_e4") / F.lit(10000.0)).alias("revenue"),
            "n_lineitems",
        )
    )


def cumulative_new_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running distinct-user count per day. A windowed ``countDistinct``
    is unsupported (and would hold unbounded state); the scalable identity
    is: distinct-users-to-date == Σ first-seen-that-day. One aggregate to
    per-user first day, one tiny daily rollup, one cumulative sum over the
    (days-sized) result — the fact table shuffles once on user_id."""
    ev = load_table(spark, sf_dir, "events")
    day = F.col("ts").cast("date")
    first_seen = ev.groupBy("user_id").agg(F.min(day).alias("d0"))
    daily = first_seen.groupBy("d0").agg(F.count(F.lit(1)).alias("n_new"))
    w = Window.orderBy("d0").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        F.col("d0").cast("string").alias("event_date"),
        "n_new",
        F.sum("n_new").over(w).alias("cum_users"),
    )


def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users bucketed by first-seen ISO week,
    counted distinct per (cohort, week-offset). Two aggregates (per-user
    first week, then distinct activity) and one join on user_id — the
    standard product-analytics matrix, where both engines must agree on
    ISO week truncation."""
    ev = load_table(spark, sf_dir, "events")
    week = F.date_trunc("week", F.col("ts")).cast("date")
    first_week = ev.groupBy("user_id").agg(F.min(week).alias("w0"))
    activity = ev.select("user_id", week.alias("w")).distinct()
    joined = activity.join(first_week, "user_id")
    return (
        joined.groupBy(
            F.col("w0").cast("string").alias("cohort_week"),
            (F.datediff("w", "w0") / 7).cast("long").alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


def event_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: first view → first click AFTER that view → first
    purchase AFTER that click, per user; output is users surviving each
    stage. Sequential '…after the previous step' semantics need the prior
    step's timestamp, so the pipeline is three user-keyed conditional
    aggregates chained by joins — each stage's shuffle carries one row per
    surviving user, monotonically shrinking."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    )
    t1 = ev.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts").alias("t1")
    )
    t2 = (
        ev.filter(F.col("event_type") == "click")
        .join(t1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    t3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(t2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    counts = (
        t1.agg(F.count(F.lit(1)).alias("n1"))
        .crossJoin(t2.agg(F.count(F.lit(1)).alias("n2")))
        .crossJoin(t3.agg(F.count(F.lit(1)).alias("n3")))
    )
    return counts.select(
        F.expr(
            "stack(3, '1_view', n1, '2_click_after_view', n2, "
            "'3_purchase_after_click', n3) AS (stage, n_users)"
        )
    )


def ks_test_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov distance between urgent and
    low-priority order-value distributions, exact until one final
    division: per-distinct-value group counts → SCALABLE running
    totals (ranking.prefix_sums — no single-partition window over the
    value domain) → D·n_a·n_b = max |cumA·n_b − cumB·n_a| in int64.
    The supremum over step CDFs is attained at sample values, so the
    per-distinct-value scan is exhaustive, not approximate."""
    from ..operators import ranking

    base = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .select(
            F.col("o_orderpriority").alias("grp"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
        )
    )
    per_val = base.groupBy("v").agg(
        F.sum((F.col("grp") == "1-URGENT").cast("long")).alias("ca"),
        F.sum((F.col("grp") == "5-LOW").cast("long")).alias("cb"),
    )
    cum = ranking.prefix_sums(per_val, ["v"], ["ca", "cb"])
    # group totals read off the CUM frame (the final running totals equal
    # the group sizes by construction) — this aggregates the persisted
    # range-partitioned rows prefix_sums already materialized, instead of
    # re-running the orders scan + groupBy from a fresh per_val lineage
    # (cache reuse is by plan subtree, so per_val.agg would scan twice)
    totals = cum.agg(
        F.max("ca_cum").alias("na"), F.max("cb_cum").alias("nb")
    ).collect()[0]
    na, nb = int(totals["na"]), int(totals["nb"])
    d_scaled = F.max(
        F.abs(F.col("ca_cum") * nb - F.col("cb_cum") * na)
    ).alias("d_scaled")
    return cum.agg(d_scaled).select(
        F.lit(na).cast("long").alias("n_a"),
        F.lit(nb).cast("long").alias("n_b"),
        "d_scaled",
        (F.col("d_scaled") / F.lit(na * nb)).alias("d_stat"),
    )


def mann_kendall_trend_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall trend TEST (the significance companion to the
    Theil–Sen SLOPE): S = Σ_{i<j} sign(c_j − c_i) over daily revenue —
    pure integer comparisons, no arithmetic that could drift. |S| near
    n(n−1)/2 = monotone trend; near 0 = no trend. Same days² pair join
    over the tiny daily aggregate."""
    ord_ = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    daily = ord_.groupBy(
        F.col("o_orderdate").cast("date").alias("d")
    ).agg(F.sum(cents).alias("c"))
    a = daily.select(F.col("d").alias("da"), F.col("c").alias("ca"))
    b = daily.select(F.col("d").alias("db"), F.col("c").alias("cb"))
    sgn = F.when(F.col("cb") > F.col("ca"), 1).when(
        F.col("cb") < F.col("ca"), -1
    ).otherwise(0)
    return (
        a.join(b, F.col("da") < F.col("db"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(sgn).cast("long").alias("s_statistic"),
        )
    )


def mann_whitney_u_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U rank-sum test (urgent vs low-priority order
    values), entirely in EXACT integers: ranks come from the
    range-partitioned scalable rank (operators/ranking.py — no
    single-partition window over fact rows), ties use doubled midranks
    ``2·rank + cnt − 1`` (always integral where midranks are .5s), and
    the statistic is reported doubled: ``2U_g = ΣmR2_g − n_g(n_g+1)``.
    The identity 2U_a + 2U_b = 2·n_a·n_b makes any rank drift
    self-evident; the oracle replays RANK + per-value counts."""
    from ..operators import ranking

    ord_ = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    )
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    base = ord_.select(
        F.col("o_orderpriority").alias("grp"), cents.alias("v")
    )
    r = ranking.ranked(base, ["v"], method="rank", out_col="rk")
    cnts = base.groupBy("v").agg(F.count(F.lit(1)).alias("cnt"))
    mid2 = (F.col("rk") * 2 + F.col("cnt") - 1)
    sums = (
        r.join(cnts, "v")
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(mid2).alias("r2"),
        )
        .withColumn("u2", F.col("r2") - F.col("n") * (F.col("n") + 1))
    )
    return sums.select("grp", "n", "r2", "u2")


def theil_sen_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend: the MEDIAN of all pairwise slopes of daily
    order revenue — unlike least squares, up to ~29% outlier days cannot
    move it. Slopes are exact scaled integers:
    ``(cents_j − cents_i) · 10^6 div (j − i)`` — both engines TRUNCATE
    integer division toward zero (Spark ``div`` ≡ DuckDB ``//``, checked
    on negative operands: −7//2 = −3 in both), so the median's rank walk
    is bit-identical with NO correction term (the rangejoin floor trick
    serves a different invariant — two consecutive bins — not engine
    parity). The pair
    explosion is days², not facts (the self-join runs on the ~30-row
    daily aggregate); the lower median (rank ⌈n/2⌉) is the deterministic
    choice for even n."""
    SCALE = 1_000_000
    ord_ = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    daily = ord_.groupBy(
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")).alias("di")
    ).agg(F.sum(cents).alias("c"))
    a = daily.select(F.col("di").alias("i"), F.col("c").alias("ci"))
    b = daily.select(F.col("di").alias("j"), F.col("c").alias("cj"))
    slope = F.expr(f"((cj - ci) * {SCALE}) div (j - i)")
    slopes = (
        a.join(b, F.col("i") < F.col("j"))
        .select(slope.alias("s"))
    )
    w = Window.orderBy(F.col("s").asc())
    ranked_slopes = slopes.withColumn("rn", F.row_number().over(w))
    n = slopes.count()
    med_rank = (n + 1) // 2
    return ranked_slopes.filter(F.col("rn") == med_rank).select(
        F.lit(n).cast("long").alias("n_pairs"),
        F.col("s").alias("median_slope_scaled"),
        (F.col("s") / SCALE).alias("cents_per_day"),
    )


def abc_classification_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC inventory classification: parts ranked by revenue,
    classified by CUMULATIVE share — A while cum ≤ 80% of total, B while
    ≤ 95%, else C (the part that crosses a boundary falls into the next
    class). All comparisons are cross-multiplied exact cents
    (cum·100 ≤ 80·total) — no float share can flip a boundary part
    between engines. The running sum is a single-partition window over
    per-part aggregates (part cardinality, not fact cardinality — the
    same bounded-key argument as the gold-layer ranks; facts are
    pre-aggregated before the window sees them). Output: per-class part
    counts and revenue."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    per_part = li.groupBy("l_partkey").agg(F.sum(cents).alias("rev_cents"))
    w = Window.orderBy(F.col("rev_cents").desc(), F.col("l_partkey").asc())
    total = per_part.agg(F.sum("rev_cents").alias("total_cents"))
    classed = (
        per_part.withColumn(
            "cum_cents",
            F.sum("rev_cents").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .crossJoin(F.broadcast(total))
        .withColumn(
            "abc_class",
            F.when(F.col("cum_cents") * 100 <= F.col("total_cents") * 80, "A")
            .when(F.col("cum_cents") * 100 <= F.col("total_cents") * 95, "B")
            .otherwise("C"),
        )
    )
    return classed.groupBy("abc_class").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum("rev_cents").alias("class_cents"),
    )


def bounded_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-BOUNDED funnel: each stage must convert within 24 hours of
    the previous one (first view → first click in (v, v+24h] → first
    purchase in (c, c+24h]) — the product-analytics form the unbounded
    funnel (`event_funnel_conversion`) cannot answer: a click a week
    later is not attributable. Same chained shrinking-aggregate shape
    with an upper time bound per join; interval arithmetic on
    unix_micros int64 (no calendar ambiguity)."""
    window_us = 24 * 3600 * 1_000_000
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    )
    us = F.unix_micros(F.col("ts"))
    t1 = ev.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min(us).alias("t1")
    )
    t2 = (
        ev.filter(F.col("event_type") == "click")
        .select("user_id", us.alias("tus"))
        .join(t1, "user_id")
        .filter((F.col("tus") > F.col("t1")) & (F.col("tus") <= F.col("t1") + window_us))
        .groupBy("user_id")
        .agg(F.min("tus").alias("t2"))
    )
    t3 = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", us.alias("tus"))
        .join(t2, "user_id")
        .filter((F.col("tus") > F.col("t2")) & (F.col("tus") <= F.col("t2") + window_us))
        .groupBy("user_id")
        .agg(F.min("tus").alias("t3"))
    )
    counts = (
        t1.agg(F.count(F.lit(1)).alias("n1"))
        .crossJoin(t2.agg(F.count(F.lit(1)).alias("n2")))
        .crossJoin(t3.agg(F.count(F.lit(1)).alias("n3")))
    )
    return counts.select(
        F.expr(
            "stack(3, '1_view', n1, '2_click_24h', n2, "
            "'3_purchase_24h', n3) AS (stage, n_users)"
        )
    )


def gap_fill_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-spine gap filling: daily counts of rare events (value >
    400, ~2% of rows) on a DENSE (day × event_type) grid with zeros where
    nothing happened — the resampling step every downstream time-series
    model assumes. The spine is generated from the full table's min/max
    day (one 1-row aggregate, exploded to a date sequence) crossed with
    the distinct types — grid cardinality is days×types regardless of
    fact size, so the only fact-sized work is the filtered daily
    aggregate; the grid join is a broadcast."""
    ev = load_table(spark, sf_dir, "events")
    day = F.col("ts").cast("date")
    bounds = ev.agg(
        F.min(day).alias("d0"), F.max(day).alias("d1")
    )
    spine = bounds.select(
        F.explode(F.sequence("d0", "d1")).alias("event_date")
    )
    types = ev.select("event_type").distinct()
    grid = spine.crossJoin(types)
    daily = (
        ev.filter(F.col("value") > 400)
        .groupBy(day.alias("event_date"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        grid.join(F.broadcast(daily), ["event_date", "event_type"], "left")
        .select(
            F.col("event_date").cast("string").alias("event_date"),
            "event_type",
            F.coalesce("n", F.lit(0)).alias("n_events"),
        )
    )


def incremental_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance (operators/incremental.py): the daily
    (date, event_type) rollup computed by splitting events into two
    deterministic 'arrival batches' (user_id parity), partial-aggregating
    each, and MERGING the partials — while the oracle aggregates the whole
    table directly. Equality is the IVM invariant: merge(partials over any
    partition) == direct aggregate. Value sums are carried in exact cents
    so the merge is bit-stable under any merge order."""
    from ..operators import incremental

    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        F.col("ts").cast("date").cast("string").alias("event_date"),
        "event_type",
        "user_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        "value",
    )
    keys = ["event_date", "event_type"]
    spec = {
        "n_events": ("count", "value"),
        "sum_value_cents": ("sum", "cents"),
        "min_value": ("min", "value"),
        "max_value": ("max", "value"),
    }
    half_a = incremental.partial_agg(
        base.filter(F.col("user_id") % 2 == 0), keys, spec
    )
    half_b = incremental.partial_agg(
        base.filter(F.col("user_id") % 2 == 1), keys, spec
    )
    return incremental.merge_partials([half_a, half_b], keys, spec)


def outlier_orders_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority 1.5σ price-outlier counts with ZERO float operations.

    |x − μ| > 1.5σ (sample variance; 1.5 because the uniform-ish price
    distribution has max deviation √3σ ≈ 1.73σ — a 2σ rule would flag
    nothing) rides on unrounded mean/stddev doubles whose summation order
    differs across engines — membership near the threshold could flip on
    an ulp. Clearing denominators (and the 1.5 = 3/2 ratio) turns the
    condition into pure integers over price cents (x), per-group count n,
    sum S = Σx, and Q = Σx²::

        4 · (n·x − S)² · (n−1)  >  9n · (nQ − S²)

    evaluated in DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) — exact at any
    realistic scale (~1e30 peak vs 1e38 headroom), n=1 groups degrade to
    0 > 0 = no outlier without any division-by-zero guard. The same
    exactness discipline as temperature sampling and the bloom bitmap.

    Shape: one partial-aggregated shuffle for (n, S, Q), broadcast of the
    5-row stats back, map-side flagging, one final tiny aggregate."""
    orders = load_table(spark, sf_dir, "orders")
    dec = "decimal(38,0)"
    x = F.round(F.col("o_totalprice") * F.lit(100)).cast("long")
    c = orders.select("o_orderpriority", x.alias("x"))
    stats = c.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast(dec).alias("s"),
        F.sum(F.col("x").cast(dec) * F.col("x").cast(dec)).alias("q"),
    )
    j = c.join(F.broadcast(stats), "o_orderpriority")
    nd = F.col("n").cast(dec)
    lhs = (nd * F.col("x").cast(dec) - F.col("s"))
    outlier = (F.lit(4).cast(dec) * lhs * lhs * (nd - 1)) > (
        F.lit(9).cast(dec) * nd * (nd * F.col("q") - F.col("s") * F.col("s"))
    )
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(outlier.cast("long")).alias("n_outliers"),
    )


def vocab_encode_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary build + corpus encoding (operators/text.py build_vocab /
    encode_docs): frequency-ranked token ids with deterministic tie-break,
    every document re-emitted as its position-ordered id sequence. The
    oracle rebuilds the identical vocabulary and sequences, so the whole
    encoding — id assignment AND ordering — is hash-checked. The id
    sequence ships CSV-joined (the checker's row-sort canonicalization
    cannot hash raw array cells — same rule as jl_project_embeddings);
    library users get the ArrayType form from encode_docs directly."""
    d = _docs(spark, sf_dir)
    # one materialized tokenization pass feeds the vocab build AND the
    # encoding join (released with the caller's materialized_scope)
    toks = materialize(text.token_rows(d), StorageLevel.MEMORY_AND_DISK_DESER)
    vocab = text.build_vocab(d, toks=toks)
    enc = text.encode_docs(d, vocab, toks=toks)
    return enc.select(
        "doc_id",
        "n_tokens",
        F.concat_ws(
            ",", F.transform(F.col("ids"), lambda x: x.cast("string"))
        ).alias("ids"),
    )


def cms_heavy_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min heavy hitters (operators/sketch.py cms_counters /
    cms_estimate): the corpus's true top-20 tokens probed against a d=4,
    w=1024 CMS of all token occurrences. Output carries the exact count
    beside the CMS estimate (always ≥, equal when collision-free in some
    row) — both exact integers, reproduced counter-for-counter by the
    DuckDB oracle."""
    # toks feeds the exact top-20 AND the CMS counters — materialize the
    # diamond (released with the caller's materialized_scope)
    toks = materialize(
        text.token_rows(_docs(spark, sf_dir)), StorageLevel.MEMORY_AND_DISK_DESER
    )
    exact = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.col("exact_cnt").desc(), F.col("tok").asc())
        .limit(20)
    )
    cms = sketch.cms_counters(toks, "tok", w_log2=10, d=4, salt="cms1")
    return sketch.cms_estimate(
        cms, exact, "tok", w_log2=10, d=4, salt="cms1"
    ).select("tok", "exact_cnt", "cms_cnt")


def uniform_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-size uniform sample: the K documents with the
    smallest md5(key|salt) — the K-minimum-values idiom, so the 'random'
    subset is reproducible across runs, engines, and partitionings (unlike
    seeded RNG sampling, which is partitioning-dependent). Spark executes
    the ORDER BY + LIMIT as a TakeOrdered (per-partition top-K, then a
    K-row merge on the driver) — no global sort at any scale."""
    d = _docs(spark, sf_dir)
    h = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|usamp1")))
    return (
        d.select("doc_id", "lang", "source", h.alias("h"))
        .orderBy("h", "doc_id")
        .limit(100)
    )


def cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets over (priority, status): all four grain
    combinations in one pass — completes the grouping-set family next to
    rollup_orders. NULL slots labeled 'ALL' (both group columns are
    non-null in the data, so the marker is unambiguous).

    value_m is hash-stable by construction (star_join_revenue idiom):
    the SUM runs over exact integer cents, and the single division /
    ROUND happen once on the identical BIGINT in both engines — no
    float-sum ulp can flip the 4th decimal."""
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return (
        orders.cube("o_orderpriority", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(cents) / F.lit(1e8), 4).alias("value_m"),
        )
        .select(
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            "n_orders",
            "value_m",
        )
    )


def bloom_prune_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom semi-join pruning (operators/bloom.py): lineitem rows are
    pre-filtered map-side against a 2^18-bit bloom of the urgent orders'
    keys, then the exact membership is flagged by the (broadcast) true
    key set. Per returnflag: rows passing the bloom vs rows in the exact
    semi-join — the gap is the bloom's false-positive volume, which both
    engines must reproduce EXACTLY (same md5 double-hash positions, same
    bitmap words)."""
    from ..operators import bloom

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    dim = orders.filter(F.col("o_orderpriority") == "1-URGENT")
    bm = bloom.build_bloom(dim, "o_orderkey", m_log2=18, k=4, salt="bl1")
    fact = li.select("l_orderkey", "l_returnflag")
    pruned = bloom.bloom_prune(
        fact, bm, "l_orderkey", m_log2=18, k=4, salt="bl1"
    )
    true_keys = dim.select(
        F.col("o_orderkey").alias("l_orderkey")
    ).distinct().withColumn("__in", F.lit(1))
    flagged = pruned.join(F.broadcast(true_keys), "l_orderkey", "left")
    return flagged.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_bloom_pass"),
        F.count("__in").alias("n_exact"),
    )


def curation_funnel_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation funnel: per-stage survivor accounting for
    the sequential filter chain a training-data pipeline actually runs —

      ingested → quality (score ≥ 1.2) → repetition (Gopher keep)
               → decontaminated (fingerprint ∉ eval set)

    One row per stage with cumulative doc and char counts; the DuckDB
    oracle composes the SAME stage predicates (it embeds the quality and
    repetition oracle SQL as subqueries), so the whole funnel's accounting
    is hash-checked, not just each operator in isolation.

    Scale shape: quality flags are map-side; repetition adds its two
    token-row shuffles; the flag joins are keyed on doc_id; the final
    accounting is one global aggregate folded to four rows via stack —
    no per-stage rescans of the corpus."""
    d = _docs(spark, sf_dir)
    q = text.with_quality_features(d).select("doc_id", "quality_score")
    rep = text.repetition_stats(d).select("doc_id", "keep")
    fp = d.select("doc_id", "n_chars", text.fingerprint(F.col("text")).alias("fp"))
    eval_fps = (
        fp.filter(F.col("doc_id") % 97 == 0)
        .select(F.col("fp").alias("eval_fp"))
        .distinct()
    )
    flags = (
        fp.join(q, "doc_id")
        .join(rep, "doc_id")
        .join(
            F.broadcast(eval_fps),
            F.col("fp") == F.col("eval_fp"),
            "left",
        )
        .select(
            "n_chars",
            (F.col("quality_score") >= 1.2).cast("long").alias("c1"),
            F.col("keep").alias("rep_keep"),
            F.col("eval_fp").isNull().cast("long").alias("clean"),
        )
        .withColumn("c2", F.col("c1") * F.col("rep_keep"))
        .withColumn("c3", F.col("c2") * F.col("clean"))
    )
    agg = flags.agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum("n_chars").alias("ch0"),
        F.sum("c1").alias("n1"),
        F.coalesce(F.sum(F.when(F.col("c1") == 1, F.col("n_chars"))), F.lit(0)).alias("ch1"),
        F.sum("c2").alias("n2"),
        F.coalesce(F.sum(F.when(F.col("c2") == 1, F.col("n_chars"))), F.lit(0)).alias("ch2"),
        F.sum("c3").alias("n3"),
        F.coalesce(F.sum(F.when(F.col("c3") == 1, F.col("n_chars"))), F.lit(0)).alias("ch3"),
    )
    return agg.select(
        F.expr(
            "stack(4, "
            "'0_ingested', n0, ch0, "
            "'1_quality', n1, ch1, "
            "'2_repetition', n2, ch2, "
            "'3_decontaminated', n3, ch3) AS (stage, n_docs, total_chars)"
        )
    )


def corpus_top_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 word trigrams, deterministic tie-break
    (operators/text.py corpus_top_ngrams)."""
    return text.corpus_top_ngrams(_docs(spark, sf_dir), n=3, k=20)


def range_join_event_bursts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window range self-join (operators/rangejoin.py): for each
    high-value anchor event, the count / distinct-user count / max value of
    all events in the following 30 minutes — the aftershock-association
    query shape. The interval predicate runs as a bin-bucketed EQUI-join
    (anchors duplicated 2×, candidates shuffled once by time bin), not the
    BNLJ Spark would pick for a raw theta-join; the DuckDB oracle states
    the same join as a plain interval predicate."""
    from ..operators import rangejoin

    ev = load_table(spark, sf_dir, "events")
    anchors = ev.filter(F.col("value") > 180).select("event_id", "ts")
    cands = ev.select("user_id", "ts", "value")
    pairs = rangejoin.interval_join(
        anchors, cands, lower_us=0, upper_us=30 * 60 * 1_000_000
    )
    agg = pairs.groupBy("event_id").agg(
        F.count(F.lit(1)).alias("n_follow"),
        F.countDistinct("user_id_c").alias("n_users"),
        F.max("value_c").alias("max_follow_value"),
    )
    return anchors.join(agg, "event_id", "left").select(
        "event_id",
        F.coalesce("n_follow", F.lit(0)).alias("n_follow"),
        F.coalesce("n_users", F.lit(0)).alias("n_users"),
        "max_follow_value",
    )


def decontaminate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: drop every corpus doc whose normalized
    fingerprint appears in the benchmark set (stand-in: docs with
    doc_id % 97 == 0). The eval set is tiny relative to the corpus, so the
    anti-join broadcasts it — the corpus never shuffles, which is the only
    shape that survives a 100 TB corpus vs a few thousand eval prompts."""
    fp = _docs(spark, sf_dir).select(
        "doc_id", text.fingerprint(F.col("text")).alias("fp")
    )
    eval_fps = (
        fp.filter(F.col("doc_id") % 97 == 0).select("fp").distinct()
    )
    return fp.join(F.broadcast(eval_fps), "fp", "left_anti").select("doc_id", "fp")


def ngram_containment_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment decontamination (operators/text.py
    ``ngram_containment_filter``, the GPT-3 appendix method): corpus docs
    (doc_id%97≠0) whose distinct 5-grams overlap the eval set
    (doc_id%97=0) in more than 1/10 of their grams are flagged — the
    paraphrase-robust companion to the exact-fingerprint
    `decontaminate_docs`. Eval grams broadcast; the corpus never
    shuffles for the membership test. The oracle replays tokenization,
    the distinct gram sets, the broadcast-shaped left join, and the
    exact-integer keep; short docs pin the no-grams row contract."""
    from ..operators.text import ngram_containment_filter

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    ev = docs.filter(F.col("doc_id") % 97 == 0)
    return ngram_containment_filter(corpus, ev, n=5)


def incremental_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup dedup (operators/neardup_incremental.py): the
    already-indexed corpus (doc_id % 5 != 0) is built into a persisted,
    bucketed signature store ONCE; the 'daily batch' (doc_id % 5 == 0) is
    then shingled/signed ALONE, probes the stored band postings for
    candidates, verifies by exact Jaccard from the stored shingle sets
    (the corpus text is never re-read), and appends its signatures. Same
    knobs as minhash_near_dup, portable md5 hashing throughout.

    The DuckDB oracle recomputes the FULL union and restricts to pairs
    touching the batch — pinning the probe ≡ full-recompute equivalence
    that makes incremental dedup trustworthy at 100 TB (a daily batch
    must find exactly the duplicates a from-scratch run would)."""
    import tempfile

    from ..operators import neardup_incremental as ninc
    from ..sources.warehouse import Warehouse

    ctx = _inc_mh_build(spark, sf_dir)
    return _inc_mh_probe(spark, sf_dir, ctx, append=True)


def _inc_mh_build(spark: SparkSession, sf_dir: str) -> dict:
    """Index-BUILD phase of ``incremental_minhash_dedup`` (bench times it
    separately from the serving probe — a daily pipeline pays it once)."""
    import tempfile

    from ..operators import neardup_incremental as ninc
    from ..sources.warehouse import Warehouse

    d = _docs(spark, sf_dir)
    base = d.filter(F.col("doc_id") % 5 != 0)
    batch = d.filter(F.col("doc_id") % 5 == 0)
    wh = Warehouse(spark, tempfile.mkdtemp(prefix="incmh-"))
    ninc.build_minhash_index(
        wh, base, id_col="doc_id", text_col="text",
        n=3, num_hashes=64, bands=16, seed=42, hasher="md5",
        name="inc_mh_idx",
    )
    return {"wh": wh, "batch": batch}


def _inc_mh_probe(
    spark: SparkSession, sf_dir: str, ctx: dict, *, append: bool = False
) -> DataFrame:
    """Serving-path probe: shingle/sign the batch alone and hit the
    stored band postings. ``append=False`` for repeated bench timing
    (the store must not grow between runs); the driver query appends,
    as the daily pipeline would."""
    from ..operators import neardup_incremental as ninc

    return ninc.incremental_minhash_pairs(
        ctx["wh"], ctx["batch"], text_col="text", threshold=0.2,
        name="inc_mh_idx", append=append,
    )


def metadata_only_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only query answering (skipping.stats_only_agg): lineitem is
    written range-clustered, the per-file stats table is refreshed, and
    count(*)/min/max over two columns are answered WITHOUT touching a
    single data file — the Delta/Iceberg manifest fast path. The oracle
    runs the direct aggregates over the full table, so a stale or wrong
    stats row hash-fails (exactness == stats freshness, pinned)."""
    import tempfile

    from ..operators import skipping
    from ..sources.warehouse import Warehouse

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    wh = Warehouse(spark, tempfile.mkdtemp(prefix="metaagg-"))
    wh.overwrite(li.repartitionByRange(8, F.col("l_orderkey")), "li_meta")
    skipping.refresh_file_stats(wh, "li_meta", ["l_orderkey", "l_quantity"])
    return skipping.stats_only_agg(wh, "li_meta", ["l_orderkey", "l_quantity"])


def hybrid_range_count_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact range count with the manifest fast path
    (skipping.hybrid_range_count): on the range-clustered layout the
    interior files contribute their stats n_rows unopened and only the
    two boundary files scan. Oracle = the plain filtered count over the
    full table — double-counting between the meta and scan contributions,
    or a missed boundary row, hash-fails."""
    import tempfile

    from ..operators import skipping
    from ..sources.warehouse import Warehouse

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    wh = Warehouse(spark, tempfile.mkdtemp(prefix="hybcnt-"))
    wh.overwrite(li.repartitionByRange(8, F.col("l_orderkey")), "li_hyb")
    skipping.refresh_file_stats(wh, "li_hyb", ["l_orderkey"])
    stats = wh.read("li_hyb__stats")
    return skipping.hybrid_range_count(spark, stats, "l_orderkey", 500, 4500)


def feature_hash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed feature hashing (text.feature_hash, the Weinberger hashing
    trick): tokens projected into 256 fixed dimensions with ±1 signs from
    an independent hash bit — the vocabulary-free featurizer (no vocab
    build, no broadcast, schema never changes). Sparse (doc, idx, weight)
    rows; portable md5 index/sign arithmetic, oracle bit-for-bit."""
    return text.feature_hash(_docs(spark, sf_dir), dim=256)


def scd2_user_value_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type 2 dimension build (operators/scd.py): the per-user value
    change stream becomes versioned history rows with half-open
    [valid_from, valid_to) intervals and an is_current flag; same-ts
    collisions deterministically pre-deduped (max value), no-op changes
    collapsed. The oracle replays the lag-filter + lead-interval windows."""
    from ..operators import scd

    ev = load_table(spark, sf_dir, "events")
    ded = ev.groupBy("user_id", "ts").agg(F.max("value").alias("value"))
    return scd.scd2_build(
        ded, key_cols=["user_id"], ts_col="ts", attr_cols=["value"]
    )


def scd2_as_of_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension read (scd.as_of over the SCD2 history):
    every user's value exactly as of 2024-01-15 — the reproducibility
    query ("what did the model see on day X"). The oracle answers it the
    OTHER way (latest change at-or-before T via ROW_NUMBER), pinning the
    interval semantics: both constructions must agree row-for-row."""
    from datetime import datetime

    from ..operators import scd

    ev = load_table(spark, sf_dir, "events")
    ded = ev.groupBy("user_id", "ts").agg(F.max("value").alias("value"))
    hist = scd.scd2_build(
        ded, key_cols=["user_id"], ts_col="ts", attr_cols=["value"]
    )
    snap = scd.as_of(hist, datetime(2024, 1, 15))
    return snap.select("user_id", "value", "valid_from")


def phrase_search_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact consecutive-token phrase matching (search.phrase_search):
    positional adjacency expressed as n-gram equality over the shingle
    window — counts every start position, overlaps included. The oracle
    replays token positions with a lateral range, NOT substring replace
    (which would undercount overlapping occurrences)."""
    from ..operators import search

    return search.phrase_search(
        _docs(spark, sf_dir), "slow hash batch"
    )


def kmv_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap estimation from KMV sketches (sketch.kmv_overlap):
    how many 'view' users also 'purchase', answered from two 256-row
    k-minimum-values sketches instead of a join — the dataset-overlap
    audit shape (train-vs-eval, corpus-vs-corpus) at 100 TB. Integer
    floor-div estimators on portable md5 hashes; the oracle replays the
    sketches AND the estimates bit-for-bit, exact audited counts beside
    them."""
    from ..operators import sketch

    ev = load_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view")
    buys = ev.filter(F.col("event_type") == "purchase")
    return sketch.kmv_overlap(views, buys, "user_id", "user_id", k=256)


def profile_orders_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass-per-kind table profiling (operators/profile.py): per-
    column nulls / lexicographic min-max / portable-HLL NDV over three
    orders columns — the ANALYZE column-statistics payload as rows. The
    oracle replays the canonical-string profile and the register math
    per column, so even the approximate NDVs match bit-for-bit."""
    from ..operators import profile

    orders = load_table(spark, sf_dir, "orders")
    return profile.profile_table(
        orders, ["o_orderstatus", "o_orderpriority", "o_custkey"]
    )


def join_size_estimate_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimizer-statistics tooling (sketch.join_size_estimate): the
    System-R join-cardinality formula n_L·n_R / max(ndv_L, ndv_R) with
    NDVs from the portable HLL registers — what ANALYZE feeds a
    cost-based planner, plus the audited actual count. Oracle replays
    register math and the integer estimate, so the approximation error
    itself is pinned bit-for-bit."""
    from ..operators import sketch

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    return sketch.join_size_estimate(li, orders, "l_orderkey", "o_orderkey")


def training_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible seeded shuffle + balanced shard assignment
    (operators/sampling.seeded_shuffle_shards): order = md5(seed|id)
    permutation ranked by the SCALABLE rank (uniform hash keys — the
    range partitioner balances perfectly, no single-partition window),
    shards interleaved round-robin (sizes differ by <= 1). The oracle
    replays the md5 permutation with ROW_NUMBER — engine-identical
    training order, the contract an epoch reshuffle rides on."""
    from ..operators import sampling

    return sampling.seeded_shuffle_shards(
        _docs(spark, sf_dir).select("doc_id"),
        id_col="doc_id", n_shards=8, seed="epoch0",
    )


def negative_sample_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive negative mining (sampling.negative_samples): 3
    deterministic pseudo-random negatives per document via a portable-md5
    permutation of the id space — positions from the range-partitioned
    scalable rank (no single-partition window), negatives from an integer
    position join (no cross join, no rand()). The oracle replays the
    identical ROW_NUMBER-over-md5 permutation and hash arithmetic, so
    every (anchor, slot, negative) triple matches bit-for-bit."""
    from ..operators import sampling

    return sampling.negative_samples(
        _docs(spark, sf_dir).select("doc_id"), id_col="doc_id", k=3
    )


def scalable_rank_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global dense_rank at fact scale WITHOUT the single-partition window
    (operators/ranking.py): range-repartition on the key, per-partition
    vectorized running rank, broadcast cumulative offsets. Same semantics
    as DENSE_RANK() OVER (ORDER BY price) — the oracle — but parallel
    across 32 range partitions; plan_audit asserts the plan contains NO
    Window node (the W5 anti-pattern this operator exists to replace)."""
    from ..operators import ranking

    part = load_table(spark, sf_dir, "part")
    return ranking.ranked(
        part.select("p_partkey", "p_retailprice"),
        ["p_retailprice"],
        method="dense_rank",
        out_col="price_rank",
    )


def skipping_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-skipping index end-to-end (operators/skipping.py): lineitem is
    written range-clustered on l_orderkey (each file a key range), a
    per-file min/max stats table is built, and a narrow key-range query
    reads ONLY the overlapping files (the residual predicate re-applied).
    The oracle runs the same predicate over the FULL table — a wrongly
    skipped file would drop rows and hash-mismatch, so the driver gate
    pins the superset property, not just the happy path. Summarized per
    returnflag with exact-cents revenue so the output is hash-stable."""
    import tempfile

    from ..operators import skipping
    from ..sources.warehouse import Warehouse

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice"
    )
    wh = Warehouse(spark, tempfile.mkdtemp(prefix="skip-"))
    clustered = li.repartitionByRange(16, F.col("l_orderkey"))
    wh.overwrite(clustered, "li_clustered")
    skipping.refresh_file_stats(wh, "li_clustered", ["l_orderkey"])
    stats = wh.read("li_clustered__stats")
    lo, hi = 1000, 3000
    pruned = skipping.pruned_read(spark, stats, {"l_orderkey": (lo, hi)})
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    return pruned.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("l_quantity").cast("long").alias("qty_sum"),
        F.sum(cents).alias("price_cents"),
    )


# --------------------------------------------------------------------------
# Round-3 SQL-surface depth: semi-structured JSON, ranking-function suite,
# ordered string aggregation, GROUPING SETS, exact-integer EWMA.
def json_extract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured JSON extraction (schema-projected ``from_json`` —
    the Spark-idiomatic path for typed access, pushed into codegen) plus a
    single-path ``get_json_object`` probe, aggregated per event type.

    Scale shape: parsing is a pure map-side expression on the fact scan —
    no shuffle beyond the tiny per-type aggregate; at 100 TB the cost is
    the scan itself (and a real deployment would parse once and persist
    the typed column, which is exactly what this projection expresses).
    All outputs are exact integers."""
    ev = load_table(spark, sf_dir, "events")
    k = F.from_json(F.col("props"), "k BIGINT")["k"]
    probed = ev.select(
        "event_type",
        k.alias("k"),
        F.get_json_object("props", "$.k").isNotNull().cast("long").alias("has_k"),
    )
    return probed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("has_k").alias("n_with_k"),
        F.sum("k").alias("k_sum"),
        F.min("k").alias("k_min"),
        F.max("k").alias("k_max"),
        F.sum((F.col("k") >= 50).cast("long")).alias("n_high"),
    )


def window_rank_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-function coverage in one pass: NTILE / PERCENT_RANK /
    CUME_DIST / FIRST_VALUE over a total order (exact-cents price DESC,
    key ASC — the tiebreak makes every rank deterministic, and the float
    outputs are single divisions of exact integers, portable bit-for-bit).

    The window partitions on o_orderpriority (5 values) — fine here
    because the partition count is the parallelism bound and the data per
    key fits an executor; for a GLOBAL total-order rank at fact scale use
    operators/ranking.ranked (scalable_rank_parts), which this suite
    deliberately does not replace."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    base = o.select("o_orderkey", "o_orderpriority", cents.alias("price_cents"))
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("price_cents").desc(), F.col("o_orderkey").asc()
    )
    return base.select(
        "o_orderkey",
        "o_orderpriority",
        "price_cents",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cum_dist"),
        F.first_value(F.col("o_orderkey")).over(w).alias("top_order_in_priority"),
    )


def listagg_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG / string_agg semantics): the
    top-5 customers per nation by exact-cents balance, concatenated in
    rank order. Spark has no ordered string_agg, so the portable identity
    is collect_list(struct(rank, name)) → array_sort → transform →
    array_join — deterministic because the struct sort key is the rank.

    Scale shape: the window prunes to ≤5 rows per nation BEFORE the
    aggregation, so the collected arrays are bounded (never an unbounded
    per-group listagg, which is a skew/OOM hazard at 100 TB); the nation
    dim joins broadcast."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    bal_c = F.round(F.col("c_acctbal") * 100).cast("long")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("bal_cents").desc(), F.col("c_custkey").asc()
    )
    top = (
        cust.select("c_custkey", "c_name", "c_nationkey", bal_c.alias("bal_cents"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
    )
    grouped = top.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_top"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rnk", "c_name"))),
                lambda s: s["c_name"],
            ),
            "|",
        ).alias("top_names"),
        F.sum("bal_cents").alias("top_bal_cents"),
    )
    return grouped.join(
        F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey")
    ).select("n_name", "n_top", "top_names", "top_bal_cents")


def grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS ((status), (priority), ()) with GROUPING()
    disambiguation — the grouping-sets form that neither CUBE nor ROLLUP
    expresses (cube_orders / rollup_orders cover those). Runs through
    spark.sql so the exact ANSI construct is exercised; Spark expands it
    into a single Expand+Aggregate (one scan, one shuffle of the expanded
    rows — same cost model as cube). Revenue is summed in exact cents and
    divided once at the end."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("gs_orders_v")
    return spark.sql(
        """
        SELECT COALESCE(o_orderstatus, 'ALL') AS status,
               COALESCE(o_orderpriority, 'ALL') AS priority,
               CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
               CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               ROUND(CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
                     / 1e8, 4) AS value_m
        FROM gs_orders_v
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


def ewma_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of daily revenue, exact to
    the last bit: the day grain is gap-filled from a calendar spine, each
    day's value summed in exact cents, and the 14-day half-life-1 EWMA is
    evaluated as Σ lag_a·2^(13-a) / Σ 2^(13-a) — integer numerator and
    denominator (weights are exact powers of two, lags over the dense
    spine), ONE float division at the end. No float accumulation order,
    no libm: both engines agree bit-for-bit (the repo's exact-integer
    rearrangement rule applied to smoothing).

    Scale shape: the fact table contributes one partial-aggregated
    shuffle to day grain; the window and lags run over the DAYS-sized
    spine (tiny regardless of fact size)."""
    ev = load_table(spark, sf_dir, "events")
    day = F.col("ts").cast("date")
    cents = F.round(F.col("value") * 100).cast("long")
    daily = ev.groupBy(day.alias("d")).agg(F.sum(cents).alias("day_cents"))
    spine = ev.agg(F.min(day).alias("d0"), F.max(day).alias("d1")).select(
        F.explode(F.sequence("d0", "d1")).alias("d")
    )
    dense = spine.join(daily, "d", "left").select(
        "d", F.coalesce("day_cents", F.lit(0)).cast("long").alias("day_cents")
    )
    w = Window.orderBy("d")
    span = 14
    num = None
    den = None
    for a in range(span):
        lag_a = F.lag("day_cents", a).over(w)
        wt = 1 << (span - 1 - a)
        term = F.when(lag_a.isNotNull(), lag_a * F.lit(wt)).otherwise(F.lit(0))
        dterm = F.when(lag_a.isNotNull(), F.lit(wt)).otherwise(F.lit(0))
        num = term if num is None else num + term
        den = dterm if den is None else den + dterm
    return dense.select(
        F.col("d").cast("string").alias("event_date"),
        "day_cents",
        num.alias("ewma_num"),
        den.alias("ewma_den"),
        (num.cast("double") / den.cast("double")).alias("ewma_cents"),
    )


def semdedup_prune_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (operators/semdedup.py): embeddings
    are clustered by the TRAINED exact-integer k-means codebook (same
    Lloyd loop as ivf_ann_topk, so the oracle retrains it bit-identically
    in numpy), then each cluster is pruned greedily — a vector is dropped
    when a lower-id cell-mate sits at cosine ≥ 0.45. O(Σ|cell|²) instead
    of O(N²); the full pipeline (assignment + prune flags + in-cell dup
    counts) is hash-checked against DuckDB."""
    from ..operators import semdedup

    embs = _embs(spark, sf_dir)
    cb_q = similarity.train_ivf_codebook(embs, dim=64, cells=16, iters=4)
    return semdedup.semdedup_flags(
        embs, dim=64, cells=16, threshold=0.45, round_decimals=4, codebook_q=cb_q
    )


def tfidf_search_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF cosine retrieval (operators/search.tfidf_topk): integer-log2
    idf, exact-int weights/norms/dot, one float division — the vector-
    space twin of bm25_search_docs, same query-term bag, hash-checked."""
    return search.tfidf_topk(
        _docs(spark, sf_dir), BM25_TERMS, id_col="doc_id", k=BM25_K
    )


def hybrid_rrf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval by Reciprocal Rank Fusion (Cormack et al. 2009):
    BM25 (lexical) and TF-IDF-cosine (vector-space) top-50 lists are
    fused by rrf = Σ 1/(60+rank). Rank fusion is the engine-portability
    sweet spot — scores never mix across scoring scales, and the fused
    value is a fixed-order sum of two correctly-rounded divisions of
    INTEGER ranks, so the result is bit-stable even though the two
    retrievers use different float pipelines. Ranks re-derive from each
    list's (score, id) total order; absent docs contribute 0 (rank 0 in
    the output marks absence). The rank windows run over k-bounded lists
    (≤50 rows) — never corpus-sized."""
    docs = _docs(spark, sf_dir)
    k_each, c = 50, 60
    # ONE corpus aggregate feeds both retrievers (term_counts is
    # persisted): the corpus is scanned/normalized/exploded AND
    # tf-aggregated once — BM25's dl is Σ tf per doc and its query-term
    # rows are a filter of the same table TF-IDF consumes directly
    tfc = search.term_counts(docs, id_col="doc_id", text_col="text")
    bm = search.bm25_topk(docs, BM25_TERMS, k=k_each, tfc=tfc)
    ti = search.tfidf_topk(docs, BM25_TERMS, k=k_each, tfc=tfc)
    bmr = bm.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("score").desc(), F.col("doc_id")))
        .cast("long")
        .alias("bm25_rank"),
    )
    tir = ti.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("tfidf_cosine").desc(), F.col("doc_id")))
        .cast("long")
        .alias("tfidf_rank"),
    )
    fused = bmr.join(tir, "doc_id", "full")
    rrf = F.coalesce(F.lit(1.0) / (F.lit(float(c)) + F.col("bm25_rank")), F.lit(0.0)) + F.coalesce(
        F.lit(1.0) / (F.lit(float(c)) + F.col("tfidf_rank")), F.lit(0.0)
    )
    return (
        fused.select(
            "doc_id",
            F.coalesce("bm25_rank", F.lit(0)).alias("bm25_rank"),
            F.coalesce("tfidf_rank", F.lit(0)).alias("tfidf_rank"),
            rrf.alias("rrf_score"),
        )
        .orderBy(F.col("rrf_score").desc(), F.col("doc_id"))
        .limit(15)
    )


def grid_nearest_station(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-pruned 1-NN spatial join (operators/spatial.py
    nearest_neighbor_grid_join): events on a deterministic 1000×1000
    integer plane, a 10×10 perturbed station grid (one station per
    100-cell, jitter ±10 keeps the own-cell-station invariant that makes
    the 3×3 candidate ring provably sufficient). Spark prunes candidates
    by grid cell (9 per point); the DuckDB oracle brute-forces ALL
    stations — so the hash check pins grid-pruned ≡ exhaustive, which is
    exactly the property that lets the operator scale. Distances are
    exact int64 squared euclidean; ties break to the lowest station id
    via lexicographic min(struct)."""
    from ..operators import spatial as sp

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        (F.col("event_id") % 1000).alias("px"),
        ((F.col("event_id") * 7919) % 1000).alias("py"),
    )
    st = spark.range(100).select(
        F.col("id").alias("station_id"),
        (
            (F.col("id") / 10).cast("long") * 100
            + 50
            + (((F.col("id") / 10).cast("long") * 37) % 21)
            - 10
        ).alias("sx"),
        ((F.col("id") % 10) * 100 + 50 + (((F.col("id") % 10) * 53) % 21) - 10).alias(
            "sy"
        ),
    )
    return sp.nearest_neighbor_grid_join(
        ev,
        st,
        point_id="event_id",
        px_col="px",
        py_col="py",
        station_id="station_id",
        sx_col="sx",
        sy_col="sy",
        cell_size=100,
    )


def bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training (operators/bpe.py): learns the
    corpus's first 3 merges — adjacent-pair counting, deterministic
    global argmax, greedy-leftmost merge application via gaps-and-islands
    — all as windows + partial-aggregated shuffles, collect-free. The
    oracle replays all 3 rounds as generated CTEs; the symbols_after
    column pins merge APPLICATION (overlap handling included), not just
    pair counting."""
    from ..operators import bpe

    return bpe.learn_merges(_docs(spark, sf_dir), k=3)


def bpe_encode_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODE (operators/bpe.py ``encode_with_merges``): learn the
    corpus's first 3 merges, then tokenize the corpus with that frozen
    merge list — the daily serving step of a trained subword tokenizer.
    The 3-row merge-list collect is control-plane. The oracle replays
    training and takes the round-3 STATE as the encoding, so a hash
    match certifies the encode ≡ train-state theorem (sequential
    rank-order application ≡ min-rank iteration) on the real corpus,
    overlap resolution included."""
    from ..operators import bpe

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    # one shared tokenization pass: the trainer folds word frequencies
    # from the SAME persisted occurrence rows the encoder joins back to.
    # learn_merge_list returns the merges as driver rows directly — the
    # encode path needs neither the symbols_after audit action nor a
    # tiny_df round-trip (two fewer control-plane jobs than wrapping
    # learn_merges)
    occ = bpe.word_occurrences(docs)
    audit = bpe.learn_merge_list(docs, k=3, occ=occ, with_symbols=False)
    merges = [
        tuple(pair.split(" ")) for _step, pair, _cnt in sorted(audit)
    ]
    return bpe.encode_with_merges(docs, merges, occ=occ)


def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts of user event streams: one
    lag() window over (user, ts, event_id) — the total order makes the
    predecessor deterministic even for same-timestamp events — then a
    tiny (from, to) aggregate with an exact per-from-state probability
    (single division of two ints). The canonical behavioral-model
    preprocessing step; fact shuffles once on user_id."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = ev.select(
        "user_id",
        F.lag("event_type").over(w).alias("from_type"),
        F.col("event_type").alias("to_type"),
    ).filter(F.col("from_type").isNotNull())
    counts = trans.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    wf = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n_transitions",
        (
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(wf).cast("double")
        ).alias("p_transition"),
    )


def pagerank_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer PageRank (operators/cluster.pagerank_integer) over a
    deterministic 50-host link graph derived from documents (src = doc%50,
    dst = doc·7 % 50, self-loops dropped, multi-edges collapsed). Three
    Pregel-style supersteps, all integer floor-div/sum arithmetic — the
    oracle replays the iterations as generated CTEs and matches
    bit-for-bit, which float PageRank cannot do."""
    d = load_table(spark, sf_dir, "documents")
    edges = (
        d.select(
            (F.col("doc_id") % 50).alias("src"),
            ((F.col("doc_id") * 7) % 50).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    return cluster.pagerank_integer(edges, iters=3)


def record_linkage_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution by blocking + edit distance: a deterministic
    'dirty' copy (last name char replaced, id offset by 1,000,000) is
    planted for every 7th customer, then candidate pairs are generated
    ONLY within a blocking key (nation, name-prefix) — never all-pairs —
    and matched at Levenshtein ≤ 1. Both engines' native levenshtein is
    exact integer, so the full match set (planted dirty pairs plus
    genuine one-digit-apart name collisions, flagged apart) is
    hash-checked. Production blocking swaps the prefix for phonetic /
    sorted-neighborhood keys; the join shape is identical."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    dirty = cust.filter(F.col("c_custkey") % 7 == 0).select(
        (F.col("c_custkey") + 1000000).alias("rec_id"),
        F.concat(
            F.expr("substring(c_name, 1, length(c_name) - 1)"), F.lit("X")
        ).alias("name"),
        F.col("c_nationkey").alias("nat"),
    )
    clean = cust.select(
        F.col("c_custkey").alias("rec_id"),
        F.col("c_name").alias("name"),
        F.col("c_nationkey").alias("nat"),
    )
    recs = clean.unionByName(dirty).withColumn(
        "block", F.concat_ws("|", F.col("nat"), F.substring("name", 1, 12))
    )
    a = recs.select(
        F.col("rec_id").alias("id_a"), F.col("name").alias("name_a"), "block"
    )
    b = recs.select(
        F.col("rec_id").alias("id_b"), F.col("name").alias("name_b"), "block"
    )
    pairs = a.join(b, "block").filter(F.col("id_a") < F.col("id_b"))
    return (
        pairs.withColumn("lev_dist", F.levenshtein("name_a", "name_b").cast("long"))
        .filter(F.col("lev_dist") <= 1)
        .select(
            "id_a",
            "id_b",
            "name_a",
            "name_b",
            "lev_dist",
            (F.col("id_b") == F.col("id_a") + 1000000).cast("long").alias("is_planted"),
        )
    )


def robust_outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection by median/MAD (the estimator that, unlike
    mean/stddev, is not dragged by the outliers it hunts): per order
    status, med = median(cents) and MAD = median(|cents − med|), flagging
    |x − med| > 3.5·MAD. Medians of exact cents are dyadic rationals
    (k/2), |x−med| likewise, and MAD k/4 — all exactly representable
    doubles, and the flag comparison multiplies through (4·2·|x−med| vs
    4·2·3.5·MAD = 28·MAD, both exact) so no rounding edge exists in the
    decision. Two grouped median passes + one broadcast join of the 3-row
    stats table back onto the facts."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    base = o.select("o_orderkey", "o_orderstatus", cents.alias("cents"))
    med = base.groupBy("o_orderstatus").agg(F.median("cents").alias("med"))
    dev = base.join(F.broadcast(med), "o_orderstatus").withColumn(
        "adev", F.abs(F.col("cents") - F.col("med"))
    )
    mad = dev.groupBy("o_orderstatus").agg(F.median("adev").alias("mad"))
    flagged = dev.join(F.broadcast(mad), "o_orderstatus").withColumn(
        "is_outlier",
        ((F.lit(8.0) * F.col("adev")) > (F.lit(28.0) * F.col("mad"))).cast("long"),
    )
    return flagged.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.max("med").alias("med_cents"),
        F.max("mad").alias("mad_cents"),
        F.sum("is_outlier").alias("n_outliers"),
    )


def exact_corr_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation with a hash-stable result: the five sufficient
    statistics (n, Σx, Σy, Σxy, Σx², Σy²) are summed as EXACT integers
    (quantity units and price cents) in DECIMAL(38,0), so every partial-
    aggregation order gives identical totals; the correlation then forms
    as (nΣxy−ΣxΣy) / (sqrt(nΣx²−(Σx)²)·sqrt(nΣy²−(Σy)²)) — exact-decimal
    numerators, two correctly-rounded sqrts, one division, rounded to 6.
    A float corr() aggregate is summation-order-dependent and cannot be
    oracle-verified; this one is."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(38,0)")
    y = F.round(F.col("l_extendedprice") * 100).cast("decimal(38,0)")
    stats = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    dx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    dy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return stats.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n_rows"),
        F.round(num / (F.sqrt(dx) * F.sqrt(dy)), 6).alias("corr_qty_price"),
    )


def copurchase_pairs_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: unordered part pairs bought in the
    same order, top-20 by support with (count desc, pair asc) tie-break.
    The self-join keys on the order id, so the blowup is bounded by
    (items-per-order choose 2) — a per-basket constant, never corpus² —
    and the pair aggregate partial-combines map-side; the top-k is a
    TakeOrdered over the distinct-pair table."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pa"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pb"))
    pairs = a.join(b, "ok").filter(F.col("pa") < F.col("pb"))
    return (
        pairs.groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.col("n_orders").desc(), F.col("pa").asc(), F.col("pb").asc())
        .limit(20)
    )


def dsir_select_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance-weighted data selection (operators/sampling.
    dsir_importance_scores): hashed-unigram likelihood-ratio scores of
    every document against the lang='en' target distribution, in exact
    integer arithmetic (portable md5 feature hash, integer-log2 weights)
    — the data-selection step of a targeted pretraining corpus, fully
    hash-checked."""
    from ..operators import sampling

    return sampling.dsir_importance_scores(
        _docs(spark, sf_dir), F.col("lang") == "en"
    )


def bucketed_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located (bucketed) join: orders and customer are written
    hash-bucketed on the customer key (Warehouse.save_bucketed, 8
    buckets, sorted), then joined WITHOUT a per-query shuffle — Spark
    pairs matching bucket files (the pay-the-shuffle-once-at-write-time
    path for repeated 100 TB joins; tests/test_state_and_merge.py pins
    the Exchange-free plan). The driver gate checks the RESULT equals a
    plain join — bucketing must never change semantics. Revenue in exact
    cents per market segment."""
    import tempfile

    from ..sources.warehouse import Warehouse

    wh = Warehouse(spark, tempfile.mkdtemp(prefix="bktjoin-"))
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.round(F.col("o_totalprice") * 100).cast("long").alias("cents")
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    ot = wh.save_bucketed(
        orders, "bkt_orders_q", ["o_custkey"], num_buckets=8, sort_cols=["o_custkey"]
    )
    ct = wh.save_bucketed(
        cust, "bkt_cust_q", ["c_custkey"], num_buckets=8, sort_cols=["c_custkey"]
    )
    joined = ot.join(ct, ot["o_custkey"] == ct["c_custkey"])
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("cents").alias("revenue_cents"),
    )


def dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectations (dbt-test / Great-
    Expectations style) evaluated in ONE pass per table: uniqueness,
    referential integrity (FK anti-join), accepted-values, and range
    checks, each reported as (check_name, n_violations). All checks are
    conditional aggregates or anti-join counts — no per-check table
    rescans beyond the two fact scans and one broadcast of the customer
    key set."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    dup_keys = (
        o.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .agg(F.count(F.lit(1)).alias("v"))
        .select(F.lit("orders_pk_unique").alias("check_name"), F.col("v"))
    )
    fk_orphans = (
        o.join(
            F.broadcast(c.select("c_custkey")),
            o["o_custkey"] == c["c_custkey"],
            "left_anti",
        )
        .agg(F.count(F.lit(1)).alias("v"))
        .select(F.lit("orders_custkey_fk").alias("check_name"), F.col("v"))
    )
    scalar_checks = o.agg(
        F.sum(
            (~F.col("o_orderstatus").isin("O", "F", "P")).cast("long")
        ).alias("bad_status"),
        F.sum((F.col("o_totalprice") <= 0).cast("long")).alias("bad_price"),
        F.sum(
            (
                (F.col("o_orderdate") < F.lit("1992-01-01").cast("date"))
                | (F.col("o_orderdate") > F.lit("1998-12-31").cast("date"))
            ).cast("long")
        ).alias("bad_date"),
    ).select(
        F.expr(
            "stack(3, 'orders_status_accepted', bad_status, "
            "'orders_price_positive', bad_price, "
            "'orders_date_in_range', bad_date) AS (check_name, v)"
        )
    )
    return (
        dup_keys.unionByName(fk_orphans)
        .unionByName(scalar_checks)
        .select("check_name", F.col("v").cast("long").alias("n_violations"))
    )


# --------------------------------------------------------------------------
# Corpus-level duplication + LM-quality scoring (round 3 session 2)
def ngram_dup_rate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring-dedup signal: per-doc fraction of 5-gram
    occurrences that also appear elsewhere in the corpus; keep flag via
    exact-integer cross-multiplication (threshold 3/10)."""
    return text.ngram_duplication_rate(
        _docs(spark, sf_dir), n=5, max_dup_num=3, max_dup_den=10
    )


def unigram_surprisal_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-style quality filter: mean integer-log2 unigram
    surprisal per doc with an exact-integer keep band [2, 12] bits."""
    return text.unigram_lm_surprisal(
        _docs(spark, sf_dir), min_bits=2, max_bits=12
    )


def max_concurrent_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line peak concurrency: how many 15-minute event intervals
    are open at once, per day (operators/sweep.py)."""
    from ..operators import sweep

    ev = load_table(spark, sf_dir, "events")
    out = sweep.max_concurrent_intervals(
        ev, id_col="event_id", ts_col="ts", duration_minutes=15
    )
    # date -> string for the cross-engine hash (repo convention: pandas
    # widens DuckDB DATE to midnight timestamps otherwise)
    return out.withColumn("day", F.col("day").cast("string"))


def topk_orders_per_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by total price within each order priority, computed
    with the map-side-pruned top-k (operators/topk.py) — result is
    bit-identical to the naive window, which is the oracle shape."""
    from ..operators import topk

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderkey", "o_totalprice"
    )
    return topk.topk_per_group(
        ensure_parallelism(o),
        group_cols=["o_orderpriority"],
        order_col="o_totalprice",
        id_col="o_orderkey",
        k=3,
    )


def triangle_count_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count of the co-purchase graph (parts co-bought in >= 2
    orders) via degree-ordered edge orientation (cluster.triangle_count)
    — the Suri–Vassilvitskii bound keeps the wedge join O(m^1.5) on any
    degree distribution. Support >= 2 bounds the edge set the same way
    the stop-shingle cut bounds the Jaccard join."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pa"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pb"))
    edges = (
        a.join(b, "ok")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select("pa", "pb")
    )
    return cluster.triangle_count(edges, src="pa", dst="pb")


def hll_merge_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch rollup: daily per-event-type HLL registers max-merged up to
    per-event-type, beside the directly-sketched counts — merge must be
    bit-identical to sketching the union (sketch.hll_merge), which is
    what lets a warehouse store daily registers and answer any date-range
    distinct without rescanning raw data."""
    ev = load_table(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    daily = sketch.hll_registers(ev, "user_id", ["event_type", "day"], p=12)
    merged = sketch.hll_merge(daily, ["event_type"])
    est_merged = sketch.hll_estimate(
        merged, ["event_type"], p=12, out_col="merged_users"
    )
    est_direct = sketch.hll_distinct(
        ev, "user_id", ["event_type"], p=12, out_col="direct_users"
    )
    days = ev.groupBy("event_type").agg(
        F.countDistinct("day").alias("n_days")
    )
    return (
        est_merged.join(est_direct, "event_type")
        .join(days, "event_type")
        .select(
            "event_type",
            "merged_users",
            "direct_users",
            (F.col("merged_users") == F.col("direct_users"))
            .cast("long")
            .alias("merge_exact"),
            "n_days",
        )
    )


def trimmed_mean_cents(
    df: DataFrame,
    *,
    group_col: str,
    cents_col: str,
    order_cols: list[str],
    pct_num: int = 5,
    pct_den: int = 100,
) -> DataFrame:
    """Exact trimmed mean over an integer-cents column: trim counts are
    exact integer floor((n*pct)/den) ranks over a total order, kept sums
    are exact cents, and the mean is the single final division — no
    float enters until the last step.

    Scale note: the per-group rank is a window here (fine for few
    groups); at fact scale the two-pass range-partitioned rank
    (operators/ranking.py) is the drop-in replacement, same as W5."""
    w = Window.partitionBy(group_col).orderBy(cents_col, *order_cols)
    wn = Window.partitionBy(group_col)
    ranked = (
        df.withColumn("rn", F.row_number().over(w).cast("long"))
        .withColumn("n", F.count(F.lit(1)).over(wn).cast("long"))
        .withColumn("lo", F.expr(f"(n * {int(pct_num)}) div {int(pct_den)}"))
    )
    kept = ranked.filter(
        (F.col("rn") > F.col("lo")) & (F.col("rn") <= F.col("n") - F.col("lo"))
    )
    return kept.groupBy(group_col).agg(
        F.max("n").alias("n_rows"),
        F.count(F.lit(1)).alias("n_kept"),
        F.sum(cents_col).alias("kept_cents"),
        (F.sum(cents_col) / (F.count(F.lit(1)) * F.lit(100))).alias(
            "trimmed_mean"
        ),
    )


def trimmed_mean_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5%-trimmed mean of extended price per return flag (see
    trimmed_mean_cents for the exactness argument)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    return trimmed_mean_cents(
        li,
        group_col="l_returnflag",
        cents_col="cents",
        order_cols=["l_orderkey", "l_linenumber"],
    )


def csv_parse_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV ingestion with corrupt-record recovery (sources/csvsrc.py):
    each doc serialized to a (doc_id, lang, n_chars) CSV line, every 7th
    line's id corrupted with a letter prefix (type error -> PERMISSIVE
    routes the raw line to the corrupt column), re-ingested through the
    text -> from_csv path. Per-line outcome (salvaged id, ok flag,
    parsed n_chars) is oracle-checked so both engines agree on exactly
    which lines parse."""
    from ..sources import csvsrc

    d = _docs(spark, sf_dir)
    line = F.concat_ws(
        ",",
        F.when(F.col("doc_id") % 7 == 0, F.concat(F.lit("X"), F.col("doc_id").cast("string")))
        .otherwise(F.col("doc_id").cast("string")),
        F.col("lang"),
        F.col("n_chars").cast("string"),
    )
    parsed = csvsrc.parse_csv_lines(
        d.select(line.alias("value")), "doc_id long, lang string, n_chars long"
    )
    ok = F.col(csvsrc.CORRUPT_COL).isNull()
    salvaged = F.regexp_extract(
        F.col(csvsrc.CORRUPT_COL), r"^X([0-9]+),", 1
    ).cast("long")
    return parsed.select(
        F.coalesce(F.col("doc_id"), salvaged).alias("doc_id"),
        ok.cast("long").alias("ok"),
        F.when(ok, F.col("n_chars")).alias("n_chars_parsed"),
        F.when(ok, F.col("lang")).alias("lang_parsed"),
    )


def cdf_order_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change data feed on the Delta warehouse WITHOUT
    ``delta.enableChangeDataFeed`` (sources/deltawh.py table_changes —
    Delta's ``table_changes(name, from_v, to_v)`` served by the keyed
    snapshot diff, the path :func:`delta_cdf_file_orders` never takes):
    a seed commit lands a subset of orders, a MERGE updates+inserts,
    and an overwrite deletes a band; the feed over the MERGE and delete
    commits must report exactly the per-commit row deltas with Delta's
    change vocabulary. The oracle recomputes the diffs set-theoretically
    from the same deterministic version definitions — a wrong pre/post
    pairing, a missed delete, or a phantom change for an untouched row
    all hash-fail. Versions are normalized (merge → 2, delete → 3) so
    the oracle replays literals."""
    import tempfile

    from ..sources.deltawh import DeltaLogWarehouse

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    wh = DeltaLogWarehouse(spark, tempfile.mkdtemp(prefix="cdf-"))
    wh.overwrite(orders.filter(F.col("o_orderkey") % 10 < 5), "ord")
    updates = orders.filter(
        (F.col("o_orderkey") % 10 >= 3) & (F.col("o_orderkey") % 10 <= 6)
    ).select(
        "o_orderkey", (F.col("o_custkey") + 1000000).alias("o_custkey")
    )
    wh.merge(updates, "ord", ["o_orderkey"])
    v_merge = wh.latest_version("ord")
    wh.overwrite(
        wh.read("ord").filter(F.col("o_orderkey") % 10 != 0), "ord"
    )
    v_del = wh.latest_version("ord")
    return wh.table_changes("ord", v_merge, v_del, keys=["o_orderkey"]).select(
        "o_orderkey",
        "o_custkey",
        "_change_type",
        (F.col("_commit_version") - F.lit(v_merge) + F.lit(2))
        .cast("long")
        .alias("_commit_version"),
    )


def bloom_point_lookup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom file-skipping point lookup (operators/skipping.py
    refresh_file_blooms / point_lookup_read): events is written
    round-robin across 8 files — every file spans the full event_id
    domain, so min/max skipping prunes NOTHING (the regime the reference
    Z-orders bronze on (event_id, time) to escape, TABLE
    OPTIMIZATION.py:33-36). The per-file Bloom sidecar prunes instead;
    the probe hashes driver-side and reads only k words per file. Five
    point lookups (incl. one absent key) union; the oracle is the direct
    IN-filter over the full table, so a wrongly-skipped file (missing
    rows) or stale sidecar hash-fails — the same exactness contract as
    skipping_pruned_scan."""
    import tempfile

    from ..operators import skipping
    from ..sources.warehouse import Warehouse

    ev = load_table(spark, sf_dir, "events")
    wh = Warehouse(spark, tempfile.mkdtemp(prefix="bloomskip-"))
    wh.overwrite(ev.repartition(8), "ev")
    skipping.refresh_file_blooms(wh, "ev", "event_id", m_log2=17, k=4)
    keys = [1, 7, 42, 987, -1]
    parts = [
        skipping.point_lookup_read(wh, "ev", "event_id", v) for v in keys
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select("event_id", "user_id", "event_type")


def ivm_orders_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance over the change data feed
    (operators/ivm.py) on the Delta warehouse: a count+sum view by
    o_orderstatus is defined at v0, then two commits land (the
    cdf_order_changes scenario: a MERGE updating+inserting, then a band
    delete) and ONE O(Δ) refresh applies both via table_changes — no
    base-table rescan. The oracle recomputes the aggregate from the
    final deterministic state, so any signed-delta slip (double-applied
    update, missed delete, undead group) hash-fails: incremental ≡
    recompute, bit-for-bit in LONG."""
    import tempfile

    from ..operators import ivm
    from ..sources.deltawh import DeltaLogWarehouse

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_custkey"
    )
    wh = DeltaLogWarehouse(spark, tempfile.mkdtemp(prefix="ivm-"))
    wh.overwrite(orders.filter(F.col("o_orderkey") % 10 < 5), "ord")  # v0
    ivm.define_agg_view(
        wh, "ord", "ord_by_status", ["o_orderstatus"],
        {"n_orders": ("count", None), "sum_custkey": ("sum", "o_custkey")},
    )
    updates = orders.filter(
        (F.col("o_orderkey") % 10 >= 3) & (F.col("o_orderkey") % 10 <= 6)
    ).select(
        "o_orderkey", "o_orderstatus",
        (F.col("o_custkey") + 1000000).alias("o_custkey"),
    )
    wh.merge(updates, "ord", ["o_orderkey"])                           # v1
    wh.overwrite(
        wh.read("ord").filter(F.col("o_orderkey") % 10 != 0), "ord"
    )                                                                  # v2
    ivm.refresh_agg_view(wh, "ord_by_status")
    return wh.read("ord_by_status").select(
        "o_orderstatus", "n_orders", "sum_custkey"
    )


def line_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level boilerplate line removal (operators/text.py
    ``boilerplate_line_dedup`` — the CCNet/RefinedWeb line-dedup step
    document-level near-dup cannot do): the corpus is first chunked into
    deterministic 8-word lines (the synthetic docs have no newlines; the
    chunking is exact SQL both engines replay), then every line present
    in ≥3 distinct docs is deleted from all of them, preserving order.
    The near-dup clusters in the corpus make this non-degenerate (20
    boilerplate lines at sf0.001). The oracle recomputes the whole
    thing set-theoretically; a missed flag, an order slip in the
    reassembly, or a lost empty-doc row all hash-fail."""
    from ..operators.text import boilerplate_line_dedup

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    words = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), F.lit(" "))).alias("pos", "w"),
    )
    lines = (
        words.groupBy("doc_id", F.expr("pos div 8").alias("line_no"))
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "w"))),
                    lambda s: s["w"],
                ),
            ).alias("line")
        )
    )
    chunked = lines.groupBy("doc_id").agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.sort_array(F.collect_list(F.struct("line_no", "line"))),
                lambda s: s["line"],
            ),
        ).alias("text")
    )
    out = boilerplate_line_dedup(chunked, min_docs=3)
    return out.select(
        "doc_id",
        # newline-joined text breaks DuckDB's CSV-ish row compare; the
        # checker contract is scalar columns, so surface it pipe-joined
        F.regexp_replace("text", "\n", "|").alias("clean_text"),
        "lines_removed",
    )


def perplexity_bucket_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing + per-bucket keep rates
    (operators/sampling.py ``perplexity_buckets`` + ``stratified_sample``
    over ``text.unigram_lm_surprisal``): docs rank by exact
    scaled-integer bits-per-token (scalable rank, no single-partition
    window), cut into equal-population head/middle/tail, then kept at
    1.0 / 0.5 / 0.1 via the engine-portable md5 thresholds. The oracle
    replays surprisal, ROW_NUMBER, the integer bucket cut, and the md5
    keeps — an off-by-one at a bucket boundary or a float-ordered rank
    hash-fails."""
    from ..operators.sampling import perplexity_buckets, stratified_sample
    from ..operators.text import unigram_lm_surprisal

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    scored = unigram_lm_surprisal(docs).select(
        "doc_id", "n_tokens", "surprisal_sum"
    )
    b = perplexity_buckets(scored)
    labeled = b.withColumn(
        "ppl_bucket",
        F.when(F.col("bucket") == 0, F.lit("head"))
        .when(F.col("bucket") == 1, F.lit("middle"))
        .otherwise(F.lit("tail")),
    )
    kept = stratified_sample(
        labeled,
        strata_col="ppl_bucket",
        key_col="doc_id",
        rates={"head": 1.0, "middle": 0.5, "tail": 0.1},
        salt="ccnet",
    )
    return kept.select("doc_id", "ppl_bucket", "scaled_bits", "rk")


def span_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring span dedup (operators/text.py ``exact_span_dedup``,
    Lee et al. 2022): every 8-token span that also occurs in a different
    document is removed except in its canonical (smallest-id) document;
    tokens covered by any removed span drop, survivors reassemble in
    order. ~5% of gram starts flag at this corpus, so the query is
    non-degenerate. The oracle replays tokenization, the k-1 leads, the
    min≠max cross-doc test, the rolling ROWS-frame coverage max, and the
    ordered reassembly — an off-by-one in the coverage frame or a
    canonical-copy slip hash-fails."""
    from ..operators.text import exact_span_dedup

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    return exact_span_dedup(docs, k=8)


def nb_lang_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained language classifier (operators/classify.py — the
    GPT-3/CCNet "fit a classifier on labeled data, score the rest" step,
    as exact-integer quantized multinomial Naive Bayes): fit on the
    doc_id%5≠0 split against the `lang` label, score the held-out
    doc_id%5=0 docs, emit (doc_id, lang, pred_lang, best_surprisal,
    correct). The oracle refits the whole model in SQL — Laplace
    smoothing, the bit-length log2 quantization, the class prior, the
    unseen-token default, and the label-ascending argmin tiebreak all
    replay exactly; one wrong smoothed count flips scores and
    hash-fails."""
    from ..operators.classify import nb_predict, nb_train

    docs = _docs(spark, sf_dir).select("doc_id", "lang", "text")
    train = docs.filter(F.col("doc_id") % 5 != 0)
    held = docs.filter(F.col("doc_id") % 5 == 0)
    classes, model = nb_train(train, label_col="lang")
    pred = nb_predict(held, classes, model, label_col="lang")
    return pred.join(held.select("doc_id", "lang"), on="doc_id").select(
        "doc_id",
        "lang",
        "pred_lang",
        "best_surprisal",
        (F.col("pred_lang") == F.col("lang")).cast("long").alias("correct"),
    )


def delta_roundtrip_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real ``_delta_log`` interop end-to-end (sources/deltalog.py — the
    reference's actual storage format, 01_config_setup.py:48,
    02_ingestion.py:214-217): orders slices flow through a standard Delta
    v1 table — partitioned create (v0), append (v1), overwrite derived
    from reading the table itself (v2, removes + adds in one commit) —
    then the LATEST snapshot aggregates per status and the v1 snapshot's
    row count rides along via time travel. The DuckDB oracle recomputes
    both states set-theoretically from the same deterministic slice
    definitions, so a wrong active-file set after the overwrite's
    removes, a broken snapshot replay, or a partition column lost in the
    hive fast-path read all hash-fail. Integer aggregates only — no
    float discipline needed."""
    import os
    import tempfile

    from ..sources import deltalog as dl

    sel = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    path = os.path.join(tempfile.mkdtemp(prefix="deltart-"), "ord")
    part = ["o_orderstatus"]
    dl.write_delta(
        sel.filter(F.col("o_orderkey") % 4 == 0), path, partition_by=part
    )                                                                  # v0
    dl.write_delta(
        sel.filter(F.col("o_orderkey") % 4 == 1), path, partition_by=part
    )                                                                  # v1
    dl.write_delta(
        dl.read_delta(spark, path).filter(F.col("o_orderstatus") != "P"),
        path, mode="overwrite", partition_by=part,
    )                                                                  # v2
    v1_rows = (
        dl.read_delta(spark, path, version=1)
        .agg(F.count(F.lit(1)).alias("v1_rows"))
    )
    return (
        dl.read_delta(spark, path)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("o_orderkey").cast("long").alias("sum_key"),
        )
        .crossJoin(F.broadcast(v1_rows))
    )

def gopher_rules_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rule-based quality filter (operators/text.py
    ``gopher_quality_rules``, Rae et al. 2021 A1.1): word-count bounds,
    mean-word-length band, symbol ratio, bullet/ellipsis line fractions,
    alphabetic-word fraction, required stop words — every flag an
    exact-integer cross-multiplication. Corpus-appropriate parameters:
    the synthetic docs carry at most one required word, so the
    required-word floor is 1 (Gopher's prose default of 2 would zero the
    whole corpus); everything else is the paper default. The oracle
    replays tokenization, the per-doc fold, the scalar regexp counters,
    and every flag."""
    return text.gopher_quality_rules(
        _docs(spark, sf_dir).select("doc_id", "text"),
        min_required_words=1,
    )

def html_extract_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML → text extraction (operators/extract.py ``html_to_text``,
    the WET-style step web pipelines run before any filtering). The
    corpus is deterministically wrapped in markup — title with an
    entity, a style block, a script block (every third doc) whose body
    contains raw ``<`` and ``&&``, a comment carrying tags, and an
    entity-rich trailing paragraph — then stripped back. The oracle
    replays the construction and the whole stage chain (script → style →
    comment → title capture → tag strip → entity decode with &amp;
    last → collapse) on the RE2 ∩ Java pattern subset."""
    from ..operators.extract import html_to_text

    d = _docs(spark, sf_dir).select("doc_id", "text")
    html = F.concat(
        F.lit('<html><head><title>Doc '),
        F.col("doc_id").cast("string"),
        F.lit(' &amp; friends</title><style type="text/css">p { color: #333; }</style></head><body>'),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.lit('<script type="text/javascript">if (a < b && c > d) { track("x"); }</script>'),
        ).otherwise(F.lit("")),
        F.lit('<!-- comment with <tags> inside --><p>'),
        F.coalesce(F.col("text"), F.lit("")),
        F.lit('</p><p>5 &lt; 7 &amp;&amp; 9 &gt; 2&nbsp;&quot;quoted&quot; &#39;q&#39;</p></body></html>'),
    )
    return html_to_text(d.select("doc_id", html.alias("text")))

def bigram_surprisal_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM perplexity filter (operators/text.py
    ``bigram_lm_surprisal``): mean add-one-smoothed conditional surprisal
    per doc — flags improbable word ORDER the unigram filter cannot see.
    Band [1.00, 5.31] bits in exact centibit cross-multiplication (the
    corpus concentrates near 5.3 bits/bigram, so the upper cut splits
    it). Oracle replays tokenization, the lead-window bigram rows, the
    corpus model, the integer log2, and the centibit band."""
    return text.bigram_lm_surprisal(
        _docs(spark, sf_dir).select("doc_id", "text"),
        min_centibits=100,
        max_centibits=531,
    )

def rollup_multigrain_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-grain gold aggregation in ONE pass: ROLLUP over
    (status, priority) produces the leaf, per-status, and grand-total
    grains together — the way a gold layer serves three dashboard zoom
    levels without three scans (Spark plans it as a single Expand +
    aggregate, so the fact table is read once). grouping_id
    disambiguates rolled-up NULLs from data NULLs (both engines put the
    first rollup column in the most significant bit); sums of 2-decimal
    money round to 2 (float discipline, plans/workloads.py)."""
    o = load_table(spark, sf_dir, "orders")
    agg = ensure_parallelism(o).rollup("o_orderstatus", "o_orderpriority").agg(
        F.grouping_id().alias("gid"),
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )
    return agg.select(
        F.coalesce(F.col("o_orderstatus"), F.lit("<all>")).alias("status"),
        F.coalesce(F.col("o_orderpriority"), F.lit("<all>")).alias("priority"),
        "gid",
        "n_orders",
        "sum_price",
    )

def hilbert_cluster_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert clustering key (operators/hilbert.py): lineitem keyed by
    the Hilbert curve position of (partkey, suppkey) 1024-buckets — the
    locality upgrade over `zorder_cluster_lineitem` (consecutive curve
    positions are ALWAYS adjacent cells, so per-file min/max boxes stay
    compact; Morton's cross-plane seams cannot happen). First 100 rows
    in curve order (deterministic tiebreak), pinning the per-bit
    fold — quadrant digit + reflect/swap rotation — against a DuckDB
    recursive-CTE replay of the identical arithmetic."""
    from ..operators import hilbert

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
    )
    keyed = hilbert.with_hilbert(
        ensure_parallelism(li),
        "(l_partkey % 1024)", "(l_suppkey % 1024)", order=10,
    )
    return keyed.orderBy("hkey", "l_orderkey", "l_linenumber").limit(100)

def scd2_incremental_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SCD2 maintenance (scd.scd2_apply_changes): history
    built from changes before 2024-01-20, then the remaining days
    applied as a batch — the daily-merge path. The oracle is the
    FULL-STREAM build SQL, pinning the contract apply(build(A), B) ≡
    build(A ∪ B) on real data (late links, no-op re-collapse, interval
    re-chaining all exercised)."""
    from ..operators import scd

    ev = load_table(spark, sf_dir, "events")
    ded = ev.groupBy("user_id", "ts").agg(F.max("value").alias("value"))
    cutoff = "2024-01-20"
    hist = scd.scd2_build(
        ded.filter(F.col("ts") < cutoff),
        key_cols=["user_id"], ts_col="ts", attr_cols=["value"],
    )
    return scd.scd2_apply_changes(
        hist,
        ded.filter(F.col("ts") >= cutoff),
        key_cols=["user_id"], ts_col="ts", attr_cols=["value"],
    )

def iceberg_roundtrip_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real Apache Iceberg interop end-to-end (sources/iceberg.py +
    sources/avrofile.py — the other open lakehouse format, closed at
    the wire level like delta_roundtrip_orders): an orders slice
    becomes a v1 Iceberg table (snapshot 1), two appends commit
    snapshots 2 and 3 — metadata JSON, Avro manifest lists, Avro
    manifests, parquet data files, all written and read by the
    from-scratch implementation. The LATEST snapshot aggregates per
    status; snapshot 1's row count rides along via time travel; the
    incremental tail after snapshot 1 (added files only, O(Δ))
    contributes its row count. The oracle recomputes all three states
    set-theoretically, so a wrong live-file set, broken snapshot
    resolution, or an over/under-reading tail all hash-fail."""
    import os
    import tempfile

    from ..sources import iceberg as ib

    sel = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    loc = os.path.join(tempfile.mkdtemp(prefix="icebergrt-"), "ord")
    t = ib.create_table(
        spark, loc, sel.filter(F.col("o_orderkey") % 4 == 0)
    )  # snapshot 1
    s1 = t.current_snapshot_id()
    ib.append(spark, loc, sel.filter(F.col("o_orderkey") % 4 == 1))
    t3 = ib.append(spark, loc, sel.filter(F.col("o_orderkey") % 4 == 2))
    v1_rows = t3.read(snapshot_id=s1).agg(
        F.count(F.lit(1)).alias("v1_rows")
    )
    tail_df, _cursor = t3.tail(s1)
    tail_rows = tail_df.agg(F.count(F.lit(1)).alias("tail_rows"))
    return (
        t3.read()
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("o_orderkey").cast("long").alias("sum_key"),
        )
        .crossJoin(F.broadcast(v1_rows))
        .crossJoin(F.broadcast(tail_rows))
    )

def delta_v2_checkpoint_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta V2-checkpoint round-trip (sources/deltalog.py
    ``write_checkpoint(style='v2')``): two orders slices commit (v0
    create + v1 append), the state checkpoints V2-STYLE — a uuid-named
    manifest carrying protocol/metaData/txn plus sidecar pointers, the
    add set split across ``_delta_log/_sidecars/`` parquet files
    (max_rows_per_part=1 forces a multi-sidecar layout) — then EVERY
    JSON commit is deleted, so the aggregate below can only be computed
    from the manifest + sidecars. A missing sidecar row, a double-
    counted add, or a broken manifest schema all hash-fail against the
    oracle's set-theoretic recomputation."""
    import os
    import tempfile

    from ..sources import deltalog as dl

    sel = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    path = os.path.join(tempfile.mkdtemp(prefix="deltav2cp-"), "ord")
    dl.write_delta(sel.filter(F.col("o_orderkey") % 3 == 0), path)
    dl.write_delta(
        sel.filter(F.col("o_orderkey") % 3 == 1), path, mode="append"
    )
    dl.write_checkpoint(path, style="v2", max_rows_per_part=1)
    log = os.path.join(path, "_delta_log")
    for f in os.listdir(log):
        if f.endswith(".json") and not f.startswith("_"):
            os.remove(os.path.join(log, f))
    return (
        dl.read_delta(spark, path)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("o_orderkey").cast("long").alias("sum_key"),
        )
    )


def iceberg_bucket_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bucket[8]-partitioned Iceberg WRITE → pruned read end-to-end:
    the writer evaluates the spec's murmur3-over-appendix-B-bytes in an
    Arrow-batched pandas_udf (sources/iceberg.py ``_bucket_col``), and
    the read prunes twice — whole manifests via manifest-list partition
    summaries, then files via the bucket transform of the probe key.
    Bucket pruning is FILE-level (other keys share the bucket), so the
    row predicate applies on top. The ``pruned`` flag is 1 only when
    the pruned file list is strictly smaller than the table's — a
    broken bucket hash or dead pruning path hash-fails the oracle, not
    just runs slow. Probe key = MIN(o_custkey), deterministic at every
    SF (control-plane scalar, like the KS-test totals)."""
    import os
    import tempfile

    from ..sources import iceberg as ib

    sel = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    loc = os.path.join(tempfile.mkdtemp(prefix="icebergbk-"), "ord")
    t = ib.create_table(
        spark, loc, sel, partition_by=["bucket[8](o_custkey)"]
    )
    k = int(sel.agg(F.min("o_custkey")).first()[0])
    matched = t.data_files(eq_filters={"o_custkey": k})
    pruned = len(matched) < len(t.data_files())
    return (
        t.read(eq_filters={"o_custkey": k})
        .filter(F.col("o_custkey") == k)
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("o_orderkey").cast("long").alias("sum_key"),
        )
        .select(
            F.lit(k).cast("long").alias("probe_custkey"),
            "cnt",
            "sum_key",
            F.lit(1 if pruned else 0).cast("long").alias("pruned"),
        )
    )


def fuzzy_match_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy matching (operators/fuzzy.py): near-identical part
    names found by first-word blocking + the lossless length prefilter
    + exact Levenshtein ≤ 3 — entity resolution without the O(n²) cross
    join. Aggregated per block: match count, exact-duplicate count, and
    the distance mass (pair sets are huge; the aggregate is the stable
    reporting surface). The oracle replays blocking, the length
    prefilter (provably lossless, so it may omit it), and DuckDB's
    identical levenshtein."""
    from ..operators.fuzzy import blocked_fuzzy_pairs

    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    pairs = blocked_fuzzy_pairs(
        ensure_parallelism(p),
        id_col="p_partkey",
        text_col="p_name",
        max_edit=3,
    )
    return pairs.groupBy("block").agg(
        F.count(F.lit(1)).alias("n_matches"),
        F.sum((F.col("dist") == 0).cast("long")).alias("n_exact"),
        F.sum("dist").alias("sum_dist"),
    )

def mixture_budget_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture budget allocation (operators/sampling.py
    ``mixture_budget_allocate``): the largest single-epoch token budget
    honoring target weights 5:4:3:2:1 over five sources, each source's
    token target, and the deterministic md5 doc sample that realizes
    it — all exact-integer (int-div budget/targets, DECIMAL(38,0) keep
    cross-multiplication). The oracle replays supply counts, the min
    budget, targets, and every keep decision in HUGEINT."""
    from ..operators.sampling import mixture_budget_allocate

    return mixture_budget_allocate(
        _docs(spark, sf_dir),
        weights={"src0": 5, "src1": 4, "src2": 3, "src5": 2, "src7": 1},
        salt="mix1",
    )

def setops_customer_years(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics set operators over customer activity: customers who
    ordered in 1995 EXCEPT ALL those who ordered in 1996, and the
    INTERSECT ALL multiset — Spark's exceptAll/intersectAll are
    MULTISET operators (a customer with three 1995 orders and one 1996
    order survives EXCEPT ALL twice), which is precisely what DuckDB's
    EXCEPT ALL/INTERSECT ALL compute. Output folds each multiset to
    (custkey, appearances) so the surface is stable."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.year("o_orderdate").alias("yr")
    )
    y95 = o.filter(F.col("yr") == 1995).select("o_custkey")
    y96 = o.filter(F.col("yr") == 1996).select("o_custkey")
    exc = (
        y95.exceptAll(y96)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("op", F.lit("except_all"))
    )
    ins = (
        y95.intersectAll(y96)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("op", F.lit("intersect_all"))
    )
    return exc.unionByName(ins)


def exists_priority_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-subquery surface: customers with at least one URGENT
    order strictly above their own average order value — EXISTS with
    two correlated scalar aggregates, planned by Catalyst as
    decorrelated joins (run through spark.sql on registered temp
    views). The above-average test is the exact-integer
    cross-multiplication ``cents·n > Σcents`` (float discipline: an
    AVG-of-doubles threshold could flip a boundary membership between
    engines); correlation anchors on ``o`` because Spark resolves
    outer references only ONE subquery level up."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("v_customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    return spark.sql("""
        SELECT c_custkey, c_mktsegment
        FROM v_customer c
        WHERE EXISTS (
            SELECT 1 FROM v_orders o
            WHERE o.o_custkey = c.c_custkey
              AND o.o_orderpriority = '1-URGENT'
              AND CAST(ROUND(o.o_totalprice * 100) AS BIGINT) * (
                      SELECT COUNT(*) FROM v_orders o2
                      WHERE o2.o_custkey = o.o_custkey
                  ) > (
                      SELECT SUM(CAST(ROUND(o2.o_totalprice * 100) AS BIGINT))
                      FROM v_orders o2 WHERE o2.o_custkey = o.o_custkey
                  )
        )
    """)


def unpivot_order_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt): the per-status wide aggregate turns into tidy
    (status, metric, value) rows — the inverse of the pivot query,
    via Spark's native unpivot (Expand, one pass, no UDF). Values are
    unified to double; money sums round to 2 first (float
    discipline)."""
    o = load_table(spark, sf_dir, "orders")
    wide = o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("double").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        F.countDistinct("o_custkey").cast("double").alias("n_customers"),
    )
    return wide.unpivot(
        ids=["o_orderstatus"],
        values=["n_orders", "sum_price", "n_customers"],
        variableColumnName="metric",
        valueColumnName="value",
    )

def twap_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per user: each event's value holds
    until the user's next event; the average weights each value by its
    holding time (the step-function integral / total span — how
    position or sensor readings aggregate when sampling is irregular;
    a plain AVG over-weights bursts). Weighted sum is exact int64
    (value cents × held milliseconds); the single float division happens
    last. Users with one event (zero span) report their value as-is.
    One shuffle on user_id; the lead window shares that partitioning."""
    # milliseconds, not seconds: a timestamp->long cast truncates in
    # Spark while DuckDB's epoch() keeps the fraction and its BIGINT
    # cast rounds — epoch_millis is the exact integer both agree on
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        (F.unix_micros(F.col("ts")) / F.lit(1000)).cast("long").alias("ms"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    ded = ev.groupBy("user_id", "ms").agg(F.max("cents").alias("cents"))
    w = Window.partitionBy("user_id").orderBy("ms")
    held = ded.select(
        "user_id",
        "cents",
        (F.lead("ms").over(w) - F.col("ms")).alias("held"),
    )
    agg = held.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("held").isNotNull(), F.col("cents") * F.col("held"))
        ).alias("weighted_cents_ms"),
        F.sum(F.coalesce("held", F.lit(0))).alias("span_ms"),
        F.count(F.lit(1)).alias("n_points"),
        F.max(F.when(F.col("held").isNull(), F.col("cents"))).alias("last_cents"),
    )
    return agg.select(
        "user_id",
        F.coalesce("weighted_cents_ms", F.lit(0)).alias("weighted_cents_ms"),
        "span_ms",
        "n_points",
        F.when(
            F.col("span_ms") > 0,
            F.col("weighted_cents_ms") / F.col("span_ms") / 100.0,
        )
        .otherwise(F.col("last_cents") / 100.0)
        .alias("twap"),
    )


def iceberg_v2_deletes_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg v2 row-level deletes end-to-end (sources/iceberg.py
    ``delete_where`` + the delete-merging read — the interop path a real
    Iceberg warehouse whose silver layer MERGEs, ref
    04_silver_transformation.py:196-202, exercises daily): an orders
    slice becomes a PARTITIONED format-version-2 table (identity
    transform on status, v2 sequence numbers), a second slice appends,
    then a positional-delete snapshot tombstones every key divisible by
    10 — data files never rewritten, the read anti-joins the delete file
    on (_metadata.file_path, row_index). The LATEST delete-merged state
    aggregates per status; the pre-delete snapshot's row count rides
    along via time travel; the identity-transform PRUNED read of one
    partition contributes its row count (pruning ≡ filtering on an
    identity-partitioned table, so a wrong transform or a delete missed
    under pruning both hash-fail). Integer aggregates only."""
    import os
    import tempfile

    from ..sources import iceberg as ib

    sel = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    loc = os.path.join(tempfile.mkdtemp(prefix="icebergv2-"), "ord")
    t = ib.create_table(
        spark, loc, sel.filter(F.col("o_orderkey") % 4 == 0),
        partition_by=["o_orderstatus"],
    )
    s1 = t.current_snapshot_id()
    ib.append(spark, loc, sel.filter(F.col("o_orderkey") % 4 == 1))
    t2 = ib.IcebergTable(spark, loc)
    s2 = t2.current_snapshot_id()
    ib.delete_where(spark, loc, "o_orderkey % 10 = 0")
    t3 = ib.IcebergTable(spark, loc)
    pre_delete_rows = t3.read(snapshot_id=s2).agg(
        F.count(F.lit(1)).alias("pre_delete_rows")
    )
    pruned_f_rows = t3.read(eq_filters={"o_orderstatus": "F"}).agg(
        F.count(F.lit(1)).alias("pruned_f_rows")
    )
    return (
        t3.read()
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("o_orderkey").cast("long").alias("sum_key"),
        )
        .crossJoin(F.broadcast(pre_delete_rows))
        .crossJoin(F.broadcast(pruned_f_rows))
    )


def iceberg_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg v2 equality-delete UPSERT (sources/iceberg.py
    ``upsert_by_keys`` — the Flink/CDC MERGE shape, and the
    Iceberg-native realization of the reference's silver MERGE,
    04_silver_transformation.py:196-202): a partitioned v2 table takes
    one upsert snapshot carrying an equality delete on the key + the
    batch's data files — older key versions die via the strict
    sequence-number rule, the batch's own rows survive, and NO existing
    data file is read or rewritten (O(batch), the only MERGE that holds
    at 100 TB). The batch updates half the base keys (value shifted by
    1e6 — update-wins provable in the sum) and inserts a disjoint slice;
    the pre-upsert row count rides along via time travel. The oracle
    replays the set logic. Integer aggregates only."""
    import os
    import tempfile

    from ..sources import iceberg as ib

    sel = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_custkey"
    )
    loc = os.path.join(tempfile.mkdtemp(prefix="icebergup-"), "ord")
    t = ib.create_table(
        spark, loc, sel.filter(F.col("o_orderkey") % 4 < 2),
        partition_by=["o_orderstatus"],
    )
    s1 = t.current_snapshot_id()
    batch = sel.filter(
        (F.col("o_orderkey") % 8 == 0) | (F.col("o_orderkey") % 4 == 2)
    ).withColumn("o_custkey", F.col("o_custkey") + 1_000_000)
    ib.upsert_by_keys(spark, loc, batch, ["o_orderkey"])
    t2 = ib.IcebergTable(spark, loc)
    pre_rows = t2.read(snapshot_id=s1).agg(
        F.count(F.lit(1)).alias("pre_rows")
    )
    return (
        t2.read()
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("o_orderkey").cast("long").alias("sum_key"),
            F.sum("o_custkey").cast("long").alias("sum_cust"),
        )
        .crossJoin(F.broadcast(pre_rows))
    )


def iceberg_delete_where_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg DELETE-by-predicate → manifest rewrite → merge-on-read,
    oracle-gated end-to-end (sources/iceberg.py ``delete_where`` +
    ``rewrite_manifests`` — the maintenance pair a long-lived CDC table
    needs: the reference's daily silver MERGE,
    04_silver_transformation.py:196-202, accrues one manifest per
    commit forever). Two appends build a partitioned v2 table; a
    positional-delete snapshot tombstones a predicate slice (the
    tombstones write DISTRIBUTED, sorted by (file_path, pos), never on
    the driver); then ``rewrite_manifests`` coalesces the manifest list
    to O(1) entries — the rewritten EXISTING entries must keep their
    ORIGINAL sequence numbers or the delete stops scoping and every
    tombstoned row resurrects (exactly what the oracle's ``WHERE NOT``
    replay would catch). The pruned identity-partition read rides along
    so summary pruning over rewritten manifests is hash-gated too.
    Integer aggregates only."""
    import os
    import tempfile

    from ..sources import iceberg as ib

    sel = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    loc = os.path.join(tempfile.mkdtemp(prefix="icebergdw-"), "ord")
    ib.create_table(
        spark, loc, sel.filter(F.col("o_orderkey") % 3 == 0),
        partition_by=["o_orderstatus"],
    )
    ib.append(spark, loc, sel.filter(F.col("o_orderkey") % 3 == 1))
    ib.delete_where(spark, loc, "o_orderkey % 7 = 0")
    # tombstone compaction rides the oracle gate too: merging the
    # per-commit delete parquets must not resurrect or over-delete
    ib.rewrite_position_deletes(spark, loc)
    out = ib.rewrite_manifests(spark, loc)
    t = ib.IcebergTable(spark, loc)
    pruned_o_rows = t.read(eq_filters={"o_orderstatus": "O"}).agg(
        F.count(F.lit(1)).alias("pruned_o_rows")
    )
    return (
        t.read()
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("o_orderkey").cast("long").alias("sum_key"),
        )
        .withColumn(
            "manifests_after",
            F.lit(int(out["manifests_after"])).cast("long"),
        )
        .crossJoin(F.broadcast(pruned_o_rows))
    )


def iceberg_refs_tag_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg named references end-to-end (sources/iceberg.py
    ``create_ref`` + ``read(ref=)`` — the release-marker workflow every
    audited warehouse needs: pin the month-end state as a tag, keep
    appending, read both). A tag pins the first slice through a later
    append AND through ``expire_snapshots`` (ref-pinned snapshots never
    collect); the query aggregates the tag read alongside the main read
    so a ref resolving to the wrong snapshot, a tag lost by a later
    commit, or an expiry collecting a pinned snapshot all hash-fail
    against the oracle's set replay. Integer aggregates only."""
    import os
    import tempfile

    from ..sources import iceberg as ib

    sel = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    loc = os.path.join(tempfile.mkdtemp(prefix="icebergref-"), "ord")
    ib.create_table(spark, loc, sel.filter(F.col("o_orderkey") % 5 == 0))
    ib.create_ref(spark, loc, "month-end", kind="tag")
    ib.append(spark, loc, sel.filter(F.col("o_orderkey") % 5 == 1))
    ib.expire_snapshots(spark, loc, keep_last=1)
    t = ib.IcebergTable(spark, loc)
    tagged = t.read(ref="month-end").agg(
        F.count(F.lit(1)).alias("tag_rows"),
        F.sum("o_orderkey").cast("long").alias("tag_sum_key"),
    )
    return (
        t.read(ref="main")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("o_orderkey").cast("long").alias("sum_key"),
        )
        .crossJoin(F.broadcast(tagged))
    )


def iceberg_partitions_metadata_orders(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Iceberg metadata tables end-to-end (sources/iceberg.py
    ``IcebergTable.inspect`` — the ``db.table.partitions`` forensic
    surface every Iceberg operator queries before a backfill): the
    manifests' per-partition record counts must agree EXACTLY with a
    group-by over the data read — a writer that misstates
    record_count, a partition value that round-trips wrong through the
    hive layout, or a partitions rollup that drops a file all
    hash-fail against the oracle's plain GROUP BY. The partitions
    table itself is metadata-scale (built from manifest entries, no
    data file opened); the join is a broadcast. Integer aggregates
    only."""
    import os
    import tempfile

    from ..sources import iceberg as ib

    sel = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    loc = os.path.join(tempfile.mkdtemp(prefix="icebergmeta-"), "ord")
    ib.create_table(
        spark, loc, sel.filter(F.col("o_orderkey") % 3 == 0),
        partition_by=["o_orderstatus"],
    )
    ib.append(spark, loc, sel.filter(F.col("o_orderkey") % 3 == 1))
    t = ib.IcebergTable(spark, loc)
    parts = t.inspect("partitions").select(
        F.col("partition")["o_orderstatus"].alias("o_orderstatus"),
        F.col("record_count").alias("part_rows"),
    )
    return (
        t.read()
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("o_orderkey").cast("long").alias("sum_key"),
        )
        .join(F.broadcast(parts), "o_orderstatus")
    )


def iceberg_wap_publish_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg write-audit-publish end-to-end (sources/iceberg.py
    ``append(to_ref=)`` + ``fast_forward`` — the staged-ingest workflow
    the reference's bronze→silver promotion wants: land the day's batch
    on an audit branch, validate, publish atomically). The staged slice
    commits onto the ``audit`` branch; the PRE-publish main read
    (aggregated alongside) proves isolation — a branch write that leaks
    into main, a fast-forward that loses rows, or a publish that
    rewrites history all hash-fail against the oracle's two-slice
    replay. Integer aggregates only."""
    import os
    import tempfile

    from ..sources import iceberg as ib

    sel = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    loc = os.path.join(tempfile.mkdtemp(prefix="icebergwap-"), "ord")
    ib.create_table(spark, loc, sel.filter(F.col("o_orderkey") % 4 == 0))
    ib.create_ref(spark, loc, "audit", kind="branch")
    ib.append(
        spark, loc, sel.filter(F.col("o_orderkey") % 4 == 1),
        to_ref="audit",
    )
    t = ib.IcebergTable(spark, loc)
    pre = t.read().agg(
        F.count(F.lit(1)).alias("pre_rows"),
        F.sum("o_orderkey").cast("long").alias("pre_sum_key"),
    )
    out = ib.fast_forward(spark, loc, "main", "audit")
    t2 = ib.IcebergTable(spark, loc)
    return (
        t2.read()
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("o_orderkey").cast("long").alias("sum_key"),
        )
        .withColumn(
            "published", F.lit(int(out["published"])).cast("long")
        )
        .crossJoin(F.broadcast(pre))
    )


def iceberg_spec_evolution_orders(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Iceberg partition-spec evolution end-to-end (sources/iceberg.py
    ``update_partition_spec`` — the ALTER TABLE ... PARTITION FIELD
    story a long-lived 100 TB table needs to change layout without a
    rewrite; the reference's silver-table re-layout in TABLE
    OPTIMIZATION.py:60-63 is the same churn). Base slice (%3 = 0)
    lands identity-partitioned on o_orderstatus; the spec then evolves
    to bucket[8](o_custkey) — METADATA-ONLY — and the second slice
    (%3 = 1) lands under the new spec. The grouped aggregates replay
    the full two-spec read; pruned_o_* replay a pruned read on the OLD
    layout's column (old files must prune through THEIR spec — the r8
    judge's silent-row-loss path — while new-spec files stay
    unprunable there and the row filter removes them); cust_* replay a
    pruned read on the NEW layout's bucket column across both specs.
    n_specs pins the metadata carrying both specs. Integer aggregates
    only."""
    import os
    import tempfile

    from ..sources import iceberg as ib

    sel = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )
    loc = os.path.join(tempfile.mkdtemp(prefix="icebergevo-"), "ord")
    ib.create_table(
        spark, loc, sel.filter(F.col("o_orderkey") % 3 == 0),
        partition_by=["o_orderstatus"],
    )
    ib.update_partition_spec(spark, loc, ["bucket[8](o_custkey)"])
    t = ib.append(spark, loc, sel.filter(F.col("o_orderkey") % 3 == 1))
    n_specs = len(t.metadata["partition-specs"])
    # pruned read on the OLD layout's column: spec-0 files prune by
    # identity, spec-1 files are unprunable there (superset contract)
    # and the row filter removes them
    pruned_o = (
        t.read(eq_filters={"o_orderstatus": "O"})
        .filter(F.col("o_orderstatus") == "O")
        .agg(
            F.count(F.lit(1)).alias("pruned_o_rows"),
            F.sum("o_orderkey").cast("long").alias("pruned_o_sum_key"),
        )
    )
    # pruned read on the NEW layout's bucket column: the probe key is
    # the min customer of the written set (driver-side scalar —
    # metadata-scale, same as the bucket_pruned_scan query)
    probe = t.read().agg(F.min("o_custkey")).collect()[0][0]
    cust = (
        t.read(eq_filters={"o_custkey": int(probe)})
        .filter(F.col("o_custkey") == int(probe))
        .agg(
            F.count(F.lit(1)).alias("cust_rows"),
            F.sum("o_orderkey").cast("long").alias("cust_sum_key"),
        )
    )
    return (
        t.read()
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("o_orderkey").cast("long").alias("sum_key"),
        )
        .withColumn("n_specs", F.lit(int(n_specs)).cast("long"))
        .crossJoin(F.broadcast(pruned_o))
        .crossJoin(F.broadcast(cust))
    )


def delta_cdf_file_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILE-BASED change data feed on the real Delta log
    (sources/deltalog.py ``stage_cdc_files`` + ``table_changes_from_log``
    — the spec's CDF: rewrite commits publish ``_change_data`` files +
    cdc actions, and the reader serves changes from THOSE files, exact
    update pre/postimage pairing included, no keys needed). v-seed
    lands a subset of orders, CDF flips on, a MERGE updates+inserts,
    and a deletion-vector DELETE removes a band; the feed over the two
    change commits must equal the set-theoretic diff the oracle
    recomputes — a missing change file, a double-counted add in a cdc
    commit, or a wrong pairing all hash-fail. Versions are normalized
    (merge → 2, delete → 3) so the oracle replays literals."""
    import tempfile

    from ..sources import deltalog as dl
    from ..sources.deltawh import DeltaLogWarehouse

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    wh = DeltaLogWarehouse(spark, tempfile.mkdtemp(prefix="cdffile-"))
    wh.overwrite(orders.filter(F.col("o_orderkey") % 10 < 5), "ord")
    dl.commit_set_properties(
        wh.path("ord"), {"delta.enableChangeDataFeed": "true"}
    )
    updates = orders.filter(
        (F.col("o_orderkey") % 10 >= 3) & (F.col("o_orderkey") % 10 <= 6)
    ).select(
        "o_orderkey", (F.col("o_custkey") + 1000000).alias("o_custkey")
    )
    wh.merge(updates, "ord", ["o_orderkey"])
    v_merge = dl.snapshot_state(wh.path("ord"))["version"]
    wh.delete_with_dv("ord", "o_orderkey % 10 = 0", max_rows=10_000_000)
    v_del = dl.snapshot_state(wh.path("ord"))["version"]
    return wh.table_changes("ord", v_merge, v_del).select(
        "o_orderkey",
        "o_custkey",
        "_change_type",
        (F.col("_commit_version") - F.lit(v_merge) + F.lit(2))
        .cast("long")
        .alias("_commit_version"),
    )


def iceberg_changelog_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg changelog end-to-end (sources/iceberg.py ``changelog`` —
    the ``create_changelog_view`` procedure: the row-level change feed
    CDC consumers build on when the table is Iceberg, not Delta). Seed
    (%3 = 0) lands, then an equality-delete UPSERT (existing %6 = 0
    keys re-valued +1e6, fresh %3 = 1 keys) and a positional
    ``delete_where`` (%9 = 0 of the live state) commit; the changelog
    from the seed snapshot must report exactly the per-commit
    delete/insert row sets — an already-dead row re-reporting, a
    missed equality scope, or tombstones resolved against the wrong
    parent state all hash-fail against the oracle's set replay.
    Integer aggregates only."""
    import os
    import tempfile

    from ..sources import iceberg as ib

    sel = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    loc = os.path.join(tempfile.mkdtemp(prefix="icebergcl-"), "ord")
    t = ib.create_table(
        spark, loc, sel.filter(F.col("o_orderkey") % 3 == 0),
        format_version=2,
    )
    s0 = t.current_snapshot_id()
    updates = (
        sel.filter(F.col("o_orderkey") % 6 == 0)
        .select(
            "o_orderkey",
            (F.col("o_custkey") + 1000000).alias("o_custkey"),
        )
        .unionByName(sel.filter(F.col("o_orderkey") % 3 == 1))
    )
    ib.upsert_by_keys(spark, loc, updates, keys=["o_orderkey"])
    ib.delete_where(
        spark, loc, "o_orderkey % 9 = 0", max_rows=10_000_000
    )
    return (
        ib.changelog(spark, loc, from_snapshot_id=s0)
        .groupBy("_change_type", "_change_ordinal")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("o_orderkey").cast("long").alias("sum_key"),
            F.sum("o_custkey").cast("long").alias("sum_cust"),
        )
    )


def delta_replace_where_orders(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Delta ``replaceWhere`` (sources/deltawh.py ``overwrite_where``):
    atomically replace exactly one predicate-scoped region — here the
    1-URGENT priority band is recomputed (custkey +1e6) while every
    other band's rows ride through untouched, in ONE commit that only
    rewrites affected files. Leaked non-matching rows, lost survivors
    from mixed files, or a silent full overwrite all hash-fail against
    the oracle's set replay. Integer aggregates only."""
    import tempfile

    from ..sources.deltawh import DeltaLogWarehouse

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    wh = DeltaLogWarehouse(spark, tempfile.mkdtemp(prefix="replwhere-"))
    wh.overwrite(orders, "ord")
    batch = orders.filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select(
        "o_orderkey",
        (F.col("o_custkey") + 1000000).alias("o_custkey"),
        "o_orderpriority",
    )
    wh.overwrite_where(batch, "ord", "o_orderpriority = '1-URGENT'")
    return (
        wh.read("ord")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("o_orderkey").cast("long").alias("sum_key"),
            F.sum("o_custkey").cast("long").alias("sum_cust"),
        )
    )


def copy_into_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COPY INTO idempotent file-level ingest (sources/warehouse.py
    ``copy_into`` + the SQL façade verb): the orders file copies into a
    warehouse table TWICE and a FORCE=False re-run must load ZERO files
    — a broken ledger double-ingests and inflates every aggregate 2×,
    hash-failing. The second run's files_loaded rides along as a
    cross-check column. Integer aggregates only."""
    import tempfile

    from ..sources.sqldml import SqlDml
    from ..sources.warehouse import Warehouse

    wh = Warehouse(spark, tempfile.mkdtemp(prefix="copyinto-"))
    engine = SqlDml(wh)
    engine.sql(
        f"COPY INTO ord FROM '{sf_dir}' FILEFORMAT = PARQUET "
        "PATTERN = 'orders.parquet'"
    )
    rerun = engine.sql(
        f"COPY INTO ord FROM '{sf_dir}' FILEFORMAT = PARQUET "
        "PATTERN = 'orders.parquet'"
    ).collect()[0]
    return (
        wh.read("ord")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("o_orderkey").cast("long").alias("sum_key"),
            F.sum("o_custkey").cast("long").alias("sum_cust"),
        )
        .withColumn(
            "rerun_files_loaded",
            F.lit(int(rerun.files_loaded)).cast("long"),
        )
    )


def dynamic_overwrite_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite (sources/deltawh.py
    ``overwrite_dynamic`` — Spark's partitionOverwriteMode=dynamic as
    ONE Delta log commit): a batch recomputing two priority partitions
    (custkey +1e6) replaces exactly those partitions; the other three
    ride through untouched. A full-table replace, a leaked partition, or
    lost untouched rows all hash-fail. Integer aggregates only."""
    import tempfile

    from ..sources.deltawh import DeltaLogWarehouse

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    wh = DeltaLogWarehouse(spark, tempfile.mkdtemp(prefix="dynow-"))
    wh.overwrite(orders, "ord", ["o_orderpriority"])
    batch = orders.filter(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    ).select(
        "o_orderkey",
        (F.col("o_custkey") + 1000000).alias("o_custkey"),
        "o_orderpriority",
    )
    wh.overwrite_dynamic(batch, "ord")
    return (
        wh.read("ord")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("o_orderkey").cast("long").alias("sum_key"),
            F.sum("o_custkey").cast("long").alias("sum_cust"),
        )
    )


def iceberg_replace_where_orders(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Iceberg predicate-scoped overwrite (sources/iceberg.py
    ``overwrite_where`` — ONE v2 merge-on-read snapshot: position
    tombstones for the matching band + the batch's data files; no
    existing file rewrites). Same region-replace semantics as
    ``delta_replace_where_orders``, realized on the other lakehouse
    format — a tombstone resolved against the wrong files, a leaked
    non-matching row, or batch rows shadowed by their own commit's
    deletes all hash-fail. Integer aggregates only."""
    import os
    import tempfile

    from ..sources import iceberg as ib

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    loc = os.path.join(tempfile.mkdtemp(prefix="ibreplw-"), "ord")
    ib.create_table(spark, loc, orders, format_version=2)
    batch = orders.filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select(
        "o_orderkey",
        (F.col("o_custkey") + 1000000).alias("o_custkey"),
        "o_orderpriority",
    )
    ib.overwrite_where(
        spark, loc, batch, "o_orderpriority = '1-URGENT'",
        max_rows=10_000_000,
    )
    return (
        ib.IcebergTable(spark, loc).read()
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("o_orderkey").cast("long").alias("sum_key"),
            F.sum("o_custkey").cast("long").alias("sum_cust"),
        )
    )


def iceberg_branch_dml_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-audit-publish with FULL DML on the audit branch
    (sources/iceberg.py ``delete_where/upsert_by_keys(to_ref=)``): a
    positional DELETE and an equality-delete UPSERT stage on the branch
    — probed against the BRANCH head's state — while main stays intact
    (its pre-publish row count rides along as a column), then
    ``fast_forward`` publishes. Branch probes run against main's state,
    tombstones scoped to the wrong sequence, or a publish rewriting
    history all hash-fail. Integer aggregates only."""
    import os
    import tempfile

    from ..sources import iceberg as ib

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )
    loc = os.path.join(tempfile.mkdtemp(prefix="ibbdml-"), "ord")
    ib.create_table(spark, loc, orders, format_version=2)
    ib.create_ref(spark, loc, "audit", kind="branch")
    ib.delete_where(
        spark, loc, "o_orderkey % 7 = 0", max_rows=10_000_000,
        to_ref="audit",
    )
    updates = orders.filter(F.col("o_orderkey") % 5 == 0).select(
        "o_orderkey",
        (F.col("o_custkey") + 1000000).alias("o_custkey"),
        "o_orderstatus",
    )
    ib.upsert_by_keys(
        spark, loc, updates, keys=["o_orderkey"],
        max_delete_rows=10_000_000, to_ref="audit",
    )
    # main is untouched until the publish — pin it
    pre_rows = ib.IcebergTable(spark, loc).read().count()
    ib.fast_forward(spark, loc, "main", "audit")
    return (
        ib.IcebergTable(spark, loc).read()
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("o_orderkey").cast("long").alias("sum_key"),
            F.sum("o_custkey").cast("long").alias("sum_cust"),
        )
        .withColumn(
            "pre_publish_main_rows",
            F.lit(int(pre_rows)).cast("long"),
        )
    )


def iceberg_branch_changelog_orders(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Branch-aware Iceberg changelog (sources/iceberg.py
    ``changelog(ref=)``): a write-audit-publish audit branch stages two
    appends while MAIN advances independently with its own append; the
    branch feed from the fork point must see exactly the staged commits
    (the pre-publish audit read) and main's feed only its own commit —
    cross-lineage bleed, fork-point re-reports, or wrong per-lineage
    ordinals all hash-fail. Integer aggregates only."""
    import os
    import tempfile

    from ..sources import iceberg as ib

    sel = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    loc = os.path.join(tempfile.mkdtemp(prefix="icebergbcl-"), "ord")
    t = ib.create_table(
        spark, loc, sel.filter(F.col("o_orderkey") % 4 == 0),
        format_version=2,
    )
    s0 = t.current_snapshot_id()
    ib.create_ref(spark, loc, "audit", kind="branch")
    ib.append(
        spark, loc, sel.filter(F.col("o_orderkey") % 4 == 1),
        to_ref="audit",
    )
    ib.append(
        spark, loc, sel.filter(F.col("o_orderkey") % 4 == 2),
        to_ref="audit",
    )
    ib.append(spark, loc, sel.filter(F.col("o_orderkey") % 4 == 3))
    audit = ib.changelog(
        spark, loc, from_snapshot_id=s0, ref="audit"
    ).withColumn("side", F.lit("audit"))
    main = ib.changelog(spark, loc, from_snapshot_id=s0).withColumn(
        "side", F.lit("main")
    )
    return (
        audit.unionByName(main)
        .groupBy("side", "_change_type", "_change_ordinal")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("o_orderkey").cast("long").alias("sum_key"),
            F.sum("o_custkey").cast("long").alias("sum_cust"),
        )
    )


def alter_columns_delta_orders(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ALTER TABLE column evolution on the Delta backend (sources/
    deltalog.py alter_*): the orders table upgrades to column mapping,
    renames ``o_custkey`` → ``cust_id`` (metadata-only — the files keep
    their physical column), takes a schema-evolving MERGE that adds
    ``urgent_flag`` with NULL backfill on every non-matched row, then
    ADD COLUMNs a ``note`` that every row must read as NULL. The oracle
    replays the whole evolution set-theoretically — a rename that loses
    values, a resurrected dropped column, or a backfill that isn't NULL
    all hash-fail. The table is CREATED with an int32 ``o_orderkey`` and
    WIDENED to long (typeWidening under column mapping) before the
    merge, so the old int32 files' upcast is hash-checked too. Integer
    aggregates only."""
    import tempfile

    from ..sources.deltawh import DeltaLogWarehouse

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("int").alias("o_orderkey"),
        "o_custkey", "o_orderpriority",
    )
    wh = DeltaLogWarehouse(spark, tempfile.mkdtemp(prefix="alterdelta-"))
    wh.overwrite(orders, "ord")
    wh.enable_column_mapping("ord")
    wh.rename_column("ord", "o_custkey", "cust_id")
    wh.widen_column("ord", "o_orderkey", "bigint")
    updates = orders.filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        (F.col("o_custkey") + 1000000).alias("cust_id"),
        "o_orderpriority",
        F.lit(1).cast("long").alias("urgent_flag"),
    )
    wh.merge(updates, "ord", ["o_orderkey"], merge_schema=True)
    wh.add_column("ord", "note", "string")
    return (
        wh.read("ord")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("o_orderkey").cast("long").alias("sum_key"),
            F.sum("cust_id").cast("long").alias("sum_cust"),
            F.sum(F.coalesce(F.col("urgent_flag"), F.lit(0)))
            .cast("long").alias("sum_flag"),
            F.count("note").cast("long").alias("n_notes"),
        )
    )


def alter_columns_iceberg_orders(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ALTER TABLE column evolution on the Iceberg backend (sources/
    iceberg.py alter_*): rename keeps the field id (files untouched),
    DROP retires the id without shrinking ``last-column-id``, and a
    same-name re-add mints a FRESH id — so the original rows must read
    the re-added ``cust_id`` as NULL (a reader that resurrects the
    dropped values from the old files hash-fails), while an append
    AFTER the alters carries real values under the new id. The table is
    CREATED with an int32 ``o_orderkey`` and WIDENED to long before the
    final sum — the old int32 files must upcast losslessly (the spec's
    type promotion, sources/iceberg.py alter_widen_column). Integer
    aggregates only."""
    import tempfile

    from ..sources.icebergwh import IcebergWarehouse

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("int").alias("o_orderkey"),
        "o_custkey", "o_orderpriority",
    )
    wh = IcebergWarehouse(spark, tempfile.mkdtemp(prefix="altericeberg-"))
    wh.overwrite(orders, "ord")
    wh.rename_column("ord", "o_custkey", "cust_id")
    wh.drop_column("ord", "cust_id")
    wh.add_column("ord", "cust_id", "bigint")
    wh.widen_column("ord", "o_orderkey", "bigint")
    extra = orders.filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        "o_orderpriority",
        F.col("o_custkey").alias("cust_id"),
    )
    wh.append(extra, "ord")
    return (
        wh.read("ord")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("o_orderkey").cast("long").alias("sum_key"),
            F.sum(F.coalesce(F.col("cust_id"), F.lit(0)))
            .cast("long").alias("sum_cust"),
        )
    )


def delta_skipping_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta DATA SKIPPING end-to-end (sources/deltalog.py
    ``read_delta(filters=...)``): orders is written as a Delta table
    range-clustered on o_orderdate, then a one-year + priority-set
    predicate reads through the LOG's per-file stats — files whose
    minValues/maxValues exclude the window never open. The code asserts
    the plan really shrank (a pruning regression fails loudly), and the
    oracle replays the same predicate over the full table — a wrongly
    skipped file drops rows and hash-fails, so the driver gate pins the
    superset property, not just the happy path. Exact-cents sums only.

    Scale shape: pruning is a driver-side metadata walk (#files), the
    residual predicate pushes into the surviving parquet scans — at
    100 TB a narrow date window reads O(matching files), not O(table)."""
    import datetime as dt
    import tempfile

    from ..sources import deltalog as dl

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority", "o_totalprice"
    )
    path = tempfile.mkdtemp(prefix="dskip-") + "/ord"
    dl.write_delta(
        orders.repartitionByRange(8, F.col("o_orderdate")),
        path, mode="error",
    )
    # o_orderdate is a TIMESTAMP column in the catalog — timestamp
    # literals keep Spark and the oracle on the same comparison type
    filters = [
        ("o_orderdate", ">=", dt.datetime(1995, 1, 1)),
        ("o_orderdate", "<", dt.datetime(1996, 1, 1)),
        ("o_orderpriority", "in", ["1-URGENT", "2-HIGH"]),
    ]
    kept = len(dl.delta_scan_files(path, filters=filters))
    total = len(dl.delta_scan_files(path))
    if total >= 4 and not kept < total:
        raise AssertionError(
            f"data skipping regressed: {kept}/{total} files survived a "
            "one-year window over a date-clustered table"
        )
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return (
        dl.read_delta(spark, path, filters=filters)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("o_orderkey").cast("long").alias("sum_key"),
            F.sum(cents).alias("price_cents"),
        )
    )


def iceberg_range_scan_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg range-predicate scan planning (sources/iceberg.py
    ``read(filters=...)``): orders becomes a month(o_orderdate)-
    partitioned v2 table and a three-quarter date window plus a price
    floor plans through all three metadata levels — manifest-list
    partition summaries, per-file partition records under the monotone
    inclusive projection, and per-file column bounds. The code asserts
    the file plan shrank; the oracle replays the predicate over the
    full table, pinning the superset guarantee set-theoretically.

    Scale shape: manifests prune UNOPENED from the manifest list, so
    the planning cost at 100 TB is the metadata walk, and only
    in-window data files reach the distributed scan."""
    import datetime as dt
    import tempfile

    from ..sources import iceberg as ib

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderstatus", "o_totalprice"
    )
    loc = tempfile.mkdtemp(prefix="iskip-") + "/ord"
    t = ib.create_table(
        spark, loc,
        orders.repartition(8, F.trunc("o_orderdate", "month")),
        partition_by=["month(o_orderdate)"],
    )
    filters = [
        ("o_orderdate", ">=", dt.datetime(1994, 7, 1)),
        ("o_orderdate", "<=", dt.datetime(1995, 3, 31)),
        ("o_totalprice", ">", 1000.0),
    ]
    kept = len(t.data_files(filters=filters))
    total = len(t.data_files())
    if total >= 12 and not kept < total:
        raise AssertionError(
            f"iceberg scan pruning regressed: {kept}/{total} files "
            "survived a 9-month window over a month-partitioned table"
        )
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return (
        t.read(filters=filters)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("o_orderkey").cast("long").alias("sum_key"),
            F.sum(cents).alias("price_cents"),
        )
    )
