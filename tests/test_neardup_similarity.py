"""Extension operators: near-dup recall vs exhaustive ground truth, ANN
recall vs brute force, planted-duplicate detection (SURVEY.md §7 step 9)."""

import random

import pytest
from pyspark.sql import functions as F

from global_seismic_data_pipeline_spark.operators import dedup, neardup, similarity

BASE_DOCS = [
    "the quick brown fox jumps over the lazy dog near the river bank today",
    "a completely different document about spark query optimization and shuffles",
    "rain in spain falls mainly on the plain according to the old song lyrics",
    "deep learning models require enormous amounts of curated training data",
    "the stock market rallied today as investors cheered earnings reports",
]


@pytest.fixture(scope="module")
def doc_df(spark):
    rows = []
    for i, text in enumerate(BASE_DOCS):
        rows.append((i * 10, text))
        # planted near-duplicate: one word changed
        words = text.split()
        words[3] = "X" + words[3]
        rows.append((i * 10 + 1, " ".join(words)))
    # planted exact duplicate of doc 0
    rows.append((990, BASE_DOCS[0]))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_ngram_jaccard_finds_planted_pairs(spark, doc_df):
    pairs = neardup.ngram_jaccard_pairs(
        doc_df, id_col="doc_id", text_col="text", threshold=0.5
    )
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (0, 990) in got  # exact duplicate: jaccard 1.0
    # near-duplicates share most shingles but not across-base-doc pairs
    for i in range(len(BASE_DOCS)):
        others = {p for p in got if (i * 10 in p or i * 10 + 1 in p)}
        assert all({a // 10 for a in p if a != 990} <= {i} for p in others)


def test_exact_jaccard_value(spark, doc_df):
    pairs = neardup.ngram_jaccard_pairs(
        doc_df, id_col="doc_id", text_col="text", threshold=0.99
    )
    exact = {(r.id_a, r.id_b): r.jaccard for r in pairs.collect()}
    assert exact[(0, 990)] == 1.0


def test_minhash_lsh_recalls_exhaustive(spark, doc_df):
    """At 64 hashes / 32 bands (2-row bands), P[candidate] ≈ 1 for
    jaccard ≥ 0.5 pairs: 1-(1-0.5²)³² ≈ 1-1e-4 — full recall expected.
    (At 16 bands of 4 rows a 0.57-jaccard pair misses ~16% of the time —
    that is correct LSH behavior, not a bug.)"""
    truth = {
        (r.id_a, r.id_b)
        for r in neardup.ngram_jaccard_pairs(
            doc_df, id_col="doc_id", text_col="text", threshold=0.5
        ).collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in neardup.minhash_lsh_pairs(
            doc_df, id_col="doc_id", text_col="text",
            num_hashes=64, bands=32, threshold=0.5,
        ).collect()
    }
    assert truth <= lsh  # full recall at 2-row bands
    # no false positives by construction — candidates are exact-verified
    assert lsh == truth


def test_ngram_jaccard_sizes_consistent_under_stop_shingle_cut(spark, doc_df):
    """With a stop-shingle frequency cut, sizes and intersections must count
    the same universe — an exact duplicate pair stays at jaccard 1.0."""
    pairs = neardup.ngram_jaccard_pairs(
        doc_df, id_col="doc_id", text_col="text",
        threshold=0.9, max_shingle_freq=2,
    )
    got = {(r.id_a, r.id_b): r.jaccard for r in pairs.collect()}
    # (0, 990) is an exact duplicate; its shingles appear in 3 docs (0, 1,
    # 990 share most) — those above the cut vanish from BOTH sizes and
    # intersection, so surviving shingles still give jaccard 1.0
    if (0, 990) in got:
        assert got[(0, 990)] == 1.0


def test_minhash_bands_validation(spark, doc_df):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="bands"):
        neardup.minhash_lsh_pairs(
            doc_df, id_col="doc_id", text_col="text", num_hashes=64, bands=100
        )
    with _pytest.raises(ValueError, match="bands"):
        neardup.minhash_lsh_pairs(
            doc_df, id_col="doc_id", text_col="text", num_hashes=64, bands=24
        )


def test_minhash_deterministic(spark, doc_df):
    a = sorted(
        map(tuple, neardup.minhash_signatures(
            doc_df, id_col="doc_id", text_col="text"
        ).select("doc_id", "sig").collect())
    )
    b = sorted(
        map(tuple, neardup.minhash_signatures(
            doc_df.repartition(5), id_col="doc_id", text_col="text"
        ).select("doc_id", "sig").collect())
    )
    assert a == b


def test_simhash_identical_docs_distance_zero(spark, doc_df):
    pairs = neardup.simhash_pairs(
        doc_df, id_col="doc_id", text_col="text", max_hamming=3
    )
    got = {(r.id_a, r.id_b): r.hamming for r in pairs.collect()}
    assert got.get((0, 990)) == 0  # exact dup → identical fingerprint


def test_exact_dedup_one_rep_per_content(spark, doc_df):
    out = dedup.exact_dedup(doc_df, ["text"], "doc_id")
    rows = out.collect()
    assert len(rows) == doc_df.select("text").distinct().count()
    by_hash = {r.content_hash: r for r in rows}
    dup_row = [r for r in rows if r.dup_count == 2]
    assert len(dup_row) == 1 and dup_row[0].doc_id == 0  # min-id representative


@pytest.fixture(scope="module")
def vec_df(spark):
    rng = random.Random(7)
    rows = []
    for i in range(200):
        rows.append((i, [rng.gauss(0, 1) for _ in range(64)]))
    # planted: vector 900 = vector 0 scaled (cosine exactly 1), and for
    # each query 1..9 a noisy near-copy at id 900+i (cosine ≈ 0.97 —
    # makes the true top-1 unambiguous, unlike random gaussian pairs
    # whose cosines all hover near 0)
    base = rows[0][1]
    rows.append((900, [2.0 * x for x in base]))
    for i in range(1, 10):
        v = rows[i][1]
        rows.append((900 + i, [x + rng.gauss(0, 0.25) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_cosine_topk_finds_planted_neighbor(spark, vec_df):
    queries = vec_df.filter(F.col("vec_id") == 0)
    out = similarity.cosine_topk(vec_df, queries, k=3)
    top = [r for r in out.collect() if r.sim_rank == 1][0]
    assert top.neighbor_id == 900 and top.cosine_sim == 1.0


def test_cosine_all_pairs_exact(spark, vec_df):
    """Planted scaled copy (cosine 1.0) found; every reported pair is
    above threshold and ordered id_a < id_b."""
    out = similarity.cosine_all_pairs(vec_df, threshold=0.9)
    rows = out.collect()
    got = {(r.id_a, r.id_b): r.cosine_sim for r in rows}
    assert got[(0, 900)] == 1.0
    assert all(a < b for a, b in got)
    assert all(c >= 0.9 for c in got.values())
    # the noisy near-copies (cosine ≈ 0.97) must all be found
    for i in range(1, 10):
        assert (i, 900 + i) in got


def test_ivf_topk_recall_vs_bruteforce(spark, vec_df):
    queries = vec_df.filter(F.col("vec_id") < 10)
    truth = similarity.cosine_topk(vec_df, queries, k=1)
    approx = similarity.ivf_topk(vec_df, queries, k=1, cells=8, nprobe=4)
    t = {(r.query_id, r.neighbor_id) for r in truth.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    # each true top-1 is a near-copy of its query (cosine ≈ 0.97), so it
    # lands in the query's nearest cell with overwhelming probability and
    # probing 4 of 8 cells recovers it
    assert (0, 900) in a
    assert len(t & a) / len(t) >= 0.8


def test_lsh_topk_recall_vs_bruteforce(spark, vec_df):
    queries = vec_df.filter(F.col("vec_id") < 10)
    truth = similarity.cosine_topk(vec_df, queries, k=1)
    approx = similarity.lsh_topk(vec_df, queries, k=1, bits=6, tables=8)
    t = {(r.query_id, r.neighbor_id) for r in truth.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    # every query's true top-1 is a planted near-copy (cosine ≈ 0.97 →
    # per-bit flip prob ≈ 0.08): P[miss all 8 tables] ≈ (1-0.92⁶)⁸ < 2%
    # per query; the identical pair (0,900) collides in every table
    assert (0, 900) in a
    assert len(t & a) / len(t) >= 0.8


def test_train_ivf_codebook_deterministic_and_matches_numpy(spark, vec_df):
    """The distributed integer Lloyd loop is order-free: two runs agree
    exactly, and a sequential numpy replication (the oracle builder's
    loop) lands on the identical codebook."""
    import numpy as np

    from global_seismic_data_pipeline_spark.operators.similarity import (
        _centroids,
        quantize,
    )

    kw = dict(dim=64, cells=8, iters=3, seed=42)
    cb1 = similarity.train_ivf_codebook(vec_df, **kw)
    cb2 = similarity.train_ivf_codebook(vec_df, **kw)
    assert np.array_equal(cb1, cb2)

    rows = vec_df.select("embedding").collect()
    xq = quantize(np.array([r[0] for r in rows], dtype=np.float64))
    cb = quantize(_centroids(64, 8, 42))
    for _ in range(3):
        assign = np.argmax(xq @ cb.T, axis=1)
        new_cb = cb.copy()
        for c in range(8):
            members = xq[assign == c]
            if len(members):
                new_cb[c] = np.floor_divide(members.sum(axis=0), len(members))
        cb = new_cb
    assert np.array_equal(cb1, cb)


@pytest.fixture(scope="module")
def clustered_df(spark):
    """8 gaussian clusters with noise large enough that a RANDOM codebook
    splits cluster members across cells, while trained (k-means) centroids
    sit on the cluster means and keep each cluster in one cell."""
    import random as _random

    rng = _random.Random(99)
    centers = [[rng.gauss(0, 1) for _ in range(64)] for _ in range(8)]
    rows = []
    vid = 0
    for ci, c in enumerate(centers):
        for _ in range(30):
            rows.append((vid, [x + rng.gauss(0, 0.8) for x in c]))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_trained_codebook_beats_random_recall(spark, clustered_df):
    """Same cells / nprobe: the trained codebook must recover a strictly
    larger share of true top-3 neighbors than the seeded random one."""
    queries = clustered_df.filter(F.col("vec_id") % 30 == 0)  # 1 per cluster
    truth = similarity.cosine_topk(clustered_df, queries, k=3)
    t = {(r.query_id, r.neighbor_id) for r in truth.collect()}

    def recall(codebook_q):
        out = similarity.ivf_topk(
            clustered_df, queries, k=3, cells=8, nprobe=1, codebook_q=codebook_q
        )
        a = {(r.query_id, r.neighbor_id) for r in out.collect()}
        return len(t & a) / len(t)

    trained = similarity.train_ivf_codebook(
        clustered_df, dim=64, cells=8, iters=4
    )
    r_trained, r_random = recall(trained), recall(None)
    assert r_trained > r_random
    assert r_trained >= 0.9


def test_train_pq_codebooks_deterministic_and_match_numpy(spark, vec_df):
    """The per-subspace integer Lloyd loop is order-free: two distributed
    runs agree exactly, and a sequential numpy replication (what the
    oracle builder embeds as literals) lands on identical codebooks."""
    import numpy as np

    from global_seismic_data_pipeline_spark.operators.similarity import quantize

    kw = dict(dim=64, m=8, ksub=8, iters=3, seed=42)
    cb1 = similarity.train_pq_codebooks(vec_df, **kw)
    cb2 = similarity.train_pq_codebooks(vec_df, **kw)
    assert np.array_equal(cb1, cb2)
    assert cb1.shape == (8, 8, 8)

    rows = vec_df.select("embedding").collect()
    xq = quantize(np.array([r[0] for r in rows], dtype=np.float64)).reshape(-1, 8, 8)
    rng = np.random.RandomState(42)
    cb = quantize(rng.standard_normal((8, 8, 8)) / np.sqrt(64))
    for _ in range(3):
        terms = (cb.astype(np.int64) ** 2).sum(axis=2)[None, :, :] - 2 * np.einsum(
            "nmd,mkd->nmk", xq, cb
        )
        codes = np.argmin(terms, axis=2)
        new_cb = cb.copy()
        for s in range(8):
            for c in range(8):
                members = xq[:, s, :][codes[:, s] == c]
                if len(members):
                    new_cb[s][c] = np.floor_divide(members.sum(axis=0), len(members))
        cb = new_cb
    assert np.array_equal(cb1, cb)


def test_with_pq_codes_matches_numpy_argmin(spark, vec_df):
    """Distributed PQ encoding == numpy argmin of exact-integer L2 per
    subspace (first-hit ties), for every vector."""
    import numpy as np

    from global_seismic_data_pipeline_spark.operators.similarity import quantize

    cb = similarity.train_pq_codebooks(vec_df, dim=64, m=8, ksub=8, iters=2)
    got = {
        r.vec_id: list(r.codes)
        for r in similarity.with_pq_codes(vec_df, cb, vec_col="embedding")
        .select("vec_id", "codes")
        .collect()
    }
    rows = vec_df.select("vec_id", "embedding").collect()
    for r in rows:
        x = quantize(np.array([r.embedding], dtype=np.float64)).reshape(1, 8, 8)
        terms = (cb.astype(np.int64) ** 2).sum(axis=2)[None, :, :] - 2 * np.einsum(
            "nmd,mkd->nmk", x, cb
        )
        assert got[r.vec_id] == list(np.argmin(terms, axis=2)[0])


def test_ivf_pq_topk_recall_vs_bruteforce(spark, vec_df):
    """Planted near-copies recovered through the full IVF→ADC→refine→
    re-rank funnel; ADC's compressed-domain ranking must not evict the
    true top-1 from the refine set."""
    queries = vec_df.filter(F.col("vec_id") < 10)
    truth = similarity.cosine_topk(vec_df, queries, k=1)
    ivf_cb = similarity.train_ivf_codebook(vec_df, dim=64, cells=8, iters=3)
    pq_cb = similarity.train_pq_codebooks(vec_df, dim=64, m=8, ksub=16, iters=3)
    approx = similarity.ivf_pq_topk(
        vec_df, queries, k=1, cells=8, nprobe=4, refine=10,
        ivf_codebook_q=ivf_cb, pq_codebooks_q=pq_cb,
    )
    t = {(r.query_id, r.neighbor_id) for r in truth.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    # the scaled copy (cosine 1.0) quantizes to (nearly) the query's own
    # codes, so its ADC distance is the smallest possible — it cannot be
    # refine-pruned
    assert (0, 900) in a
    assert len(t & a) / len(t) >= 0.8


def test_ivf_pq_refine_bounds_rerank_set(spark, vec_df):
    """With refine=k the exact re-rank sees exactly the ADC top-k, so the
    output never exceeds k rows per query and ranks are dense from 1."""
    queries = vec_df.filter(F.col("vec_id") < 5)
    out = similarity.ivf_pq_topk(
        vec_df, queries, k=3, cells=8, nprobe=8, refine=3
    ).collect()
    per_q = {}
    for r in out:
        per_q.setdefault(r.query_id, []).append(r.sim_rank)
    for q, ranks in per_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) <= 3


def test_prefix_filter_equals_exhaustive_join(spark, doc_df):
    """Prefix filtering is LOSSLESS: identical pair set (and identical
    Jaccard values) to the full inverted-index join at the same τ."""
    exhaustive = {
        (r.id_a, r.id_b): (r.intersection, r.size_a, r.size_b, r.jaccard)
        for r in neardup.ngram_jaccard_pairs(
            doc_df, id_col="doc_id", text_col="text", threshold=0.5
        ).collect()
    }
    pruned = {
        (r.id_a, r.id_b): (r.intersection, r.size_a, r.size_b, r.jaccard)
        for r in neardup.prefix_filtered_jaccard_pairs(
            doc_df, id_col="doc_id", text_col="text",
            threshold_num=1, threshold_den=2,
        ).collect()
    }
    assert pruned == exhaustive and exhaustive  # non-vacuous


def test_prefix_filter_shrinks_the_index(spark, doc_df):
    """The inverted index really shrinks: prefix rows < all rows, and at a
    high τ each doc indexes only ~(1−τ) of its shingles."""
    rows = neardup.shingle_rows(
        doc_df, id_col="doc_id", text_col="text", n=3
    ).dropDuplicates(["doc_id", "shingle"])
    total = rows.count()
    from pyspark.sql import Window as W

    dfreq = rows.groupBy("shingle").agg(F.count(F.lit(1)).alias("df_"))
    w = W.partitionBy("doc_id").orderBy("df_", "shingle")
    sized = rows.join(dfreq, "shingle").select(
        "doc_id",
        F.row_number().over(w).alias("pos"),
        F.count(F.lit(1)).over(W.partitionBy("doc_id")).alias("s"),
    )
    # τ = 4/5: prefix length = s - ceil(4s/5) + 1
    prefix_n = sized.filter(
        F.col("pos") <= F.col("s") - F.expr("((s * 4) + 4) div 5") + 1
    ).count()
    assert 0 < prefix_n < total / 2


def test_prefix_filter_validation(spark, doc_df):
    with pytest.raises(ValueError):
        neardup.prefix_filtered_jaccard_pairs(
            doc_df, id_col="doc_id", text_col="text",
            threshold_num=3, threshold_den=2,
        )


def test_jl_projection_preserves_distances(spark, vec_df):
    """JL guarantee, measured: pairwise squared distances in the 16-dim
    projection correlate strongly with the 64-dim originals, and the
    projection is the exact integer matmul (numpy replica match)."""
    import numpy as np

    from global_seismic_data_pipeline_spark.operators.similarity import (
        jl_projection_matrix,
        quantize,
    )

    out = {
        r.vec_id: np.array(r.proj, dtype=np.float64)
        for r in similarity.jl_project(vec_df, dim=64, out_dim=16).collect()
    }
    rows = {r.vec_id: np.array(r.embedding) for r in vec_df.collect()}
    # exact integer replica
    r_q = jl_projection_matrix(64, 16, 42)
    for vid in list(rows)[:10]:
        want = quantize(rows[vid][None, :]) @ r_q.T
        assert np.array_equal(out[vid].astype(np.int64), want[0])
    # distance preservation: per-pair relative distortion of squared
    # distances is bounded (JL at k=16 → std ≈ sqrt(2/16) ≈ 0.35; note
    # correlation would be meaningless here — iid gaussian distances
    # concentrate, so their cross-pair variance is mostly JL noise)
    ids = sorted(rows)
    rng = np.random.RandomState(3)
    pairs = [(ids[a], ids[b]) for a, b in rng.randint(0, len(ids), (200, 2)) if a != b]
    scale = float(2**40) ** 2  # both matmul factors carry 2^20
    dist = [
        abs((np.sum((out[a] - out[b]) ** 2) / scale) / np.sum((rows[a] - rows[b]) ** 2) - 1)
        for a, b in pairs
    ]
    assert np.median(dist) < 0.5, np.median(dist)
    assert np.quantile(dist, 0.9) < 1.0
    # planted near-copies stay near in the projection: their projected
    # distances are far below the random-pair scale
    planted = [(i, 900 + i) for i in range(1, 10)]
    d_planted = np.mean([np.sum((out[a] - out[b]) ** 2) / scale for a, b in planted])
    d_random = np.mean([np.sum((out[a] - out[b]) ** 2) / scale for a, b in pairs])
    assert d_planted < d_random / 4, (d_planted, d_random)


def test_incremental_ivf_index_append_equals_rebuild(spark, vec_df, tmp_path):
    """Frozen-codebook invariant: appending a batch to the stored index
    produces EXACTLY the lists a rebuild (same codebook) would, and the
    probe equals ivf_topk over the union with that codebook."""
    from global_seismic_data_pipeline_spark.operators import ann_index
    from global_seismic_data_pipeline_spark.sources.warehouse import Warehouse

    base = vec_df.filter(F.col("vec_id") % 3 != 0)
    batch = vec_df.filter(F.col("vec_id") % 3 == 0)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    cb = ann_index.build_ivf_index(wh, base, cells=8, iters=3, name="ix")
    ann_index.append_to_ivf_index(wh, batch, name="ix")

    grown = {
        (r.vec_id, r.cell)
        for r in spark.table("ix_lists").select("vec_id", "cell").collect()
    }
    rebuilt = {
        (r.vec_id, r.cell)
        for r in similarity.with_ivf_cells(
            vec_df, dim=64, cells=8, nprobe=1, codebook_q=cb
        ).select("vec_id", "cell").collect()
    }
    assert grown == rebuilt

    queries = vec_df.filter(F.col("vec_id") < 10)
    got = {
        (r.query_id, r.neighbor_id, r.sim_rank)
        for r in ann_index.probe_ivf_index(
            wh, queries, name="ix", k=3, nprobe=4
        ).collect()
    }
    want = {
        (r.query_id, r.neighbor_id, r.sim_rank)
        for r in similarity.ivf_topk(
            vec_df, queries, k=3, cells=8, nprobe=4, codebook_q=cb
        ).collect()
    }
    assert got == want and got


def test_incremental_ivf_append_never_rescans_base(spark, vec_df, tmp_path):
    """The append job's scans touch only the NEW batch's source — the
    stored corpus is not re-read (the whole point of the frozen
    codebook)."""
    from global_seismic_data_pipeline_spark.operators import ann_index
    from global_seismic_data_pipeline_spark.sources.warehouse import Warehouse

    base_path = str(tmp_path / "base.parquet")
    batch_path = str(tmp_path / "batch.parquet")
    vec_df.filter(F.col("vec_id") % 3 != 0).write.parquet(base_path)
    vec_df.filter(F.col("vec_id") % 3 == 0).write.parquet(batch_path)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    ann_index.build_ivf_index(
        wh, spark.read.parquet(base_path), cells=8, iters=2, name="ix2"
    )
    batch = spark.read.parquet(batch_path)
    meta, cb = ann_index._load(wh, "ix2")
    assigned = similarity.with_ivf_cells(
        batch.select("vec_id", "embedding"),
        vec_col="embedding", dim=64, cells=8, nprobe=1, codebook_q=cb,
    )
    files = assigned.inputFiles()
    assert files and all("batch.parquet" in f for f in files)


def test_incremental_ivf_meta_validation(spark, tmp_path):
    from global_seismic_data_pipeline_spark.operators import ann_index
    from global_seismic_data_pipeline_spark.sources.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    import pytest as _pytest

    with _pytest.raises(Exception):
        ann_index._load(wh, "nonexistent")


def test_filtered_topk_respects_filter_and_differs_from_postfilter(spark):
    """Every neighbor shares the query's label, ranks are dense within
    the filtered set — and post-filtering the UNfiltered top-k provably
    loses results (why filtered search is its own operator)."""
    import random as _random

    rng = _random.Random(21)
    rows = []
    for i in range(120):
        rows.append((i, [rng.gauss(0, 1) for _ in range(64)], i % 2))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label long"
    )
    queries = df.filter(F.col("vec_id") < 4)
    out = similarity.filtered_cosine_topk(df, queries, k=5).collect()
    per_q = {}
    for r in out:
        per_q.setdefault(r.query_id, []).append(r)
        assert r.label == r.query_id % 2  # neighbor shares the query label
    for q, rs in per_q.items():
        assert sorted(r.sim_rank for r in rs) == list(range(1, 6))
    # post-filter contrast: unfiltered top-5 then filter-by-label keeps
    # fewer than 5 for at least one query (random labels: ~P(all 5 match)
    # = 2^-5 per query)
    unf = similarity.cosine_topk(df, queries, k=5).collect()
    kept = {}
    for r in unf:
        if r.neighbor_id % 2 == r.query_id % 2:
            kept.setdefault(r.query_id, []).append(r)
    assert any(len(v) < 5 for v in kept.values())


def test_sum_best_dot_decimal_sum_does_not_wrap(spark):
    """Scaled-down overflow proof: per-member dots near 2^62 (the int64
    regime a ~10^5-member cell of 2^46 dots reaches) sum EXACTLY under
    the DECIMAL(38,0) aggregate, where a plain LONG sum wraps negative.
    Pins the drift monitor's 100-TB-scale aggregate."""
    from global_seismic_data_pipeline_spark.operators import ann_index

    big = 1 << 62
    df = spark.createDataFrame(
        [(0, big), (0, big), (0, big)], "cell long, best_dot long"
    )
    row = df.groupBy("cell").agg(ann_index.sum_best_dot_agg()).collect()[0]
    assert int(row["sum_best_dot"]) == 3 * big  # > 2^63: unrepresentable in int64
    # and the old LONG sum really was broken at this magnitude: under
    # ANSI (Spark 4 default, this session) the whole stage DIES with
    # ARITHMETIC_OVERFLOW; non-ANSI would wrap silently — either way the
    # decimal aggregate is the only correct form
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW|overflow"):
        df.groupBy("cell").agg(F.sum("best_dot").alias("s")).collect()


def test_ivf_drift_monitor_fires_on_shifted_append(spark, vec_df, tmp_path):
    """Drift trigger: an append drawn from the SAME distribution leaves
    the monitor quiet; a shifted batch (one far-off direction crowding a
    single cell) moves both metrics and fires reindex_due."""
    import numpy as np

    from global_seismic_data_pipeline_spark.operators import ann_index
    from global_seismic_data_pipeline_spark.sources.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    base = vec_df.filter(F.col("vec_id") < 150)
    ann_index.build_ivf_index(wh, base, cells=8, iters=3, name="drift")
    ann_index.save_drift_baseline(wh, name="drift")

    # in-distribution append: more gaussians — no trigger
    rng = np.random.RandomState(11)
    same = spark.createDataFrame(
        [(2000 + i, rng.standard_normal(64).tolist()) for i in range(50)],
        "vec_id long, embedding array<double>",
    )
    ann_index.append_to_ivf_index(wh, same, name="drift")
    quiet = ann_index.reindex_due(wh, name="drift")
    assert not quiet["due"], quiet["reasons"]

    # shifted append: one far direction, scaled up — crowds one cell and
    # sits far from every trained centroid
    direction = rng.standard_normal(64)
    shifted = spark.createDataFrame(
        [
            (3000 + i, (direction * 5 + rng.standard_normal(64) * 0.05).tolist())
            for i in range(300)
        ],
        "vec_id long, embedding array<double>",
    )
    ann_index.append_to_ivf_index(wh, shifted, name="drift")
    fired = ann_index.reindex_due(wh, name="drift")
    assert fired["due"], fired
    assert fired["occupancy_skew"] > quiet["occupancy_skew"]

    # the metrics table attributes the new population per cell
    m = ann_index.ivf_drift_metrics(
        wh, name="drift", new_pred="vec_id >= 3000"
    ).collect()
    assert sum(r["n_new"] for r in m) == 300
    top_cell = max(m, key=lambda r: r["n_new"])
    assert top_cell["n_new"] == 300  # the whole shifted batch in ONE cell
