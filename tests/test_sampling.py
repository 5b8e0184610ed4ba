"""Deterministic splitting and shard packing (operators/sampling.py)."""

import pytest
from pyspark.sql import functions as F

from global_seismic_data_pipeline_spark.operators import sampling, text
from global_seismic_data_pipeline_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.001"


def test_default_thresholds_match_oracle():
    """The hardcoded hex bounds in oracles_ext.SPLIT_TRAIN_VAL_TEST_SQL must
    equal what the operator computes for the default fractions."""
    th = sampling.split_thresholds({"train": 0.9, "val": 0.05, "test": 0.05})
    assert th[0] == ("train", "e6666666")
    assert th[1] == ("val", "f3333333")
    assert th[2][0] == "test"


def test_split_thresholds_validate():
    with pytest.raises(ValueError):
        sampling.split_thresholds({"a": 0.5, "b": 0.2})
    with pytest.raises(ValueError):
        sampling.split_thresholds({})


def test_hash_split_leakage_safe_and_deterministic(spark):
    docs = load_table(spark, SF, "documents")
    s1 = sampling.hash_split(docs, key_col="source", salt="s1")
    # every source maps to exactly one split
    per_source = s1.groupBy("source").agg(
        F.countDistinct("split").alias("n_splits")
    )
    assert per_source.filter(F.col("n_splits") != 1).count() == 0
    # identical on recompute (pure expression, no randomness)
    s2 = sampling.hash_split(docs, key_col="source", salt="s1")
    assert (
        s1.select("doc_id", "split")
        .exceptAll(s2.select("doc_id", "split"))
        .count()
        == 0
    )
    # a different salt re-deals at least something (500 docs, 5% bands)
    s3 = sampling.hash_split(docs, key_col="source", salt="other")
    moved = (
        s1.select("doc_id", "split")
        .exceptAll(s3.select("doc_id", "split"))
        .count()
    )
    assert moved > 0


def test_hash_split_fractions_roughly_honored(spark):
    """Row-level split (key = doc_id, many keys) lands near the requested
    fractions; wide tolerance — it's a hash, not a quota."""
    docs = load_table(spark, SF, "documents")
    total = docs.count()
    got = dict(
        sampling.hash_split(docs, key_col="doc_id")
        .groupBy("split")
        .count()
        .collect()
    )
    assert got.get("train", 0) / total == pytest.approx(0.9, abs=0.08)


def test_pack_token_shards_budget_and_contiguity(spark):
    docs = load_table(spark, SF, "documents")
    toks = docs.select("doc_id", text.word_count(F.col("text")).alias("toks"))
    packed = sampling.pack_token_shards(
        toks, id_col="doc_id", token_col="toks", budget=500, writers=4
    ).cache()
    max_doc = packed.agg(F.max("toks")).collect()[0][0]
    per_shard = packed.groupBy("writer", "shard").agg(
        F.sum("toks").alias("tot"), F.count(F.lit(1)).alias("n")
    )
    rows = per_shard.collect()
    # a shard never exceeds budget + one overflowing document
    assert all(r.tot <= 500 + max_doc for r in rows)
    # shards are dense 0..max per writer
    last = {
        r.writer: r.shard
        for r in per_shard.groupBy("writer").agg(F.max("shard").alias("shard")).collect()
    }
    for w, top in last.items():
        shards = sorted(r.shard for r in rows if r.writer == w)
        assert shards == list(range(top + 1))
    # packing is contiguous: doc-id ranges of consecutive shards never
    # interleave within a writer
    bounds = (
        packed.groupBy("writer", "shard")
        .agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))
        .collect()
    )
    by_writer: dict = {}
    for r in bounds:
        by_writer.setdefault(r.writer, []).append((r.shard, r.lo, r.hi))
    for spans in by_writer.values():
        spans.sort()
        for (_, _, hi_prev), (_, lo_next, _) in zip(spans, spans[1:]):
            assert hi_prev < lo_next
    packed.unpersist()


def test_pack_token_shards_validates():
    with pytest.raises(ValueError):
        sampling.pack_token_shards(
            None, id_col="x", token_col="y", budget=0
        )


def test_decontaminate_removes_all_eval_fingerprints(spark):
    from global_seismic_data_pipeline_spark.plans import workloads_ext

    clean = workloads_ext.decontaminate_docs(spark, SF)
    docs = load_table(spark, SF, "documents")
    fp = docs.select("doc_id", text.fingerprint(F.col("text")).alias("fp"))
    eval_fps = fp.filter(F.col("doc_id") % 97 == 0).select("fp").distinct()
    # nothing in the cleaned corpus shares a fingerprint with the eval set
    assert clean.join(eval_fps, "fp").count() == 0
    # and it kept everything that doesn't (no over-removal)
    kept = fp.join(eval_fps, "fp", "left_anti").count()
    assert clean.count() == kept > 0


# --------------------------------------------------------------------------
# temperature_sample


def _py_temperature_keep(key, n_d, n_min, salt="t"):
    """Pure-Python replica of the exact-integer keep rule."""
    import hashlib

    h = int(hashlib.md5(f"{key}|{salt}".encode()).hexdigest()[:5], 16)
    return h * h * n_d < n_min * (4**20)


def test_temperature_sample_matches_python_reference(spark):
    rows = [(i, "big" if i < 400 else ("mid" if i < 490 else "small"))
            for i in range(500)]
    df = spark.createDataFrame(rows, "k long, dom string")
    out = sampling.temperature_sample(
        df, domain_col="dom", key_col="k", salt="t"
    )
    got = {r["k"] for r in out.collect()}
    counts = {"big": 400, "mid": 90, "small": 10}
    exp = {
        k for k, dom in rows
        if _py_temperature_keep(k, counts[dom], 10, salt="t")
    }
    assert got == exp


def test_temperature_sample_keeps_smallest_domain_whole(spark):
    rows = [(i, "a" if i < 900 else "b") for i in range(1000)]
    df = spark.createDataFrame(rows, "k long, dom string")
    out = sampling.temperature_sample(df, domain_col="dom", key_col="k")
    by_dom = {
        r["dom"]: r["n"]
        for r in out.groupBy("dom").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert by_dom["b"] == 100  # rate sqrt(100/100) = 1: kept whole
    # big domain targets sqrt(n_min * n_d) = sqrt(100*900) = 300 kept
    assert 200 <= by_dom["a"] <= 400


def test_temperature_sample_salt_changes_membership(spark):
    rows = [(i, "a" if i < 950 else "b") for i in range(1000)]
    df = spark.createDataFrame(rows, "k long, dom string")
    a = {r["k"] for r in sampling.temperature_sample(
        df, domain_col="dom", key_col="k", salt="s1").collect()}
    b = {r["k"] for r in sampling.temperature_sample(
        df, domain_col="dom", key_col="k", salt="s2").collect()}
    assert a != b
    # re-running with the same salt is identical
    a2 = {r["k"] for r in sampling.temperature_sample(
        df, domain_col="dom", key_col="k", salt="s1").collect()}
    assert a == a2


def test_dsir_scores_prefer_target_like_docs(spark):
    from pyspark.sql import functions as F

    from global_seismic_data_pipeline_spark.operators import sampling

    # two sharply different vocabularies; is_target marks distribution A
    docs = []
    for i in range(10):
        docs.append((i, "alpha beta gamma delta alpha beta", 1))
    for i in range(10, 20):
        docs.append((i, "omega psi chi phi omega psi", 0))
    # held-out rows, one from each vocabulary, NOT in the target set
    docs.append((100, "alpha beta gamma alpha", 0))
    docs.append((101, "omega psi chi omega", 0))
    df = spark.createDataFrame(docs, "doc_id long, text string, is_t long")
    out = {
        r.doc_id: r
        for r in sampling.dsir_importance_scores(
            df, F.col("is_t") == 1
        ).collect()
    }
    assert len(out) == 22
    # target-vocabulary held-out doc scores above the off-target one
    assert out[100].dsir_score > out[101].dsir_score
    assert out[100].keep == 1 and out[101].keep == 0
    # scores are per-token sums: every token counted
    assert out[100].n_tokens == 4


def test_negative_samples_shape_and_no_self(spark):
    """Exactly k negatives per anchor, never the anchor itself, all
    negatives are real ids."""
    from global_seismic_data_pipeline_spark.operators.sampling import (
        negative_samples,
    )

    df = spark.range(50).select(F.col("id").alias("doc_id"))
    out = negative_samples(df, id_col="doc_id", k=4).collect()
    assert len(out) == 200
    per = {}
    for r in out:
        per.setdefault(r.doc_id, []).append(r)
        assert r.neg_doc_id != r.doc_id
        assert 0 <= r.neg_doc_id < 50
    for a, rows in per.items():
        assert sorted(r.slot for r in rows) == [0, 1, 2, 3]


def test_negative_samples_deterministic_and_salt_redeals(spark):
    """Same salt → identical triples across runs; a different salt deals a
    (materially) different negative set."""
    from global_seismic_data_pipeline_spark.operators.sampling import (
        negative_samples,
    )

    df = spark.range(40).select(F.col("id").alias("doc_id"))
    a = {(r.doc_id, r.slot, r.neg_doc_id) for r in negative_samples(df, k=2).collect()}
    b = {(r.doc_id, r.slot, r.neg_doc_id) for r in negative_samples(df, k=2).collect()}
    assert a == b
    c = {
        (r.doc_id, r.slot, r.neg_doc_id)
        for r in negative_samples(df, k=2, salt="other").collect()
    }
    assert a != c


def test_negative_samples_validation(spark):
    from global_seismic_data_pipeline_spark.operators.sampling import (
        negative_samples,
    )

    df = spark.range(1).select(F.col("id").alias("doc_id"))
    with pytest.raises(ValueError):
        negative_samples(df, k=0)
    with pytest.raises(ValueError):
        negative_samples(df, k=2)  # < 2 rows


def test_leakage_safe_split_keeps_near_dups_together(spark):
    """Docs of one near-dup cluster always share a split (the whole point);
    a per-doc split on the same corpus DOES split some cluster apart —
    demonstrating the leak this query closes."""
    from global_seismic_data_pipeline_spark.operators import cluster, neardup

    base = (
        "the quick brown fox jumps over the lazy dog near the river bank "
        "while birds sing in tall green trees above the quiet valley"
    )
    rows = []
    for i in range(30):
        rows.append((i * 10, f"unique document number {i} about topic {i} "
                             f"with its own words {i}"))
        rows.append((i * 10 + 1, base + f" variant {i}"))
        rows.append((i * 10 + 2, base + f" variant {i} extra"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    edges = neardup.minhash_lsh_pairs(
        df, id_col="doc_id", text_col="text", threshold=0.5
    ).select("id_a", "id_b")
    clusters = cluster.cluster_assignments(edges, id_out="doc_id").select(
        "doc_id", "cluster_id"
    )
    keyed = df.select("doc_id").join(clusters, "doc_id", "left").withColumn(
        "split_key", F.coalesce("cluster_id", F.col("doc_id"))
    )
    out = sampling.hash_split(keyed, key_col="split_key", salt="cl")
    split_of = {r.doc_id: r.split for r in out.collect()}
    cluster_of = {r.doc_id: r.cluster_id for r in clusters.collect()}
    by_cluster = {}
    for d, c in cluster_of.items():
        by_cluster.setdefault(c, set()).add(split_of[d])
    assert by_cluster and all(len(s) == 1 for s in by_cluster.values())

    # contrast: naive per-doc split breaks at least one cluster apart
    naive = sampling.hash_split(df.select("doc_id"), key_col="doc_id", salt="cl")
    naive_of = {r.doc_id: r.split for r in naive.collect()}
    naive_by_cluster = {}
    for d, c in cluster_of.items():
        naive_by_cluster.setdefault(c, set()).add(naive_of[d])
    assert any(len(s) > 1 for s in naive_by_cluster.values())


def test_epoch_repeats_realizes_fractional_epochs(spark):
    """floor/frac split: ×2.25 gives 2 or 3 copies with ~25% threes;
    ×0.5 keeps ~half once; default ×1 keeps all exactly once;
    determinism across runs."""
    df = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 3 == 0, "a")
        .when(F.col("id") % 3 == 1, "b")
        .otherwise("c")
        .alias("src"),
    )
    out = sampling.epoch_repeats(
        df, key_col="doc_id", strata_col="src",
        epochs={"a": 2.25, "b": 0.5},
    )
    rows = out.collect()
    per_doc = {}
    for r in rows:
        per_doc.setdefault((r.doc_id, r.src), []).append(r.copy_ix)
    counts = {"a": [], "b": [], "c": []}
    for (_, src), copies in per_doc.items():
        assert sorted(copies) == list(range(1, len(copies) + 1))
        counts[src].append(len(copies))
    assert set(counts["a"]) <= {2, 3}
    assert set(counts["b"]) == {1}  # kept docs appear once
    assert set(counts["c"]) == {1} and len(counts["c"]) == 2000 // 3 + (2000 % 3 > 2)
    # realized totals near expectation (~667 docs per source)
    assert abs(sum(counts["a"]) - 2.25 * 667) / (2.25 * 667) < 0.1
    assert abs(len(counts["b"]) - 0.5 * 667) / (0.5 * 667) < 0.15
    again = sampling.epoch_repeats(
        df, key_col="doc_id", strata_col="src", epochs={"a": 2.25, "b": 0.5}
    ).collect()
    assert {(r.doc_id, r.copy_ix) for r in again} == {
        (r.doc_id, r.copy_ix) for r in rows
    }
    import pytest as _pytest

    with _pytest.raises(ValueError):
        sampling.epoch_repeats(
            df, key_col="doc_id", strata_col="src", epochs={"a": -1.0}
        )


def test_seeded_shuffle_shards_balance_determinism_and_reseed(spark):
    from global_seismic_data_pipeline_spark.operators import sampling
    from global_seismic_data_pipeline_spark.session import materialized_scope

    df = spark.createDataFrame([(i,) for i in range(103)], "doc_id long")
    # each run in its own scope: the next one re-samples its range
    # partitioning instead of reusing this run's cached one
    with materialized_scope():
        out1 = {
            r.doc_id: (r.shard, r.pos)
            for r in sampling.seeded_shuffle_shards(
                df, n_shards=8, seed="e0"
            ).collect()
        }
    # every doc placed exactly once; shards balanced to within one row
    assert len(out1) == 103
    sizes = {}
    for s, _ in out1.values():
        sizes[s] = sizes.get(s, 0) + 1
    assert max(sizes.values()) - min(sizes.values()) <= 1
    # (shard, pos) pairs are a bijection onto the first 103 rank slots
    assert sorted(
        s + 8 * p for s, p in out1.values()
    ) == list(range(103))
    # deterministic: same seed → identical placement
    with materialized_scope():
        out1b = {
            r.doc_id: (r.shard, r.pos)
            for r in sampling.seeded_shuffle_shards(
                df, n_shards=8, seed="e0"
            ).collect()
        }
    assert out1b == out1
    # a new seed is a genuinely different permutation
    with materialized_scope():
        out2 = {
            r.doc_id: (r.shard, r.pos)
            for r in sampling.seeded_shuffle_shards(
                df, n_shards=8, seed="e1"
            ).collect()
        }
    assert out2 != out1
    # and not id-ordered (it is a shuffle)
    by_slot = sorted(out1, key=lambda d: out1[d][0] + 8 * out1[d][1])
    assert by_slot != sorted(by_slot)


def test_perplexity_buckets_equal_population_and_exact_ordering(spark):
    """Bucket sizes within 1 of each other at any N; the ordering is the
    exact scaled-integer ratio (a float ratio would flip ties); every
    input column survives."""
    from global_seismic_data_pipeline_spark.operators.sampling import (
        perplexity_buckets,
    )

    rows = [(i, 100 + i, 10 + (i % 7)) for i in range(10)]
    scored = spark.createDataFrame(
        rows, "doc_id int, surprisal_sum long, n_tokens long"
    )
    out = perplexity_buckets(scored, n_buckets=3).collect()
    sizes = {}
    for r in out:
        sizes[r.bucket] = sizes.get(r.bucket, 0) + 1
        assert r.scaled_bits == (r.surprisal_sum * 1_000_000) // r.n_tokens
    assert sorted(sizes) == [0, 1, 2]
    assert max(sizes.values()) - min(sizes.values()) <= 1
    # ranks are a permutation of 1..N ordered by (scaled_bits, doc_id)
    ordered = sorted(out, key=lambda r: (r.scaled_bits, r.doc_id))
    assert [r.rk for r in ordered] == list(range(1, 11))
    # buckets are monotone in rank
    assert [r.bucket for r in ordered] == sorted(r.bucket for r in out)

    import pytest as _pytest

    with _pytest.raises(ValueError, match="n_buckets"):
        perplexity_buckets(scored, n_buckets=1)
