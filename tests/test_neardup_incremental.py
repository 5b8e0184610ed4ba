"""Incremental MinHash dedup: probe ≡ full recompute, and the plan
properties that make it incremental (no re-read of stored corpus text,
bucketed store joins)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from global_seismic_data_pipeline_spark.operators import neardup
from global_seismic_data_pipeline_spark.operators.neardup_incremental import (
    build_minhash_index,
    incremental_minhash_pairs,
)
from global_seismic_data_pipeline_spark.sources.warehouse import Warehouse

KNOBS = dict(n=2, num_hashes=32, bands=8, seed=11)
THRESH = 0.3


def _corpus(n_docs=120, seed=5):
    """Synthetic docs with planted near-duplicates: every 4th doc is a
    lightly-perturbed copy of its predecessor."""
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(60)]
    rows = []
    words_prev = None
    for i in range(n_docs):
        if i % 4 == 1 and words_prev:
            words = list(words_prev)
            words[rng.randrange(len(words))] = rng.choice(vocab)
        else:
            words = [rng.choice(vocab) for _ in range(rng.randint(8, 20))]
        words_prev = words
        rows.append((i, " ".join(words)))
    return rows


def _pairs_set(df):
    return {
        (r["id_a"], r["id_b"], r["intersection"])
        for r in df.select("id_a", "id_b", "intersection").collect()
    }


@pytest.fixture()
def wh(spark, tmp_path):
    return Warehouse(spark, str(tmp_path / "wh"))


def test_incremental_equals_full_recompute(spark, wh):
    rows = _corpus()
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    base = docs.filter(F.col("doc_id") % 3 != 0)
    batch = docs.filter(F.col("doc_id") % 3 == 0)

    build_minhash_index(wh, base, name="t_idx", **KNOBS)
    got = incremental_minhash_pairs(
        wh, batch, threshold=THRESH, name="t_idx", append=False
    )

    full = neardup.minhash_lsh_pairs(
        docs, id_col="doc_id", text_col="text", threshold=THRESH, **KNOBS
    ).filter((F.col("id_a") % 3 == 0) | (F.col("id_b") % 3 == 0))

    assert _pairs_set(got) == _pairs_set(full)
    assert got.count() == got.select("id_a", "id_b").distinct().count()


def test_second_batch_sees_first_batch_and_base(spark, wh):
    rows = _corpus()
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    base = docs.filter(F.col("doc_id") % 3 == 2)
    b1 = docs.filter(F.col("doc_id") % 3 == 0)
    b2 = docs.filter(F.col("doc_id") % 3 == 1)

    build_minhash_index(wh, base, name="t_idx2", **KNOBS)
    incremental_minhash_pairs(wh, b1, threshold=THRESH, name="t_idx2")
    got = incremental_minhash_pairs(
        wh, b2, threshold=THRESH, name="t_idx2", append=False
    )

    full = neardup.minhash_lsh_pairs(
        docs, id_col="doc_id", text_col="text", threshold=THRESH, **KNOBS
    ).filter((F.col("id_a") % 3 == 1) | (F.col("id_b") % 3 == 1))
    assert _pairs_set(got) == _pairs_set(full)
    # planted dups pair consecutive ids, so batch2 (i%3==1) finds partners
    # in BOTH base (i%3==2) and batch1 (i%3==0)
    mods = {(a % 3, b % 3) for a, b, _ in _pairs_set(got)}
    assert any(m in mods for m in [(0, 1), (1, 0)])  # vs batch1
    assert any(m in mods for m in [(1, 2), (2, 1)])  # vs base


def test_probe_plan_never_rescans_corpus_text(spark, wh, tmp_path):
    """Batch N+1 must touch only the NEW docs' text: the executed plan
    reads the store tables (postings + shingle sets), never the base
    corpus parquet."""
    # scan Location strings truncate at spark.sql.maxMetadataStringLength
    # (default 100) — too short for tmp_path; raise it or the path asserts
    # silently test nothing
    old_len = spark.conf.get("spark.sql.maxMetadataStringLength")
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    rows = _corpus()
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    base_path = str(tmp_path / "base_corpus_docs")
    batch_path = str(tmp_path / "batch_docs")
    docs.filter(F.col("doc_id") % 3 != 0).write.parquet(base_path)
    docs.filter(F.col("doc_id") % 3 == 0).write.parquet(batch_path)

    build_minhash_index(
        wh, spark.read.parquet(base_path), name="t_idx3", **KNOBS
    )
    got = incremental_minhash_pairs(
        wh,
        spark.read.parquet(batch_path),
        threshold=THRESH,
        name="t_idx3",
        append=False,
    )
    try:
        got.count()
        plan = got._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", old_len)
    assert "base_corpus_docs" not in plan  # stored text never re-read
    assert "batch_docs" in plan  # the new batch is the only raw-text scan
    # postings probed, verification reads the stored SETS table (the
    # sig index table is not needed by a probe at all — columnar split)
    assert "t_idx3_bands" in plan and "t_idx3_sets" in plan


def test_append_persists_batch_signatures(spark, wh):
    rows = _corpus(n_docs=30)
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    base = docs.filter(F.col("doc_id") < 20)
    batch = docs.filter(F.col("doc_id") >= 20)
    build_minhash_index(wh, base, name="t_idx4", **KNOBS)
    n_before = spark.table("t_idx4_docs").count()
    incremental_minhash_pairs(wh, batch, threshold=THRESH, name="t_idx4")
    stored = spark.table("t_idx4_docs")
    assert stored.count() > n_before
    assert stored.select("doc_id").distinct().count() == stored.count()
    # pairs artifact written alongside the index
    assert wh.exists("t_idx4_pairs")


def test_missing_meta_raises(spark, wh):
    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(Exception):
        incremental_minhash_pairs(wh, docs, name="never_built")


def test_rebuild_reuse_sets_identical_and_sets_untouched(spark, wh, tmp_path):
    """Columnar-split payoff: rebuilding the index under NEW LSH knobs
    with reuse_sets=True (a) produces a docs/bands store bit-identical to
    a from-scratch build with those knobs, and (b) never rewrites the
    heavy shingle-sets table — its files are byte-for-byte untouched."""
    import os

    rows = _corpus(n_docs=60)
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    build_minhash_index(wh, docs, name="r_idx", **KNOBS)

    def _set_files(name):
        out = {}
        root = wh.path(f"{name}_sets")
        for r, _d, fs in os.walk(root):
            for f in fs:
                p = os.path.join(r, f)
                out[os.path.relpath(p, root)] = (
                    os.path.getmtime(p), os.path.getsize(p)
                )
        return out

    before = _set_files("r_idx")
    new_knobs = dict(KNOBS, num_hashes=16, bands=4, seed=99)
    build_minhash_index(wh, None, name="r_idx", reuse_sets=True, **new_knobs)
    assert _set_files("r_idx") == before  # sets written once per corpus

    wh2 = Warehouse(spark, str(tmp_path / "wh2"))
    build_minhash_index(wh2, docs, name="s_idx", **new_knobs)
    got_docs = {
        (r["doc_id"], tuple(r["sig"]))
        for r in spark.table("r_idx_docs").collect()
    }
    want_docs = {
        (r["doc_id"], tuple(r["sig"]))
        for r in spark.table("s_idx_docs").collect()
    }
    assert got_docs == want_docs
    got_bands = {
        tuple(r) for r in spark.table("r_idx_bands").collect()
    }
    want_bands = {
        tuple(r) for r in spark.table("s_idx_bands").collect()
    }
    assert got_bands == want_bands


def test_reuse_sets_refuses_docs(spark, wh):
    """A reuse rebuild reads no text, so a docs frame passed with
    reuse_sets=True would be silently ignored — it is refused instead,
    before the stored index is touched."""
    docs = spark.createDataFrame(_corpus(n_docs=12), "doc_id long, text string")
    build_minhash_index(wh, docs, name="u_idx", **KNOBS)
    before = sorted(tuple(r) for r in spark.table("u_idx_docs").collect())
    with pytest.raises(ValueError, match="docs=None"):
        build_minhash_index(
            wh, docs, name="u_idx", reuse_sets=True,
            **dict(KNOBS, num_hashes=16, bands=4),
        )
    assert sorted(tuple(r) for r in spark.table("u_idx_docs").collect()) == before
