"""``session.materialize`` / ``materialized_scope``: what a scope caches it
releases, nested scopes keep to their own frames, and a scope on one thread
never touches another thread's frames."""

from __future__ import annotations

import os
import threading

import pytest
from pyspark.storagelevel import StorageLevel

from global_seismic_data_pipeline_spark.session import (
    materialize,
    materialized_scope,
)
from global_seismic_data_pipeline_spark.sources import csvsrc

from test_catalog import SF


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _cached(df) -> bool:
    return df.storageLevel != StorageLevel.NONE


@pytest.fixture()
def clean_cache(spark):
    spark.catalog.clearCache()
    assert _cache_empty(spark)
    return spark


def test_scope_exit_empties_the_cache(clean_cache):
    spark = clean_cache
    with materialized_scope():
        a = materialize(spark.range(10))
        b = materialize(spark.range(20))
        assert a.count() == 10 and b.count() == 20
        assert _cached(a) and _cached(b)
    assert _cache_empty(spark)


def test_nested_scope_releases_only_its_own_frames(clean_cache):
    spark = clean_cache
    with materialized_scope():
        # distinct data: the CacheManager matches plans up to aliases
        outer = materialize(spark.range(10))
        with materialized_scope():
            inner = materialize(spark.range(11))
            assert _cached(inner)
        assert not _cached(inner)
        assert _cached(outer)
    assert _cache_empty(spark)


def test_scope_on_another_thread_leaves_this_threads_frames(clean_cache):
    """The other thread's scope is open while this thread materializes:
    the frame belongs to this thread's scope, not the innermost one of the
    process, so closing the other scope must leave it cached."""
    spark = clean_cache
    opened, go = threading.Event(), threading.Event()
    theirs: list = []

    def other():
        with materialized_scope():
            theirs.append(materialize(spark.range(5)))
            opened.set()
            go.wait(60)

    with materialized_scope():
        t = threading.Thread(target=other)
        t.start()
        assert opened.wait(60)
        mine = materialize(spark.range(6))
        go.set()
        t.join(60)
        assert not t.is_alive()
        assert _cached(mine)
        assert not _cached(theirs[0])
    assert _cache_empty(spark)


def test_materialize_without_scope_only_persists(spark):
    """Plain ``persist`` semantics outside any scope (the autouse test
    scope is bypassed by running on a fresh thread)."""
    out: list = []
    t = threading.Thread(target=lambda: out.append(materialize(spark.range(3))))
    t.start()
    t.join(60)
    try:
        assert _cached(out[0])
    finally:
        out[0].unpersist()


# Each former per-module registry, reached through a driver query that
# materializes into it (csvsrc has no driver query).
REGISTRY_QUERIES = [
    "minhash_near_dup",      # neardup
    "bm25_search_docs",      # search, cluster
    "cms_heavy_tokens",      # text, sketch
    "bloom_prune_lineitem",  # bloom
    "scalable_rank_parts",   # ranking
    "bpe_learn_merges",      # bpe
    "nb_lang_classifier",    # classify
]


@pytest.mark.skipif(
    not os.path.isdir(SF), reason="driver testdata not present"
)
@pytest.mark.parametrize("name", REGISTRY_QUERIES)
def test_driver_query_leaves_cache_empty(clean_cache, name):
    import __spark_entry__ as ent

    spark = clean_cache
    with materialized_scope():
        ent.queries()[name](spark, SF).write.format("noop").mode(
            "overwrite"
        ).save()
        assert not _cache_empty(spark), "query cached nothing"
    assert _cache_empty(spark)


def test_csv_split_valid_leaves_cache_empty(clean_cache, tmp_path):
    spark = clean_cache
    p = tmp_path / "shard.csv"
    p.write_text("1,en,100\nXX,de,50\n")
    with materialized_scope():
        good, bad = csvsrc.split_valid(
            csvsrc.read_csv(spark, str(p), "doc_id long, lang string, n_chars long")
        )
        assert (good.count(), bad.count()) == (1, 1)
        assert not _cache_empty(spark)
    assert _cache_empty(spark)
