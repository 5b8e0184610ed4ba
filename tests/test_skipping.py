"""Data-skipping index: pruning really skips files, never drops rows,
and the stats refresh is genuinely incremental."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from global_seismic_data_pipeline_spark.operators import skipping
from global_seismic_data_pipeline_spark.sources.warehouse import Warehouse


@pytest.fixture()
def wh(spark, tmp_path):
    return Warehouse(spark, str(tmp_path / "wh"))


def _clustered(spark, wh, n=1000, parts=8, name="t"):
    df = spark.range(n).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    wh.overwrite(df.repartitionByRange(parts, "k"), name)
    return df


def test_pruned_read_equals_full_filter_and_skips_files(spark, wh):
    _clustered(spark, wh)
    assert skipping.refresh_file_stats(wh, "t", ["k"]) == 8
    stats = wh.read("t__stats")
    assert stats.count() == 8

    lo, hi = 100, 260
    kept = skipping.prune_files(stats, {"k": (lo, hi)})
    assert 0 < len(kept) < 8  # genuinely skipped most files

    got = skipping.pruned_read(spark, stats, {"k": (lo, hi)})
    # only the surviving files are in the scan
    assert set(got.inputFiles()) <= set(kept)
    exp = {
        (r.k, r.v)
        for r in wh.read("t").filter(F.col("k").between(lo, hi)).collect()
    }
    assert {(r.k, r.v) for r in got.collect()} == exp


def test_unclustered_layout_prunes_nothing(spark, wh):
    # round-robin layout: every file spans the whole key domain
    df = spark.range(1000).select(F.col("id").alias("k"))
    wh.overwrite(df.repartition(8), "u")
    skipping.refresh_file_stats(wh, "u", ["k"])
    stats = wh.read("u__stats")
    assert len(skipping.prune_files(stats, {"k": (100, 260)})) == 8
    # ...but results are still exact (pruning is only ever a superset)
    got = skipping.pruned_read(spark, stats, {"k": (100, 260)}).count()
    assert got == 161


def test_empty_survivor_set_returns_typed_empty(spark, wh):
    _clustered(spark, wh, name="e")
    skipping.refresh_file_stats(wh, "e", ["k"])
    stats = wh.read("e__stats")
    out = skipping.pruned_read(spark, stats, {"k": (10_000, 20_000)})
    assert out.count() == 0
    assert set(out.columns) == {"k", "v"}


def test_refresh_scans_only_new_files(spark, wh):
    _clustered(spark, wh, name="inc")
    assert skipping.refresh_file_stats(wh, "inc", ["k"]) == 8
    # append a new batch: exactly its files get scanned, old rows reused
    batch = spark.range(2000, 2100).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    wh.append(batch.coalesce(2), "inc")
    assert skipping.refresh_file_stats(wh, "inc", ["k"]) == 2
    stats = wh.read("inc__stats")
    assert stats.count() == 10
    # the refreshed index still matches a from-scratch rebuild
    rebuilt = skipping.collect_file_stats(
        spark, skipping._list_parquet_files(wh.path("inc")), ["k"]
    )
    assert {tuple(r) for r in stats.collect()} == {
        tuple(r) for r in rebuilt.collect()
    }
    # no-op refresh scans nothing
    assert skipping.refresh_file_stats(wh, "inc", ["k"]) == 0


def test_null_stats_kept_conservatively(spark, wh):
    df = spark.createDataFrame(
        [(1, "a"), (None, "b")], "k int, s string"
    )
    wh.overwrite(df.repartition(1), "n")
    skipping.refresh_file_stats(wh, "n", ["k"])
    stats = wh.read("n__stats")
    # file min/max over (1, null) is 1/1 — file survives a k range around 1
    assert len(skipping.prune_files(stats, {"k": (0, 5)})) == 1
    # the all-null file case: min/max are null -> conservatively kept
    wh.overwrite(
        spark.createDataFrame([(None, "x")], "k int, s string").repartition(1),
        "n2",
    )
    skipping.refresh_file_stats(wh, "n2", ["k"])
    assert len(skipping.prune_files(wh.read("n2__stats"), {"k": (0, 5)})) == 1


def test_stats_only_agg_exact_and_touches_no_data_files(spark, wh):
    """count/min/max answered from the stats table alone: values equal the
    direct aggregates, and the plan's input files are ONLY the __stats
    parquet — zero data files opened (the metadata-only query path)."""
    _clustered(spark, wh)
    skipping.refresh_file_stats(wh, "t", ["k", "v"])
    out = skipping.stats_only_agg(wh, "t", ["k", "v"])
    assert all("t__stats" in f for f in out.inputFiles())
    row = out.collect()[0]
    direct = wh.read("t").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("k").alias("mnk"), F.max("k").alias("mxk"),
        F.min("v").alias("mnv"), F.max("v").alias("mxv"),
    ).collect()[0]
    assert (row.n_rows, row.min_k, row.max_k, row.min_v, row.max_v) == (
        direct.n, direct.mnk, direct.mxk, direct.mnv, direct.mxv
    )


def test_stats_only_agg_reflects_appends_after_refresh(spark, wh):
    """The freshness invariant round-trips: append → incremental refresh →
    the metadata answer includes the new rows."""
    _clustered(spark, wh, n=100, parts=2)
    skipping.refresh_file_stats(wh, "t", ["k"])
    extra = spark.range(100, 150).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    wh.append(extra.coalesce(1), "t")
    assert skipping.refresh_file_stats(wh, "t", ["k"]) == 1  # only the new file
    row = skipping.stats_only_agg(wh, "t", ["k"]).collect()[0]
    assert row.n_rows == 150 and row.max_k == 149


def test_hybrid_range_count_scans_only_boundary_files(spark, wh):
    """Interior files are answered from the manifest: the scanned file set
    excludes every file fully contained in the range, and the count equals
    the direct filtered count."""
    _clustered(spark, wh)  # 1000 rows over 8 range-clustered files
    skipping.refresh_file_stats(wh, "t", ["k"])
    stats = wh.read("t__stats")
    lo, hi = 100, 800
    mn, mx = F.col("min_k"), F.col("max_k")
    contained = {
        r["file"] for r in stats.filter((mn >= lo) & (mx <= hi)).collect()
    }
    assert contained  # the layout really has interior files
    out = skipping.hybrid_range_count(spark, stats, "k", lo, hi)
    assert not (set(out.inputFiles()) & contained)
    expect = wh.read("t").filter(F.col("k").between(lo, hi)).count()
    assert out.collect()[0].n_rows == expect


def test_hybrid_range_count_no_boundary_files(spark, wh):
    """A range covering the whole domain needs no scan at all — the answer
    comes entirely from the manifest."""
    _clustered(spark, wh, n=200, parts=4)
    skipping.refresh_file_stats(wh, "t", ["k"])
    stats = wh.read("t__stats")
    out = skipping.hybrid_range_count(spark, stats, "k", -1, 10_000)
    assert all("t__stats" in f for f in out.inputFiles())
    assert out.collect()[0].n_rows == 200


def test_hybrid_range_count_exact_on_nullable_column(spark, wh):
    """A file whose non-null values all sit inside [lo, hi] but which also
    carries NULL rows reads as "contained" by min/max alone — the count
    must use n_nonnull, not n_rows, or nulls are silently overcounted."""
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (None, "c"), (None, "d"), (50, "e")],
        "k int, s string",
    )
    # file 0: {1, 2, null, null} (contained in [0, 10]); file 1: {50}
    wh.overwrite(
        df.repartitionByRange(2, F.col("k").asc_nulls_first()), "nn"
    )
    skipping.refresh_file_stats(wh, "nn", ["k"])
    stats = wh.read("nn__stats")
    out = skipping.hybrid_range_count(spark, stats, "k", 0, 10)
    assert out.collect()[0].n_rows == 2  # not 4: nulls never match


def test_hybrid_range_count_stale_stats_rows_fall_back_to_scan(spark, wh):
    """Stats rows written before n_nonnull existed (NULL there) are routed
    to the scan set — conservative, still exact."""
    df = spark.createDataFrame(
        [(1, "a"), (None, "b"), (7, "c")], "k int, s string"
    )
    wh.overwrite(df.repartition(1), "old")
    skipping.refresh_file_stats(wh, "old", ["k"])
    stale = wh.read("old__stats").withColumn(
        "n_nonnull_k", F.lit(None).cast("long")
    )
    out = skipping.hybrid_range_count(spark, stale, "k", 0, 10)
    assert out.collect()[0].n_rows == 2
    # the data file really was opened (no metadata shortcut on stale rows)
    assert any("old" in f and "__stats" not in f for f in out.inputFiles())


def test_stats_schema_evolution_on_refresh(spark, wh):
    """A pre-n_nonnull stats table evolves in place on the next refresh:
    old rows keep NULL for the new stat, new files carry real counts."""
    _clustered(spark, wh, n=100, parts=2, name="ev")
    skipping.refresh_file_stats(wh, "ev", ["k"])
    # simulate a legacy manifest missing the n_nonnull_k column
    legacy = wh.read("ev__stats").drop("n_nonnull_k")
    wh.overwrite(legacy, "ev__stats")
    batch = spark.range(200, 250).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    wh.append(batch.coalesce(1), "ev")
    assert skipping.refresh_file_stats(wh, "ev", ["k"]) == 1
    stats = wh.read("ev__stats")
    assert "n_nonnull_k" in stats.columns
    assert stats.filter(F.col("n_nonnull_k").isNull()).count() == 2
    # hybrid count stays exact across the mixed-schema manifest
    out = skipping.hybrid_range_count(spark, stats, "k", 0, 1_000)
    assert out.collect()[0].n_rows == 150


def test_stats_invalidated_by_overwrite_and_merge(spark, wh):
    """Rewrites must not leave dead stats: after an overwrite (or a MERGE,
    which rewrites files), refresh drops every old file's row — no pruned
    read can use stale min/max from files that no longer exist."""
    _clustered(spark, wh, n=400, parts=4, name="rw")
    skipping.refresh_file_stats(wh, "rw", ["k"])
    old_files = {r["file"] for r in wh.read("rw__stats").select("file").collect()}

    # full overwrite with a SHIFTED key domain (old stats would claim
    # 0..399; truth is 1000..1399)
    shifted = spark.range(1000, 1400).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    wh.overwrite(shifted.repartitionByRange(4, "k"), "rw")
    skipping.refresh_file_stats(wh, "rw", ["k"])
    stats = wh.read("rw__stats")
    new_files = {r["file"] for r in stats.select("file").collect()}
    assert not (new_files & old_files)  # every stale row dropped
    # a query on the OLD range prunes everything (correct: no such rows)
    assert skipping.prune_files(stats, {"k": (0, 399)}) == []
    assert skipping.pruned_read(spark, stats, {"k": (0, 399)}).count() == 0
    # and the new range answers exactly
    got = skipping.hybrid_range_count(spark, stats, "k", 1000, 1099)
    assert got.collect()[0].n_rows == 100

    # MERGE rewrites files too — same invalidation contract
    upd = spark.createDataFrame([(1000, 99), (5000, 1)], "k long, v long")
    wh.merge(upd, "rw", ["k"])
    skipping.refresh_file_stats(wh, "rw", ["k"])
    stats2 = wh.read("rw__stats")
    files2 = {r["file"] for r in stats2.select("file").collect()}
    assert not (files2 & new_files)  # merge replaced the file set
    row = skipping.stats_only_agg(wh, "rw", ["k"]).collect()[0]
    assert (row.n_rows, row.max_k) == (401, 5000)


# -- Bloom file-skipping sidecar -------------------------------------------


def _unclustered(spark, wh, n=2000, parts=8, name="b"):
    """Every file spans the full key domain — min/max skipping is
    useless here by construction (the bloom sidecar's home turf)."""
    df = spark.range(n).select(
        F.col("id").alias("k"),
        (F.col("id") % 13).alias("grp"),
        F.concat(F.lit("p"), (F.col("id") % 5).cast("string")).alias("tag"),
    )
    # round-robin: every file is non-empty and spans the full key domain
    wh.overwrite(df.repartition(parts), name)
    return df


def test_bloom_hash_parity_python_vs_spark(spark):
    """The driver-side position computation must reproduce the Spark
    expressions bit-for-bit — otherwise the probe consults the wrong
    words and silently skips live files."""
    from global_seismic_data_pipeline_spark.operators import bloom as _bloom

    m_log2, k, col = 14, 4, "k"
    vals = [0, 1, 42, 99999, -7, "abc"]
    df = spark.createDataFrame([(str(v),) for v in vals], "k string")
    h1, h2 = _bloom._h12(F.col("k"), f"fskip|{col}")
    m = 1 << m_log2
    rows = df.select(
        "k", *[((h1 + F.lit(i) * h2) % F.lit(m)).alias(f"p{i}") for i in range(k)]
    ).collect()
    spark_pos = {r["k"]: [r[f"p{i}"] for i in range(k)] for r in rows}
    for v in vals:
        assert (
            skipping._bloom_positions_py(v, m_log2, k, col) == spark_pos[str(v)]
        ), v


def test_bloom_point_lookup_skips_files_and_never_drops_rows(spark, wh):
    """On an unclustered high-cardinality key: min/max prunes nothing,
    the bloom sidecar prunes most files, and the lookup result equals the
    full-scan filter exactly (present key, absent key, string key)."""
    df = _unclustered(spark, wh)
    # min/max stats: every file spans [*, *] → zero range pruning
    skipping.refresh_file_stats(wh, "b", ["k"])
    assert len(skipping.prune_files(wh.read("b__stats"), {"k": (777, 777)})) == 8

    assert skipping.refresh_file_blooms(wh, "b", "k", m_log2=14, k=4) == 8
    side = wh.read(skipping._bloom_table("b", "k"))
    indexed, may = skipping.bloom_prune_files(side, "k", 777)
    assert len(indexed) == 8
    assert len(may) < 8          # real pruning (p_fp ~ (1-e^-n/m)^k << 1)
    assert len(may) >= 1         # the true file always survives

    got = skipping.point_lookup_read(wh, "b", "k", 777).collect()
    assert [(r.k, r.grp) for r in got] == [(777, 777 % 13)]
    # absent key: usually zero files survive; rows NEVER appear
    assert skipping.point_lookup_read(wh, "b", "k", 10**9).count() == 0
    # no sidecar for another column → conservative full read, same rows
    assert skipping.point_lookup_read(wh, "b", "grp", 5).count() == df.filter(
        F.col("grp") == 5
    ).count()


def test_bloom_sidecar_incremental_refresh_and_geometry_guard(spark, wh):
    _unclustered(spark, wh, n=1000, parts=4)
    assert skipping.refresh_file_blooms(wh, "b", "k", m_log2=13, k=3) == 4
    # append a new file: only IT is scanned; lookups see its keys
    extra = spark.createDataFrame(
        [(50_000, 1, "pX")], "k long, grp long, tag string"
    )
    wh.append(extra.coalesce(1), "b")
    assert skipping.refresh_file_blooms(wh, "b", "k", m_log2=13, k=3) == 1
    got = skipping.point_lookup_read(wh, "b", "k", 50_000).collect()
    assert [(r.k, r.tag) for r in got] == [(50_000, "pX")]
    # differing geometry cannot merge — refuse loudly
    with pytest.raises(ValueError, match="cannot merge"):
        skipping.refresh_file_blooms(wh, "b", "k", m_log2=14, k=3)
