"""Scalable global rank: exact equivalence with the single-partition
window forms, across partitions, batch boundaries, and tie runs."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from global_seismic_data_pipeline_spark.operators import ranking


def _data(spark, n=500, n_keys=40, seed=13):
    rng = random.Random(seed)
    rows = [(i, rng.randrange(n_keys), rng.randrange(5)) for i in range(n)]
    return spark.createDataFrame(rows, "row_id long, k long, k2 long")


@pytest.mark.parametrize("method", ["dense_rank", "rank"])
def test_matches_window_form_single_key(spark, method):
    df = _data(spark)
    got = ranking.ranked(df, ["k"], method=method, num_partitions=8)
    fn = F.dense_rank() if method == "dense_rank" else F.rank()
    exp = df.withColumn("rank", fn.over(Window.orderBy("k")).cast("long"))
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in exp.collect()}


@pytest.mark.parametrize("method", ["dense_rank", "rank"])
def test_matches_window_form_multi_key_desc(spark, method):
    df = _data(spark, n=300)
    got = ranking.ranked(
        df, ["k", "k2"], method=method, ascending=False, num_partitions=6
    )
    fn = F.dense_rank() if method == "dense_rank" else F.rank()
    exp = df.withColumn(
        "rank",
        fn.over(Window.orderBy(F.col("k").desc(), F.col("k2").desc())).cast("long"),
    )
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in exp.collect()}


def test_dense_rank_null_keys_kept_and_ranked(spark):
    """NULL order keys must NOT be dropped by the distinct-first
    join-back (a plain inner equi-join would lose them). They rank where
    a window dense_rank puts them: NULLS FIRST ascending."""
    rows = [(0, None), (1, 5), (2, None), (3, 2), (4, 5)]
    df = spark.createDataFrame(rows, "row_id long, k long")
    got = ranking.ranked(df, ["k"], method="dense_rank", num_partitions=4)
    assert got.count() == 5  # nothing silently dropped
    exp = df.withColumn(
        "rank", F.dense_rank().over(Window.orderBy("k")).cast("long")
    )
    assert {tuple(r) for r in got.collect()} == {
        tuple(r) for r in exp.collect()
    }


def test_tie_runs_across_arrow_batches(spark):
    """Long runs of equal keys + a tiny Arrow batch size force key runs to
    straddle batch boundaries inside a partition — the carry state must
    keep the rank constant through the run."""
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        rows = [(i, i // 50) for i in range(300)]  # 6 keys x 50-row runs
        df = spark.createDataFrame(rows, "row_id long, k long")
        for method, exp_fn in (("dense_rank", F.dense_rank), ("rank", F.rank)):
            got = ranking.ranked(df, ["k"], method=method, num_partitions=4)
            exp = df.withColumn(
                "rank", exp_fn().over(Window.orderBy("k")).cast("long")
            )
            assert {tuple(r) for r in got.collect()} == {
                tuple(r) for r in exp.collect()
            }
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_no_window_node_and_parallel_partitions(spark):
    df = _data(spark, n=2000, n_keys=500)
    got = ranking.ranked(df, ["k"], num_partitions=8)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan  # the whole point of the operator
    assert "MapInPandas" in plan
    n_parts = got.select(F.spark_partition_id().alias("p")).distinct().count()
    assert n_parts > 1  # genuinely parallel, not one collapsed task


def test_dense_rank_hot_key_distribution(spark):
    """90%-one-key distribution: dense_rank's distinct-first shape ranks
    the key SET (uniform) instead of the row multiset (massively skewed),
    so the hot key cannot collapse the range partitioner; results still
    match the window form exactly."""
    rows = [(i, 7 if i % 10 else i, 0) for i in range(2000)]
    df = spark.createDataFrame(rows, "row_id long, k long, k2 long")
    got = ranking.ranked(df, ["k"], method="dense_rank", num_partitions=8)
    exp = df.withColumn(
        "rank", F.dense_rank().over(Window.orderBy("k")).cast("long")
    )
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in exp.collect()}
    # the shape is genuinely distinct-first: an aggregate (distinct) and a
    # join-back appear in the plan; no Window node anywhere
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "HashAggregate" in plan  # the distinct
    import re

    assert re.search(r"BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin", plan)


def test_rejects_bad_method(spark):
    df = _data(spark, n=10)
    with pytest.raises(ValueError):
        ranking.ranked(df, ["k"], method="ntile")


def test_mann_whitney_identity_and_reference(spark):
    """2U_a + 2U_b == 2·n_a·n_b, and the doubled-U values match a scipy-
    free python reference with midrank tie handling."""
    from global_seismic_data_pipeline_spark.operators import ranking

    vals_a = [3, 5, 5, 9, 12]
    vals_b = [1, 5, 7, 7]
    rows = [("a", v) for v in vals_a] + [("b", v) for v in vals_b]
    df = spark.createDataFrame(rows, "grp string, v long")
    r = ranking.ranked(df, ["v"], method="rank", out_col="rk")
    cnts = df.groupBy("v").agg(F.count(F.lit(1)).alias("cnt"))
    out = {
        row["grp"]: (row["n"], row["u2"])
        for row in (
            r.join(cnts, "v")
            .groupBy("grp")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("rk") * 2 + F.col("cnt") - 1).alias("r2"),
            )
            .withColumn("u2", F.col("r2") - F.col("n") * (F.col("n") + 1))
            .collect()
        )
    }
    # python reference: midranks over the pooled sample
    pooled = sorted(vals_a + vals_b)
    def midrank2(v):
        first = pooled.index(v) + 1
        cnt = pooled.count(v)
        return 2 * first + cnt - 1
    r2a = sum(midrank2(v) for v in vals_a)
    na, nb = len(vals_a), len(vals_b)
    assert out["a"] == (na, r2a - na * (na + 1))
    assert out["a"][1] + out["b"][1] == 2 * na * nb


def test_prefix_sums_equal_single_partition_window(spark):
    """Running totals from the range-partitioned pass == the degenerate
    global window, including carries across partition boundaries and
    multiple sum columns."""
    from pyspark.sql import Window

    from global_seismic_data_pipeline_spark.operators import ranking

    df = spark.range(5000).select(
        ((F.col("id") * 2654435761) % 100000).alias("k"),
        F.col("id").alias("tie"),
        (F.col("id") % 7).alias("x"),
        (F.col("id") % 3 - 1).alias("y"),  # negative values too
    )
    got = ranking.prefix_sums(df, ["k", "tie"], ["x", "y"], num_partitions=16)
    w = Window.orderBy("k", "tie").rowsBetween(Window.unboundedPreceding, 0)
    want = df.withColumn("x_cum", F.sum("x").over(w)).withColumn(
        "y_cum", F.sum("y").over(w)
    )
    g = {(r.k, r.tie): (r.x_cum, r.y_cum) for r in got.collect()}
    e = {(r.k, r.tie): (r.x_cum, r.y_cum) for r in want.collect()}
    assert g == e


def test_prefix_sums_descending_and_validation(spark):
    from pyspark.sql import Window

    from global_seismic_data_pipeline_spark.operators import ranking

    df = spark.range(200).select(F.col("id").alias("k"), F.lit(1).alias("one"))
    got = {
        r.k: r.one_cum
        for r in ranking.prefix_sums(
            df, ["k"], ["one"], ascending=False, num_partitions=4
        ).collect()
    }
    # descending: k=199 is first → cum 1; k=0 last → cum 200
    assert got[199] == 1 and got[0] == 200
    import pytest as _pytest

    with _pytest.raises(ValueError, match="integral"):
        ranking.prefix_sums(
            df.withColumn("f", F.lit(1.5)), ["k"], ["f"]
        )
