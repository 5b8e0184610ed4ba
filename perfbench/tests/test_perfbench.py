"""Self-tests of the benchmark. Run from the root of a checkout:

    python3 -m pytest perfbench/tests -q

The Spark tests run the real workloads at a smaller history (30 days) so
they finish in a few minutes.
"""

from __future__ import annotations

import glob
import json
import os
import sys

import duckdb
import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [os.path.dirname(BENCH), BENCH]

import gen  # noqa: E402
import run  # noqa: E402


def _dump(days):
    return json.dumps([d.features for d in days], sort_keys=True)


def test_generator_is_deterministic_for_a_seed():
    a, b, c = gen.generate(5, 40, 30), gen.generate(5, 40, 30), gen.generate(6, 40, 30)
    assert _dump(a) == _dump(b)
    assert _dump(a) != _dump(c)
    ea, eb = gen.silver_after([a[:39], a[39:]]), gen.silver_after([b[:39], b[39:]])
    assert (ea.silver_count, ea.increment, ea.watermark_ms) == (
        eb.silver_count, eb.increment, eb.watermark_ms)


def test_generator_has_the_documented_mix():
    days = gen.generate(11, 200, 40)
    first = [e for d in days for e in d.events[:d.new]]
    assert len({e.event_id for e in first}) == len(first)
    assert sum(len(d.events) - d.new for d in days) > 0.03 * len(first)  # revisions
    boxed = sum(gen.region_of(e.lon, e.lat) != "OTHER" for e in first) / len(first)
    assert 0.75 < boxed < 0.95
    assert any(e.mag is None for e in first) and any(e.depth is None for e in first)
    assert any(not e.valid for e in first)
    # revisions and late events that arrive after the history batch are
    # behind the silver watermark and never reach silver
    exp = gen.silver_after([days[:199], days[199:]])
    late = [e for e in days[199].events if e.time_ms <= gen.silver_after([days[:199]]).watermark_ms]
    assert late and all(exp.merged_in.get(e.event_id) != 1 for e in late)


@pytest.fixture
def small(monkeypatch, tmp_path):
    """The real workloads over 30 days of history, in a temporary directory."""
    monkeypatch.setattr(run, "HISTORY_DAYS", 30)
    monkeypatch.setattr(run, "PER_DAY", 10)
    monkeypatch.chdir(os.path.dirname(BENCH))

    def bench(workload, traced=False):
        b = run.Bench(workload, 3, 0, traced, str(tmp_path / f"{workload}-{traced}"))
        try:
            return b.run()
        finally:
            b.stop_spark()
    return bench


def _corrupt_kpi(root):
    """Add one to the KPI row's event total, in place."""
    table = os.path.join(root, "gold_kpi_summary")
    old = glob.glob(os.path.join(table, "*.parquet"))
    tmp = os.path.join(root, "kpi.parquet")
    duckdb.sql(f"COPY (SELECT * REPLACE (total_earthquakes + 1 AS total_earthquakes) "
               f"FROM read_parquet('{table}/*.parquet')) TO '{tmp}' (FORMAT parquet)")
    for f in old:
        os.remove(f)
    os.rename(tmp, os.path.join(table, "part-0.parquet"))


def test_corrupted_gold_row_is_a_failed_op(small, monkeypatch):
    ran = run.Bench.pipeline_run

    def pipeline_run(bench, root, path, clock):
        out = ran(bench, root, path, clock)
        if root != bench.setup_root:
            _corrupt_kpi(root)
        return out
    monkeypatch.setattr(run.Bench, "pipeline_run", pipeline_run)
    result = small("daily_incremental")
    assert result["attempted"] == 1 and result["failed"] == 1
    assert not result["correct"]


def test_span_job_counts_repeat_across_traced_runs(small):
    first, second = small("daily_incremental", True), small("daily_incremental", True)
    jobs = [{k: m["value"] for k, m in r["metrics"].items() if k.endswith(".jobs")}
            for r in (first, second)]
    assert jobs[0] and jobs[0] == jobs[1]
    assert first["correct"] and second["correct"]
