"""Spans around the program's public calls, recorded from outside.

``Tracer.install`` wraps the public functions of each layer (module
attributes and class methods, restored by ``uninstall``); every call becomes
a span with a name, start, end and parent. Spans stay in memory and are
written out when the run ends. Each span runs under its own Spark job group,
so ``resolve_jobs`` can count the jobs a span launched itself; a span's
total adds its children's.

``layer_metrics`` turns the spans of one pipeline run or page load into the
per-layer metrics listed in ``PER_LAYER``.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from global_seismic_data_pipeline_spark.pipeline import (
    bronze, dashboard, gold, maintenance, reports, runner, silver,
)
from global_seismic_data_pipeline_spark.sources.warehouse import Warehouse
from global_seismic_data_pipeline_spark.state import WatermarkStore

from checks import GOLD_TABLES, REPORTS

TASKS = ("ingestion", "bronze_processing", "silver_transformation",
         "gold_aggregation", "optimization", "dashboard")
WRITES = ("append", "overwrite", "merge")

# name → unit of every per-layer metric, in BENCHMARK.json order
PER_LAYER = {
    "session.start_s": "s",
    **{f"runner.{t}.s": "s" for t in TASKS},
    **{f"runner.{t}.jobs": "count" for t in TASKS},
    "runner.self_s": "s",
    "geojson.read_s": "s", "geojson.rows": "count",
    "state.calls": "count", "state.s": "s", "state.jobs": "count",
    "bronze.ingest_s": "s", "bronze.quality_s": "s", "bronze.dedup_s": "s",
    "bronze.dedup_useful_ratio": "ratio",
    "silver.s": "s", "silver.jobs": "count", "silver.merge_useful_ratio": "ratio",
    **{f"gold.{t}.s": "s" for t in GOLD_TABLES},
    "gold.jobs": "count",
    "maintenance.s": "s", "maintenance.jobs": "count",
    "maintenance.bytes_rewritten": "bytes", "maintenance.useful_ratio": "ratio",
    "warehouse.write_calls": "count", "warehouse.files_written": "count",
    "warehouse.bytes_written": "bytes", "warehouse.write_s": "s",
    "warehouse.register_views_s": "s",
    **{f"reports.{r}.ms": "ms" for r in REPORTS},
    "reports.jobs": "count",
    "dashboard.self_ms": "ms",
    "trace.op_p50_ms": "ms",
}


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    group: str = ""
    jobs: int | None = None  # launched under this span's own job group
    attrs: dict = field(default_factory=dict)

    @property
    def s(self) -> float:
        return self.end - self.start


def fs_bytes_written(jvm) -> int:
    """Bytes written through Hadoop's local file system since JVM start:
    every warehouse data, checksum and marker file, and nothing else."""
    return sum(s.getBytesWritten() for s in jvm.org.apache.hadoop.fs.FileSystem.getAllStatistics()
               if s.getScheme() == "file")


def _data_files(path: str) -> set[str]:
    return {os.path.join(r, f) for r, _d, fs in os.walk(path) for f in fs
            if f.endswith(".parquet")}


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jvm = spark._jvm
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()
        self._undo: list[tuple[object, str, object]] = []

    # -- spans ----------------------------------------------------------------
    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(next(self._ids), name, parent.id if parent else None, time.perf_counter(),
                 attrs=attrs)
        s.group = f"perfbench-{os.getpid()}-{s.id}"
        self._stack.append(s)
        self.sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                for key in ("spark.jobGroup.id", "spark.job.description",
                            "spark.job.interruptOnCancel"):
                    self.sc.setLocalProperty(key, None)
            self.spans.append(s)

    def resolve_jobs(self) -> None:
        """Count each finished span's jobs. The status store learns of jobs
        from an asynchronous listener bus, so drain it first."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        for s in self.spans:
            if s.jobs is None:
                s.jobs = len(tracker.getJobIdsForGroup(s.group))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)

    # -- wrapping -------------------------------------------------------------
    def _patch(self, owner, attr: str, make) -> None:
        orig = getattr(owner, attr)
        self._undo.append((owner, attr, orig))
        setattr(owner, attr, functools.wraps(orig)(make(orig)))

    def _wrap(self, owner, attr: str, name: str, after=None) -> None:
        def make(orig):
            def wrapper(*a, **kw):
                with self.span(name) as s:
                    out = orig(*a, **kw)
                    if after is not None:
                        after(s, out)
                    return out
            return wrapper
        self._patch(owner, attr, make)

    def _wrap_write(self, method: str) -> None:
        def make(orig):
            def wrapper(wh, df, name, *a, **kw):
                outer = not any(s.name.startswith("warehouse.") and s.name[10:] in WRITES
                                for s in self._stack)
                before = _data_files(wh.path(name)) if outer else set()
                b0 = fs_bytes_written(self.jvm) if outer else 0
                with self.span(f"warehouse.{method}", table=name, outer=outer) as s:
                    orig(wh, df, name, *a, **kw)
                if outer:
                    s.attrs["bytes"] = fs_bytes_written(self.jvm) - b0
                    s.attrs["files"] = len(_data_files(wh.path(name)) - before)
            return wrapper
        self._patch(Warehouse, method, make)

    def _timed_reports(self, _s, dfs) -> None:
        for name, df in dfs.items():
            def count(orig=df.count, name=name):
                with self.span(f"reports.{name}"):
                    return orig()
            df.count = count

    def install(self) -> None:
        def rows(s, out):
            s.attrs["rows"] = out

        def optimized(s, out):
            s.attrs["bytes"] = sum(r["bytes"] for r in out.values())
            s.attrs["rewritten"] = len(out)
            s.attrs["shrunk"] = sum(r["files_after"] < r["files_before"] for r in out.values())

        self._wrap(runner, "read_geojson", "geojson.read")
        self._wrap(bronze, "ingest_batch", "bronze.ingest", rows)
        self._wrap(bronze, "quality_report", "bronze.quality")
        self._wrap(bronze, "dedup_rewrite", "bronze.dedup", rows)
        self._wrap(silver, "run_silver", "silver.run", rows)
        self._wrap(gold, "run_gold", "gold.run")
        self._wrap(maintenance, "optimize_all", "maintenance.optimize_all", optimized)
        self._wrap(reports, "run_all", "reports.run_all", self._timed_reports)
        self._wrap(dashboard, "render_dashboard", "dashboard.page")
        for m in ("get", "init", "advance"):
            self._wrap(WatermarkStore, m, f"state.{m}")
        for m in WRITES:
            self._wrap_write(m)
        self._wrap(Warehouse, "register_views", "warehouse.register_views")

        def render_table(orig):
            def wrapper(df, title, **kw):
                with self.span(f"reports.{title}"):
                    return orig(df, title, **kw)
            return wrapper
        self._patch(dashboard, "render_table", render_table)

    def wrap_tasks(self, pipeline) -> None:
        """One span per task of a built pipeline."""
        for task in pipeline.tasks:
            def fn(orig=task.fn, name=f"runner.{task.name}"):
                with self.span(name):
                    return orig()
            task.fn = fn

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)


# -- per-layer metrics ---------------------------------------------------------


def _tree(spans: list[Span], root: Span):
    kids: dict[int, list[Span]] = {}
    for s in spans:
        kids.setdefault(s.parent, []).append(s)
    under: list[Span] = []
    todo = [root]
    while todo:
        s = todo.pop()
        under.append(s)
        todo += kids.get(s.id, [])
    total: dict[int, int] = {}

    def jobs(s: Span) -> int:
        if s.id not in total:
            total[s.id] = (s.jobs or 0) + sum(jobs(k) for k in kids.get(s.id, []))
        return total[s.id]
    return under, kids, jobs


def root_metrics(spans: list[Span], root: Span) -> dict[str, float]:
    """Per-layer metrics of the spans under one root (a pipeline run or a
    page load). A metric whose layer the root never entered is absent."""
    under, kids, jobs = _tree(spans, root)
    named: dict[str, list[Span]] = {}
    for s in under:
        named.setdefault(s.name, []).append(s)
    out: dict[str, float] = {}

    def put(metric, names, fn):
        picked = [s for n in names for s in named.get(n, [])]
        if picked:
            out[metric] = fn(picked)

    secs = lambda ss: sum(s.s for s in ss)  # noqa: E731
    total_jobs = lambda ss: sum(jobs(s) for s in ss)  # noqa: E731
    for t in TASKS:
        put(f"runner.{t}.s", [f"runner.{t}"], secs)
        put(f"runner.{t}.jobs", [f"runner.{t}"], total_jobs)
    tasks = [s for t in TASKS for s in named.get(f"runner.{t}", [])]
    if tasks:
        out["runner.self_s"] = root.s - secs(tasks)
    put("geojson.read_s", ["geojson.read"], secs)
    if "geojson.read" in named:
        put("geojson.rows", ["bronze.ingest"], lambda ss: sum(s.attrs["rows"] for s in ss))
    state = [f"state.{m}" for m in ("get", "init", "advance")]
    put("state.calls", state, len)
    put("state.s", state, secs)
    put("state.jobs", state, total_jobs)
    put("bronze.ingest_s", ["bronze.ingest"], secs)
    put("bronze.quality_s", ["bronze.quality"], secs)
    put("bronze.dedup_s", ["bronze.dedup"], secs)
    if "bronze.ingest" in named and "bronze.dedup" in named:
        out["bronze.dedup_useful_ratio"] = (
            sum(s.attrs["rows"] for s in named["bronze.ingest"])
            / max(1, sum(s.attrs["rows"] for s in named["bronze.dedup"])))
    put("silver.s", ["silver.run"], secs)
    put("silver.jobs", ["silver.run"], total_jobs)
    if "silver.run" in named and "silver_rows" in root.attrs:
        out["silver.merge_useful_ratio"] = (
            sum(s.attrs["rows"] for s in named["silver.run"]) / max(1, root.attrs["silver_rows"]))
    for g in named.get("gold.run", []):
        g_under, _k, _j = _tree(spans, g)
        for t in GOLD_TABLES:
            hit = [s for s in g_under if s.name == "warehouse.overwrite" and s.attrs["table"] == t]
            if hit:
                out[f"gold.{t}.s"] = out.get(f"gold.{t}.s", 0.0) + secs(hit)
    put("gold.jobs", ["gold.run"], total_jobs)
    put("maintenance.s", ["maintenance.optimize_all"], secs)
    put("maintenance.jobs", ["maintenance.optimize_all"], total_jobs)
    put("maintenance.bytes_rewritten", ["maintenance.optimize_all"],
        lambda ss: sum(s.attrs["bytes"] for s in ss))
    put("maintenance.useful_ratio", ["maintenance.optimize_all"],
        lambda ss: sum(s.attrs["shrunk"] for s in ss) / max(1, sum(s.attrs["rewritten"] for s in ss)))
    writes = [s for m in WRITES for s in named.get(f"warehouse.{m}", []) if s.attrs["outer"]]
    if writes:
        out["warehouse.write_calls"] = len(writes)
        out["warehouse.files_written"] = sum(s.attrs["files"] for s in writes)
        out["warehouse.bytes_written"] = sum(s.attrs["bytes"] for s in writes)
        out["warehouse.write_s"] = secs(writes)
    put("warehouse.register_views_s", ["warehouse.register_views"], secs)
    for r in REPORTS:
        put(f"reports.{r}.ms", [f"reports.{r}"], lambda ss: 1000 * secs(ss))
    put("reports.jobs", ["reports.run_all", *[f"reports.{r}" for r in REPORTS]], total_jobs)
    pages = named.get("dashboard.page", []) or named.get("runner.dashboard", [])
    if pages:
        out["dashboard.self_ms"] = 1000 * sum(
            p.s - sum(k.s for k in kids.get(p.id, [])) for p in pages)
    return out


def layer_metrics(spans: list[Span], ops: list[Span], setup: list[Span]) -> tuple[dict, list[str]]:
    """Mean per-layer metrics over the measured ops. A layer the ops never
    enter (the write layers on a read-only workload) is taken from the
    set-up's pipeline run instead; the second value names those metrics."""
    per_op = [root_metrics(spans, r) for r in ops]
    from_setup = [root_metrics(spans, r) for r in setup]
    out, fallback = {}, []
    for name in PER_LAYER:
        vals = [m[name] for m in per_op if name in m]
        if not vals:
            vals = [m[name] for m in from_setup if name in m]
            if vals:
                fallback.append(name)
        if vals:
            out[name] = statistics.fmean(vals)
    out["trace.op_p50_ms"] = 1000 * statistics.median(r.s for r in ops)
    return out, fallback
