#!/usr/bin/env python3
"""Seismic-pipeline benchmark.

    python3 perfbench/run.py --workload daily_incremental --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. Each invocation runs one workload in its
own process and Spark session, driven by a single client in a closed loop
(the next op starts when the previous one returns), and prints one JSON
object as its last line. ``--workload all`` runs every workload, each in a
child process, and prints every metric by name with its unit.

Workloads (see README.md for why each exists and what each metric means):

- ``daily_incremental``: one op is ``build_pipeline(...).run()`` over the
  next day's GeoJSON file on top of a year of history, with a fixed clock.
  The warehouse snapshot is restored, untimed, before every op, so every op
  does the same work.
- ``dashboard_reads``: one op is one full page load, ``render_dashboard``,
  on the warehouse a pipeline run over that year of history left behind.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` wraps each
layer's public calls in spans and reports the per-layer metrics instead.
Outputs are checked outside the timed region: every op, and once per run in
full against DuckDB.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from contextlib import nullcontext
from datetime import datetime

import checks
import gen

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("daily_incremental", "dashboard_reads")
E2E = {"setup_s": "s", "op_p50_ms": "ms", "ops_per_s": "1/s", "rows_per_s": "1/s",
       "write_amp": "x", "peak_rss_mb": "MB", "ok_frac": "frac"}

HISTORY_DAYS = 365  # one year of history, written as monthly files
PER_DAY = 40  # new events per day; the op's file is the following day
SETUP_CLOCK = datetime(2024, 12, 31, 0, 30)  # the morning after the history
OP_CLOCK = datetime(2025, 1, 1, 0, 30)  # the morning after the op's day
PAGE_CLOCK = datetime(2025, 1, 1, 12, 0)
# Spark parallelism local[min(nproc, 2)]: on a 4-vCPU box the other two
# carry the driver, JIT and GC threads, and the ops (short jobs) run faster
MAX_CPUS = 2
SHUFFLE_PARTITIONS = 2
MIN_OPS = {"daily_incremental": 1, "dashboard_reads": 4}
WARMUP_OPS = {"daily_incremental": 1, "dashboard_reads": 1}  # run, checked, not timed


def _ms(dt: datetime) -> int:
    return int((dt - datetime(1970, 1, 1)).total_seconds() * 1000)


def _peak_rss_mb(pids) -> float:
    """Peak resident set (VmHWM) summed over the given processes."""
    kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            kb += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return kb / 1024


def _cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


class Bench:
    """One workload run: inputs, Spark session, set-up, ops, checks."""

    def __init__(self, workload: str, seed: int, seconds: float, traced: bool, work: str):
        self.workload, self.seed, self.seconds, self.traced = workload, seed, seconds, traced
        self.work = work
        self.notes: dict[str, object] = {}
        self.tracer = None

    # -- inputs -----------------------------------------------------------------
    def make_inputs(self) -> None:

        days = gen.generate(self.seed, HISTORY_DAYS + 1, PER_DAY)
        self.history, self.next_day = days[:HISTORY_DAYS], days[HISTORY_DAYS:]
        self.history_dir = os.path.join(self.work, "input", "history")
        self.op_dir = os.path.join(self.work, "input", "day")
        gen.write_files(self.history, self.history_dir, monthly=True)
        gen.write_files(self.next_day, self.op_dir)
        self.history_bytes = sum(os.path.getsize(os.path.join(self.history_dir, f))
                                 for f in os.listdir(self.history_dir))
        self.op_bytes = sum(os.path.getsize(os.path.join(self.op_dir, f))
                            for f in os.listdir(self.op_dir))
        self.history_events = sum(len(d.features) for d in self.history)
        self.op_events = sum(len(d.features) for d in self.next_day)

    # -- session ----------------------------------------------------------------
    def start_spark(self) -> float:
        """Start the session with everything it writes inside the work
        directory, parallelism pinned, and UTC as the local time zone (the
        checks compare timestamps Spark hands back as local times)."""
        cpus = min(MAX_CPUS, len(os.sched_getaffinity(0)))
        os.makedirs(os.path.join(self.work, "tmp"), exist_ok=True)
        os.environ.update(TZ="UTC", TMPDIR=os.path.join(self.work, "tmp"),
                          SPARK_DRIVER_MEMORY="1g", SPARK_GRAFT_CPUS=str(cpus),
                          SPARK_LOCAL_DIRS=os.path.join(self.work, "spark-local"),
                          PYSPARK_PYTHON=sys.executable)
        time.tzset()
        self.notes.update(spark_cpus=cpus, shuffle_partitions=SHUFFLE_PARTITIONS)
        t = time.perf_counter()
        from global_seismic_data_pipeline_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        self.spark = get_spark("perfbench", shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        })
        start_s = time.perf_counter() - t
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        return start_s

    def stop_spark(self) -> None:
        from pyspark import SparkContext

        spark = getattr(self, "spark", None)
        if spark is None:
            return
        spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None

    def fs_bytes(self) -> int:
        from spans import fs_bytes_written

        return fs_bytes_written(self.spark._jvm)

    # -- the program's public calls ------------------------------------------------
    def pipeline_run(self, root: str, path: str, clock: datetime):
        """One ``build_pipeline(...).run()``; returns (results, seconds, bytes)."""
        from global_seismic_data_pipeline_spark.pipeline import runner

        b0 = self.fs_bytes()
        t = time.perf_counter()
        p = runner.build_pipeline(self.spark, root, geojson_path=path, clock=clock)
        if self.tracer is not None:
            self.tracer.wrap_tasks(p)
        results = p.run()
        return results, time.perf_counter() - t, self.fs_bytes() - b0

    def page_load(self, wh) -> tuple[str, float]:
        from global_seismic_data_pipeline_spark.pipeline import dashboard

        t = time.perf_counter()
        page = dashboard.render_dashboard(wh, clock=PAGE_CLOCK)
        return page, time.perf_counter() - t

    def _root(self, name: str):
        """A root span around one pipeline run or page load when tracing."""
        return self.tracer.span(name) if self.tracer is not None else nullcontext()

    # -- run ------------------------------------------------------------------------
    def run(self) -> dict:

        t0, steal0 = time.perf_counter(), _cpu_times()
        self.make_inputs()
        self.notes["inputs_s"] = round(time.perf_counter() - t0, 2)
        session_s = self.start_spark()
        if self.traced:
            from spans import Tracer

            self.tracer = Tracer(self.spark)
            self.tracer.install()
        self.setup_root = os.path.join(self.work, "wh-setup")
        with self._root("setup") as setup_span:
            results, build_s, build_bytes = self.pipeline_run(
                self.setup_root, self.history_dir, SETUP_CLOCK)
        setup_s = session_s + build_s
        bad = [r for r in results if r.status != "SUCCESS"]
        if bad:
            raise RuntimeError(f"set-up pipeline run failed: {bad}")

        exp_setup = gen.silver_after([self.history])
        con = checks.connect(self.setup_root)
        self.setup_events, errs = checks.resolve(exp_setup, con)
        if setup_span is not None:
            setup_span.attrs["silver_rows"] = checks.silver_count(con)
        con.close()
        if errs:
            raise RuntimeError(f"set-up silver is wrong: {errs[:3]}")

        if self.workload == "daily_incremental":
            out = self.run_daily()
        else:
            out = self.run_dashboard(build_s, build_bytes)
        steal1 = _cpu_times()
        self.notes["wall_s"] = round(time.perf_counter() - t0, 2)
        self.notes["steal_share"] = round((steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]), 4)

        times, failed, run_errs, roots = out
        n = len(times)
        self.notes.update(ops=n, failed_ops=failed, op_ms=[round(1000 * t, 1) for t in times])
        if run_errs:
            self.notes["run_check_errors"] = run_errs[:10]
        if self.tracer is not None:
            from spans import PER_LAYER, layer_metrics

            self.tracer.resolve_jobs()
            self.tracer.uninstall()
            metrics, fallback = layer_metrics(self.tracer.spans, roots, [setup_span])
            metrics["session.start_s"] = session_s
            if fallback:
                self.notes["measured_on_setup_run"] = fallback
            self.tracer.dump(os.path.join(os.path.dirname(self.work),
                                          f"spans-{self.workload}-seed{self.seed}.json"))
            units = PER_LAYER
        else:
            metrics = {
                "setup_s": setup_s,
                "op_p50_ms": 1000 * statistics.median(times),
                "ops_per_s": n / sum(times),
                "peak_rss_mb": _peak_rss_mb([os.getpid(), self.jvm_pid]),
                "ok_frac": (n - failed) / n,
                **self.rates,
            }
            if n >= 100:  # p90 needs ten samples beyond it
                self.notes["op_p90_ms"] = round(1000 * statistics.quantiles(times, n=10)[-1], 1)
            units = E2E
        missing = [k for k in units if k not in metrics]
        if missing:
            raise RuntimeError(f"metrics not measured: {missing}")
        return {
            "correct": failed == 0 and not run_errs,
            "attempted": n,
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }

    def run_daily(self):
        exp = gen.silver_after([self.history, self.next_day])
        events = [e for e in self.setup_events if exp.merged_in.get(e.event_id) == 0]
        events += [e for eid, e in exp.fixed.items() if exp.merged_in[eid] == 1]
        kpi = gen.expected_kpi(events, OP_CLOCK)
        root = os.path.join(self.work, "wh")

        def op():
            shutil.rmtree(root, ignore_errors=True)
            shutil.copytree(self.setup_root, root)
            with self._root("op") as span:
                results, dt, nbytes = self.pipeline_run(root, self.op_dir, OP_CLOCK)
            con = checks.connect(root)
            errs = checks.op_errors(results, exp, kpi, con)
            if span is not None:
                span.attrs["silver_rows"] = checks.silver_count(con)
            con.close()
            return results, dt, nbytes, errs, span

        warm_errs = [e for _ in range(WARMUP_OPS[self.workload]) for e in op()[3]]
        times, byts, roots, failed = [], [], [], 0
        while sum(times) < self.seconds or len(times) < MIN_OPS[self.workload]:
            results, dt, nbytes, errs, span = op()
            times.append(dt)
            byts.append(nbytes)
            if span is not None:
                roots.append(span)
            if errs:
                failed += 1
                self.notes.setdefault("op_errors", errs[:10])
        self.rates = {
            "rows_per_s": self.op_events * len(times) / sum(times),
            "write_amp": statistics.fmean(byts) / self.op_bytes,
        }
        processed = {e.event_id: _ms(SETUP_CLOCK if exp.merged_in[e.event_id] == 0 else OP_CLOCK)
                     for e in events}
        counts = next((r.detail for r in results
                       if r.name == "dashboard" and r.status == "SUCCESS"), {})
        return (times, failed,
                warm_errs + self.run_checks(root, events, processed, exp.watermark_ms, counts),
                roots)

    def run_dashboard(self, build_s: float, build_bytes: int):
        from global_seismic_data_pipeline_spark.sources.warehouse import Warehouse

        # the workload's only pipeline run is its set-up: rates describe it
        self.rates = {"rows_per_s": self.history_events / build_s,
                      "write_amp": build_bytes / self.history_bytes}
        kpi = gen.expected_kpi(self.setup_events, SETUP_CLOCK)
        # the warehouse is read-only here, so the once-per-run checks go
        # first: their full report queries also warm the page's queries
        processed = {e.event_id: _ms(SETUP_CLOCK) for e in self.setup_events}
        run_errs = self.run_checks(self.setup_root, self.setup_events, processed,
                                   gen.silver_after([self.history]).watermark_ms)
        wh = Warehouse(self.spark, self.setup_root)
        for _ in range(WARMUP_OPS[self.workload]):
            self.page_load(wh)
        times, roots, failed = [], [], 0
        while sum(times) < self.seconds or len(times) < MIN_OPS[self.workload]:
            with self._root("op") as span:
                page, dt = self.page_load(wh)
            times.append(dt)
            if span is not None:
                roots.append(span)
            errs = checks.page_errors(page, kpi)
            if errs:
                failed += 1
                self.notes.setdefault("op_errors", errs[:10])
        return times, failed, run_errs, roots

    def run_checks(self, root, events, processed, watermark_ms, report_counts=None) -> list[str]:
        """Once per run: silver against the generator, gold and reports
        against DuckDB. With ``report_counts`` (a pipeline run's dashboard
        task result) the reports are checked by row count; otherwise Spark
        computes them in full for the comparison."""
        from global_seismic_data_pipeline_spark.pipeline import reports
        from global_seismic_data_pipeline_spark.sources.warehouse import Warehouse

        t0 = time.perf_counter()
        spark_reports = {}
        if report_counts is None:
            spark_reports = {name: [r.asDict() for r in df.collect()] for name, df
                             in reports.run_all(Warehouse(self.spark, root)).items()}
            self.notes["report_digest"] = {n: checks.digest(rows)
                                           for n, rows in spark_reports.items()}
        con = checks.connect(root)
        try:
            errs = checks.silver_errors(con, events, processed)
            clock = OP_CLOCK if self.workload == "daily_incremental" else SETUP_CLOCK
            errs += checks.gold_errors(con, _ms(clock))
            errs += checks.watermark_errors(con, watermark_ms)
            if report_counts is None:
                errs += checks.report_errors(con, spark_reports)
            else:
                errs += checks.report_count_errors(con, report_counts)
            self.notes["gold_digest"] = {t: checks.table_digest(con, t) for t in checks.GOLD_TABLES}
        finally:
            con.close()
        self.notes["checks_s"] = round(time.perf_counter() - t0, 2)
        return errs


def _run_all(args) -> int:
    """Every workload in its own child process; every metric by name."""
    code = 0
    for w in WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w, "--seed",
                   str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace)]
            proc = subprocess.run(cmd, capture_output=True, text=True)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode or not lines:
                print(f"{w} trace={trace}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
                code = 1
                continue
            for line in lines[:-1]:
                print(f"{w} trace={trace}: {line}")
            res = json.loads(lines[-1])
            print(f"{w} trace={trace}: correct={res['correct']} attempted={res['attempted']} "
                  f"failed={res['failed']}")
            for k, m in res["metrics"].items():
                print(f"  {w:18} {k:42} {m['value']:>16.6g} {m['unit']}")
    return code


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    checkout = os.getcwd()
    if not os.path.isdir(os.path.join(checkout, "global_seismic_data_pipeline_spark")):
        print("run from the root of a checkout of the seismic pipeline", file=sys.stderr)
        return 2
    if args.workload == "all":
        return _run_all(args)
    sys.path[:0] = [checkout, HERE]
    work = os.path.join(checkout, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace), work)
    try:
        result = bench.run()
    finally:
        bench.stop_spark()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it
    print(json.dumps({"workload": args.workload, "seed": args.seed, **bench.notes}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
