"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line {"metric", "value", "unit", "queries", "sf"}.

Each query is fully materialized through the noop sink (no driver-side
collect of wide results; nothing is pruned by a count()).

Methodology (per-query JVM isolation, min-of-steady-state):
- Every query runs in its OWN subprocess / SparkSession. Running 14
  distinct queries in one local JVM poisons the JIT's type profiles —
  each query's generated classes turn shared hot call sites megamorphic,
  after which large plans run interpreted-speed (measured here: the
  MinHash pipeline degrades 4.6 s -> 30-50 s purely from executing eleven
  *other* queries first; re-running one query 24x causes no degradation).
  A real cluster amortizes codegen over long-lived per-executor JVMs
  running a steady workload, so cross-query profile pollution inside one
  benchmark process is a measurement artifact, not a property of the
  engine. Isolation removes it.
- Within each subprocess the query runs 4x and the MINIMUM of runs 2-4 is
  reported: run 1 pays one-off costs (scan-cache population, codegen
  compilation, Python worker spin-up); the min of the steady runs is the
  standard noise-robust estimator under external interference (shared-host
  CPU steal is routinely visible on this box). Set BENCH_COLD=1 to report
  run-1 (cold) times instead.
- Operators that persist shared subtrees module-globally (the near-dup
  family) are released before every run, so each measured run re-executes
  the full pipeline including its own within-query materialization —
  cross-run cache hits would otherwise measure the session cache, not the
  query.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

# Round-2 extension operators, benched separately: "value" stays the sum
# of the original 14 HEADLINE queries (comparable round-over-round); the
# extension times ride along under "extended"/"extended_total".
EXTENDED = [
    "range_join_event_bursts",
    "bloom_prune_lineitem",
    "temperature_mixture_sample",
    "chunk_docs_for_training",
    "vocab_encode_docs",
    "cms_heavy_tokens",
    "curation_funnel_docs",
    "incremental_minhash_dedup",
    "scalable_rank_parts",
    # round-3 depth operators
    "tfidf_search_docs",
    "hybrid_rrf_search",
    "semdedup_prune_embeddings",
    "bpe_learn_merges",
    "grid_nearest_station",
    # round-3 session-2 operators
    "ngram_dup_rate_docs",
    "unigram_surprisal_docs",
    "max_concurrent_events",
    "topk_orders_per_priority",
    "triangle_count_copurchase",
    # round-3 session-3 operators
    "ppjoin_near_dup",
    "phrase_search_docs",
    "feature_hash_docs",
    "scd2_user_value_history",
    "kmv_audience_overlap",
    # round-4 operators
    "ivf_index_drift",
    "training_shuffle_shards",
    # round-5 operators
    "delta_roundtrip_orders",
    "line_dedup_docs",
    "perplexity_bucket_sample",
    "span_dedup_docs",
    "nb_lang_classifier",
    "bpe_encode_docs",
    "gopher_rules_docs",
    "html_extract_docs",
    "bigram_surprisal_docs",
    "rollup_multigrain_orders",
    "hilbert_cluster_lineitem",
    "scd2_incremental_history",
    "iceberg_roundtrip_orders",
    "fuzzy_match_part_names",
    "mixture_budget_docs",
    "twap_user_value",
    "exists_priority_customers",
    # round-6 operators
    "iceberg_v2_deletes_roundtrip",
    "iceberg_upsert_orders",
    # round-7 operators
    "iceberg_bucket_pruned_scan",
    "delta_v2_checkpoint_orders",
    # round-8 operators
    "iceberg_delete_where_orders",
    "iceberg_refs_tag_orders",
    "iceberg_wap_publish_orders",
    # round-11 operators
    "delta_skipping_orders",
    "iceberg_range_scan_orders",
]

HEADLINE = [
    "flagship_regional_rollup",
    "dedup_keep_latest",
    "rolling_daily_metrics",
    "spatial_box_enrich",
    "band_join_classify",
    "agg_pricing_summary",
    "agg_global_kpi",
    "agg_monthly_rollup",
    "physics_suite",
    "sessionize_users",
    "text_quality_score",
    "exact_dedup_docs",
    "minhash_near_dup",
    "cosine_topk_bruteforce",
]


# Calibration: a fixed, query-independent JVM workload measured in the SAME
# subprocess, immediately after each query (same-minute A/B per CLAUDE.md —
# this box is a shared-host VM with 2-4x CPU-steal swings). The ratio
# observed/REF is the steal factor for that minute; the headline JSON
# records the per-round median so round-over-round comparisons can
# distinguish plan regressions from host interference (BENCH_r02's phantom
# 1.5x). CALIB_REF was measured on this box during a quiet window
# (steady-state min over 6 in-session runs: 0.149-0.167 s); it only
# needs to be stable, not "true".
CALIB_REF = 0.16


def _calibrate(spark) -> float:
    import time as _t

    ts = []
    for _ in range(3):
        t0 = _t.time()
        spark.range(0, 30_000_000, 1, 32).selectExpr(
            "sum(id % 97) AS s"
        ).collect()
        ts.append(_t.time() - t0)
    return min(ts)


# Index-backed queries whose driver form builds the index INSIDE the
# query (by construction — the oracle pins append ≡ rebuild). A daily
# pipeline pays the build once and runs the probe per batch, so bench
# times the phases separately: build once per subprocess (cold, timed),
# then the probe with the standard min-of-steady-runs discipline. The
# recorded query time stays build+probe (round-over-round comparable);
# the probe_split section carries the serving-path number.
SPLIT = {
    "incremental_minhash_dedup": ("_inc_mh_build", "_inc_mh_probe"),
    "ivf_index_drift": ("_ivf_drift_build", "_ivf_drift_probe"),
}


def run_one(name: str, sf_dir: str) -> dict:
    """Measure one query (and the calibration probe) in this process."""
    import __spark_entry__ as ent
    from global_seismic_data_pipeline_spark.session import (
        get_spark,
        materialized_scope,
    )

    spark = get_spark(f"bench-{name}")
    spark.sparkContext.setLogLevel("ERROR")

    cold = os.environ.get("BENCH_COLD") == "1"
    runs = 1 if cold else 4

    if name in SPLIT:
        from global_seismic_data_pipeline_spark.plans import workloads_ext

        build = getattr(workloads_ext, SPLIT[name][0])
        probe = getattr(workloads_ext, SPLIT[name][1])
        # warm-build discipline, matching the min-of-runs-2..4 the whole
        # query used in earlier rounds (so build+probe stays comparable):
        # build 1 pays codegen/session one-offs and is discarded; build 2
        # (a fresh tempdir store) is the recorded build time.
        # every build and every probe runs in its own scope, so each starts
        # with nothing cached (the build's frames are released before the
        # first probe, as before)
        t_build = None
        for i in range(1 if cold else 2):
            with materialized_scope():
                t0 = time.time()
                ctx = build(spark, sf_dir)
                t_build = time.time() - t0
        times = []
        for _ in range(runs):
            with materialized_scope():
                t0 = time.time()
                probe(spark, sf_dir, ctx).write.format("noop").mode(
                    "overwrite"
                ).save()
                times.append(time.time() - t0)
        t_probe = times[0] if cold else min(times[1:])
        return {
            "t": round(t_build + t_probe, 3),
            "t_build": round(t_build, 3),
            "t_probe": round(t_probe, 3),
            "calib": _calibrate(spark),
        }

    fn = ent.queries()[name]
    times = []
    for _ in range(runs):
        with materialized_scope():
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            times.append(time.time() - t0)
    t = times[0] if cold else min(times[1:])
    return {"t": t, "calib": _calibrate(spark)}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([\d.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    if len(sys.argv) > 2 and sys.argv[1] == "--one":
        print(json.dumps(run_one(sys.argv[2], sf_dir)))
        return

    times: dict[str, float] = {}
    ext_times: dict[str, float] = {}
    adj_times: dict[str, float] = {}
    adj_ext: dict[str, float] = {}
    probe_split: dict[str, dict] = {}
    calibs: list[float] = []
    for name in HEADLINE + EXTENDED:
        sink = times if name in HEADLINE else ext_times
        adj_sink = adj_times if name in HEADLINE else adj_ext
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--one", name],
            capture_output=True,
            text=True,
            cwd=REPO,
        )
        last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else ""
        try:
            rec = json.loads(last)
            sink[name] = round(rec["t"], 3)
            if "t_build" in rec:
                probe_split[name] = {
                    "build": rec["t_build"], "probe": rec["t_probe"]
                }
            if "calib" in rec:
                calibs.append(rec["calib"])
                # per-query steal adjustment: the calibration probe ran
                # in the SAME subprocess seconds after the query (the
                # same-minute A/B CLAUDE.md demands), so each query's
                # time can be normalized by ITS minute's host speed —
                # a noisy window no longer reads as a plan regression
                q_steal = rec["calib"] / CALIB_REF
                adj_sink[name] = round(sink[name] / q_steal, 3)
        except (ValueError, KeyError):
            print(
                f"bench: query {name} failed rc={proc.returncode}: "
                f"{proc.stderr.strip().splitlines()[-1] if proc.stderr.strip() else 'no output'}",
                file=sys.stderr,
            )

    total = round(sum(times.values()), 3)
    calibs.sort()
    calib_med = calibs[len(calibs) // 2] if calibs else None
    steal = round(calib_med / CALIB_REF, 3) if calib_med else None
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_time",
                "value": total,
                "unit": "sec",
                "queries": times,
                "extended": ext_times,
                "extended_total": round(sum(ext_times.values()), 3),
                "queries_adjusted": adj_times,
                "extended_adjusted": adj_ext,
                "probe_split": probe_split,
                "calibration": {
                    "ref_sec": CALIB_REF,
                    "observed_median_sec": round(calib_med, 3) if calib_med else None,
                    "steal_factor": steal,
                    "value_steal_adjusted": round(total / steal, 3) if steal else None,
                    "value_per_query_adjusted": round(
                        sum(adj_times.values()), 3
                    ) if adj_times else None,
                    "extended_per_query_adjusted": round(
                        sum(adj_ext.values()), 3
                    ) if adj_ext else None,
                },
                "sf": sf,
            }
        )
    )
    # tail-safe lines: the driver's capture has truncated the (long)
    # line above from the FRONT before (BENCH_r05 arrived unparseable;
    # r10/r11 PERF per_query came back empty for the same reason). Two
    # compact lines close the gap: the steal-adjusted per-query dict on
    # its own line, then the contract line LAST — now carrying the
    # merged rounded per-query dict (~2.3 KB for 66 queries, well inside
    # any tail capture). Additions only: no entry removed or renamed.
    all_q = {**times, **ext_times}
    print(
        json.dumps(
            {
                "metric": "per_query_adjusted",
                "queries_adjusted": {**adj_times, **adj_ext},
                "probe_split": probe_split,
                "steal_factor": steal,
            },
            separators=(",", ":"),
        )
    )
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_time",
                "value": total,
                "unit": "sec",
                "queries": all_q,
                "extended_total": round(sum(ext_times.values()), 3),
                "sf": sf,
            },
            separators=(",", ":"),
        )
    )


if __name__ == "__main__":
    main()
