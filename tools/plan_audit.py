"""Plan-quality audit: inspects the physical plan of every driver query and
reports scale-relevant properties — filter/column pushdown into scans,
broadcast vs shuffle joins, exchange (shuffle) counts, Python/Arrow stages,
and cartesian products. The invariant checks at the bottom fail loudly if a
plan regresses (e.g. a dimension join stops broadcasting).

Usage: python tools/plan_audit.py [sf_dir] [query ...]
"""

from __future__ import annotations

import re
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as ent
from global_seismic_data_pipeline_spark.session import get_spark


def audit_plan(df) -> dict:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return {
        "exchanges": len(re.findall(r"\bExchange\b", plan)),
        "broadcast_joins": len(re.findall(r"BroadcastHashJoin|BroadcastNestedLoopJoin", plan)),
        "bnlj": len(re.findall(r"BroadcastNestedLoopJoin", plan)),
        "sortmerge_joins": len(re.findall(r"SortMergeJoin", plan)),
        "cartesian": "CartesianProduct" in plan,
        "python_stages": len(re.findall(r"ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas", plan)),
        "pushed_filters": bool(re.search(r"PushedFilters: \[[^\]]", plan)),
        "scans": len(re.findall(r"Scan parquet", plan)),
        "wscg_spans": len(set(re.findall(r"\*\((\d+)\)", plan))),
        "take_ordered": "TakeOrderedAndProject" in plan,
        "joins": len(re.findall(r"BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin", plan)),
        "hashaggs": len(re.findall(r"HashAggregate", plan)),
        # \bWindow\b does not match WindowGroupLimit (word boundary)
        "windows": len(re.findall(r"\bWindow\b", plan)),
    }


# queries whose plan MUST contain a broadcast join (dimension enrichment)
MUST_BROADCAST = {
    "band_join_classify", "dense_rank_nations",
    "cosine_topk_bruteforce", "bloom_prune_lineitem",
    "range_join_event_bursts", "temperature_mixture_sample",
    # round-3: station ring, nation dim, vocab-df/qnorm tables
    "grid_nearest_station", "listagg_top_customers", "tfidf_search_docs",
}
# fused static-dimension enrichment: the CASE-chain form must stay fully
# map-side — zero exchanges (stronger than the old must-broadcast check;
# a join or window reappearing here is a regression)
MUST_MAPSIDE = {"spatial_box_enrich"}
# queries whose scans MUST show pushed filters
MUST_PUSH = {"watermark_incremental_filter", "membership_topk", "agg_pricing_summary"}
# the bin-bucketed range join exists to AVOID BroadcastNestedLoopJoin — a
# BNLJ appearing means the interval predicate leaked back into the join
MUST_NOT_BNLJ = {"range_join_event_bursts"}
# fact side must never sort-merge in these broadcast-probe pipelines
MUST_NOT_SMJ = {
    "bloom_prune_lineitem", "temperature_mixture_sample", "decontaminate_docs",
    # grid-NN folds the argmin into an aggregate — a join reappearing on
    # the point key would mean the broadcast candidate shape regressed;
    # tfidf's norm²/dot/match-count is ONE conditional aggregate — an SMJ
    # means the norms⋈hits self-join crept back
    "grid_nearest_station", "tfidf_search_docs",
}
# ORDER BY + LIMIT must plan as TakeOrdered (per-partition top-K + K-row
# merge), never a global sort
MUST_TAKEORDERED = {
    "uniform_sample_docs", "zorder_cluster_lineitem",
    "tfidf_search_docs", "hybrid_rrf_search",
}
# the scalable-rank operator exists to AVOID the unpartitioned Window —
# a Window node reappearing here means the W5 anti-pattern is back
MUST_NOT_WINDOW = {"scalable_rank_parts"}
# dense_rank must keep the hot-key-proof distinct-first shape: rank the
# DISTINCT keys (a HashAggregate pair) and JOIN the key->rank map back —
# losing either means full rows hit the range partitioner again
MUST_DISTINCT_FIRST = {"scalable_rank_parts"}
# queries whose plan construction MUST NOT run real work (the round-1
# cosine_all_pairs collected the whole corpus at build time). Every
# load_table fires a 1-task parquet schema-inference job, so the signal is
# TASK count, not job count: a data collect scans all input partitions.
MUST_LAZY = {"embedding_cosine_near_dup"}
LAZY_TASK_BUDGET = 4  # schema/footer reads are single-task


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    names = sys.argv[2:] or None
    # AQE off for the audit only: the pre-execution adaptive plan carries
    # no WholeStageCodegen markers (codegen is injected per query stage at
    # runtime), so the static plan is the only place the wscg span count is
    # visible. Operator choice for these sizes is identical either way.
    spark = get_spark("plan-audit", extra_conf={"spark.sql.adaptive.enabled": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    qs = ent.queries()
    failures = []
    for name, fn in qs.items():
        if names and name not in names:
            continue
        sc = spark.sparkContext
        group = f"plan-build-{name}"
        try:
            sc.setJobGroup(group, "plan construction should be lazy")
            df = fn(spark, sf_dir)
            sc.setLocalProperty("spark.jobGroup.id", None)
            tracker = sc.statusTracker()
            eager_tasks = 0
            for j in tracker.getJobIdsForGroup(group):
                job = tracker.getJobInfo(j)
                for s in job.stageIds if job else ():
                    stage = tracker.getStageInfo(s)
                    eager_tasks += stage.numTasks if stage else 0
            info = audit_plan(df)
        except Exception as exc:  # noqa: BLE001 — report and continue
            sc.setLocalProperty("spark.jobGroup.id", None)
            print(f"{name:32s} ERROR {exc!r}")
            failures.append(name)
            continue
        flags = []
        if info["cartesian"]:
            flags.append("CARTESIAN!")
            failures.append(name)
        if name in MUST_BROADCAST and info["broadcast_joins"] == 0:
            flags.append("NO-BROADCAST!")
            failures.append(name)
        if name in MUST_PUSH and not info["pushed_filters"]:
            flags.append("NO-PUSHDOWN!")
            failures.append(name)
        if name in MUST_NOT_BNLJ and info["bnlj"] > 0:
            flags.append("BNLJ!")
            failures.append(name)
        if name in MUST_NOT_SMJ and info["sortmerge_joins"] > 0:
            flags.append("SMJ!")
            failures.append(name)
        if name in MUST_TAKEORDERED and not info["take_ordered"]:
            flags.append("GLOBAL-SORT!")
            failures.append(name)
        if name in MUST_NOT_WINDOW and info["windows"] > 0:
            flags.append("WINDOW!")
            failures.append(name)
        if name in MUST_DISTINCT_FIRST and (
            info["joins"] == 0 or info["hashaggs"] < 2
        ):
            flags.append("NOT-DISTINCT-FIRST!")
            failures.append(name)
        if name in MUST_MAPSIDE and info["exchanges"] > 0:
            flags.append("NOT-MAPSIDE!")
            failures.append(name)
        if name in MUST_LAZY and eager_tasks > LAZY_TASK_BUDGET:
            flags.append("EAGER-BUILD!")
            failures.append(name)
        if info["python_stages"] == 0 and info["wscg_spans"] == 0:
            # every pure-JVM query must run inside whole-stage codegen
            flags.append("NO-CODEGEN!")
            failures.append(name)
        print(
            f"{name:32s} eager={eager_tasks:2d} exch={info['exchanges']:2d} "
            f"bcast={info['broadcast_joins']} smj={info['sortmerge_joins']} "
            f"py={info['python_stages']} scans={info['scans']} "
            f"wscg={info['wscg_spans']:2d} "
            f"push={'y' if info['pushed_filters'] else '-'} "
            + " ".join(flags)
        )
    if failures:
        print(f"\nAUDIT FAILURES: {sorted(set(failures))}")
        sys.exit(1)
    print("\nplan audit OK")


if __name__ == "__main__":
    main()
