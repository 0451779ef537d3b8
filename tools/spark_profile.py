#!/usr/bin/env python
"""Query-plan measurement harness: measure before optimizing.

For each named query (default: the bench headline set + the TPC-H
suite), this captures:

- ``<out>/<name>_<tag>.txt`` — ``.explain("formatted")`` output;
- wall time over N warm repetitions (median + min) using the same
  timed action as bench.py (collect of the aggregated result) so the
  numbers are directly comparable with BENCH_r*.json;
- job/stage/task counts via the status tracker, so "fewer jobs /
  fewer tasks" claims in an optimization write-up are measured, not
  eyeballed;
- a plan-shape summary line: #Exchange, join strategies, Python eval
  nodes, WholeStageCodegen spans, PushedFilters presence.

Usage:
    python tools/spark_profile.py --out plans/<round> [--tag before|after]
        [--reps 3] [--tpch] [name ...]

``--out`` is relative to the repository root unless absolute.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

HEADLINE = [
    "q1_pricing_summary", "q3_shipping_priority", "q6_forecast_revenue",
    "agg_global", "agg_count_distinct", "filter_in_between_like",
    "join_inner_agg", "join_multiway_region", "join_left_count",
    "cte_revenue", "window_row_number_topn", "sessionize_30min",
    "sort_limit_topk", "date_trunc_month", "json_extract_props",
    "dedup_exact_groups", "dedup_minhash_lsh", "text_stats_by_lang",
    "embedding_cosine_topk",
]

TPCH = [
    "q2_min_cost_supplier", "q4_priority_exists", "q5_local_supplier_volume",
    "q7_volume_shipping", "q8_market_share", "q9_profit_by_nation_year",
    "q10_returned_items", "q11_important_parts", "q12_late_priority_lines",
    "q13_customer_distribution", "q14_promo_revenue", "q15_top_supplier",
    "q16_part_supplier_variety", "q17_small_quantity_revenue",
    "q18_large_volume_customers", "q19_disjunctive_brackets",
    "q20_promo_part_suppliers", "q21_waiting_suppliers",
    "q22_idle_high_balance",
]


def plan_summary(plan: str) -> dict:
    ex = len(re.findall(r"\bExchange\b", plan)) - len(
        re.findall(r"\bReusedExchange\b", plan))
    return {
        "exchanges": ex,
        "reused_exchanges": len(re.findall(r"\bReusedExchange\b", plan)),
        "bhj": len(re.findall(r"BroadcastHashJoin", plan)),
        "smj": len(re.findall(r"SortMergeJoin", plan)),
        "shj": len(re.findall(r"ShuffledHashJoin", plan)),
        "python_eval": len(
            re.findall(r"BatchEvalPython|ArrowEvalPython|MapInPandas|"
                       r"FlatMapGroupsInPandas|MapInArrow", plan)),
        "codegen_spans": len(set(re.findall(r"\[codegen id : (\d+)\]",
                                            plan))),
        "sorts": len(re.findall(r"\bSort \[", plan)),
        "has_pushed_filters": "PushedFilters: [" in plan
        and bool(re.search(r"PushedFilters: \[[^\]]", plan)),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True,
                    help="plan directory, e.g. plans/r19")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--no-plans", action="store_true")
    ap.add_argument("--tpch", action="store_true",
                    help="profile the TPC-H suite too")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    from bench import BENCH_OVERRIDES
    from miniodb_spark.queries import get_registry
    from miniodb_spark.session import get_spark

    spark = get_spark("profile")
    registry = get_registry()
    spark.range(1000).selectExpr("sum(id)").collect()  # warm the session

    names = args.names or (HEADLINE + (TPCH if args.tpch else []))
    plans_dir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), args.out)
    os.makedirs(plans_dir, exist_ok=True)

    tracker = spark.sparkContext.statusTracker()
    out = {}
    for name in names:
        fn = BENCH_OVERRIDES.get(name) or registry[name].fn
        df = fn(spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        if not args.no_plans:
            with open(os.path.join(plans_dir, f"{name}_{args.tag}.txt"),
                      "w") as fh:
                fh.write(plan)
        summ = plan_summary(plan)

        # warm-up run, then timed reps; job/stage/task counts from the
        # warm rep via a dedicated job group
        spark.sparkContext.setJobDescription(f"profile:{name}")
        fn(spark, SF_DIR).collect()
        walls = []
        group = f"prof_{name}_{args.tag}"
        spark.sparkContext.setJobGroup(group, name)
        for _ in range(args.reps):
            t0 = time.perf_counter()
            fn(spark, SF_DIR).collect()
            walls.append(time.perf_counter() - t0)
        spark.sparkContext.setJobGroup(None, None)
        job_ids = tracker.getJobIdsForGroup(group)
        n_stages, n_tasks = 0, 0
        for jid in job_ids:
            ji = tracker.getJobInfo(jid)
            if ji is None:
                continue
            for sid in ji.stageIds:
                si = tracker.getStageInfo(sid)
                if si is not None and si.numTasks > 0:
                    n_stages += 1
                    n_tasks += si.numTasks
        reps = max(1, args.reps)
        out[name] = {
            "wall_med": round(sorted(walls)[len(walls) // 2], 4),
            "wall_min": round(min(walls), 4),
            "jobs": round(len(job_ids) / reps, 1),
            "stages": round(n_stages / reps, 1),
            "tasks": round(n_tasks / reps, 1),
            **summ,
        }
        print(json.dumps({name: out[name]}), flush=True)

    total_med = round(sum(v["wall_med"] for v in out.values()), 3)
    print(json.dumps({"_total_med": total_med, "_tag": args.tag,
                      "_n": len(out)}), flush=True)


if __name__ == "__main__":
    main()
