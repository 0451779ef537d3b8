"""Fast self-check: ``python3 perfbench/run.py --self-check``.

Runs every workload at sf0.001 scale for a few seconds in one Spark
session and asserts that

- an untraced run emits exactly the end-to-end metrics of BENCHMARK.json,
  and a traced run exactly its per-layer metrics, each with its unit;
- a traced run drives above zero every per-layer metric its workload
  exercises (``workloads.EXERCISED``);
- both runs pass their correctness checks with no failed operation;
- a run whose oracle hands back one deliberately wrong answer fails.
"""

from __future__ import annotations

import json
import os
import time

from run import ROOT, run_workload, start_spark, stop_spark
from workloads import EXERCISED, WORKLOADS

SECONDS = 4.0  # long enough for ingest to reach its update, bulk and compaction


def main(cores: int) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    want = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
            1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    problems = []
    if {w["name"] for w in bench["workloads"]} != set(WORKLOADS):
        problems.append(f"BENCHMARK.json workloads differ from {sorted(WORKLOADS)}")
    t0 = time.perf_counter()
    spark = start_spark(cores)
    try:
        for name in WORKLOADS:
            for trace in (0, 1):
                res, detail = run_workload(spark, name, 7, SECONDS, trace, scale="tiny")
                got = {k: v["unit"] for k, v in res["metrics"].items()}
                if not res["correct"] or res["failed"]:
                    problems.append(f"{name} trace={trace}: correct={res['correct']} "
                                    f"failed={res['failed']} {detail.get('check_failed', '')}"
                                    f"{detail.get('errors', '')}")
                if got != want[trace]:
                    problems.append(f"{name} trace={trace}: metrics differ: "
                                    f"missing {sorted(set(want[trace]) - set(got))}, "
                                    f"extra {sorted(set(got) - set(want[trace]))}")
                zero = [k for k in EXERCISED[name] if trace and not res["metrics"].get(
                    k, {}).get("value")]
                if zero:
                    problems.append(f"{name} trace=1: exercised metrics read 0: {zero}")
            res, detail = run_workload(spark, name, 7, 1.0, 0, scale="tiny", corrupt=True)
            if res["correct"]:
                problems.append(f"{name}: a corrupted oracle answer did not fail the run")
            print(f"self-check {name}: corrupted oracle -> {detail.get('check_failed', '')[:150]}")
            print(f"self-check {name}: done", flush=True)
    finally:
        stop_spark(spark)
    for p in problems:
        print("FAIL", p)
    print(f"self-check: {'FAIL' if problems else 'ok'} in {time.perf_counter() - t0:.0f} s")
    return 1 if problems else 0
