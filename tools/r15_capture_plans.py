#!/usr/bin/env python
"""Capture the plans every declared catalog entry actually executed: each
entry runs and collects once, and the final physical plan of every SQL
execution it started is read back from Spark's SQL status store
(``tests/driver_mimic.run_entry``), plus a machine-readable plan-shape
summary summed over those executions (Exchange count, join strategies,
Python-eval nodes, pushed filters).

Usage:
    python tools/r15_capture_plans.py [--suffix before|after] [--only name ...]

Writes ``plans/r15/<query>_<suffix>.txt`` (every executed plan, headed by
its execution description) and a one-line-per-entry JSONL summary
``plans/r15/_summary_<suffix>.jsonl`` used to triage optimization targets
(guide §1: measure first, read the plan).
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402


def plan_stats(plan: str) -> dict:
    def count(pat: str) -> int:
        return len(re.findall(pat, plan))

    return {
        "exchanges": count(r"\bExchange (?:hash|range|Single|rounds)"),
        "exchange_total": count(r"\(\d+\) Exchange"),
        "bhj": count(r"\(\d+\) BroadcastHashJoin"),
        "smj": count(r"\(\d+\) SortMergeJoin"),
        "shj": count(r"\(\d+\) ShuffledHashJoin"),
        "bnlj": count(r"BroadcastNestedLoopJoin"),
        "cartesian": count(r"CartesianProduct"),
        "arrow_eval": count(r"ArrowEvalPython"),
        "batch_eval": count(r"BatchEvalPython"),
        "map_in_arrow": count(r"MapInArrow|PythonMapInArrow"),
        "map_in_pandas": count(r"MapInPandas"),
        "flatmap_groups": count(r"FlatMapGroupsInPandas|FlatMapGroupsInArrow"),
        "window": count(r"\(\d+\) Window"),
        "window_group_limit": count(r"WindowGroupLimit"),
        "sorts": count(r"\(\d+\) Sort "),
        "scans": count(r"Scan parquet|Scan orc|Scan json|Scan csv"),
        "pushed_filters": count(r"PushedFilters: \[[^\]]"),
        "codegen_spans": count(r"WholeStageCodegen"),
        "aqe": "AdaptiveSparkPlan" in plan,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--only", nargs="*", default=None)
    ap.add_argument("--out-dir", default=os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r15"))
    args = ap.parse_args()

    os.makedirs(args.out_dir, exist_ok=True)

    from fsql_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(app_name="r15-plan-capture", master=f"local[{cpus}]",
                      shuffle_partitions=int(cpus) if cpus.isdigit() else 32)
    spark.sparkContext.setLogLevel("ERROR")

    from tests.driver_mimic import run_entry

    names = args.only if args.only else sorted(entry_mod.queries())
    summary_path = os.path.join(args.out_dir, f"_summary_{args.suffix}.jsonl")
    n_err = 0
    with open(summary_path, "w") as sf:
        for i, name in enumerate(names):
            t0 = time.time()
            try:
                run = run_entry(spark, name, args.sf_dir)
            except Exception:
                n_err += 1
                err = traceback.format_exc(limit=5)
                with open(os.path.join(args.out_dir, f"{name}_{args.suffix}.txt"), "w") as f:
                    f.write(f"ERROR running entry:\n{err}")
                sf.write(json.dumps({"name": name, "error": err.splitlines()[-1]}) + "\n")
                print(f"[{i+1}/{len(names)}] {name}: ERROR", file=sys.stderr)
                continue
            dt = time.time() - t0
            with open(os.path.join(args.out_dir, f"{name}_{args.suffix}.txt"), "w") as f:
                for desc, plan in run.executions:
                    f.write(f"=== execution: {desc}\n{plan}\n")
            stats = [plan_stats(plan) for _, plan in run.executions]
            totals = {k: sum(st[k] for st in stats) for k in (stats[0] if stats else {})}
            row = {"name": name, "run_sec": round(dt, 2), "executions": len(stats),
                   "scale_killers": run.scale_killers(), "leaks": run.leaks, **totals}
            sf.write(json.dumps(row) + "\n")
            sf.flush()
            print(f"[{i+1}/{len(names)}] {name}: {dt:.1f}s executions={len(stats)}")
    print(f"done: {len(names)} entries, {n_err} errors -> {summary_path}")


if __name__ == "__main__":
    main()
