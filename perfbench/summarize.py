#!/usr/bin/env python3
"""Fold the run records under ``.perfbench/records/`` into a baseline.

    python3 perfbench/summarize.py [--write perfbench/baseline.json]

For every workload and metric: the median over seeds and the spread (first
to third quartile as a share of the median, ``statistics.quantiles``), plus
the evidence the traced runs give for each layer.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import stats  # noqa: E402


#: which end-to-end metric each layer metric should move, and on which workload
METRIC_MAP = {
    "session.*": {"layer": "session", "moves": ["setup_s"], "on": ["tlq_report", "corpus_dedup"]},
    "plans.build_s, plans.build_jobs": {
        "layer": "plans (registry plan functions, api.Engine)",
        "moves": ["op_geomean_s", "pass_s"], "on": ["tlq_report", "corpus_dedup"]},
    "catalyst.plan_s": {"layer": "catalyst", "moves": ["op_geomean_s"], "on": ["tlq_report"]},
    "scheduler.*": {"layer": "scheduler (status REST)", "moves": ["op_geomean_s", "pass_s"],
                    "on": ["tlq_report"]},
    "exec.*": {"layer": "exec (executor stages, status REST)", "moves": ["cpu_s", "pass_s"],
               "on": ["corpus_dedup"]},
    "operators.dedup.*, operators.similarity.exec_s": {
        "layer": "operators.dedup, operators.similarity", "moves": ["pass_s", "cpu_s"],
        "on": ["corpus_dedup"], "unchanged_on": ["tlq_report"]},
    "operators.transform/report/joins.exec_s, plans.native/streaming_batch.exec_s": {
        "layer": "operators.transform, operators.report, operators.joins, plans",
        "moves": ["op_geomean_s", "pass_s"], "on": ["tlq_report"]},
    "sources.*": {"layer": "sources", "moves": ["pass_s"], "on": ["tlq_report"]},
    "streaming.*": {"layer": "streaming", "moves": ["pass_s", "op_geomean_s"], "on": ["tlq_report"]},
    "bench.self_s": {"layer": "benchmark harness inside a pass", "moves": [], "on": []},
    "op.<name>.build_s/exec_s": {"layer": "one op", "moves": ["op_geomean_s"],
                                 "on": ["the op's workload"]},
}


def load(trace: int) -> dict[str, list[dict]]:
    out: dict[str, list[dict]] = {}
    for p in sorted(glob.glob(os.path.join(ROOT, ".perfbench", "records", f"*-trace{trace}.json"))):
        with open(p) as f:
            rec = json.load(f)
        out.setdefault(rec["workload"], []).append(rec)
    return out


def fold(recs: list[dict]) -> dict:
    names = recs[0]["result"]["metrics"].keys()
    out = {}
    for n in names:
        vals = [r["result"]["metrics"][n]["value"] for r in recs]
        row = {"median": statistics.median(vals), "n": len(vals)}
        if len(vals) >= 2 and statistics.median(vals):
            row["spread"] = stats.iqr_share(vals)
        out[n] = row
    return out


def evidence(base: dict) -> dict:
    """The traced split the benchmark is meant to show, with both numbers."""
    out: dict = {}
    traced, untraced = base["traced"], base["untraced"]

    def med(per: dict, workload: str, metric: str):
        return per.get(workload, {}).get("metrics", {}).get(metric, {}).get("median")

    out["exec.busy_share"] = {w: med(traced, w, "exec.busy_share") for w in traced}
    out["streaming.trigger_ms"] = {w: med(traced, w, "streaming.trigger_ms") for w in traced}
    out["bench.self_s / trace.pass_s"] = {
        w: med(traced, w, "bench.self_s") / med(traced, w, "trace.pass_s") for w in traced
    }
    out["tracing_overhead_s (traced trace.pass_s - untraced pass_s)"] = {
        w: med(traced, w, "trace.pass_s") - med(untraced, w, "pass_s")
        for w in traced if w in untraced
    }
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--write", help="write the baseline JSON here")
    args = ap.parse_args()
    base: dict = {"metric_map": METRIC_MAP, "untraced": {}, "traced": {}}
    for trace, key in ((0, "untraced"), (1, "traced")):
        for workload, recs in load(trace).items():
            base[key][workload] = {
                "seeds": sorted(r["seed"] for r in recs),
                "all_correct": all(r["result"]["correct"] for r in recs),
                "traffic": recs[0]["traffic"],
                "metrics": fold(recs),
                # hypervisor steal during each run's pass: the host noise behind the spread
                "steal_pct_per_seed": {r["seed"]: round(r["passes"][0]["steal_pct"], 2) for r in recs},
            }
            if trace:
                # per-pass stage/task counts: do they repeat between passes?
                base[key][workload]["stages_tasks_per_pass"] = [
                    [(p.get("scheduler.stages"), p.get("scheduler.tasks")) for p in r["passes"]]
                    for r in recs
                ]
    base["evidence"] = evidence(base)
    for key in ("untraced", "traced"):
        per = base[key]
        for workload, row in per.items():
            print(f"[{key}] {workload} seeds={row['seeds']} correct={row['all_correct']}")
            for n, m in row["metrics"].items():
                if key == "traced" and n.startswith("op."):
                    continue
                spread = f"{m['spread']:.3f}" if "spread" in m else "-"
                print(f"  {n:42s} median={m['median']:.6g} spread={spread}")
    if args.write:
        with open(args.write, "w") as f:
            json.dump(base, f, indent=1, sort_keys=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
