#!/usr/bin/env python3
"""Traced-run report: self time of each layer per workload, and the
tracing overhead, taken as the traced run against the untraced run of the
same workload and seed.

Usage, from the root of the repository:

    python3 perfbench/report.py untraced.jsonl traced.jsonl

Both files hold lines written by perfbench/spread.py (--trace 0 and
--trace 1). The overhead compares the warm time each run measured: the
untraced `warm_total_s` against the traced sum of its parts (construction,
planning and execution for a batch workload; the geometric mean of the
two pipelines' trigger times for the streaming one).
"""
import json
import math
import statistics
import sys

LAYERS = ["bench", "core", "operators", "plans", "exec", "streaming", "sources"]


def load(path):
    return [json.loads(l) for l in open(path) if l.strip()]


def traced_warm_s(m):
    v = lambda k: m[k]["value"]
    if v("streaming.wc.trigger_ms") or v("streaming.ingest.trigger_ms"):
        return math.sqrt(v("streaming.wc.trigger_ms") * v("streaming.ingest.trigger_ms")) / 1000
    return v("operators.build_s") + v("plans.plan_s") + v("exec.run_s")


def main(untraced_path, traced_path):
    untraced = {(r["workload"], r["seed"]): r for r in load(untraced_path)}
    traced = load(traced_path)
    for w in sorted({r["workload"] for r in traced}):
        rs = [r for r in traced if r["workload"] == w]
        print(f"## {w} ({len(rs)} traced runs)\n")
        print("| layer | self time, median (s) | share |")
        print("|---|---|---|")
        med = {l: statistics.median(r["result"]["metrics"][f"self.{l}_s"]["value"] for r in rs)
               for l in LAYERS}
        total = sum(med.values()) or 1.0
        for l in LAYERS:
            print(f"| {l} | {med[l]:.3f} | {med[l] / total:.1%} |")
        ratios = []
        for r in rs:
            base = untraced.get((w, r["seed"]))
            if base:
                ratios.append(traced_warm_s(r["result"]["metrics"])
                              / base["result"]["metrics"]["warm_total_s"]["value"] - 1)
        own = statistics.median(r["result"]["metrics"]["trace.own_ms"]["value"] for r in rs)
        spans = statistics.median(r["result"]["metrics"]["trace.spans"]["value"] for r in rs)
        print()
        if ratios:
            print(f"Tracing overhead: {statistics.median(ratios):+.1%} warm time, traced against "
                  f"untraced, median of {len(ratios)} same-seed pairs "
                  f"(range {min(ratios):+.1%} to {max(ratios):+.1%}).")
        print(f"Span bookkeeping: {own:.1f} ms for {spans:.0f} spans per run (median).\n")


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
