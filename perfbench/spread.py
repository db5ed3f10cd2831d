#!/usr/bin/env python3
"""Run a workload over several seeds and report each end-to-end metric's
median and spread (interquartile range as a share of the median) against
its bound in BENCHMARK.json.

Usage, from the root of the repository:

    python3 perfbench/spread.py --workloads sf01_surface,x10_heavy --seeds 1-10 \
        [--out results.jsonl] [--trace 0]

Each run's JSON result is appended to --out as one line, tagged with its
workload, seed and wall time. With --summarize FILE it only reads such a
file back and reports it.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

SPEC = json.load(open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")))


def seeds(text):
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def summarize(records):
    bounds = {m["name"]: m["bound"] for m in SPEC["end_to_end"]}
    for w in sorted({r["workload"] for r in records}):
        rs = [r for r in records if r["workload"] == w]
        bad = sum(r["result"]["failed"] for r in rs)
        print(f"{w}: {len(rs)} runs, wall median {statistics.median(r['wall_s'] for r in rs):.1f} s, "
              f"max {max(r['wall_s'] for r in rs):.1f} s, failed operations {bad}, "
              f"all correct {all(r['result']['correct'] for r in rs)}")
        for name in sorted(rs[0]["result"]["metrics"]):
            vals = [r["result"]["metrics"][name]["value"] for r in rs]
            med = statistics.median(vals)
            q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [med, med, med]
            spread = (q[2] - q[0]) / med if med else float("inf")
            b = bounds.get(name)
            flag = "" if b is None else ("ok" if spread < b / 3 else "WIDE" if spread > b else "near")
            print(f"  {name:24s} median {med:12.4f} spread {spread:6.3f}"
                  + ("" if b is None else f" bound {b:.2f} {flag}"))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out")
    ap.add_argument("--summarize")
    a = ap.parse_args()
    if a.summarize:
        summarize([json.loads(l) for l in open(a.summarize) if l.strip()])
        return
    records = []
    for w in a.workloads.split(","):
        for s in seeds(a.seeds):
            t0 = time.time()
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", w, "--seed", str(s),
                                "--seconds", str(SPEC["run_seconds"]), "--trace", a.trace],
                               stdout=subprocess.PIPE, text=True)
            wall = time.time() - t0
            if p.returncode != 0:
                sys.exit(f"{w} seed {s} failed with exit code {p.returncode}")
            rec = {"workload": w, "seed": s, "trace": int(a.trace), "wall_s": round(wall, 2),
                   "result": json.loads(p.stdout.strip().splitlines()[-1])}
            records.append(rec)
            print(f"{w} seed {s}: {wall:.1f} s", file=sys.stderr)
            if a.out:
                with open(a.out, "a") as fh:
                    fh.write(json.dumps(rec) + "\n")
    if a.trace == "0":
        summarize(records)


if __name__ == "__main__":
    main()
