#!/usr/bin/env python3
"""Diff the physical plans two graft.Bench runs wrote, query by query.

graft.Bench writes each query's formatted plan to <out>.plans/<name>.txt.
Two runs of the same code still differ in ids that carry no meaning, so
before comparing, every plan is masked:
  - expression ids `#123` -> `#N`, lambda variables `x_12` -> `x_N`;
  - exchange ids `plan_id=123` -> `plan_id=N`, RDD ids `RDD[123]` -> `RDD[N]`;
  - JVM lambda classes `$Lambda$81/0x7f..@4619753c` -> `$Lambda$N`, and
    source lines of RDD call sites `at Dedup.scala:578` -> `.scala:N`;
  - staged-artifact temp dirs `/tmp/graft-stage123...` -> `<stage>`, and
    the tables named after them `graft_bk_orders_9c01c8e2` -> `..._<tag>`;
  - the checkout path (the ScanLayout cache lives under
    `<checkout>/bench_local/`) -> `<checkout>`.
The checkout path of each run is inferred from its plans (the prefix of
`/bench_local/`); plans that name no such path have none to mask.

Usage: plan_diff.py <dirA> <dirB>
Prints a unified diff per query whose masked plans differ, then one summary
line per category; the `differ:` line lists the differing queries
space-separated, as `graft.Bench ... <name ...>` takes them. Exits 1 if any
plan differs or exists on one side only, 0 otherwise.
"""
import argparse, collections, difflib, os, re, sys

STAGE = re.compile(r"(?:/[^\s,\[\]()]*)?/graft-stage[^\s,\[\]()/]*")
ROOT = re.compile(r"(?:file:)?(/[^\s,\[\]()]*?)/bench_local/")


def infer_root(texts):
    roots = collections.Counter(m.group(1) for t in texts for m in ROOT.finditer(t))
    return roots.most_common(1)[0][0] if roots else None


def mask(text, root):
    if root:
        text = text.replace(root, "<checkout>")
    text = STAGE.sub("<stage>", text)
    text = re.sub(r"#\d+", "#N", text)
    text = re.sub(r"(lambda \w+?)_\d+", r"\1_N", text)
    text = re.sub(r"plan_id=\d+", "plan_id=N", text)
    text = re.sub(r"RDD\[\d+\]", "RDD[N]", text)
    text = re.sub(r"\$Lambda\$\d+/0x[0-9a-f]+@[0-9a-f]+", "$Lambda$N", text)
    text = re.sub(r"(at \w+)\.scala:\d+", r"\1.scala:N", text)
    return re.sub(r"(graft_bk_\w+?)_[0-9a-f]{8}\b", r"\1_<tag>", text)


def load(d):
    out = {}
    for f in sorted(os.listdir(d)):
        if f.endswith(".txt"):
            with open(os.path.join(d, f), encoding="utf-8") as fh:
                out[f[:-4]] = fh.read()
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("a")
    ap.add_argument("b")
    args = ap.parse_args()
    a, b = load(args.a), load(args.b)
    root_a, root_b = infer_root(a.values()), infer_root(b.values())
    same, differ = [], []
    for q in sorted(set(a) & set(b)):
        ma, mb = mask(a[q], root_a), mask(b[q], root_b)
        if ma == mb:
            same.append(q)
            continue
        differ.append(q)
        sys.stdout.writelines(difflib.unified_diff(
            ma.splitlines(True), mb.splitlines(True),
            f"{args.a}/{q}.txt", f"{args.b}/{q}.txt", n=1))
    only_a, only_b = sorted(set(a) - set(b)), sorted(set(b) - set(a))
    print(f"same: {len(same)}")
    print(f"differ: {len(differ)} {' '.join(differ)}")
    print(f"only in A: {len(only_a)} {' '.join(only_a)}")
    print(f"only in B: {len(only_b)} {' '.join(only_b)}")
    return 1 if differ or only_a or only_b else 0


if __name__ == "__main__":
    sys.exit(main())
