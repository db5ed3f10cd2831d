#!/usr/bin/env python3
"""Local simulation of the driver's DuckDB-oracle compare (dev tool only;
the engine itself has no Python dependency).

Usage: check_oracle.py <outdir> <sfdir> [--skip a,b] [--only a,b]
                       [--done donelog] [--threads N] [--mem 30GB]
e.g.   python3 tools/check_oracle.py /tmp/verify_out /root/testdata/sf0.01

Loads each <name>/ parquet result written by graft.Verify, runs the matching
oracle SQL from oracle_sql.json in DuckDB over the sf parquet tables, sorts
columns by name, sorts rows, and diffs values.
--skip    names not to compare (printed as SKIP);
--only    restricts to the named queries (shard runner for parallel compares);
--done    resumes a long at-scale verify: queries with an OK line in the
          given earlier output are carried over, not re-checked;
--threads/--mem cap the DuckDB process so shards coexist on one host.
"""
import json, os, re, sys, glob, time
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def table_pattern(sfdir, t):
    # shipped testdata is one file per table; SoakGen dirs are Spark
    # output directories of part files
    p = f"{sfdir}/{t}.parquet"
    return f"{p}/*.parquet" if os.path.isdir(p) else p

def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize for stable compare
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df

def compare(con, outdir, name, sql):
    """One query's verdict line and whether it passed."""
    files = glob.glob(f"{outdir}/{name}/*.parquet")
    if not files:
        return f"MISSING  {name}: no spark result", False
    got = canon(con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf())
    try:
        exp = canon(con.execute(sql).fetchdf())
    except Exception as e:
        return f"ORACLE-ERR {name}: {e}", False
    if got.shape != exp.shape:
        return f"SHAPE    {name}: spark {got.shape} duckdb {exp.shape}", False
    if set(got.columns) != set(exp.columns):
        return f"COLUMNS  {name}: spark {sorted(got.columns)} duckdb {sorted(exp.columns)}", False
    # the driver's hash compare is value-repr sensitive: an int64 vs
    # float64 column (e.g. DuckDB sum(BIGINT) -> HUGEINT -> float)
    # hash-mismatches even when values are numerically equal
    dtype_warn = [c for c in got.columns
                  if (got[c].dtype.kind in "if") != (exp[c].dtype.kind in "if")
                  or (got[c].dtype.kind == "i") != (exp[c].dtype.kind == "i")]
    try:
        pd.testing.assert_frame_equal(got, exp, check_dtype=False,
                                      check_exact=False, rtol=0, atol=1e-9)
    except AssertionError as e:
        return f"MISMATCH {name}: {str(e).splitlines()[-1][:200]}", False
    if dtype_warn:
        return f"DTYPE    {name}: {[(c, str(got[c].dtype), str(exp[c].dtype)) for c in dtype_warn]}", False
    return f"OK       {name} ({got.shape[0]} rows)", True

def main(outdir, sfdir, skip=(), done=(), only=None, threads=None, mem=None):
    con = duckdb.connect()
    if threads: con.execute(f"SET threads={threads}")
    if mem: con.execute(f"SET memory_limit='{mem}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_pattern(sfdir, t)}')")
    oracles = json.load(open(f"{outdir}/oracle_sql.json"))
    n_ok = n_bad = n_resumed = 0
    for name, sql in sorted(oracles.items()):
        if only is not None and name not in only:
            continue
        if name in done:
            # carried over from --done, NOT verified by this invocation —
            # tallied separately so a fully-resumed shard can't print
            # "0 ok, 0 bad" and read as a passing verify
            n_resumed += 1
            continue
        if name in skip:
            print(f"SKIP     {name}", flush=True); continue
        t0 = time.time()
        line, ok = compare(con, outdir, name, sql)
        print(f"{line} [{time.time() - t0:.1f}s]", flush=True)
        n_ok += ok; n_bad += not ok
    resumed = f" (+{n_resumed} resumed from --done, not re-checked)" if done else ""
    print(f"\n{n_ok} ok{resumed}, {n_bad} bad", flush=True)
    sys.exit(1 if n_bad else 0)

def done_names(log):
    """Names with an OK line in an earlier run's output."""
    return {m.group(1) for m in map(re.compile(r"OK\s+(\S+)").match, open(log)) if m}

if __name__ == "__main__":
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    skip, done, only, threads, mem = set(), set(), None, None, None
    args = sys.argv[1:]
    i = 2
    while i < len(args):
        if args[i] == "--skip": skip |= set(args[i + 1].split(",")); i += 2
        elif args[i] == "--only": only = set(args[i + 1].split(",")); i += 2
        elif args[i] == "--threads": threads = int(args[i + 1]); i += 2
        elif args[i] == "--mem": mem = args[i + 1]; i += 2
        elif args[i] == "--done": done = done_names(args[i + 1]); i += 2
        else: sys.exit(f"unknown argument {args[i]!r}\n{__doc__}")
    main(args[0], args[1], skip, done, only, threads, mem)
