#!/usr/bin/env python3
"""At-scale verification of the recursive-CTE (connected-components) oracles
WITHOUT DuckDB recursion (dev tool; the engine itself has no Python
dependency).

DuckDB's recursive `reach` CTE materializes the reachability RELATION —
quadratic in component size, intractable at 10x (dedup_clusters alone took
18 min / 42 GB; the simhash graph never finished). But CC output admits a
NON-RECURSIVE CERTIFICATE: replace only the `reach` CTE with a component
table computed by an independent union-find over the SAME edge SQL the
oracle itself defines, prove the table is a valid CC fixpoint with plain
SQL witness conditions, and replay the rest of the oracle unchanged.

Per query this runs, all inside DuckDB except the union-find:
  1. EDGE SQL  — the oracle's own non-recursive prefix (everything before
     `reach`), selecting src,dst from the CTE the recursion walks.
  2. UNION-FIND — independent Python implementation; root := min(node)
     of each component.
  3. WITNESS (SQL) — the injected table is a CC fixpoint:
       w1 edge-consistency: every edge's endpoints share a root
          (no component is split);
       w2 root-closure: every root is a node labeling itself;
       w3 root-minimality: every root equals min(node) of its class.
     Union-find supplies the remaining property SQL cannot check
     non-recursively (each class is internally connected), and w1-w3 pin
     that its output is exactly the min-id component labeling the
     recursive oracle defines.
  4. REPLAY — the full oracle SQL with `reach(x, root) AS (SELECT node,
     root FROM uf_cc)` substituted for the recursive CTE, compared to the
     Spark dump with the same canonicalization as check_oracle.py.

Usage: check_cc_witness.py <outdir> <sfdir> [--only a,b] [--threads N]
                           [--mem 30GB]
<outdir> is a graft.Verify dump, full or restricted to named queries
(parquet per query + oracle_sql.json). Only queries whose oracle matches the recursive-CC
pattern are attempted; others are reported UNSUPPORTED.
"""
import json, re, sys, glob, time
import duckdb
import pandas as pd
sys.path.insert(0, __import__("os").path.dirname(__file__))
from check_oracle import TABLES, table_pattern, canon

# the one shape all five CC oracles share (Dedup/Similarity/Multimodal):
#   reach(<node>, root) AS (
#     SELECT src, src FROM <sym>
#     UNION
#     SELECT s.dst, r.root FROM reach r JOIN <sym> s ON s.src = r.<node>)
REACH_RE = re.compile(
    r"reach\((\w+),\s*root\)\s+AS\s+\(\s*"
    r"SELECT\s+src,\s*src\s+FROM\s+(\w+)\s+"
    r"UNION\s+"
    r"SELECT\s+s\.dst,\s*r\.root\s+FROM\s+reach\s+r\s+"
    r"JOIN\s+(\w+)\s+s\s+ON\s+s\.src\s*=\s*r\.(\w+)\s*\)",
    re.IGNORECASE | re.DOTALL)


def union_find(edges):
    parent = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = r, parent[x]
        return r

    seen = set()
    for a, b in edges:
        seen.add(a); seen.add(b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by MIN id so every root is its component's minimum
            # (also what makes the forest depth benign here: components
            # are min-rooted stars after compression)
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {x: find(x) for x in seen}


def check_one(con, name, sql, outdir):
    m = REACH_RE.search(sql)
    if not m:
        print(f"UNSUPPORTED {name}: oracle does not match the CC reach pattern")
        return False
    node_col, sym_name = m.group(1), m.group(2)
    prefix = sql[: m.start()].rstrip()
    assert prefix.endswith(","), f"{name}: unexpected oracle shape before reach"
    prefix = prefix[:-1]
    # Force-materialize every prefix CTE: DuckDB's inlining heuristic
    # re-evaluates multiply-referenced CTEs (emb_dbscan's sym/core/ce
    # chain references the LSH `pairs` CTE ~5x transitively — the 10x
    # edge extraction spilled >79 GB and died on disk; with MATERIALIZED
    # the same query runs in ~3 min flat). Results are unchanged: the
    # keyword is an evaluation-strategy hint. The CTE-definition shape
    # `name AS (` cannot collide with column aliases (`AS name`) or the
    # reach CTE (`reach(v, root) AS (` — ')' precedes AS).
    prefix = re.sub(r"(\w+)\s+AS\s+\(", r"\1 AS MATERIALIZED (", prefix)

    t0 = time.time()
    edge_sql = f"{prefix}\nSELECT src, dst FROM {sym_name}"
    edges_df = con.execute(edge_sql).fetchdf()
    edges = list(zip(edges_df["src"].tolist(), edges_df["dst"].tolist()))
    t_edges = time.time() - t0

    t0 = time.time()
    roots = union_find(edges)
    uf = pd.DataFrame(
        {"node": list(roots.keys()), "root": list(roots.values())})
    if uf.empty:
        uf = pd.DataFrame({"node": pd.Series(dtype="int64"),
                           "root": pd.Series(dtype="int64")})
    t_uf = time.time() - t0

    con.register("uf_src", uf)
    con.execute("CREATE OR REPLACE TABLE uf_cc AS SELECT * FROM uf_src")
    con.register("edge_src", edges_df)

    # --- witness conditions (plain SQL, no recursion) ---
    w1 = con.execute(
        """SELECT count(*) FROM edge_src e
           JOIN uf_cc a ON e.src = a.node JOIN uf_cc b ON e.dst = b.node
           WHERE a.root <> b.root""").fetchone()[0]
    w2 = con.execute(
        """SELECT count(*) FROM uf_cc u LEFT JOIN uf_cc r ON u.root = r.node
           WHERE r.node IS NULL OR r.root <> u.root""").fetchone()[0]
    w3 = con.execute(
        """SELECT count(*) FROM (SELECT root, min(node) AS m FROM uf_cc
                                 GROUP BY root) WHERE m <> root""").fetchone()[0]
    # coverage: every edge endpoint is labeled (uf built FROM the edges)
    w4 = con.execute(
        """SELECT count(*) FROM (SELECT src AS n FROM edge_src
                                 UNION SELECT dst FROM edge_src) e
           LEFT JOIN uf_cc u ON e.n = u.node WHERE u.node IS NULL""").fetchone()[0]
    if w1 or w2 or w3 or w4:
        print(f"WITNESS-FAIL {name}: split_edges={w1} root_closure={w2} "
              f"root_min={w3} unlabeled={w4}")
        return False

    # --- replay the full oracle with the recursion substituted ---
    replay_sql = (re.sub(r"(\w+)\s+AS\s+\(", r"\1 AS MATERIALIZED (",
                         sql[: m.start()])
                  + f"reach({node_col}, root) AS (SELECT node, root FROM uf_cc)"
                  + sql[m.end():])
    t0 = time.time()
    exp = canon(con.execute(replay_sql).fetchdf())
    t_replay = time.time() - t0
    files = glob.glob(f"{outdir}/{name}/*.parquet")
    if not files:
        print(f"MISSING  {name}: no spark result")
        return False
    got = canon(con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf())
    if got.shape != exp.shape:
        print(f"SHAPE    {name}: spark {got.shape} oracle {exp.shape}")
        return False
    if set(got.columns) != set(exp.columns):
        print(f"COLUMNS  {name}: spark {sorted(got.columns)} oracle {sorted(exp.columns)}")
        return False
    try:
        pd.testing.assert_frame_equal(got, exp, check_dtype=False,
                                      check_exact=False, rtol=0, atol=1e-9)
    except AssertionError as e:
        print(f"MISMATCH {name}: {str(e).splitlines()[-1][:200]}")
        return False
    print(f"OK       {name} ({got.shape[0]} rows; |E|={len(edges)}, "
          f"witness w1-w4=0; edges {t_edges:.1f}s, uf {t_uf:.1f}s, "
          f"replay {t_replay:.1f}s)", flush=True)
    return True


def main(outdir, sfdir, only=None, threads=None, mem=None):
    con = duckdb.connect()
    if threads:
        con.execute(f"SET threads={threads}")
    if mem:
        con.execute(f"SET memory_limit='{mem}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{table_pattern(sfdir, t)}')")
    oracles = json.load(open(f"{outdir}/oracle_sql.json"))
    names = sorted(only if only else
                   [n for n, s in oracles.items() if "RECURSIVE" in s.upper()])
    n_ok = n_bad = 0
    for name in names:
        if name not in oracles:
            print(f"MISSING  {name}: not in oracle_sql.json"); n_bad += 1
            continue
        if check_one(con, name, oracles[name], outdir):
            n_ok += 1
        else:
            n_bad += 1
    print(f"\n{n_ok} ok, {n_bad} bad", flush=True)
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    only, threads, mem = None, None, None
    args = sys.argv[1:]
    outdir, sfdir = args[0], args[1]
    i = 2
    while i < len(args):
        if args[i] == "--only":
            only = args[i + 1].split(","); i += 2
        elif args[i] == "--threads":
            threads = int(args[i + 1]); i += 2
        elif args[i] == "--mem":
            mem = args[i + 1]; i += 2
        else:
            i += 1
    main(outdir, sfdir, only, threads, mem)
