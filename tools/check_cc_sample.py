#!/usr/bin/env python3
"""Sampled-subgraph ground truth for the connected-components family at
scales where DuckDB's full recursive-CTE closure is infeasible (verdict r8
item #1: at the 100x docs fixture the closure blew a 60 GiB spill cap,
leaving p17/p19/p35/p53/p56/p66/p72 oracle-blind at exactly the decade
where r8 found its one real at-scale bug).

Two-part signal, together covering the whole family at the target fixture:

1. SAMPLED EXACT LABELS (the mechanism). Sample seed doc_ids
   deterministically from the pair graph — the pair list itself is
   oracle-checked bit-exact at this scale via p03 — then expand the seeds
   to COMPONENT CLOSURE by BFS over the pair table (components are
   near-dup clusters: tiny, so the closure touches a few thousand nodes),
   run exact union-find over the induced edges in Python, and require
   Spark's p17 labels restricted to the closure to be IDENTICAL: same
   keeper (= component minimum), same kept flag, same membership.
   Closure-closedness is what makes the check two-sided (same-cluster <=>
   same-keeper): a chain through an unsampled intermediate can never
   split a sampled component, so the verdict's literal "induced subgraph
   on sampled nodes" under-merge blindspot does not exist here.

2. LABEL-SUBSTITUTED DERIVED ORACLES (the derivations). For each derived
   entry, rewrite its oracle SQL by replacing the recursive closure CTEs
   (edges/reach/labels) with `labels AS (SELECT doc_id AS id, keeper_id
   FROM <spark p17 output>)` — Spark's own labels, which part 1 just
   ground-truthed on the sample and which are bit-exact at 1x/10x. DuckDB
   then replays the REST of each oracle (quality arithmetic, joins,
   rollups) at full fixture scale, compared exactly under the same rules
   as check_oracle.py. The label mechanism and the derivations are thus
   each covered by the strongest oracle that is feasible at this scale.

Usage:
  python3 tools/check_cc_sample.py [fixtureDir] [--seeds=N] [--seed=S] \
      [--skip-verify]
Defaults: /tmp/graft_sf100docs, 5000 seeds, seed 1. Scratch dir:
GRAFT_CC_OUT (default /tmp/cc_sample_out) — same isolation rule as
check_oracle.py (never share a scratch dir between concurrent runs).
DuckDB spill cap: GRAFT_DUCK_TEMP_CAP (default 60GiB).
"""
import json, math, os, subprocess, sys

args = [a for a in sys.argv[1:] if not a.startswith("--")]
SF_DIR = args[0] if args else "/tmp/graft_sf100docs"
OUT = os.environ.get("GRAFT_CC_OUT", "/tmp/cc_sample_out")
SEEDS = 5000
SEED = 1
for a in sys.argv[1:]:
    if a.startswith("--seeds="):
        SEEDS = int(a[len("--seeds="):])
    if a.startswith("--seed="):
        SEED = int(a[len("--seed="):])
# print the EFFECTIVE seed into this tool's own output (ADVICE r10): the
# weekly-rotating default means a red run near a week boundary is only
# reproducible if the seed that actually ran is in the log, not just in
# the caller's echoed command line
print(f"[cc] fixture={SF_DIR} seeds={SEEDS} seed={SEED}", flush=True)

CC_ENTRIES = ["p17_dedup_keeper", "p19_clean_corpus", "p35_keeper_by_quality",
              "p53_cluster_size_histogram", "p56_dedup_funnel",
              "p66_leakage_safe_split", "p72_filter_ablation"]
PAIRS_ENTRY = "p03_dedup_minhash_lsh"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

if "--skip-verify" not in sys.argv:
    env = dict(os.environ)
    # p03 rides along for its oracle SQL (Verify filters oracle_sql.json to
    # the ONLY set); its Spark side shares the pair cache p17 builds anyway
    env["SPARK_GRAFT_ONLY"] = ",".join(CC_ENTRIES + [PAIRS_ENTRY])
    r = subprocess.run(
        ["sbt", "-batch", f'runMain graft.Verify {SF_DIR} {OUT}'],
        capture_output=True, text=True, cwd="/root/repo", env=env)
    errs = [l for l in (r.stdout + r.stderr).splitlines()
            if ("[verify]" in l and " failed:" in l) or "error" in l.lower()]
    for l in errs[:30]:
        print(l)
    if r.returncode != 0:
        print("VERIFY RUN FAILED"); sys.exit(1)

import duckdb

con = duckdb.connect()
con.execute("SET temp_directory='/root/repo/.tmp'")
con.execute(f"SET max_temp_directory_size='{os.environ.get('GRAFT_DUCK_TEMP_CAP', '60GiB')}'")
for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

oracles = json.load(open(f"{OUT}/oracle_sql.json"))
fails = []

# ---- part 1: sampled exact labels ------------------------------------
print(f"[cc] building pair table at {SF_DIR} (p03's oracle-checked SQL)",
      flush=True)
con.execute(f"CREATE TEMP TABLE pairs AS {oracles[PAIRS_ENTRY]}")
pairs = con.sql("SELECT id_a, id_b FROM pairs").fetchall()
print(f"[cc] {len(pairs)} pairs", flush=True)

adj = {}
for a, b in pairs:
    adj.setdefault(a, []).append(b)
    adj.setdefault(b, []).append(a)

# deterministic seed pick: order paired ids by a keyed hash, take the
# first N (stable across runs, parameterizable so gate runs can rotate
# samples the way the fuzzer rotates its grammar seeds). A REAL hash, not
# modular arithmetic: two earlier attempts silently degenerated — an
# additive seed only rotates the key circle (ordering preserved), and a
# multiplicative seed never wraps the modulus for doc_id-sized inputs
# (d*M << P), leaving the ordering monotonic in d. Both were caught the
# same way: different seeds produced byte-identical closure sizes.
# blake2b has no such structure and is version-stable.
import hashlib
def key(d):
    return hashlib.blake2b(f"{d}:{SEED}".encode(), digest_size=8).digest()
nodes = sorted(adj)
seeds = sorted(nodes, key=lambda d: (key(d), d))[:SEEDS]

# BFS-expand seeds to component closure over the full pair graph
S = set(seeds)
frontier = list(S)
rounds = 0
while frontier:
    rounds += 1
    nxt = []
    for d in frontier:
        for n in adj.get(d, ()):  # seeds are drawn from adj, but stay safe
            if n not in S:
                S.add(n)
                nxt.append(n)
    frontier = nxt
print(f"[cc] sample: {len(seeds)} seeds -> {len(S)} docs after "
      f"{rounds} BFS rounds (closure-closed)", flush=True)

# exact union-find over the induced edges (= all edges incident to S,
# since S is closure-closed)
parent = {d: d for d in S}
def find(x):
    while parent[x] != x:
        parent[x] = parent[parent[x]]
        x = parent[x]
    return x
for a, b in pairs:
    if a in S:  # closure-closed: a in S iff b in S for an edge
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
comp_min, comp_size = {}, {}
for d in S:
    r = find(d)
    comp_min[r] = min(comp_min.get(r, d), d)
    comp_size[r] = comp_size.get(r, 0) + 1
truth = {d: comp_min[find(d)] for d in S}
n_comp = len(comp_min)
print(f"[cc] ground truth: {n_comp} components, max size "
      f"{max(comp_size.values())}", flush=True)

p17_rel = con.sql(f"SELECT doc_id, keeper_id, kept FROM "
                  f"read_parquet('{OUT}/p17_dedup_keeper/*.parquet')")
# the driver's hasher sees column TYPES (r5 lesson, same rule as
# check_oracle.py): p17's columns must read back as the exact types its
# 1x/10x oracle pins (BIGINT ids, BOOLEAN kept) — a writer change that
# widened doc_id to HUGEINT/DOUBLE would carry bit-identical values here
# yet hash-fail the driver
p17_types = dict(zip([c.lower() for c in p17_rel.columns],
                     [str(t) for t in p17_rel.types]))
P17_WANT_TYPES = {"doc_id": "BIGINT", "keeper_id": "BIGINT",
                  "kept": "BOOLEAN"}
if p17_types != P17_WANT_TYPES:
    fails.append(("p17_sample",
                  f"TYPES: spark={p17_types} want={P17_WANT_TYPES}"))
spark = dict()
for doc_id, keeper_id, kept in p17_rel.fetchall():
    spark[doc_id] = (keeper_id, kept)

bad = 0
for d in sorted(S):
    want = (truth[d], d == truth[d])
    got = spark.get(d)
    if got != want:
        bad += 1
        if bad <= 10:
            fails.append(("p17_sample",
                          f"doc {d}: spark={got} truth(keeper,kept)={want}"))
# global membership (not sample-bounded — both sides are cheap at any
# scale): p17 must label exactly the docs that appear in some pair
if set(spark) != set(adj):
    only_s = sorted(set(spark) - set(adj))[:10]
    only_p = sorted(set(adj) - set(spark))[:10]
    fails.append(("p17_sample",
                  f"label-set vs paired-doc-set mismatch: spark-only={only_s} "
                  f"pairs-only={only_p}"))
if bad:
    fails.append(("p17_sample", f"{bad}/{len(S)} sampled docs mismatch"))
else:
    print(f"[cc] PART 1 GREEN: {len(S)}/{len(S)} sampled docs carry the "
          f"exact (keeper, kept) of the union-find ground truth", flush=True)

# ---- part 2: label-substituted derived oracles -----------------------
# the splice is text-coupled to the derived oracles' closure block; anchor
# the markers with word boundaries and require EXACTLY ONE match of each,
# so a renamed CTE (candidate_edges), comment text, or a refactor that
# duplicates the block fails with a precise message instead of splicing at
# the wrong offset
import re as _re
SUB_START = _re.compile(r"\bedges AS \(")
SUB_END = _re.compile(r"\bAS keeper_id FROM reach GROUP BY id\)")
labels_cte = ("labels AS (SELECT doc_id AS id, keeper_id FROM "
              f"read_parquet('{OUT}/p17_dedup_keeper/*.parquet'))")

def norm(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                v = round(v, 9)
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=lambda r: tuple(str(x) for x in r))

def approx_eq(a, b):
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b or abs(a - b) <= 1e-12 * max(1.0, abs(a), abs(b))
    return a == b

import time
for name in CC_ENTRIES:
    if name == "p17_dedup_keeper":
        continue  # part 1 IS p17's check; substitution would be circular
    sql = oracles[name]
    starts = list(SUB_START.finditer(sql))
    ends = list(SUB_END.finditer(sql))
    if len(starts) != 1 or len(ends) != 1:
        fails.append((name, f"SUBST: closure CTE markers matched "
                            f"{len(starts)} start(s) / {len(ends)} end(s), "
                            "need exactly 1 of each"))
        continue
    sub = sql[:starts[0].start()] + labels_cte + sql[ends[0].end():]
    t0 = time.time()
    try:
        want_rel = con.sql(sub)
        want_cols = [c.lower() for c in want_rel.columns]
        want = norm(want_rel.fetchall(), want_cols)
        got_rel = con.sql(f"SELECT * FROM read_parquet('{OUT}/{name}/*.parquet')")
        got_cols = [c.lower() for c in got_rel.columns]
        got = norm(got_rel.fetchall(), got_cols)
        # same per-column TYPE rule as check_oracle.py (r5: the driver hash
        # sees types — BIGINT-vs-HUGEINT/DOUBLE fails even on equal values)
        got_types = dict(zip(got_cols, [str(t) for t in got_rel.types]))
        want_types = dict(zip(want_cols, [str(t) for t in want_rel.types]))
    except Exception as e:
        fails.append((name, f"EXEC: {e}"))
        continue
    if sorted(got_cols) != sorted(want_cols):
        fails.append((name, f"COLS: spark={sorted(got_cols)} duck={sorted(want_cols)}"))
        continue
    tdiff = {c: (got_types[c], want_types[c]) for c in got_types
             if got_types[c] != want_types[c]}
    if tdiff:
        fails.append((name, f"TYPES: {tdiff} (spark, duck)"))
        continue
    if len(got) != len(want):
        fails.append((name, f"ROWS: spark={len(got)} duck={len(want)}"))
        continue
    bad_pair = None
    for g, w in zip(got, want):
        for a, b in zip(g, w):
            if a != b and not approx_eq(a, b):
                bad_pair = (g, w)
                break
        if bad_pair:
            break
    if bad_pair:
        fails.append((name, f"VALS: spark={bad_pair[0]} duck={bad_pair[1]}"))
    else:
        print(f"[cc] {name}: label-substituted oracle matches "
              f"({len(got)} rows, {time.time()-t0:.0f}s)", flush=True)

print()
if fails:
    for name, why in fails:
        print(f"FAIL {name}: {why}")
    sys.exit(1)
print(f"CC SAMPLE GATE GREEN at {SF_DIR}: part 1 exact on {len(S)} docs "
      f"({n_comp} components, seed={SEED}), part 2 all "
      f"{len(CC_ENTRIES)-1} derived oracles match")
