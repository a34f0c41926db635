#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run graft.Verify, then
replay every oracle SQL in DuckDB over the same fixture tables and compare
(column-name-sorted, row-sorted, exact values). Usage:
    python3 tools/check_oracle.py [sfDir] [--skip-verify] [--only=a,b,..]

--only scopes the DUCKDB comparison loop (and is forwarded to Verify via
SPARK_GRAFT_ONLY unless --skip-verify). DuckDB's spill is capped
(GRAFT_DUCK_TEMP_CAP, default 30GiB) so one pathological oracle at a big
synthesized fixture fails fast with a recorded error instead of filling
the disk — the r8 100x run hit 66GB of spill on a single pairwise-dedup
oracle and had to be killed at 99% disk.
"""
import json, math, os, subprocess, sys

SF_DIR = sys.argv[1] if len(sys.argv) > 1 and not sys.argv[1].startswith("--") \
    else "/root/testdata/sf0.01"
# Scratch dir is overridable because it is SHARED MUTABLE STATE between
# concurrent invocations: an r8 retry (--skip-verify, comparing a 100x
# fixture's outputs) ran while a fresh sf0.01 gate re-ran Verify into the
# default dir — the retry silently compared sf0.01 Spark results against
# 100x oracles and reported phantom mismatches. Concurrent runs MUST use
# distinct GRAFT_VERIFY_OUT dirs.
OUT = os.environ.get("GRAFT_VERIFY_OUT", "/tmp/verify_out")
ONLY = None
for a in sys.argv[1:]:
    if a.startswith("--only="):
        ONLY = set(a[len("--only="):].split(","))
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

if "--skip-verify" not in sys.argv:
    env = dict(os.environ)
    if ONLY:
        env["SPARK_GRAFT_ONLY"] = ",".join(sorted(ONLY))
    r = subprocess.run(
        ["sbt", "-batch", f'runMain graft.Verify {SF_DIR} {OUT}'],
        capture_output=True, text=True, cwd="/root/repo", env=env)
    # Verify logs every entry's time on "[verify]" lines; show only failures
    errs = [l for l in (r.stdout + r.stderr).splitlines()
            if ("[verify]" in l and " failed:" in l) or "error" in l.lower()]
    for l in errs[:30]:
        print(l)
    if r.returncode != 0:
        print("VERIFY RUN FAILED"); sys.exit(1)

import duckdb

def fresh_con():
    c = duckdb.connect()
    c.execute("SET temp_directory='/root/repo/.tmp'")
    c.execute(f"SET max_temp_directory_size='{os.environ.get('GRAFT_DUCK_TEMP_CAP', '30GiB')}'")
    for t in TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return c

con = fresh_con()

oracles = json.load(open(f"{OUT}/oracle_sql.json"))


def only_match(name):
    # Verify matches SPARK_GRAFT_ONLY by name PREFIX (startsWith);
    # this loop must use the same rule or a prefix like --only=p3 runs
    # Verify for p30..p39 yet compares none of them, reporting a green
    # pass over zero entries.
    return ONLY is None or any(name.startswith(p) for p in ONLY)


if ONLY is not None:
    matched = {k for k in oracles if only_match(k)}
    no_oracle_matched = {p for p in ONLY
                         if not any(k.startswith(p) for k in oracles)}
    oracles = {k: v for k, v in oracles.items() if k in matched}
    if no_oracle_matched:
        print(f"  (only-filter prefixes without an oracle: "
              f"{sorted(no_oracle_matched)} — checked as no-oracle dirs if present)")

def norm(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                v = round(v, 9)  # driver hashes exact; we allow 1e-9 display tolerance flag below
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=lambda r: tuple(str(x) for x in r))

def approx_eq(a, b):
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b or abs(a - b) <= 1e-12 * max(1.0, abs(a), abs(b))
    return a == b

fails, passes, exact = [], 0, 0
import glob, time
for name in sorted(oracles):
    t0 = time.time()
    try:
        got_rel = con.sql(f"SELECT * FROM read_parquet('{OUT}/{name}/*.parquet')")
        got_cols = [c.lower() for c in got_rel.columns]
        got = norm(got_rel.fetchall(), got_cols)
        want_rel = con.sql(oracles[name])
        want_cols = [c.lower() for c in want_rel.columns]
        want = norm(want_rel.fetchall(), want_cols)
        # the driver's hasher sees column TYPES, not just values — a DuckDB
        # HUGEINT (sum widening) or BIGINT-vs-DOUBLE (percentile_disc)
        # divergence hash-fails even when every value is bit-identical
        # (r5: p43/p51/p60). Compare the DuckDB-visible type per column.
        got_types = dict(zip(got_cols, [str(t) for t in got_rel.types]))
        want_types = dict(zip(want_cols, [str(t) for t in want_rel.types]))
    except Exception as e:
        fails.append((name, f"EXEC: {e}"))
        # a failed query (e.g. temp-cap breach) can leave the instance's
        # spill allocated — reconnect so the next oracle starts clean
        try:
            con.close()
        except Exception:
            pass
        con = fresh_con()
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
    bad = None
    is_exact = True
    for g, w in zip(got, want):
        for a, b in zip(g, w):
            if a != b:
                is_exact = False
                if not approx_eq(a, b):
                    bad = (g, w)
                    break
        if bad:
            break
    if bad:
        fails.append((name, f"VALS: spark={bad[0]} duck={bad[1]}"))
    else:
        passes += 1
        exact += 1 if is_exact else 0
        if not is_exact:
            print(f"  ~ {name}: rows match only approximately (driver hash would FAIL)")
    dt = time.time() - t0
    if dt > 10:
        print(f"  t {name}: oracle+compare {dt:.0f}s", flush=True)

# queries without oracle: rows-only — and those queries are built to be
# SELF-CHECKING (q18/q42/p13 filter on rel_err < 0.05), so ZERO rows means
# the sketch broke and must FAIL the gate, not just print
no_oracle = [d.split("/")[-1] for d in glob.glob(f"{OUT}/*")
             if "/" + "oracle_sql.json" not in d and not d.endswith(".json")]
# scope the sweep to entries the LAST Verify run actually wrote (ran.json
# manifest) — stale dirs from an earlier full run would otherwise produce
# bogus FAILs in subset mode
try:
    ran = set(json.load(open(f"{OUT}/ran.json")))
    no_oracle = [n for n in no_oracle if n in ran]
except FileNotFoundError:
    pass
if ONLY is not None:
    no_oracle = [n for n in no_oracle if only_match(n)]
    if not oracles and not no_oracle:
        print(f"ONLY filter {sorted(ONLY)} matched no oracle and no "
              "no-oracle output dir — nothing was checked")
        sys.exit(1)
for name in sorted(set(no_oracle) - set(oracles)):
    try:
        n = con.sql(f"SELECT count(*) FROM read_parquet('{OUT}/{name}/*.parquet')").fetchone()[0]
        if n == 0:
            fails.append((name, "NO-ORACLE: 0 rows (self-check filter emptied the result)"))
        else:
            print(f"  . {name}: no oracle, rows={n}")
    except Exception as e:
        fails.append((name, f"NO-ORACLE EXEC: {e}"))

print(f"\n{passes}/{len(oracles)} oracle queries pass ({exact} bit-exact)")
for name, why in fails:
    print(f"FAIL {name}: {why}")
sys.exit(1 if fails else 0)
