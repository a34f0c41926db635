#!/usr/bin/env python3
"""Per-entry bench regression guard (r5 post-mortem tooling).

The driver's full-registry bench run measured 2.6x slowdowns on entries
whose code did not change (q29 22.9 s driver vs 0.73 s isolated) — the
single-JVM process was degrading itself. This tool catches the next such
silent degradation by diffing a bench JSON against a stored per-entry
profile:

    python3 tools/bench_profile.py record BENCH.json   # refresh BENCH_PROFILE.json
    python3 tools/bench_profile.py check  BENCH.json   # exit 1 on regressions

`check` flags entries slower than max(TOL_RATIO x profile, profile + TOL_ABS)
— the absolute floor keeps sub-second entries from tripping on scheduler
jitter; the ratio catches the real multi-x contamination signature.
"""
import json, os, sys

PROFILE = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "..", "BENCH_PROFILE.json")
TOL_RATIO = 2.0
TOL_ABS = 1.0  # seconds


def load(path):
    with open(path) as f:
        doc = json.load(f)
    qs = doc.get("queries", doc)
    # The driver-tail compact line carries only the 30 slowest in "queries"
    # but ALL entries as columnar arrays ("cols": {"p": [...], ...}, index =
    # 1-based numeric suffix). Prefer that complete map when present.
    if isinstance(doc, dict) and isinstance(doc.get("cols"), dict):
        qs = {f"{fam}{i:02d}": v
              for fam, vals in doc["cols"].items()
              for i, v in enumerate(vals, start=1)}
    return {k: v for k, v in qs.items() if isinstance(v, (int, float)) and v >= 0}


def main():
    if len(sys.argv) != 3 or sys.argv[1] not in ("record", "check", "merge"):
        print(__doc__)
        return 2
    mode, path = sys.argv[1], sys.argv[2]
    cur = load(path)
    if mode == "record":
        json.dump(dict(sorted(cur.items())), open(PROFILE, "w"), indent=1)
        print(f"recorded {len(cur)} entries -> {PROFILE}")
        return 0
    if mode == "merge":
        # per-entry MINIMA merge — the standing way to fold a full-registry
        # run into the profile. `record` OVERWRITES, which silently loosens
        # the guard whenever the new run's ambient is worse than the stored
        # minima (every run at >1x ambient would); merge only tightens.
        prof = load(PROFILE) if os.path.exists(PROFILE) else {}
        merged = {k: min(prof.get(k, float("inf")), cur.get(k, float("inf")))
                  for k in set(prof) | set(cur)}
        improved = sum(1 for k in merged if k in prof and merged[k] < prof[k])
        json.dump(dict(sorted(merged.items())), open(PROFILE, "w"), indent=1)
        print(f"merged minima -> {PROFILE}: {improved} improved, "
              f"total {sum(merged.values()):.1f}s over {len(merged)} entries")
        return 0
    prof = load(PROFILE)
    bad, new = [], []
    for k, v in sorted(cur.items()):
        if k not in prof:
            new.append(k)
            continue
        limit = max(TOL_RATIO * prof[k], prof[k] + TOL_ABS)
        if v > limit:
            bad.append((k, prof[k], v))
    # a profiled entry ABSENT from the run (load() drops failed -1 entries,
    # and a renamed/deleted entry vanishes from the JSON) is the worst
    # regression of all and must not pass silently. Only enforced when the
    # run covers most of the profile — a SPARK_GRAFT_ONLY subset run
    # legitimately omits entries.
    missing = sorted(set(prof) - set(cur))
    full_run = len(cur) >= 0.9 * len(prof)
    for k in new:
        print(f"  new entry (no profile): {k} = {cur[k]:.2f}s")
    for k in missing:
        print(("MISSING " if full_run else "  absent (subset run): ")
              + f"{k}: profiled {prof[k]:.2f}s, not in this run "
              "(failed with -1, or dropped from the registry)")
    for k, p, v in bad:
        print(f"REGRESSION {k}: profile {p:.2f}s -> {v:.2f}s "
              f"({v / max(p, 1e-9):.1f}x)")
    tot_p = sum(prof.get(k, 0) for k in cur)
    tot_c = sum(v for k, v in cur.items() if k in prof)
    print(f"\ncommon-entry sum: profile {tot_p:.1f}s, this run {tot_c:.1f}s "
          f"({tot_c / max(tot_p, 1e-9):.2f}x); {len(bad)} regressions"
          + (f"; {len(missing)} missing" if full_run and missing else ""))
    return 1 if bad or (full_run and missing) else 0


if __name__ == "__main__":
    sys.exit(main())
