#!/usr/bin/env python3
"""Calib-normalized cross-round bench comparison.

Usage: python3 tools/bench_compare.py <old.json> <new.json> [flag_ratio]

Each input is either a BENCH_SELF.json-style capture ({"queries": {...},
"calib_sec": s, ...}) or a driver BENCH_r{N}.json whose "tail" field
carries the queries_part lines. Host speed swings >2x between rounds
(r9: an identical harness measured 98 s one day and 214 s another), so
raw per-query ratios are mostly noise; the calib_sec field records a
fixed CPU-bound reference job on the same host moments before the run,
and dividing it out isolates plan changes from machine changes.

Prints per-query normalized ratios new/old (after dividing each side by
its calib_sec), flags movers past flag_ratio (default 1.5x either way),
and writes a JSON artifact next to the newer input
(<new>.compare.json) with the full map. When both inputs carry a
"counts" map (graft.Bench's BENCH_SELF.json), it also prints the summed
jobs (and build_jobs, where both sides have them) old -> new and, for
every shared query whose counts differ, its counts old -> new next to
its time ratio.

Driver-side tooling only (not a dependency of the Scala library).
"""
import json
import re
import sys


def load(path):
    with open(path) as f:
        d = json.load(f)
    if "queries" in d and isinstance(d["queries"], dict) and d["queries"]:
        return d
    # driver capture: per-query maps live in queries_part lines in "tail"
    tail = d.get("tail", "")
    queries = {}
    total = None
    calib = None
    for line in tail.splitlines():
        m = re.search(r'\{"metric":.*\}', line)
        if not m:
            continue
        try:
            t = json.loads(m.group(0))
        except json.JSONDecodeError:
            continue  # a part line truncated by the capture window
        if t.get("metric") == "queries_part":
            queries.update(t["queries"])
        elif t.get("metric") == "total":
            total, calib = t.get("value"), t.get("calib_sec")
    return {"queries": queries, "value": total, "calib_sec": calib}


def job_counts(old, new, shared, ratios):
    """Per-query and summed jobs/build_jobs old -> new, or None when an
    input has no "counts" map."""
    co, cn = old.get("counts"), new.get("counts")
    if not co or not cn:
        return None
    qs = [q for q in shared if q in co and q in cn]
    keys = [k for k in ("jobs", "build_jobs")
            if all(k in c[q] for c in (co, cn) for q in qs)]
    out = {"total": {k: [sum(co[q][k] for q in qs), sum(cn[q][k] for q in qs)]
                     for k in keys},
           "queries": {q: {k: [co[q][k], cn[q][k]] for k in keys} for q in qs}}
    print("\njobs (summed over shared queries): " + ", ".join(
        f"{k} {a} -> {b}" for k, (a, b) in out["total"].items()))
    moved = [q for q in qs if any(a != b for a, b in out["queries"][q].values())]
    for q in moved:
        r = ratios.get(q)
        print(f"  {q}: " + ", ".join(f"{k} {a} -> {b}" for k, (a, b)
                                    in out["queries"][q].items())
              + (f"  time ratio {r:.2f}x" if r is not None else "  crashed on one side"))
    if not moved:
        print("  no query's counts changed")
    return out


def main():
    old_path, new_path = sys.argv[1], sys.argv[2]
    flag = float(sys.argv[3]) if len(sys.argv) > 3 else 1.5
    old, new = load(old_path), load(new_path)
    have_calib = bool(old.get("calib_sec")) and bool(new.get("calib_sec"))
    c_old = old["calib_sec"] if have_calib else 1.0
    c_new = new["calib_sec"] if have_calib else 1.0
    if not have_calib:
        print("WARNING: calib_sec missing on one side; ratios are RAW "
              "(host-speed noise not removed)")
    shared = sorted(set(old["queries"]) & set(new["queries"]))
    only_old = sorted(set(old["queries"]) - set(new["queries"]))
    only_new = sorted(set(new["queries"]) - set(old["queries"]))
    out = {"calib_old": c_old, "calib_new": c_new,
           "calib_ratio": c_new / c_old, "n_shared": len(shared),
           "only_old": only_old, "only_new": only_new, "ratios": {}}
    movers = []
    for q in shared:
        a, b = old["queries"][q], new["queries"][q]
        if a <= 0 or b <= 0:
            out["ratios"][q] = None  # crashed on one side
            movers.append((float("inf"), q, a, b))
            continue
        r = (b / c_new) / (a / c_old)
        out["ratios"][q] = round(r, 3)
        if r >= flag or r <= 1.0 / flag:
            movers.append((r, q, a, b))
    tot_old = sum(v for v in old["queries"].values() if v > 0) / c_old
    tot_new = sum(new["queries"][q] for q in shared
                  if new["queries"][q] > 0) / c_new
    shared_old = sum(old["queries"][q] for q in shared
                     if old["queries"][q] > 0) / c_old
    out["shared_total_ratio"] = round(tot_new / shared_old, 3) if shared_old else None
    print(f"calib: old={c_old:.3f}s new={c_new:.3f}s "
          f"(host speed ratio {c_new / c_old:.2f}x)")
    print(f"shared queries: {len(shared)}; normalized shared-total ratio "
          f"new/old = {out['shared_total_ratio']}")
    if only_new:
        print(f"new-only queries ({len(only_new)}): {', '.join(only_new[:10])}"
              + (" ..." if len(only_new) > 10 else ""))
    if movers:
        print(f"\nmovers past {flag}x (normalized):")
        for r, q, a, b in sorted(movers, key=lambda x: -x[0]):
            print(f"  {q}: {a:.3f}s -> {b:.3f}s  ratio {r:.2f}x"
                  if r != float("inf") else f"  {q}: crashed on one side")
    else:
        print(f"\nno movers past {flag}x")
    counts = job_counts(old, new, shared, out["ratios"])
    if counts is not None:
        out["counts"] = counts
    art = new_path + ".compare.json"
    with open(art, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(f"\nwrote {art}")


if __name__ == "__main__":
    main()
