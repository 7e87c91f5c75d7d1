#!/usr/bin/env python3
"""Steadiness check: two separate sets of runs of every workload.

    python3 perfbench/steady.py [--runs 10] [--workloads a,b] [--seconds S]

Set A uses seeds 1..runs, set B seeds runs+1..2*runs; every run is one
`perfbench/run.py` process with `--trace 0`. For each workload and
end-to-end metric it prints both sets' medians and quartiles
(statistics.quantiles, n=4), each set's quartile spread as a share of its
median, and the set-to-set change of the median against the metric's
bound in BENCHMARK.json. Every spread but that of setup_s must stay
within the bound, and every median change too. It also prints the host-speed reference time and
load average of every run, and the share of failed operations per set.
All run lines are kept in .bench_build/perfbench/steady-<time>.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def one(workload, seed, seconds):
    t0 = time.time()
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       stdout=subprocess.PIPE, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        return {"workload": workload, "seed": seed, "error": r.returncode}
    host = next((ln for ln in lines if ln.startswith("# host:")), "")
    res = json.loads(lines[-1])
    res.update(workload=workload, seed=seed, wall_s=time.time() - t0,
               host={kv.split("=")[0]: float(kv.split("=")[1]) for kv in host[8:].split()})
    return res


def main():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    args = ap.parse_args()
    workloads = args.workloads.split(",")
    sets = {"A": range(1, args.runs + 1), "B": range(args.runs + 1, 2 * args.runs + 1)}
    runs = []
    for name, seeds in sets.items():
        for w in workloads:
            for s in seeds:
                r = one(w, s, args.seconds)
                r["set"] = name
                runs.append(r)
                m = {k: round(v["value"], 4) for k, v in r.get("metrics", {}).items()}
                print(f"# set {name} {w} seed {s}: wall {r.get('wall_s', 0):.1f} s "
                      f"host {r.get('host')} correct {r.get('correct')} "
                      f"failed {r.get('failed')}/{r.get('attempted')} {m}", flush=True)
    out = os.path.join(".bench_build", "perfbench", f"steady-{int(time.time())}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as fh:
        json.dump(runs, fh, indent=1)

    ok = True
    print(f"\n{'workload':15} {'metric':15} {'A median':>10} {'A q1..q3':>21} {'A spr':>6} "
          f"{'B median':>10} {'B q1..q3':>21} {'B spr':>6} {'B/A-1':>7} {'bound':>6}")
    for w in workloads:
        good = {k: [r for r in runs if r["workload"] == w and r["set"] == k and "metrics" in r]
                for k in sets}
        shares = set()
        for k in sets:
            errs = sum(1 for r in runs if r["workload"] == w and r["set"] == k and "error" in r)
            att = sum(r["attempted"] for r in good[k])
            fail = sum(r["failed"] for r in good[k])
            calib = [r["host"].get("calib_s", 0) for r in good[k]]
            load = [r["host"].get("load1", 0) for r in good[k]]
            print(f"# {w} set {k}: {len(good[k])} runs, {errs} errors, failed {fail}/{att}, "
                  f"calib_s median {statistics.median(calib) if calib else 0:.4f}, "
                  f"load1 median {statistics.median(load) if load else 0:.2f}")
            ok &= errs == 0 and all(r["correct"] for r in good[k])
            shares.add(fail / att if att else None)
        ok &= len(shares) == 1
        for m in spec["end_to_end"]:
            row, meds = [], []
            for k in sets:
                vals = [r["metrics"][m["name"]]["value"] for r in good[k]]
                if len(vals) < 2:
                    row.append(f"{'-':>10} {'-':>21} {'-':>6}")
                    meds.append(None)
                    continue
                q1, med, q3 = statistics.quantiles(vals, n=4)
                row.append(f"{med:10.4g} {q1:10.4g}..{q3:<9.4g} {(q3 - q1) / med:6.1%}")
                meds.append(med)
                # setup_s is one cold JVM start per run, which the host's
                # state moves from run to run; like every metric its median
                # is held to the bound below, but its spread is only shown
                if m["name"] != "setup_s":
                    ok &= (q3 - q1) / med <= m["bound"]
            change = "-"
            if None not in meds:
                worse = (meds[1] / meds[0] - 1) * (1 if m["better"] == "lower" else -1)
                change = f"{meds[1] / meds[0] - 1:+7.1%}"
                ok &= worse <= m["bound"]
            print(f"{w:15} {m['name']:15} {row[0]} {row[1]} {change:>7} {m['bound']:6.0%}")
    print(f"\nsteady: {'yes' if ok else 'NO'} (runs kept in {out})")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
