#!/usr/bin/env python3
"""Benchmark of the program's batch tier and its camera pipeline.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It compiles the program (src/main/scala)
and the benchmark's own sources (perfbench/src) with the Scala compiler
shipped in the Spark distribution, generates the workload's inputs from
the seed, runs one benchmark JVM, checks the outputs and prints, as the
last line, one JSON object with `correct`, `attempted`, `failed` and
`metrics` (the end-to-end metrics, or with `--trace 1` the per-layer
metrics). Everything it writes goes under .bench_build/perfbench/.
See perfbench/README.md.

The build also records a class-data-sharing archive from one short run of
every workload, so that each benchmark JVM loads its classes from the
archive instead of some 300 jars.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import zipfile

sys.dont_write_bytecode = True

SPARK_JARS = os.environ.get("SPARK_JARS", "/opt/spark/jars")
BUILD = os.path.join(".bench_build", "perfbench")
HERE = os.path.dirname(os.path.abspath(__file__))
JAR = os.path.join(BUILD, "perfbench.jar")
ARCHIVE = os.path.join(BUILD, "classes.jsa")
# the JVM gets this long; input generation and checks fit in the rest
# of the 180 s a run may take once built
JVM_TIMEOUT_S = 150

SCAN_AGG = ["q01_pricing_summary", "q04_nation_revenue", "q09_rollup_lineitem",
            "q27_grouping_sets", "q182_rollup_ratios"]
ITERATIVE_PINS = ["q184_rfm_segments", "q199_kcore"]

# What differs between the workloads, and the settings the short runs of
# train() lower; the JVM receives them as arguments. The camera's fixed
# make-up is in CameraWorkload.scala.
WORKLOADS = {
    "scan_agg": {
        "kind": "batch", "sf": 0.03, "queries": SCAN_AGG,
        "tables": ["region", "nation", "customer", "orders", "lineitem"],
        "min-passes": 3,
    },
    "iterative_pins": {
        "kind": "batch", "sf": 0.01, "queries": ITERATIVE_PINS,
        "tables": ["orders", "lineitem", "events"],
        "min-passes": 3,
    },
    "camera_stream": {"kind": "camera", "min-drains": 4, "live-min-frames": 1000},
}

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    prog = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    if not prog:
        fail("no program sources under src/main/scala: run from the root of a checkout")
    if not os.path.isdir(SPARK_JARS):
        fail(f"no Spark distribution at {SPARK_JARS}")
    return prog, bench


def build():
    """Compiles program and benchmark, packs them into one jar and records
    the class-data-sharing archive, once per source state."""
    prog, bench = sources()
    h = hashlib.sha256()
    for f in prog + bench:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "build.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    for f in (stamp_file, JAR, ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    tmp = os.path.join(BUILD, "classes")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(SPARK_JARS, "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", tmp, "-cp", cp] + prog + bench
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        fail("compilation failed")
    with zipfile.ZipFile(JAR, "w") as z:
        for d, _, files in os.walk(tmp):
            for f in sorted(files):
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), tmp))
    shutil.rmtree(tmp)
    train()
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


def train():
    """One JVM runs every workload briefly and records the classes it
    loaded into the archive the benchmark JVMs then map."""
    work = os.path.join(BUILD, "train")
    shutil.rmtree(work, ignore_errors=True)
    lines = []
    for name, spec in WORKLOADS.items():
        short = {"seconds": 0.1, "min-passes": 1, "live-min-frames": 100, "min-drains": 1}
        kv = dict(spec, **{k: v for k, v in short.items() if k in spec or k == "seconds"})
        data = generate(name, 0, os.path.join(work, "data", name)) if spec["kind"] == "batch" else None
        lines.append(" ".join(jvm_args(name, 0, kv, 0, os.path.join(work, name), data)))
    plan = os.path.join(work, "plan.txt")
    with open(plan, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    code = run_jvm(["--plan", plan], os.path.join(work, "jvm.log"),
                   time.time() + JVM_TIMEOUT_S, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"])
    if code != 0 or not os.path.exists(ARCHIVE):
        with open(os.path.join(work, "jvm.log")) as fh:
            print(fh.read()[-4000:], file=sys.stderr)
        fail(f"recording the class-data-sharing archive failed ({code})")
    shutil.rmtree(work)


def generate(workload, seed, data):
    sys.path.insert(0, HERE)
    import gen
    shutil.rmtree(data, ignore_errors=True)
    gen.generate(data, seed, WORKLOADS[workload]["sf"])
    return data


def jvm_args(workload, seed, spec, trace, out, data):
    """The benchmark JVM's arguments for one workload run."""
    kv = {"workload": workload, "seed": seed, "trace": trace, "out": os.path.abspath(out),
          "cores": len(os.sched_getaffinity(0)),
          **{k: v for k, v in spec.items() if k != "sf"}}
    if data:
        kv["data"] = os.path.abspath(data)
    argv = []
    for k, v in kv.items():
        argv += [f"--{k}", ",".join(v) if isinstance(v, list) else str(v)]
    return argv


def run_jvm(argv, log_path, deadline, extra=()):
    tmpdir = os.path.abspath(os.path.join(os.path.dirname(log_path), "tmp"))
    os.makedirs(tmpdir, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", "-XX:-UsePerfData", "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmpdir}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + list(extra)
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS]
           + ["-cp", os.pathsep.join([JAR, os.path.join(SPARK_JARS, "*")]), "perfbench.Main"]
           + argv)
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            return p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return "timeout"


def jvm(workload, args, out, deadline):
    spec = dict(WORKLOADS[workload], seconds=args.seconds)
    argv = jvm_args(workload, args.seed, spec, args.trace, out, args.data)
    log = os.path.join(out, "jvm.log")
    code = run_jvm(argv, log, deadline, [f"-XX:SharedArchiveFile={ARCHIVE}"])
    if code != 0:
        with open(log) as fh:
            print(fh.read()[-4000:], file=sys.stderr)
        fail(f"benchmark JVM ended with {code}")
    with open(os.path.join(out, "result.json")) as fh:
        return json.load(fh)


def parity(data, outputs):
    """Each output against DuckDB running the query's own oracle SQL on
    the same parquet (the comparison of tools/parity_check.py)."""
    sys.path.insert(0, "tools")
    import duckdb
    import pandas as pd
    import parity_check
    con = duckdb.connect()
    for t in parity_check.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    with open(os.path.join(outputs, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    checks = []
    for name in sorted(oracle):
        try:
            problems = parity_check.compare(name, pd.read_parquet(os.path.join(outputs, name)),
                                            con.execute(oracle[name]).fetchdf())
        except Exception as ex:  # an unreadable output or a failing oracle is a failed check
            problems = [f"{type(ex).__name__}: {str(ex)[:300]}"]
        checks.append({"name": f"duckdb:{name}", "ok": not problems, "detail": "; ".join(problems)})
    return checks


def spec_metrics(trace):
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return spec["per_layer" if trace else "end_to_end"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    wanted = spec_metrics(args.trace)
    build()
    deadline = time.time() + JVM_TIMEOUT_S
    out = os.path.join(BUILD, "work", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    spec = WORKLOADS[args.workload]
    args.data = (generate(args.workload, args.seed, os.path.join(BUILD, "data", args.workload))
                 if spec["kind"] == "batch" else None)
    try:
        res = jvm(args.workload, args, out, deadline)
        checks = res["checks"]
        if spec["kind"] == "batch":
            checks = checks + parity(args.data, res["outputs"])
    finally:
        if args.data:
            shutil.rmtree(args.data, ignore_errors=True)
    correct = all(c["ok"] for c in checks) and not res["errors"]
    attempted, failed = res["attempted"], res["failed"]
    if not correct:
        failed = attempted
    values = res["layer"] if args.trace else res["e2e"]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "correct": correct, "attempted": attempted,
              "failed": failed, "checks": checks, "errors": res["errors"],
              "e2e": res["e2e"], "layer": res["layer"], "raw": res["raw"], "host": res["host"]}
    runs = os.path.join(BUILD, "runs")
    os.makedirs(runs, exist_ok=True)
    stem = os.path.join(runs, f"{args.workload}-s{args.seed}-t{args.trace}")
    with open(stem + ".json", "w") as fh:
        json.dump(record, fh, indent=1)
    if os.path.exists(os.path.join(out, "spans.jsonl")):
        shutil.copy(os.path.join(out, "spans.jsonl"), stem + ".spans.jsonl")
    shutil.rmtree(out, ignore_errors=True)
    for c in checks:
        if not c["ok"]:
            print(f"# check failed: {c['name']}: {c['detail']}")
    for e in res["errors"]:
        print(f"# error: {e}")
    host = res["host"]
    print(f"# host: calib_s={host['calib_s']:.4f} load1={host['load1']} cores={host['cores']}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
