#!/usr/bin/env python3
"""Compare two directories of `graft.Explain` plans.

Usage: python3 tools/plan_diff.py <dirA> <dirB>

Each directory holds `<query>_<suffix>.txt` files written by
`graft.Explain` (the suffix may differ between the two). A plan is
normalized before the compare, so that what a refactor of the query
code may renumber does not count as a change:

  - expression ids (`p_id#14008L` -> `p_id#?L`),
  - exchange plan ids (`[plan_id=19]`),
  - RDD ids (`MapPartitionsRDD[1125]`),
  - call sites (`at localCheckpoint at SimilarityQueries.scala:291`),

and so is what differs between any two runs of the same code:

  - JVM identity hashes of embedded arrays (`[[D@5f08c07d`) and of
    lambdas (`Sketches$$$Lambda$6174/0x00007f0989270800@2557ceb0`),
  - the per-JVM scratch directory (`graft-scratch3022756309952081345`).

Prints each query whose normalized plan differs (with the first differing
lines) and each query present on one side only. Exits 1 if any query
differs or is missing, 0 otherwise.
"""
import difflib
import os
import re
import sys

SUBS = [
    (re.compile(r"#\d+"), "#?"),
    (re.compile(r"\[plan_id=\d+\]"), "[plan_id=?]"),
    (re.compile(r"RDD\[\d+\]"), "RDD[?]"),
    (re.compile(r" at [\w$.<>]+ at [\w$.]+\.(scala|java):\d+"), " at <call site>"),
    (re.compile(r"(\[+[A-Z][\w.$;]*)@[0-9a-f]+"), r"\1@?"),
    (re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+@[0-9a-f]+"), "$Lambda$?"),
    (re.compile(r"graft-scratch\d+"), "graft-scratch?"),
]


def load(d):
    plans = {}
    for f in sorted(os.listdir(d)):
        if f.endswith(".txt"):
            plans[f[:-4].rsplit("_", 1)[0]] = os.path.join(d, f)
    return plans


def normalized(path):
    lines = []
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            for pat, rep in SUBS:
                line = pat.sub(rep, line)
            lines.append(line.rstrip("\n"))
    return lines


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    a, b = load(sys.argv[1]), load(sys.argv[2])
    bad = 0
    for q in sorted(set(a) | set(b)):
        if q not in a or q not in b:
            print(f"ONLY IN {'B' if q in b else 'A'}: {q}")
            bad += 1
            continue
        la, lb = normalized(a[q]), normalized(b[q])
        if la != lb:
            bad += 1
            print(f"DIFFERS: {q}")
            diff = list(difflib.unified_diff(la, lb, "A", "B", lineterm="", n=0))
            for line in diff[2:12]:
                print(f"    {line}")
    n = len(set(a) | set(b))
    print(f"{n - bad} of {n} plans equal")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
