#!/usr/bin/env python3
"""Compare two directories of graft.PlanDump output, query by query.

Usage: python3 tools/plandiff.py <dirA> <dirB>

PlanDump writes one `<query>_<tag>.txt` per query; the tag (the text after
the last `_`, shared by every file of one dump) is dropped, so dumps taken
under different tags pair up by query name. Each plan is normalised before
the compare, so only real plan changes remain:

  - expression ids (`#123`, `#123L`)          -> `#N`
  - `plan_id=123`                             -> `plan_id=N`
  - RDD ids (`MapPartitionsRDD[7]`, `rdd_7`)   -> `[N]`, `rdd_N`
  - codegen'd array identities (`[[[J@1a2b`)   -> `[[[J@H`
  - temp paths (`/tmp/...`)                   -> `/tmp/P`
  - source lines of RDD creation sites        -> `.scala:L`
  - closure identities (`Lambda$6414/0x...@4892206a`) -> `Lambda$L`

Prints a unified diff for every query whose normalised plans differ, then
one summary line per differing or one-sided query. Exits 0 when every
query present in both dumps matches and no query is missing from either
side, 1 otherwise.
"""
import difflib
import os
import re
import sys

RULES = [
    (re.compile(r"#[0-9]+L?"), "#N"),
    (re.compile(r"\[\[\[J@[0-9a-f]+"), "[[[J@H"),
    (re.compile(r"plan_id=[0-9]+"), "plan_id=N"),
    (re.compile(r"(MapPartitionsRDD|RDD)\[[0-9]+\]"), r"\1[N]"),
    (re.compile(r"rdd_[0-9]+"), "rdd_N"),
    (re.compile(r"/tmp/[^], ]*"), "/tmp/P"),
    (re.compile(r"\.scala:[0-9]+"), ".scala:L"),
    (re.compile(r"Lambda\$[0-9]+/0x[0-9a-f]+@[0-9a-f]+"), "Lambda$L"),
]


def normalise(text):
    for pat, rep in RULES:
        text = pat.sub(rep, text)
    return text.splitlines(keepends=True)


def plans(d):
    """{query: path} for one dump, the shared `_<tag>` suffix dropped."""
    files = sorted(f for f in os.listdir(d) if f.endswith(".txt"))
    stems = [f[:-len(".txt")] for f in files]
    tags = {s.rsplit("_", 1)[-1] for s in stems if "_" in s}
    if len(tags) == 1 and all("_" in s for s in stems):
        stems = [s.rsplit("_", 1)[0] for s in stems]
    return {s: os.path.join(d, f) for s, f in zip(stems, files)}


def main(argv):
    if len(argv) != 3:
        sys.stderr.write(__doc__)
        return 2
    a, b = plans(argv[1]), plans(argv[2])
    differ, only = [], []
    for q in sorted(a.keys() | b.keys()):
        if q not in a or q not in b:
            only.append((q, argv[1] if q in a else argv[2]))
            continue
        with open(a[q]) as fa, open(b[q]) as fb:
            la, lb = normalise(fa.read()), normalise(fb.read())
        if la != lb:
            differ.append(q)
            sys.stdout.writelines(difflib.unified_diff(la, lb, a[q], b[q]))
    for q in differ:
        print(f"DIFFERS {q}")
    for q, side in only:
        print(f"ONLY-IN {side} {q}")
    same = len(a.keys() & b.keys()) - len(differ)
    print(f"{same} identical, {len(differ)} differ, {len(only)} one-sided")
    return 1 if differ or only else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
