#!/usr/bin/env python3
"""Compare two `graft.Explain` (or `graft.ExplainShared`) dumps plan by plan.

Usage: python3 scripts/plan_diff.py <before.log> <after.log> [N]

Each input is the sbt output of `runMain graft.Explain [names...]`: one
`===================== <name> =====================` header per query,
followed by its formatted plan (a scratch main printing `explain(true)`
under the same headers works too). Ids that differ between JVMs for the
same plan are masked before comparing: expression ids (`#123`, `#123L`),
`plan_id=`, reused-operator ids, RDD ids, lambda-variable suffixes, Scala
lambda class names and object hash codes (`SparkSession@1a2b3c`). Prints
the number of plans on each side and the names whose plans differ; with
N, also the first N unified diffs. Exits 1 if any plan differs.

A whole-registry dump is not reproducible for `q_distinct_parts`: its
Expand key order follows expression ids that earlier queries in the same
JVM allocated. Dump it alone on both sides and compare those two files.
"""
import difflib
import re
import sys

MASKS = [
    (r"#\d+L?", "#N"),
    (r"plan_id=\d+", "plan_id=N"),
    (r"operator id: \d+", "operator id: N"),
    (r"Subquery:\s+\d+", "Subquery: N"),
    (r"RDD\[\d+\]", "RDD[N]"),
    (r"\[\d+\] at ", "[N] at "),
    (r"\b(x|y|acc|lambda|namedlambdavariable)_\d+\b", r"\1_N"),
    (r"\$\$Lambda\$\d+/0x[0-9a-f]+@[0-9a-f]+", "$$Lambda"),
    (r"(\w)@[0-9a-f]{5,8}\b", r"\1@H"),
    (r"/tmp/[^ ,\]]*", "/tmp/P"),
    (r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "UUID"),
]
HEADER = re.compile(r"={21} (\S+) ={21}$")  # Explain's header, not Spark's "===== Subqueries ====="


def plans(path):
    out, cur = {}, None
    for line in open(path, errors="replace"):
        line = line.rstrip("\n")
        if line.startswith("[error] "):  # sbt's prefix on Spark's stderr log
            continue
        line = line.removeprefix("[info] ")
        m = HEADER.match(line)
        if m:
            cur = m.group(1)
            out[cur] = []
        elif cur is not None and not line.startswith("[success]"):
            for pat, rep in MASKS:
                line = re.sub(pat, rep, line)
            out[cur].append(line)
    return out


def main():
    a, b = plans(sys.argv[1]), plans(sys.argv[2])
    shown = int(sys.argv[3]) if len(sys.argv) > 3 else 0
    differ = [k for k in sorted(set(a) | set(b)) if a.get(k) != b.get(k)]
    print(f"plans: {len(a)} before, {len(b)} after; differ: {len(differ)}")
    for k in differ:
        print(" ", k)
    for k in differ[:shown]:
        print(f"\n##### {k}")
        for line in difflib.unified_diff(a.get(k, []), b.get(k, []), lineterm="", n=1):
            print(line)
    sys.exit(1 if differ else 0)


if __name__ == "__main__":
    main()
