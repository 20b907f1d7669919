#!/usr/bin/env python3
"""Compare two `graft.Explain` dumps plan by plan.

Usage: python3 scripts/plan_diff.py <before.log> <after.log> [N]

Each input is the sbt output of `runMain graft.Explain [names...]`: one
`===================== <name> =====================` header per query,
followed by its formatted plan, then one `<name>/<i>` section per shared
build or per-round checkpoint the query's construction ran (its
SharedRel key, `-` for none, then its executed plan). A scratch main
printing other plans under the same headers works too. Ids that differ
between JVMs for the same plan are masked before comparing: expression
ids (`#123`, `#123L`), `plan_id=`, reused-operator ids, RDD ids and
their call-site line numbers, AQE query-stage and codegen-stage ids
(numbered in stage completion order), lambda-variable suffixes, Scala
lambda class names and object hash codes (`SparkSession@1a2b3c`).
Prints the number of plans on each side, the
names present on both sides whose plans changed, and the names present
on one side only (`-` before, `+` after; e.g. the build sections when
the other dump predates them); with N, also the first N unified diffs of
the changed plans. Exits 1 if any plan changed or is one-sided.

A whole-registry dump is not reproducible for `q_distinct_parts`: its
Expand key order follows expression ids that earlier queries in the same
JVM allocated. Dump it alone on both sides and compare those two files.
An executed build plan is AQE's final plan, and some of AQE's runtime
choices (a broadcast join's build side, a shuffle join turned broadcast)
vary between runs of the same code: a changed build section counts only
if its `== Initial Plan ==` part changed too, or two dumps of the parent
agree where the change differs.
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
    (r"\.scala:\d+", ".scala:N"),
    (r"(QueryStage|ResultQueryStage) \d+", r"\1 N"),
    (r"\*\(\d+\)", "*(N)"),
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
    changed = [k for k in sorted(set(a) & set(b)) if a[k] != b[k]]
    only_a, only_b = sorted(set(a) - set(b)), sorted(set(b) - set(a))
    print(f"plans: {len(a)} before, {len(b)} after; changed: {len(changed)}; "
          f"only before: {len(only_a)}; only after: {len(only_b)}")
    for k in changed:
        print(" ", k)
    for k in only_a:
        print("  -", k)
    for k in only_b:
        print("  +", k)
    for k in changed[:shown]:
        print(f"\n##### {k}")
        for line in difflib.unified_diff(a[k], b[k], lineterm="", n=1):
            print(line)
    sys.exit(1 if changed or only_a or only_b else 0)


if __name__ == "__main__":
    main()
