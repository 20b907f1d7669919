#!/usr/bin/env python3
"""Benchmark command: build the program and the benchmark from source, run
one workload in a fresh JVM, check its outputs, print one JSON result line.

Usage (from the repository root):
    python3 perfbench/run.py --workload drain|paced --seed N --seconds S --trace 0|1

See perfbench/README.md for what each workload measures.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
LIMIT_S = 175
BUILD_LIMIT_S = 850
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def sources():
    """Every file the build reads, in a fixed order."""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")):
        for d, _, names in sorted(os.walk(top)):
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def build():
    """Compile with sbt once per source state; return the runtime classpath."""
    files = sources()
    missing = [f for f in files[:4] if not os.path.isfile(f)]
    if missing or not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail(f"program sources not found under {ROOT} (missing {missing or 'src/main/scala'})")
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(OUT, "classpath.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as fh:
            cached_stamp, cp = fh.read().split("\n", 1)
        if cached_stamp == stamp:
            return cp.strip()
    os.makedirs(OUT, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(OUT, "build.log")
    with open(log, "w") as fh:
        try:
            r = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                 "export Runtime/fullClasspath"],
                cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=fh, text=True,
                timeout=BUILD_LIMIT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}")
        fh.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if "scala-2.13" in l and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        fail(f"build failed (exit {r.returncode}); see {log}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(stamp + "\n" + cp + "\n")
    return cp


def canon(rows, cols):
    """Rows as sorted strings, columns in name order, floats to 9
    significant digits: summation order may move the last bits of a
    floating-point aggregate between engines, a wrong value moves more."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def val(v):
        if isinstance(v, float):
            return "nan" if math.isnan(v) else f"{v:.9g}"
        if isinstance(v, (list, tuple)):
            return "[" + ",".join(val(x) for x in v) + "]"
        return repr(v)
    return sorted("|".join(val(r[i]) for i in order) for r in rows)


def oracle_check(work):
    """Compare each query's Spark output with its DuckDB oracle over the same
    generated tables; return the names that differ or whose oracle could not
    run (queries that threw are already counted as failed)."""
    import duckdb
    check = os.path.join(work, "batch", "check")
    data = os.path.join(work, "batch", "data")
    with open(os.path.join(check, "oracle_sql.json")) as fh:
        oracles = json.load(fh)
    with open(os.path.join(check, "failed.txt")) as fh:
        threw = {l.strip() for l in fh if l.strip()}
    bad = set()
    con = duckdb.connect()
    for t in sorted(os.listdir(data)):
        if t.endswith(".parquet"):
            con.sql(f"CREATE VIEW {t[:-8]} AS SELECT * FROM read_parquet('{data}/{t}/*.parquet')")
    for name, sql in sorted(oracles.items()):
        if name in threw:
            continue
        try:
            got = con.sql(f"SELECT * FROM read_parquet('{check}/{name}/*.parquet')")
            exp = con.sql(sql)
            if sorted(got.columns) != sorted(exp.columns):
                why = f"columns {sorted(got.columns)} vs {sorted(exp.columns)}"
            elif (dict(zip(got.columns, map(str, got.types)))
                  != dict(zip(exp.columns, map(str, exp.types)))):
                why = f"types {got.types} vs {exp.types}"
            else:
                g, e = canon(got.fetchall(), got.columns), canon(exp.fetchall(), exp.columns)
                why = None if g == e else f"{len(g)} vs {len(e)} rows differ"
        except Exception as ex:  # an oracle that cannot run is a failed check
            why = f"error {ex}"
        if why:
            print(f"perfbench: {name} differs from its oracle: {why}", file=sys.stderr)
            bad.add(name)
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=("drain", "paced"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.monotonic()

    spec_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_file):
        fail(f"{spec_file} not found")
    with open(spec_file) as fh:
        spec = json.load(fh)
    cp = build()

    work = os.path.join(OUT, f"work-{a.workload}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-Xmx2g", f"-Djava.io.tmpdir={work}/tmp", "-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", work])
    log = os.path.join(work, "jvm.log")
    # a run that has just built may use the build's allowance too
    limit = LIMIT_S if time.monotonic() - t_start < 5 else BUILD_LIMIT_S
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            out, _ = p.communicate(timeout=max(10, limit - (time.monotonic() - t_start)))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"{a.workload} timed out; see {log}")
    res = [l for l in out.splitlines() if l.startswith("PERFBENCH ")]
    if p.returncode != 0 or not res:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"{a.workload} failed (exit {p.returncode}); see {log}")
    raw = json.loads(res[-1][len("PERFBENCH "):])

    failed = raw["failed"]
    if a.trace:
        failed += len(oracle_check(work))
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in raw["metrics"]]
    if missing:
        fail(f"{a.workload} did not measure {', '.join(missing)}")
    metrics = {m["name"]: {"value": raw["metrics"][m["name"]], "unit": m["unit"]} for m in wanted}
    print(json.dumps({"correct": failed == 0, "attempted": raw["attempted"],
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
