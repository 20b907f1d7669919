#!/usr/bin/env python3
"""Per-epoch stage profile of a streaming run, from Spark event logs.

Usage:
    python3 scripts/epoch_stages.py <eventlog-dir-or-file> [...]

Reads every uncompressed Spark event log (JSON lines) under the given
directories or files. For each micro-batch (the `streaming.sql.batchId` job
property) it prints each job's span, and under it each stage's span, its
task count, the min / median / max of its task durations, and its summed
"time to commit changes" (the state-store commit metric) when the stage has
a state operator. Times are milliseconds from the batch's first job
submission, so the blocking path of an epoch reads top to bottom.

Write the log with Spark's own settings, for example
    -Dspark.eventLog.enabled=true -Dspark.eventLog.dir=<existing dir>
    -Dspark.eventLog.compress=false
in JAVA_TOOL_OPTIONS of the JVM that runs the query.
"""
import json
import os
import sys
from collections import defaultdict

COMMIT = "time to commit changes"


def logs(args):
    """Each event log under the arguments, as the list of its files: a v1
    log is one file, a v2 (rolling) log a directory `eventlog_v2_<app>` of
    `events_<n>_<app>` files."""
    for a in args:
        if not os.path.isdir(a):
            yield [a]
            continue
        names = sorted(os.listdir(a))
        parts = sorted((n for n in names if n.startswith("events_")),
                       key=lambda n: int(n.split("_")[1]))
        if parts:
            yield [os.path.join(a, n) for n in parts]
            continue
        for n in names:
            p = os.path.join(a, n)
            if os.path.isdir(p):
                yield from logs([p])
            elif not n.startswith((".", "appstatus")):
                yield [p]


def load(paths):
    jobs = {}        # job id -> {batch, start, end, stages}
    stages = {}      # (stage id, attempt) -> {tasks, start, end, commit}
    tasks = defaultdict(list)  # (stage id, attempt) -> [task ms]
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                try:
                    e = json.loads(line)
                except ValueError:
                    continue  # a truncated last line of a log still in progress
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    jobs[e["Job ID"]] = {
                        "batch": props.get("streaming.sql.batchId"),
                        "start": e.get("Submission Time"),
                        "end": None,
                        "stages": e.get("Stage IDs", []),
                    }
                elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
                    jobs[e["Job ID"]]["end"] = e.get("Completion Time")
                elif kind == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    acc = [a for a in info.get("Accumulables", []) if a.get("Name") == COMMIT]
                    stages[(info["Stage ID"], info.get("Stage Attempt ID", 0))] = {
                        "tasks": info.get("Number of Tasks"),
                        "start": info.get("Submission Time"),
                        "end": info.get("Completion Time"),
                        "commit": sum(float(a.get("Value", 0)) for a in acc) if acc else None,
                    }
                elif kind == "SparkListenerTaskEnd":
                    t = e["Task Info"]
                    if t.get("Finish Time") and t.get("Launch Time"):
                        key = (e["Stage ID"], e.get("Stage Attempt ID", 0))
                        tasks[key].append(t["Finish Time"] - t["Launch Time"])
    return jobs, stages, tasks


def span(t0, start, end):
    if start is None or end is None:
        return "    ?"
    return f"{start - t0:7.0f} → {end - t0:7.0f} ({end - start:6.0f} ms)"


def report(paths):
    jobs, stages, tasks = load(paths)
    by_batch = defaultdict(list)
    for jid, j in jobs.items():
        if j["batch"] is not None:
            by_batch[int(j["batch"])].append(jid)
    print(f"== {os.path.dirname(paths[0]) if len(paths) > 1 else paths[0]}: "
          f"{len(by_batch)} batches, {len(jobs)} jobs")
    for b in sorted(by_batch):
        ids = sorted(by_batch[b])
        t0 = min(jobs[i]["start"] for i in ids)
        t1 = max(jobs[i]["end"] or jobs[i]["start"] for i in ids)
        print(f"batch {b}: {len(ids)} jobs, {t1 - t0:.0f} ms from first submit to last end")
        for jid in ids:
            j = jobs[jid]
            print(f"  job {jid:<5} {span(t0, j['start'], j['end'])}")
            # a stage an earlier job ran is listed again, skipped, in later jobs
            ran = sorted(k for k in stages if k[0] in j["stages"] and stages[k]["start"] is not None
                         and stages[k]["start"] >= j["start"])
            for key in ran:
                s = stages[key]
                ds = sorted(tasks.get(key, []))
                durs = (f"task ms {ds[0]}/{ds[len(ds) // 2]}/{ds[-1]}" if ds else "task ms -")
                commit = f"  commit {s['commit']:.0f} ms" if s["commit"] is not None else ""
                print(f"    stage {key[0]:<5} {span(t0, s['start'], s['end'])}  "
                      f"tasks {s['tasks']:<3} {durs}{commit}")


def main(argv):
    if not argv:
        print(__doc__, file=sys.stderr)
        return 2
    found = list(logs(argv))
    if not found:
        print("no event log found", file=sys.stderr)
        return 1
    for paths in found:
        report(paths)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
