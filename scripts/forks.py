#!/usr/bin/env python3
"""Processes a JVM forked, from a Java Flight Recorder recording.

Usage:
    python3 scripts/forks.py <recording.jfr> [--top N]

Reads the recording's `jdk.ProcessStart` events with the JDK's `jfr` tool
and prints two tables: the forks by command (the program's base name, as
`readlink` or `chmod`), and the forks by command and by the first frame of
the fork's stack that belongs to Spark (`org.apache.spark.`) or to this
program (`graft.`), lambda frames skipped, which names the caller that made
the JVM fork. A stack without such a frame counts under `-`.

Record a JVM with the JDK's own option, for example
    JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=<f>.jfr,settings=profile"
in the environment of the command that starts it.
"""
import argparse
import json
import os
import subprocess
import sys
from collections import Counter

OWN = ("org.apache.spark.", "graft.")


def events(path):
    """The recording's jdk.ProcessStart events, as `jfr print --json` gives them."""
    r = subprocess.run(["jfr", "print", "--json", "--stack-depth", "256",
                        "--events", "jdk.ProcessStart", path],
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if r.returncode != 0:
        sys.exit(f"forks: jfr print failed: {r.stderr.strip()}")
    return json.loads(r.stdout)["recording"]["events"]


def command(ev):
    cmd = (ev["values"].get("command") or "").split()
    return os.path.basename(cmd[0]) if cmd else "-"


def caller(ev):
    """`Class.method` of the innermost Spark or program frame, or `-`.
    Lambda frames are skipped: their class names differ from run to run."""
    for f in ((ev["values"].get("stackTrace") or {}).get("frames") or []):
        m = f.get("method") or {}
        cls = (m.get("type") or {}).get("name", "").replace("/", ".")
        if cls.startswith(OWN) and "$$Lambda" not in cls:
            return f"{cls}.{m.get('name', '?')}"
    return "-"


def table(title, counts, top):
    total = sum(counts.values())
    print(f"{title} ({total} forks)")
    for key, n in counts.most_common(top):
        print(f"{n:7d}  {n * 100.0 / total:5.1f}%  {key}")
    print()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("recording")
    ap.add_argument("--top", type=int, default=20, help="rows per table")
    a = ap.parse_args()
    evs = events(a.recording)
    if not evs:
        print("0 forks")
        return
    table("by command", Counter(command(e) for e in evs), a.top)
    table("by command and first Spark/graft frame",
          Counter(f"{command(e):10s} {caller(e)}" for e in evs), a.top)


if __name__ == "__main__":
    main()
