#!/usr/bin/env python3
"""List the src/main files that no other program code reaches.

A file is unreached when none of its top-level names (object, class,
trait, case class) is mentioned, outside comments, in any other
src/main file or in perfbench/src. Files that define a `main` are entry
points and are skipped. Mentions in tests do not count: code that only a
spec calls is not run by the program.

Usage: python3 scripts/unreached.py [repo_root]

Prints each unreached file (relative to src/main/scala/graft) and exits 1
unless that list equals ALLOWED below, where each kept file states why.
"""
import pathlib
import re
import sys

# file -> why it stays although nothing in the program calls it
ALLOWED = {
    "sources/Ingest.scala":
        "the paper's producer (S1-S4: CSV scan, keyed sink, throttled and "
        "speed-controlled replay); the demos replay files in its place",
}

TOP_LEVEL = re.compile(
    r"^(?:(?:final|sealed|abstract|case|implicit|private(?:\[\w+\])?)\s+)*"
    r"(?:object|class|trait)\s+(\w+)", re.M)
MAIN = re.compile(r"\bdef\s+main\s*\(")


def strip_comments(src):
    """Drop // and /* */ comments, keeping string literals intact."""
    out, i, n = [], 0, len(src)
    while i < n:
        if src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            out.append(src[i:j])
            i = j
        elif src[i] == '"':
            j = i + 1
            while j < n and src[j] not in '"\n':
                j += 2 if src[j] == "\\" else 1
            out.append(src[i:j + 1])
            i = j + 1
        elif src.startswith("//", i):
            j = src.find("\n", i)
            i = n if j < 0 else j
        elif src.startswith("/*", i):
            depth, j = 1, i + 2
            while j < n and depth:
                if src.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif src.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            out.append(" ")
            i = j
        else:
            out.append(src[i])
            i += 1
    return "".join(out)


def code(paths):
    return {p: strip_comments(p.read_text(encoding="utf-8")) for p in paths}


def main():
    root = pathlib.Path(sys.argv[1] if len(sys.argv) > 1 else ".")
    base = root / "src/main/scala/graft"
    program = code(sorted(base.rglob("*.scala")))
    bench = code(sorted((root / "perfbench/src").rglob("*.scala")))
    unreached = []
    for path, text in program.items():
        if MAIN.search(text):
            continue
        names = TOP_LEVEL.findall(text)
        others = [t for p, t in program.items() if p != path] + list(bench.values())
        if not any(re.search(rf"\b{re.escape(n)}\b", t) for n in names for t in others):
            unreached.append(path.relative_to(base).as_posix())
    for f in unreached:
        print(f"{f}: {ALLOWED.get(f, 'UNREACHED (not in the allowlist)')}")
    stale = sorted(set(ALLOWED) - set(unreached))
    for f in stale:
        print(f"{f}: in the allowlist but reached (or gone); drop its entry")
    return 0 if set(unreached) == set(ALLOWED) else 1


if __name__ == "__main__":
    sys.exit(main())
