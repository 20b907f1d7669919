#!/usr/bin/env python3
"""List the src/main files and members that no other program code reaches.

A file is unreached when none of its top-level names (object, class,
trait, case class) is mentioned in any other src/main file or in
perfbench/src. Comments and the text of string literals mention nothing;
the `$x`/`${...}` splices of an interpolated literal are code. Files
that define a `main` are entry points and are skipped. A member is unreached when a non-`override`
`def`/`val`/`var` of an object or class (nested ones included; `main`
and `apply` excepted) is mentioned nowhere outside its own definition:
not elsewhere in its file, not in another src/main file, not in
perfbench/src. Mentions in tests do not count: code that only a spec
calls is not run by the program.

Usage: python3 scripts/unreached.py [repo_root]

Prints each unreached file (relative to src/main/scala/graft) and member
(`file: Owner.name`) and exits 1 unless those lists equal ALLOWED and
ALLOWED_MEMBERS below, where each kept entry states why.
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

_REFERENCE = "reference implementation a spec compares the production form against"
_INGEST = "member of sources/Ingest.scala, the allowlisted producer above"
# "file: Owner.name" -> why it stays although nothing in the program uses it
ALLOWED_MEMBERS = {
    "functions/VectorOps.scala: VectorOps.dotBuiltin": _REFERENCE,
    "functions/Bpe.scala: Bpe.segmentWordsNested": _REFERENCE,
    "functions/Bpe.scala: Bpe.train": _REFERENCE,
    "functions/MixOps.scala: MixOps.qualityTiersWindowed": _REFERENCE,
    "functions/TextOps.scala: TextOps.compressRatio":
        "zlib ratio that specs cross-foot against the oracle-checked compressBytes",
    "functions/TextOps.scala: TextOps.compressRatioExpr": "compressRatio's column",
    "multimodal/Multimodal.scala: Multimodal.decodeHeaders":
        "header decoder the codec specs cross-check the production decoders with",
    "sources/Ingest.scala: Ingest.readCsv": _INGEST,
    "sources/Ingest.scala: Ingest.writeKeyed": _INGEST,
    "sources/Ingest.scala: Ingest.rateReplay": _INGEST,
    "sources/Ingest.scala: Ingest.speedListener": _INGEST,
    "streaming/Serve.scala: Serve.Snapshot.residentAlerts":
        "test hook: ServeSpec reads the resident alert count against the cap",
}

TOP_LEVEL = re.compile(
    r"^(?:(?:final|sealed|abstract|case|implicit|private(?:\[\w+\])?)\s+)*"
    r"(?:object|class|trait)\s+(\w+)", re.M)
MAIN = re.compile(r"\bdef\s+main\s*\(")
OWNER = re.compile(
    r"^(\s*)(?:(?:final|sealed|abstract|case|implicit|private(?:\[\w+\])?)\s+)*"
    r"(?:object|class|trait)\s+(\w+)")
MEMBER = re.compile(
    r"^(\s+)(?:(?:private|protected)(?:\[\w+\])?\s+|final\s+|implicit\s+|lazy\s+)*"
    r"(?:def|val|var)\s+(\w+)")


def literal(src, i):
    """(end, splices) of the string literal that opens at src[i]: the index
    past its closing quote, and, when an interpolator (`s`, `f`, `raw`, ...)
    precedes it, the code of its `$x` and `${...}` splices with their own
    literals reduced the same way."""
    quote = '"""' if src.startswith('"""', i) else '"'
    interp = i > 0 and (src[i - 1].isalnum() or src[i - 1] == "_")
    j, n, splices = i + len(quote), len(src), []
    while j < n:
        if src.startswith(quote, j):
            return j + len(quote), splices
        if quote == '"' and src[j] == "\n":
            return j, splices
        if quote == '"' and src[j] == "\\" or interp and src.startswith("$$", j):
            j += 2
        elif interp and src.startswith("${", j):
            depth, k = 1, j + 2
            while k < n and depth:
                if src[k] == '"':
                    k = literal(src, k)[0]
                    continue
                depth += {"{": 1, "}": -1}.get(src[k], 0)
                k += 1
            splices.append(strip_comments(src[j + 2:k - 1]))
            j = k
        elif interp and src[j] == "$" and (m := SPLICE.match(src, j + 1)):
            splices.append(m.group())
            j = m.end()
        else:
            j += 1
    return n, splices


SPLICE = re.compile(r"[A-Za-z_]\w*")


def strip_comments(src):
    """Drop // and /* */ comments and reduce each string literal to its
    splices: text inside quotes mentions nothing."""
    out, i, n = [], 0, len(src)
    while i < n:
        if src.startswith("'\"'", i):
            out.append(src[i:i + 3])
            i += 3
        elif src[i] == '"':
            i, splices = literal(src, i)
            out.append('"' + " ".join(splices) + '"')
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


def members(text):
    """(owner path, name, first line, end line) of each direct member of an
    object or class: a def/val/var indented two past its owner's line. Its
    definition runs until the next line indented no deeper than itself that
    is not a closing bracket or a continued call chain."""
    lines = text.split("\n")
    owners = []  # (indent, name) of the enclosing objects and classes
    for i, line in enumerate(lines):
        if not line.strip():
            continue
        indent = len(line) - len(line.lstrip())
        while owners and owners[-1][0] >= indent and not line.lstrip().startswith(("}", ")")):
            owners.pop()
        o = OWNER.match(line)
        if o:
            owners.append((len(o.group(1)), o.group(2)))
            continue
        m = MEMBER.match(line)
        if not m or not owners or len(m.group(1)) != owners[-1][0] + 2:
            continue
        if m.group(2) in ("main", "apply"):
            continue
        end = i + 1
        while end < len(lines):
            rest = lines[end]
            if rest.strip():
                depth = len(rest) - len(rest.lstrip())
                if depth < len(m.group(1)) or (depth == len(m.group(1)) and
                        not rest.lstrip().startswith(("}", ")", "."))):
                    break
            end += 1
        yield ".".join(n for _, n in owners), m.group(2), i, end


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
    unused = []
    for path, text in program.items():
        rel = path.relative_to(base).as_posix()
        lines = text.split("\n")
        others = [t for p, t in program.items() if p != path] + list(bench.values())
        for owner, name, first, end in members(text):
            outside = "\n".join(lines[:first] + lines[end:])
            pat = re.compile(rf"\b{re.escape(name)}\b")
            if not any(pat.search(t) for t in [outside] + others):
                unused.append(f"{rel}: {owner}.{name}")
    for f in unreached:
        print(f"{f}: {ALLOWED.get(f, 'UNREACHED (not in the allowlist)')}")
    for m in unused:
        print(f"{m}: {ALLOWED_MEMBERS.get(m, 'UNREACHED (not in the allowlist)')}")
    stale = sorted((set(ALLOWED) - set(unreached)) | (set(ALLOWED_MEMBERS) - set(unused)))
    for f in stale:
        print(f"{f}: in the allowlist but reached (or gone); drop its entry")
    ok = set(unreached) == set(ALLOWED) and set(unused) == set(ALLOWED_MEMBERS)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
