#!/usr/bin/env python3
"""Line counts of source files: raw lines and code lines, per file and in
total. A code line is any line that is not blank and does not start
(after indentation) with `//`, `/*` or `*` — the scaladoc/comment rule
the line counts in ROADMAP.md and CHANGES.md use. A directory counts
every .scala and .java file under it. Usage:
  python3 tools/loc.py src/main/scala/graft/sinks/TableLog.scala src/main
"""
import os
import sys

EXTS = (".scala", ".java")


def files(path):
    if os.path.isfile(path):
        return [path]
    out = []
    for root, dirs, names in os.walk(path):
        dirs.sort()
        out += [os.path.join(root, n) for n in sorted(names) if n.endswith(EXTS)]
    return out


def count(path):
    raw = code = 0
    with open(path, encoding="utf-8") as f:
        for line in f:
            raw += 1
            s = line.strip()
            if s and not s.startswith(("//", "/*", "*")):
                code += 1
    return raw, code


def main(paths):
    if not paths:
        sys.exit(__doc__.strip())
    total_raw = total_code = 0
    seen = set()  # a file named twice (itself and its directory) counts once
    for p in paths:
        found = files(p)
        if not found:
            sys.exit(f"loc.py: no source files at {p}")
        for f in found:
            if os.path.realpath(f) in seen:
                continue
            seen.add(os.path.realpath(f))
            raw, code = count(f)
            total_raw += raw
            total_code += code
            print(f"{raw:7d} {code:7d}  {f}")
    print(f"{total_raw:7d} {total_code:7d}  total (raw, code)")


if __name__ == "__main__":
    main(sys.argv[1:])
