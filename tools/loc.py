#!/usr/bin/env python3
"""Count the code lines of src/main/**/*.scala.

A line counts when it is not blank and, once stripped, does not start
with `//`, `/*` or `*` (the scaladoc continuation lines). Prints one
`count path` line per file and a final `total` line.

With --diff, prints `before -> after (delta) path` for each file whose
count differs between git revision REV and the working tree (a file
absent on one side counts 0 there), then the same for the total.

Usage:
    python3 tools/loc.py              # the working tree
    python3 tools/loc.py REV          # the tree at git revision REV
    python3 tools/loc.py --diff REV   # REV -> the working tree, changed files
"""
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PREFIX = "src/main/"


def code_lines(text):
    n = 0
    for line in text.splitlines():
        s = line.strip()
        if s and not s.startswith(("//", "/*", "*")):
            n += 1
    return n


def git(*args):
    return subprocess.run(["git", "-C", ROOT, *args], check=True,
                          capture_output=True, text=True).stdout


def sources(rev):
    if rev is None:
        for d, _, files in os.walk(os.path.join(ROOT, PREFIX)):
            for f in files:
                if f.endswith(".scala"):
                    p = os.path.join(d, f)
                    with open(p, encoding="utf-8") as fh:
                        yield os.path.relpath(p, ROOT), fh.read()
    else:
        for p in git("ls-tree", "-r", "--name-only", rev, "--", PREFIX).split("\n"):
            if p.endswith(".scala"):
                yield p, git("show", f"{rev}:{p}")


def counts(rev):
    return {path: code_lines(text) for path, text in sources(rev)}


def diff(rev):
    before, after = counts(rev), counts(None)
    for path in sorted(set(before) | set(after)):
        b, a = before.get(path, 0), after.get(path, 0)
        if a != b:
            print(f"{b:6d} -> {a:6d} ({a - b:+d}) {path}")
    b, a = sum(before.values()), sum(after.values())
    print(f"{b:6d} -> {a:6d} ({a - b:+d}) total")


def main(argv):
    if len(argv) == 3 and argv[1] == "--diff":
        diff(argv[2])
        return
    if len(argv) > 2 or (len(argv) == 2 and argv[1].startswith("-")):
        sys.exit(__doc__)
    rev = argv[1] if len(argv) == 2 else None
    total = 0
    for path, n in sorted(counts(rev).items()):
        total += n
        print(f"{n:6d} {path}")
    print(f"{total:6d} total")


if __name__ == "__main__":
    main(sys.argv)
