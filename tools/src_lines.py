#!/usr/bin/env python3
"""Net `src/main` lines: the size measure CHANGES.md reports for every change.

A line of a `src/main/**/*.scala` file counts unless it is blank or its
trimmed text starts with `//`, `/*` or `*` (comment and scaladoc lines).

    python3 tools/src_lines.py                 # total, then per-file counts
    python3 tools/src_lines.py --against REV   # REV -> working tree, per file

With `--against`, the REV side is read with `git show REV:path`, and only
files whose count differs are listed, followed by the two totals.
"""
import argparse
import pathlib
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
SRC = "src/main"


def count(text):
    n = 0
    for line in text.splitlines():
        t = line.strip()
        if t and not t.startswith(("//", "/*", "*")):
            n += 1
    return n


def tree_counts():
    return {str(p.relative_to(ROOT)): count(p.read_text(encoding="utf-8"))
            for p in sorted((ROOT / SRC).rglob("*.scala"))}


def git(*args):
    return subprocess.run(["git", *args], cwd=ROOT, check=True,
                          capture_output=True, text=True).stdout


def rev_counts(rev):
    paths = [p for p in git("ls-tree", "-r", "--name-only", rev, "--", SRC)
             .splitlines() if p.endswith(".scala")]
    return {p: count(git("show", f"{rev}:{p}")) for p in paths}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--against", metavar="REV",
                    help="compare the working tree with this git revision")
    args = ap.parse_args()
    now = tree_counts()
    if not args.against:
        print(f"total {sum(now.values())}")
        for p, n in now.items():
            print(f"{n:6d}  {p}")
        return 0
    before = rev_counts(args.against)
    for p in sorted(set(before) | set(now)):
        a, b = before.get(p, 0), now.get(p, 0)
        if a != b:
            print(f"{a:6d} -> {b:6d}  {b - a:+5d}  {p}")
    a, b = sum(before.values()), sum(now.values())
    print(f"{a:6d} -> {b:6d}  {b - a:+5d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main())
