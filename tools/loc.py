#!/usr/bin/env python3
"""Code lines of src/main/**/*.scala: a git revision against the worktree.

    python3 tools/loc.py [--rev REV]      (default REV: HEAD)

Prints, for every file whose code-line count differs between REV and the
worktree (added and deleted files included), both counts and the delta,
then the totals over all of src/main. REV is read with `git show`, never
checked out; the worktree side takes tracked and untracked files that git
does not ignore.

A code line is any line that is not blank and does not start, after
leading whitespace, with a comment opener or continuation: `//`, `/*`,
`/**` or `*`.
"""
import argparse
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TREE = "src/main"


def git(*args):
    return subprocess.run(["git", "-C", ROOT, *args], check=True,
                          capture_output=True).stdout


def code_lines(text):
    n = 0
    for line in text.splitlines():
        s = line.strip()
        if s and not s.startswith(("//", "/*", "*")):
            n += 1
    return n


def scala(paths):
    return {p for p in paths if p.endswith(".scala")}


def at_rev(rev):
    names = git("ls-tree", "-r", "--name-only", rev, "--", TREE)
    return {p: code_lines(git("show", f"{rev}:{p}").decode("utf-8"))
            for p in scala(names.decode("utf-8").splitlines())}


def in_worktree():
    names = git("ls-files", "-co", "--exclude-standard", "--", TREE)
    counts = {}
    for p in scala(names.decode("utf-8").splitlines()):
        path = os.path.join(ROOT, p)
        if os.path.isfile(path):  # a tracked file deleted in the worktree
            with open(path, encoding="utf-8") as f:
                counts[p] = code_lines(f.read())
    return counts


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--rev", default="HEAD",
                    help="git revision to compare the worktree against")
    a = ap.parse_args()
    old, new = at_rev(a.rev), in_worktree()
    changed = sorted(p for p in old.keys() | new.keys()
                     if old.get(p) != new.get(p))
    w = max([len(p) for p in changed] + [len("total")])
    print(f"{'file':<{w}}  {a.rev:>8}  {'worktree':>8}  {'delta':>6}")
    for p in changed:
        o, n = old.get(p, 0), new.get(p, 0)
        print(f"{p:<{w}}  {o:>8}  {n:>8}  {n - o:>+6}")
    o, n = sum(old.values()), sum(new.values())
    print(f"{'total':<{w}}  {o:>8}  {n:>8}  {n - o:>+6}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
