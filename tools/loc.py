#!/usr/bin/env python3
"""Non-blank, non-comment Scala line counts of src/main and src/test.

Usage: tools/loc.py [rev]

Prints the counts for the working tree and for the git revision `rev`
(default HEAD), plus the delta, so the net main-code change of a commit
can be reproduced. A line counts unless it is blank, a `//` line
comment, or inside a `/* ... */` block (scaladoc included).
"""
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TREES = ("src/main", "src/test")


def count(text):
    n = 0
    in_block = False
    for raw in text.splitlines():
        line = raw.strip()
        if in_block:
            if "*/" in line:
                in_block = False
            continue
        if not line or line.startswith("//"):
            continue
        if line.startswith("/*"):
            in_block = "*/" not in line[2:]
            continue
        n += 1
    return n


def worktree(tree):
    total = 0
    for d, _, files in os.walk(os.path.join(ROOT, tree)):
        for f in files:
            if f.endswith(".scala"):
                with open(os.path.join(d, f), encoding="utf-8") as fh:
                    total += count(fh.read())
    return total


def git(*args):
    return subprocess.run(("git", "-C", ROOT) + args, check=True,
                          capture_output=True, text=True).stdout


def at_rev(rev, tree):
    paths = [p for p in git("ls-tree", "-r", "--name-only", rev, "--",
                            tree).splitlines() if p.endswith(".scala")]
    return sum(count(git("show", f"{rev}:{p}")) for p in paths)


def main():
    rev = sys.argv[1] if len(sys.argv) > 1 else "HEAD"
    print(f"{'tree':<10}{rev:>12}{'worktree':>12}{'delta':>9}")
    for tree in TREES:
        old, new = at_rev(rev, tree), worktree(tree)
        print(f"{tree:<10}{old:>12,}{new:>12,}{new - old:>+9,}")


if __name__ == "__main__":
    main()
