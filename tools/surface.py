#!/usr/bin/env python3
"""Report graft's main-source surface: lines and public `def`s per top-level
object (or class/trait) under src/main/scala/graft.

Usage: python3 tools/surface.py [--against REV]

With --against, the same counts at REV are read through `git show` (nothing
is checked out) and printed next to the working tree's with the delta.

A top-level declaration owns its lines up to the next one in the file (the
file's package and imports go to the first). A public def is a `def` in a
top-level body (not nested deeper) without a private/protected modifier;
qualified `private[x]` counts as private.
"""
import argparse
import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC = "src/main/scala/graft"
DECL = re.compile(r"^\s*(?:(?:private(?:\[\w+\])?|final|sealed|abstract|case|implicit)\s+)*"
                  r"(object|class|trait)\s+(\w+)")
DEF = re.compile(r"^\s*((?:(?:override|final|implicit|inline|private|protected)"
                 r"(?:\[\w+\])?\s+)*)def\s+\w")


def code_lines(text):
    """Yield (brace depth at line start, line with comments and string or
    char literals blanked) for each line."""
    depth, state, out = 0, None, []
    i, n = 0, len(text)
    line_depth, buf = 0, []
    while i < n:
        c = text[i]
        if c == "\n":
            if state == "line":
                state = None
            out.append((line_depth, "".join(buf)))
            buf, line_depth = [], depth
            i += 1
            continue
        if state is None:
            if text.startswith("//", i):
                state = "line"
            elif text.startswith("/*", i):
                state, i = "block", i + 2
                continue
            elif text.startswith('"""', i):
                state, i = "triple", i + 3
                buf.append('""')
                continue
            elif c == '"':
                state = "string"
                buf.append('"')
            elif c == "'" and i + 2 < n and (text[i + 2] == "'" or text[i + 1] == "\\"):
                end = text.index("'", i + 2 if text[i + 1] == "\\" else i + 1)
                buf.append("''")
                i = end + 1
                continue
            else:
                if c == "{":
                    depth += 1
                elif c == "}":
                    depth -= 1
                buf.append(c)
        elif state == "block" and text.startswith("*/", i):
            state, i = None, i + 2
            continue
        elif state == "triple" and text.startswith('"""', i):
            state, i = None, i + 3
            continue
        elif state == "string":
            if c == "\\":
                i += 2
                continue
            if c == '"':
                state = None
        i += 1
    out.append((line_depth, "".join(buf)))
    return out


def surface(files):
    """{qualified top-level name: [lines, public defs]} over (path, text)."""
    rows = {}
    for path, text in files:
        pkg = re.search(r"^package\s+([\w.]+)", text, re.M)
        prefix = pkg.group(1) + "." if pkg else ""
        current, pending = None, 0
        for depth, line in code_lines(text):
            m = DECL.match(line) if depth == 0 else None
            if m:
                current = prefix + m.group(2)
                entry = rows.setdefault(current, [0, 0])
                entry[0] += pending
                pending = 0
            if current is None:
                pending += 1
                continue
            rows[current][0] += 1
            d = DEF.match(line) if depth == 1 else None
            if d and not re.search(r"\b(private|protected)\b", d.group(1)):
                rows[current][1] += 1
    return rows


def worktree_files():
    base = os.path.join(ROOT, SRC)
    for d, _, names in os.walk(base):
        for name in sorted(names):
            if name.endswith(".scala"):
                p = os.path.join(d, name)
                with open(p, encoding="utf-8") as fh:
                    yield os.path.relpath(p, ROOT), fh.read()


def git(*args):
    return subprocess.run(["git", "-C", ROOT] + list(args), check=True,
                          capture_output=True, text=True).stdout


def rev_files(rev):
    for p in git("ls-tree", "-r", "--name-only", rev, "--", SRC).split():
        if p.endswith(".scala"):
            yield p, git("show", f"{rev}:{p}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--against", metavar="REV",
                    help="also count REV (via git show) and print the delta")
    args = ap.parse_args()
    now = surface(worktree_files())
    if not args.against:
        print(f"{'object':<50} {'lines':>7} {'defs':>5}")
        for name in sorted(now):
            print(f"{name:<50} {now[name][0]:>7} {now[name][1]:>5}")
        print(f"{'total':<50} {sum(v[0] for v in now.values()):>7} "
              f"{sum(v[1] for v in now.values()):>5}")
        return 0
    then = surface(rev_files(args.against))
    names = sorted(set(now) | set(then))
    print(f"{'object':<50} {'lines':>7} {'Δ':>6} {'defs':>5} {'Δ':>4}")
    for name in names:
        a, b = then.get(name, [0, 0]), now.get(name, [0, 0])
        if a != b:
            print(f"{name:<50} {b[0]:>7} {b[0] - a[0]:>+6} {b[1]:>5} {b[1] - a[1]:>+4}")
    la, lb = sum(v[0] for v in then.values()), sum(v[0] for v in now.values())
    da, db = sum(v[1] for v in then.values()), sum(v[1] for v in now.values())
    print(f"main-source lines: {la} -> {lb} ({lb - la:+d}); "
          f"public defs: {da} -> {db} ({db - da:+d}) against {args.against}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
