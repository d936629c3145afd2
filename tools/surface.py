#!/usr/bin/env python3
"""Report graft's main-source surface: lines, non-comment lines and public
`def`s per top-level object (or class/trait) under src/main/scala/graft.

Usage: python3 tools/surface.py [--against REV]

With --against, the same counts at REV are read through `git show` (nothing
is checked out) and printed next to the working tree's with the delta.

A top-level declaration owns its lines up to the next one in the file (the
file's package and imports go to the first). A non-comment line holds code
outside comments; text inside string literals (the oracles' SQL) counts as
code, comment-only and blank lines do not. A public def is a `def` in a
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
    char literals blanked, whether the line holds code) for each line."""
    depth, state, out = 0, None, []
    i, n = 0, len(text)
    line_depth, buf, is_code = 0, [], False
    while i < n:
        c = text[i]
        if c == "\n":
            if state == "line":
                state = None
            out.append((line_depth, "".join(buf), is_code))
            buf, line_depth, is_code = [], depth, False
            i += 1
            continue
        if state in ("triple", "string") or (state is None and not c.isspace()
                                              and not text.startswith("//", i)
                                              and not text.startswith("/*", i)):
            is_code = is_code or not c.isspace()
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
    out.append((line_depth, "".join(buf), is_code))
    return out


def surface(files):
    """{qualified top-level name: [lines, non-comment lines, public defs]}
    over (path, text)."""
    rows = {}
    for path, text in files:
        pkg = re.search(r"^package\s+([\w.]+)", text, re.M)
        prefix = pkg.group(1) + "." if pkg else ""
        current, pending = None, [0, 0]
        for depth, line, is_code in code_lines(text):
            m = DECL.match(line) if depth == 0 else None
            if m:
                current = prefix + m.group(2)
                entry = rows.setdefault(current, [0, 0, 0])
                entry[0] += pending[0]
                entry[1] += pending[1]
                pending = [0, 0]
            if current is None:
                pending[0] += 1
                pending[1] += is_code
                continue
            rows[current][0] += 1
            rows[current][1] += is_code
            d = DEF.match(line) if depth == 1 else None
            if d and not re.search(r"\b(private|protected)\b", d.group(1)):
                rows[current][2] += 1
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
        print(f"{'object':<50} {'lines':>7} {'code':>7} {'defs':>5}")
        for name in sorted(now):
            v = now[name]
            print(f"{name:<50} {v[0]:>7} {v[1]:>7} {v[2]:>5}")
        tot = [sum(v[i] for v in now.values()) for i in range(3)]
        print(f"{'total':<50} {tot[0]:>7} {tot[1]:>7} {tot[2]:>5}")
        return 0
    then = surface(rev_files(args.against))
    names = sorted(set(now) | set(then))
    print(f"{'object':<50} {'lines':>7} {'Δ':>6} {'code':>7} {'Δ':>6} {'defs':>5} {'Δ':>4}")
    for name in names:
        a, b = then.get(name, [0, 0, 0]), now.get(name, [0, 0, 0])
        if a != b:
            print(f"{name:<50} {b[0]:>7} {b[0] - a[0]:>+6} {b[1]:>7} {b[1] - a[1]:>+6} "
                  f"{b[2]:>5} {b[2] - a[2]:>+4}")
    ta = [sum(v[i] for v in then.values()) for i in range(3)]
    tb = [sum(v[i] for v in now.values()) for i in range(3)]
    print(f"main-source lines: {ta[0]} -> {tb[0]} ({tb[0] - ta[0]:+d}); "
          f"non-comment lines: {ta[1]} -> {tb[1]} ({tb[1] - ta[1]:+d}); "
          f"public defs: {ta[2]} -> {tb[2]} ({tb[2] - ta[2]:+d}) against {args.against}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
