#!/usr/bin/env python3
"""Same-window A/B of the perfbench workloads: a parent revision against
this checkout.

    python3 tools/perf_ab.py --parent HEAD~1 --workload point_serve --pairs 10 --seed 301

The parent revision is exported with `git archive` into a scratch directory
(under the system temp directory unless --workdir is given) and built there;
the change side is this checkout's working tree. Each pair runs
`perfbench/run.py` once per side on the same seed, seeds counting up from
--seed, and swaps which side runs first from one pair to the next. For every
workload and every end-to-end metric of BENCHMARK.json it prints each side's
median and quartiles, the change's win count (ties count for neither side)
and whether the gain rule holds: the change wins at least nine tenths of the
pairs and the medians differ, in the better direction, by more than the
distance between the parent's quartiles. Every run's result goes to
runs.jsonl in the scratch directory.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def export(rev, dest):
    """The tree of `rev` as plain files in dest (no git metadata)."""
    os.makedirs(dest)
    archive = subprocess.run(["git", "-C", ROOT, "archive", "--format=tar", rev],
                             check=True, stdout=subprocess.PIPE).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def build(checkout):
    subprocess.run([sys.executable, os.path.join(checkout, "perfbench", "build.py")], check=True,
                   stdout=subprocess.DEVNULL)


def run(checkout, workload, seed, seconds):
    """One benchmark run; its result object, or None when it failed."""
    p = subprocess.run([sys.executable, os.path.join(checkout, "perfbench", "run.py"),
                        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds)],
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, ValueError):
        return None
    res["exit"] = p.returncode
    return res


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def report(workload, pairs, metrics):
    """Per metric: each side's median (q1/q3), wins and the gain rule."""
    print("== %s, %d pairs" % (workload, len(pairs)))
    bad = [(i, side) for i, pr in enumerate(pairs) for side in ("parent", "change")
           if pr[side] is None or not pr[side].get("correct") or pr[side].get("failed", 0) > 0]
    for i, side in bad:
        print("  pair %d: %s run failed or was incorrect" % (i, side))
    ok = [pr for i, pr in enumerate(pairs) if not any(b[0] == i for b in bad)]
    if not ok:
        return
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        a = [pr["parent"]["metrics"][name]["value"] for pr in ok]
        b = [pr["change"]["metrics"][name]["value"] for pr in ok]
        wins = sum(1 for x, y in zip(a, b) if (y < x if lower else y > x))
        ma, mb = statistics.median(a), statistics.median(b)
        qa, qb = quartiles(a), quartiles(b)
        gain = (ma - mb) if lower else (mb - ma)
        holds = wins >= 0.9 * len(ok) and gain > qa[1] - qa[0]
        print("  %-12s parent %.4g (%.4g/%.4g)  change %.4g (%.4g/%.4g)  ratio %.3f  "
              "wins %d/%d  gain rule %s" % (name, ma, qa[0], qa[1], mb, qb[0], qb[1],
                                            mb / ma if ma else float("nan"), wins, len(ok),
                                            "holds" if holds else "not met"))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, help="git revision of the parent side")
    ap.add_argument("--workload", required=True, action="append",
                    help="a BENCHMARK.json workload; repeat for several")
    ap.add_argument("--pairs", required=True, type=int)
    ap.add_argument("--seed", type=int, default=1000, help="seed of the first pair")
    ap.add_argument("--seconds", type=float, help="run length (default: BENCHMARK.json run_seconds)")
    ap.add_argument("--workdir", help="scratch directory (default: a new one in the temp directory)")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = a.seconds or bench["run_seconds"]
    known = [w["name"] for w in bench["workloads"]]
    for w in a.workload:
        if w not in known:
            ap.error("unknown workload %s (have %s)" % (w, ", ".join(known)))
    work = a.workdir or tempfile.mkdtemp(prefix="perf_ab_")
    parent = os.path.join(work, "parent")
    shutil.rmtree(parent, ignore_errors=True)
    export(a.parent, parent)
    sides = {"parent": parent, "change": ROOT}
    for checkout in sides.values():
        build(checkout)
    log = open(os.path.join(work, "runs.jsonl"), "a")
    for w in a.workload:
        pairs = []
        for i in range(a.pairs):
            seed = a.seed + i
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            pr = {}
            for side in order:
                pr[side] = run(sides[side], w, seed, seconds)
                log.write(json.dumps({"workload": w, "pair": i, "seed": seed, "side": side,
                                      "first": order[0], "result": pr[side]}) + "\n")
                log.flush()
            pairs.append(pr)
            print("pair %d seed %d done (%s first)" % (i, seed, order[0]), file=sys.stderr)
        report(w, pairs, bench["end_to_end"])
    print("runs: %s" % os.path.join(work, "runs.jsonl"))


if __name__ == "__main__":
    main()
