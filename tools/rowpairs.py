#!/usr/bin/env python3
"""Alternating per-row A/B of graft.Bench: parent checkout vs change checkout.

Runs `SPARK_GRAFT_ONLY=<rows> sbt --batch "runMain graft.Bench"` in each of two
checkouts, alternating the order: parent, change, change, parent, parent,
change, ... (pair 1 parent first, pair 2 change first, ...). Each run's times
come from its `{"metric":"total",...}` JSON line: a row's time is the min of
its reps, raw, without host_factor. Then, for every row, it prints:

  - every run's time, in run order, tagged with pair and side (p / c);
  - each side's median, and the parent's quartiles and spread
    (interquartile range over median);
  - whether the change's median is slower than the parent's by more than the
    parent's interquartile range.

A run that exits non-zero, prints no JSON line or reports a row as failed
(-1) is reported and fails the verdict. Bench writes only under each
checkout's target/. The environment (COURSIER_MODE, SBT_OPTS,
SPARK_GRAFT_CPUS, ...) passes through to both runs, and --sf sets
SPARK_GRAFT_SF_DIR. Exit status is 0 when every run succeeded and no row is
slower beyond the parent's spread, 1 otherwise.

Usage:
  python3 tools/rowpairs.py --parent DIR --change DIR \\
      --rows q121_sequential_patterns,q186_sequential_rules --pairs 3 \\
      [--sf /root/testdata/sf0.1]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run_one(checkout, rows, sf):
    env = dict(os.environ, SPARK_GRAFT_ONLY=",".join(rows))
    if sf:
        env["SPARK_GRAFT_SF_DIR"] = sf
    p = subprocess.run(["sbt", "--batch", "runMain graft.Bench"], cwd=checkout,
                       env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True)
    for line in reversed(p.stdout.splitlines()):
        at = line.find('{"metric":"total"')
        if at >= 0 and p.returncode == 0:
            return json.loads(line[at:])["queries"]
    sys.stderr.write(p.stdout[-2000:] + p.stderr[-2000:])
    return None


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    return statistics.quantiles(xs, n=4, method="inclusive")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True, help="parent checkout")
    ap.add_argument("--change", required=True, help="change checkout")
    ap.add_argument("--rows", required=True, help="comma list of Bench row names")
    ap.add_argument("--pairs", type=int, default=3)
    ap.add_argument("--sf", help="scale-factor dir (SPARK_GRAFT_SF_DIR)")
    a = ap.parse_args()
    rows = [r.strip() for r in a.rows.split(",") if r.strip()]
    sides = {"p": a.parent, "c": a.change}

    ok = True
    runs = []  # (pair, side, {row: seconds})
    for i in range(a.pairs):
        for side in ("pc" if i % 2 == 0 else "cp"):
            times = run_one(sides[side], rows, a.sf)
            if times is None or any(times.get(r, -1.0) < 0 for r in rows):
                ok = False
                print("pair %d %s: RUN FAILED %s" % (i + 1, side, times), flush=True)
                continue
            runs.append((i + 1, side, times))
            print("pair %d %s: %s" % (i + 1, side, " ".join(
                "%s=%.3f" % (r, times[r]) for r in rows)), flush=True)

    print("\nrow: runs in order | parent median [q1-q3] spread | change median | change")
    for r in rows:
        p = [t[r] for _, s, t in runs if s == "p"]
        c = [t[r] for _, s, t in runs if s == "c"]
        print("%s: %s" % (r, ", ".join("%d%s %.3f" % (n, s, t[r]) for n, s, t in runs)))
        if not p or not c:
            print("  NO RUNS on one side")
            ok = False
            continue
        pq1, pmed, pq3 = quartiles(p)
        cmed = statistics.median(c)
        slower = cmed - pmed > pq3 - pq1
        ok &= not slower
        print("  parent %.3f [%.3f-%.3f] spread %.2f | change %.3f | %+.1f%%%s" % (
            pmed, pq1, pq3, (pq3 - pq1) / pmed if pmed else 0.0, cmed,
            100.0 * (cmed - pmed) / pmed if pmed else 0.0,
            "  SLOWER beyond the parent's spread" if slower else ""))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
