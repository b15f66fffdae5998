#!/usr/bin/env python3
"""Alternating A/B pairs of perfbench runs: parent checkout vs change checkout.

Runs `python3 perfbench/run.py --workload W --seed S --seconds T --trace 0`
(T is BENCHMARK.json's run_seconds) in each of two checkouts, one pair per
seed, flipping which side runs first every pair (pair 1 parent first, pair 2
change first, ...), and parses the last stdout line of each run (perfbench's JSON result). Then, for every
end-to-end metric declared in the parent's BENCHMARK.json, it prints:

  - every run's value, in run order, tagged with seed and side (p / c);
  - each side's median and quartiles (linear interpolation);
  - the change's win count over the pairs (ties count for neither side);
  - for the claimed metric (--claim): whether it passes the rule "the change
    wins at least nine tenths of the pairs, and the medians differ, in the
    better direction, by more than the parent's interquartile range";
  - for every other metric: whether the change's median is within the
    metric's bound of the parent's. When the parent's own spread (IQR over
    median) is wider than the bound, the verdict is "unresolved" unless every
    change run reads better than every parent run.

A run that exits non-zero, prints no result, reads correct=false or has
failed jobs is reported and fails the verdict. Each metric's table covers
the pairs where both runs have it; the pairs without it are listed, and
count as losses in the claim's 9/10 rule. Neither checkout is edited.

Usage:
  python3 tools/abpairs.py --parent DIR --change DIR --workload quest_mine \\
      --seeds 1001-1010 [--pairs N] [--claim txn_per_s] \\
      [--log runs.jsonl]
  python3 tools/abpairs.py --summarize runs.jsonl --parent DIR [--claim M]

--seeds takes a comma list and/or a-b ranges; --pairs defaults to the number
of seeds (pair i uses seed i, cycling). --log appends one JSON line per run, so a long series can be
summarized again (--summarize, filtered by --workload when given) without
running it; use one log file per series. Exit status is 0 when
every run was correct and every verdict passed, 1 otherwise.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def parse_seeds(spec):
    seeds = []
    for part in spec.split(","):
        if "-" in part:
            a, b = part.split("-")
            seeds += range(int(a), int(b) + 1)
        else:
            seeds.append(int(part))
    return seeds


def run_one(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if p.returncode == 0 and lines else None
    except ValueError:
        result = None
    if result is None:
        sys.stderr.write(p.stderr[-2000:])
        return {"correct": False, "attempted": 0, "failed": 0, "metrics": {},
                "error": "exit %d" % p.returncode}
    return result


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def better(a, b, direction):
    """True when value a is strictly better than value b."""
    return a < b if direction == "lower" else a > b


def summarize(runs, metrics, claim):
    ok = True
    for r in runs:
        # perfbench reports each metric as {"value": v, "unit": u}
        r["metrics"] = {k: v["value"] for k, v in r["metrics"].items()}
        if not r["correct"] or r["failed"] or r.get("error"):
            ok = False
            print("RUN FAILED: seed %d side %s: correct=%s failed=%s %s" % (
                r["seed"], r["side"], r["correct"], r["failed"], r.get("error", "")))
    pairs = {}
    for r in runs:
        pairs.setdefault(r["pair"], {})[r["side"]] = r
    print("pairs: %d; order alternates, pair 1 parent first" % len(pairs))
    for m in metrics:
        name, direction, bound = m["name"], m["better"], m["bound"]
        ids = sorted(pairs)
        missing = [i for i in ids
                   if not all(s in pairs[i] and name in pairs[i][s]["metrics"] for s in "pc")]
        have = [pairs[i] for i in ids if i not in missing]
        print("\n%s (%s, %s is better, bound %.2f)" % (name, m["unit"], direction, bound))
        if missing:
            ok = False
            print("  NO VALUE in pairs %s (a failed or missing run)" % ", ".join(map(str, missing)))
        if not have:
            continue
        p = [pr["p"]["metrics"][name] for pr in have]
        c = [pr["c"]["metrics"][name] for pr in have]
        print("  runs: " + ", ".join("%d%s %.4g" % (r["seed"], r["side"], r["metrics"][name])
                                     for r in runs if r["metrics"].get(name) is not None))
        pq1, pmed, pq3 = quartiles(p)
        cq1, cmed, cq3 = quartiles(c)
        print("  parent median %.4g [%.4g-%.4g]  change median %.4g [%.4g-%.4g]  change %+.1f%%" % (
            pmed, pq1, pq3, cmed, cq1, cq3, 100.0 * (cmed - pmed) / pmed if pmed else 0.0))
        wins = sum(better(cv, pv, direction) for pv, cv in zip(p, c))
        losses = sum(better(pv, cv, direction) for pv, cv in zip(p, c))
        print("  change better in %d of %d pairs, worse in %d" % (wins, len(have), losses))
        if name == claim:
            # a pair without a value counts as a loss
            gap_ok = better(cmed, pmed, direction) and abs(cmed - pmed) > pq3 - pq1
            passed = wins >= 0.9 * len(pairs) and gap_ok
            print("  CLAIM %s: wins %d/%d (need >= 9/10), median gap %.4g vs parent IQR %.4g" % (
                "PASSES" if passed else "FAILS", wins, len(pairs), abs(cmed - pmed), pq3 - pq1))
            ok &= passed
        else:
            limit = pmed * (1 + bound) if direction == "lower" else pmed * (1 - bound)
            within = cmed <= limit if direction == "lower" else cmed >= limit
            spread = (pq3 - pq1) / pmed if pmed else 0.0
            all_better = all(better(cv, pv, direction) for cv in c for pv in p)
            if spread > bound and not all_better:
                verdict = "UNRESOLVED (parent spread %.2f > bound)" % spread
                ok = False
            else:
                verdict = "within bound" if within else "WORSE beyond bound"
                ok &= within
            print("  %s (limit %.4g)" % (verdict, limit))
    return ok


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True, help="parent checkout (holds BENCHMARK.json)")
    ap.add_argument("--change", help="change checkout")
    ap.add_argument("--workload")
    ap.add_argument("--seeds", help="e.g. 1001-1010 or 5,9,12")
    ap.add_argument("--pairs", type=int)
    ap.add_argument("--claim", help="end-to-end metric the change claims to improve")
    ap.add_argument("--log", help="append each run as one JSON line to this file")
    ap.add_argument("--summarize", help="summarize a --log file instead of running")
    a = ap.parse_args()

    with open(os.path.join(a.parent, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics = bench["end_to_end"]
    if a.claim and a.claim not in {m["name"] for m in metrics}:
        ap.error("--claim must name an end-to-end metric in BENCHMARK.json")

    if a.summarize:
        with open(a.summarize) as f:
            runs = [json.loads(line) for line in f if line.strip()]
        runs = [r for r in runs if not a.workload or r["workload"] == a.workload]
    else:
        if not (a.change and a.workload and a.seeds):
            ap.error("--change, --workload and --seeds are required to run pairs")
        seeds = parse_seeds(a.seeds)
        n = a.pairs or len(seeds)
        sides = {"p": a.parent, "c": a.change}
        runs = []
        for i in range(n):
            seed = seeds[i % len(seeds)]
            for side in ("pc" if i % 2 == 0 else "cp"):
                r = run_one(sides[side], a.workload, seed, bench["run_seconds"])
                r.update(pair=i + 1, seed=seed, side=side, workload=a.workload)
                runs.append(r)
                print("pair %d seed %d %s: correct=%s failed=%s %s" % (
                    i + 1, seed, side, r["correct"], r["failed"],
                    " ".join("%s=%.4g" % (k, v["value"]) for k, v in r["metrics"].items())),
                    flush=True)
                if a.log:
                    with open(a.log, "a") as f:
                        f.write(json.dumps(r) + "\n")
    sys.exit(0 if summarize(runs, metrics, a.claim) else 1)


if __name__ == "__main__":
    main()
