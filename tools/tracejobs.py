#!/usr/bin/env python3
"""Per-job breakdown of one perfbench trace.

Reads a trace file written by `python3 perfbench/run.py ... --trace 1`
(under .bench_build/perfbench/) and prints, for the traced job of median
wall time, each span's Spark jobs in the order they started, with:

  - the driver gap before each job: the time since the previous Spark job
    of the timed job ended (for the first, since the timed job started);
  - each job's duration;
  - each of its stages: name, wall time and per-task run times.

Times are in ms. The file is only read.

Usage:
  python3 tools/tracejobs.py .bench_build/perfbench/trace-quest_mine-seed1.json
"""
import json
import sys


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__.strip().splitlines()[-1].strip())
    with open(sys.argv[1]) as f:
        trace = json.load(f)
    roots = sorted((s for s in trace["spans"] if s["name"] == "job"),
                   key=lambda s: s["end_ms"] - s["start_ms"])
    if not roots:
        sys.exit("no timed job in %s" % sys.argv[1])
    root = roots[(len(roots) - 1) // 2]
    spans = sorted((s for s in trace["spans"]
                    if s["job"] == root["job"] and s["id"] != root["id"]),
                   key=lambda s: s["start_ms"])
    jobs = {j["id"]: j for j in trace["spark_jobs"]}
    stages = {s["id"]: s for s in trace["stages"]}

    print("%s seed %s: timed job %d, %.1f ms (the median of %d traced jobs)" % (
        trace["workload"], trace["seed"], root["job"],
        root["end_ms"] - root["start_ms"], len(roots)))
    last_end = root["start_ms"]
    for span in spans:
        own = sorted((jobs[i] for i in span["spark_jobs"] if i in jobs),
                     key=lambda j: j["start_ms"])
        print("\n%s  %.1f ms, %d Spark jobs" % (
            span["name"], span["end_ms"] - span["start_ms"], len(own)))
        for j in own:
            print("  job %d: gap %.1f ms, %d ms" % (
                j["id"], j["start_ms"] - last_end, j["end_ms"] - j["start_ms"]))
            last_end = max(last_end, j["end_ms"])
            for sid in j["stages"]:
                s = stages.get(sid)
                if s is None:
                    print("    stage %d: skipped" % sid)
                    continue
                print("    stage %d %s: %d ms, tasks %s" % (
                    sid, s["name"], s["completed_ms"] - s["submitted_ms"],
                    s["task_run_ms"]))
    print("\nafter the last job: %.1f ms" % (root["end_ms"] - last_end))


if __name__ == "__main__":
    main()
