#!/usr/bin/env python3
"""Aggregate N full-pass Bench outputs into BENCH_LOCAL_r{N}.json.

Each input is a SPARK_GRAFT_BENCH_OUT file (one JSON line with the full
per-query map and that pass's pinned calibrations). Output mirrors the
r13 shape: per-query min/median across passes, run totals, and the
calibration PAIR of every pass — the r13 verdict's requirement that
every recording carry its own pinned-64-partition shuffle calibration
and quiet-CPU calibration so rounds are comparable without binary
re-runs.

Usage: local_bench.py OUT.json pass1.json pass2.json ...
"""
import json
import statistics
import sys


def main():
    out, paths = sys.argv[1], sys.argv[2:]
    passes = []
    for p in paths:
        with open(p) as f:
            passes.append(json.load(f))
    per = {}
    for d in passes:
        for k, v in d["queries"].items():
            if v < 0:
                continue
            per.setdefault(k, []).append(v)
    queries = {
        k: {"min_s": round(min(v), 3), "median_s": round(statistics.median(v), 3)}
        for k, v in sorted(per.items())
    }
    doc = {
        "metric": "bench_local_quiet",
        "sf": passes[0]["sf"],
        "runs": len(passes),
        "policy": "min + median across full passes per query",
        "total_min_s": round(sum(q["min_s"] for q in queries.values()), 1),
        "total_median_s": round(sum(q["median_s"] for q in queries.values()), 1),
        "run_totals_s": [round(d["value"], 1) for d in passes],
        "calibrations": [
            # launch_s (r15 verdict #3): empty-32-task-job probe for the
            # scheduler/job-launch axis that dominates sub-second queries;
            # absent in pre-r16 passes
            {"cpu_s": round(d["calibration_s"], 3),
             "shuffle_s": round(d["calibration_shuffle_s"], 3),
             **({"launch_s": round(d["calibration_launch_s"], 4)}
                if "calibration_launch_s" in d else {})}
            for d in passes
        ],
        "failed": sorted({f for d in passes for f in d.get("failed", [])}),
        "queries": queries,
    }
    with open(out, "w") as f:
        json.dump(doc, f, indent=1)
    print(f"wrote {out}: {len(queries)} queries, "
          f"total_min={doc['total_min_s']}s, calibrations={doc['calibrations']}")


if __name__ == "__main__":
    main()
