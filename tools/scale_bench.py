#!/usr/bin/env python3
"""JVM-isolated scale bench (r14 verdict #2).

The single-JVM 100x protocol had real inter-rep variance (SCALE_r14
rep_variance_100x: per-rep standing-set totals 572-663 s, q_dedup_minhash
swinging 6.5->102 s across reps) — old-gen pressure migrating between
queries despite Bench's inter-query GC. This driver removes the coupling:
each FAMILY of queries runs in a FRESH JVM, and the high-variance
dedup/similarity family runs per-QUERY, so no query's garbage can inflate
another's timing. Output is ordinary Bench JSON files (one per JVM via
SPARK_GRAFT_BENCH_OUT), which scale_ratio.py's mins() merges unchanged —
min-policy results stay comparable with earlier rounds.

Usage: scale_bench.py OUTDIR TAG SFDIR SHUFFLE QUERY [QUERY...]
Writes OUTDIR/bench_TAG_<group>.json per JVM and prints a one-line
per-group wall summary. Exit nonzero if any JVM failed.
"""
import json
import os
import subprocess
import sys
import time

# families whose members each get their OWN JVM (the variance lived here)
PER_QUERY_PREFIXES = ("q_dedup", "q_sim", "q_corpus_dedup")


def family(q):
    # q_join_skew -> join; q_er_match -> er; q_text_outliers -> text ...
    return q.split("_")[1] if q.startswith("q_") and "_" in q[2:] else q


def main():
    if len(sys.argv) < 6:
        sys.exit(__doc__)
    outdir, tag, sfdir, shuffle = sys.argv[1:5]
    queries = sys.argv[5:]
    os.makedirs(outdir, exist_ok=True)
    groups = []  # (group_name, [queries])
    per_family = {}
    for q in queries:
        if q.startswith(PER_QUERY_PREFIXES):
            groups.append((q, [q]))
        else:
            per_family.setdefault(family(q), []).append(q)
    groups.extend(sorted(per_family.items()))
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sfdir, SPARK_GRAFT_SHUFFLE=shuffle)
    failed = []
    for gname, qs in groups:
        out = os.path.join(outdir, f"bench_{tag}_{gname}.json")
        env["SPARK_GRAFT_BENCH_OUT"] = out
        t0 = time.time()
        r = subprocess.run(
            ["tools/jrun.sh", "graft.Bench"] + qs,
            env=env, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
        dt = time.time() - t0
        status = "ok" if r.returncode == 0 and os.path.exists(out) else "FAIL"
        if status == "FAIL":
            failed.append(gname)
        else:
            with open(out) as f:
                d = json.load(f)
            print(f"[scale-bench] {tag}/{gname}: {len(d['queries'])} queries "
                  f"sum={sum(d['queries'].values()):.1f}s wall={dt:.0f}s "
                  f"cal={d['calibration_s']:.2f}/{d['calibration_shuffle_s']:.2f}")
        sys.stdout.flush()
    if failed:
        sys.exit(f"[scale-bench] FAILED groups: {failed}")


if __name__ == "__main__":
    main()
