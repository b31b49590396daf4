#!/usr/bin/env python3
"""Benchmark of the graft engine: two batch workloads driven from outside
the library, one JVM per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --workload all --seed <n> --seconds <s>   # table of every metric
    python3 perfbench/run.py --list                                     # every metric and unit

Run from the root of a checkout. The first run builds the harness and the
library from source with sbt into .bench_build/; later runs reuse the build
while the sources are unchanged. Inputs are generated from the seed into
.bench_build/run/, which is removed when the run ends.

The last line of stdout is one JSON object: `correct`, `attempted`,
`failed` and `metrics` (end-to-end metrics with --trace 0, per-layer
metrics with --trace 1). The line before it holds the details: input
digest, resource stamp, calibration probes, percentiles, checks.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "target", "scala-2.13", "classes")
# the Spark distribution: $SPARK_HOME, else the one whose spark-submit is on PATH
SPARK_HOME = os.environ.get("SPARK_HOME") or os.path.dirname(os.path.dirname(
    os.path.realpath(shutil.which("spark-submit") or "spark-submit")))
SPARK_JARS = os.path.join(SPARK_HOME, "jars")
RUN_LIMIT_S = 170          # a run must end within 180 s; leave room to clean up
SBT_FLAGS = ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=%s" %
             os.path.expanduser("~/.sbt/repositories"), "-Dsbt.offline=true",
             "-Dsbt.server.autostart=false"]
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")])
    for p in files:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the library and the harness unless the build is current."""
    stamp = os.path.join(BUILD, "build.stamp")
    digest = sources_digest()
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.isdir(CLASSES):
        return
    log("building library and harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=SPARK_HOME)
    state = os.path.join(BUILD, "sbt")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", *SBT_FLAGS,
           f"-Dsbt.global.base={state}/global", f"-Dsbt.boot.directory={state}/boot",
           f"-Dsbt.ivy.home={state}/ivy", "compile"]
    proc = subprocess.run(cmd, cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                          stdin=subprocess.DEVNULL, timeout=850)
    if proc.returncode != 0:
        sys.exit(f"perfbench: sbt compile failed ({proc.returncode})")
    with open(stamp, "w") as f:
        f.write(digest)


def heap():
    """The Tier-1 heap: MemTotal / 2, in whole GiB, clamped to [2, 8]."""
    kib = next(int(l.split()[1]) for l in open("/proc/meminfo") if l.startswith("MemTotal:"))
    return f"{min(8, max(2, kib // 2097152))}g"


def cores():
    return len(os.sched_getaffinity(0))


def run_jvm(workload, seconds, trace, inp, work, deadline):
    result = os.path.join(work, "result.json")
    cmd = ["java", f"-Xmx{heap()}", f"-XX:ActiveProcessorCount={cores()}",
           *[a for p in JDK_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")],
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={work}/jtmp",
           f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
           "-cp", f"{CLASSES}:{SPARK_JARS}/*", "perfbench.Main",
           workload, str(seconds), str(int(trace)), inp, work, result]
    os.makedirs(f"{work}/jtmp")
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(f"perfbench: {workload} did not finish within the run limit")
    if rc != 0 or not os.path.exists(result):
        sys.exit(f"perfbench: harness JVM failed ({rc})")
    with open(result) as f:
        return json.load(f)


def end_to_end(workload, res):
    passes = res["passes"]
    walls = [p["wall_s"] for p in passes]
    items = sum(p["items"] for p in passes)
    if workload == "seoul_ingest":
        lat = [o["s"] for p in passes for o in p["ops"] if o["kind"] == "dataset" and o["ok"]]
    else:
        lat = walls
    values = {
        "setup_s": res["setup"]["jvm_boot_s"] + statistics.median(res["setup"]["cycles_s"]),
        "throughput_items_s": items / sum(walls),
        "latency_p50_s": statistics.median(lat),
        "peak_live_heap_mb": res["peak_live_heap_mb"],
    }
    tail = metrics.tail_percentile(lat)
    details = {"latency_samples": len(lat), "pass_s": walls,
               "op_s": {o["name"]: round(o["s"], 3) for o in passes[0]["ops"]},
               "peak_rss_mb": res["peak_rss_mb"],
               "setup_cycles_s": res["setup"]["cycles_s"], "jvm_phase_s": res["phase_s"]}
    if tail:
        details[f"latency_p{tail[0]:g}_s"] = tail[1]
    return values, details


def run_one(workload, seed, seconds, trace):
    t_start = time.monotonic()
    deadline = t_start + RUN_LIMIT_S
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("perfbench: the graft sources are not in this checkout; run from its root")
    os.makedirs(BUILD, exist_ok=True)
    lock = open(os.path.join(BUILD, "lock"), "w")
    fcntl.flock(lock, fcntl.LOCK_EX)       # runs in one checkout share .bench_build
    build()
    base = os.path.join(BUILD, "run")
    shutil.rmtree(base, ignore_errors=True)
    inp, work = os.path.join(base, "input"), os.path.join(base, "work")
    os.makedirs(inp)
    os.makedirs(work)
    phase_s = {}
    try:
        t = time.monotonic()
        sub = gen.generate(workload, seed, inp)
        digest = gen.digest(sub)
        log(f"{workload} seed {seed}: input digest {digest}")
        phase_s["generate"] = time.monotonic() - t
        t = time.monotonic()
        res = run_jvm(workload, seconds, trace, inp, work, deadline)
        phase_s["jvm"] = time.monotonic() - t
        t = time.monotonic()
        failed_checks, check_details = checks.run(workload, inp, work, res)
        phase_s["checks"] = time.monotonic() - t
    finally:
        shutil.rmtree(base, ignore_errors=True)

    ops = [o for p in res["passes"] for o in p["ops"]]
    if res.get("traced"):
        ops += res["traced"]["ops"]
    attempted, failed = metrics.fail_counts(ops, failed_checks)
    e2e, details = end_to_end(workload, res) if not trace else (None, {})
    details.update(workload=workload, seed=seed, input_digest=digest, stamp=res["stamp"],
                   heap=heap(), calibration=res["calibration"], checks=check_details,
                   failed_checks=failed_checks[:20],
                   fail_ratio=failed / attempted, phase_s=phase_s,
                   run_s=time.monotonic() - t_start)
    if trace:
        values, layers, coverage = metrics.per_layer_values(res["traced"], res["stamp"]["cores"])
        details.update(trace_coverage=coverage, layers=layers,
                       traced_op_s={o["name"]: round(o["s"], 3) for o in res["traced"]["ops"]})
        chosen = {n: (values[n], u) for n, u, *_ in metrics.per_layer_catalog()}
    else:
        chosen = {n: (e2e[n], u) for n, u, *_ in metrics.END_TO_END}
    print(json.dumps(details, default=str))
    out = {"correct": failed == 0, "attempted": attempted, "failed": failed,
           "metrics": {n: {"value": v, "unit": u} for n, (v, u) in chosen.items()}}
    print(json.dumps(out), flush=True)
    return out, details


def list_metrics():
    print(f"{'metric':58} {'unit':8} {'better':7} moves / workload")
    for n, u, b, bound, _d in metrics.END_TO_END:
        print(f"{n:58} {u:8} {b:7} end-to-end, bound {bound:.0%}")
    for n, u, b, moves, w in metrics.per_layer_catalog():
        print(f"{n:58} {u:8} {b:7} {moves} on {w}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--list", action="store_true", help="print every metric with its unit")
    a = ap.parse_args()
    if a.list:
        list_metrics()
        return
    if a.workload == "all":
        rows = []
        for w in metrics.WORKLOADS:
            untraced, details = run_one(w, a.seed, a.seconds, 0)
            traced, _ = run_one(w, a.seed, a.seconds, 1)
            # both runs time one cold pass of the same input
            overhead = traced["metrics"]["trace.wall_s"]["value"] - details["pass_s"][0]
            rows += [(w, n, m["value"], m["unit"])
                     for out in (untraced, traced) for n, m in out["metrics"].items()]
            rows.append((w, "trace_overhead_s", overhead, "s"))
        for w, n, v, u in rows:
            print(f"{w:15} {n:58} {v:14.4f} {u}")
        return
    if a.workload not in metrics.WORKLOADS:
        ap.error(f"--workload must be one of {', '.join(metrics.WORKLOADS)} or all")
    run_one(a.workload, a.seed, a.seconds, a.trace)


if __name__ == "__main__":
    main()
