"""Metric catalog and the arithmetic that turns a harness result into metrics.

BENCHMARK.json lists the metrics a regression gate compares; this module holds the
same lists plus, for each per-layer metric, the end-to-end metric it should
move and the workload it does most of its work in (tests check that the two
agree). Everything here is plain Python so it can be tested without Spark.
"""
import math
import statistics

WORKLOADS = {
    "seoul_ingest": "5 Zipf-sized CSV datasets (catalog-schema, OpenAPI and dirty paths) plus a resumed "
                    "batch; CSV parsing, surrogate ids and partitioned parquet writes do the work",
    "corpus_dedup": "2k Hangul/English docs: gate, exact, Jaccard, clusters, BPE; then 1k 768-dim "
                    "embeddings: kNN graph, NN-descent, clusters, top-k. Loop ops and wide payloads work",
}

# (name, unit, better, bound, definition)
END_TO_END = [
    ("setup_s", "s", "lower", 0.25,
     "JVM start to main plus the median of three set-up cycles (session, warm-up, table prep)"),
    ("throughput_items_s", "items/s", "higher", 0.25,
     "input items per second of timed pass: CSV rows or documents"),
    ("latency_p50_s", "s", "lower", 0.25,
     "median latency of the unit of work: a dataset ingest (seoul), else a whole pass"),
    ("peak_live_heap_mb", "MiB", "lower", 0.1,
     "largest JVM heap occupancy right after a garbage collection"),
]

COUNTER_UNIT = {"jobs": "count", "jobs_eager": "count", "tasks_per_job": "count",
                "skew": "ratio", "util": "ratio", "shuffle_w_mb": "MiB", "shuffle_r_mb": "MiB",
                "spill_mb": "MiB", "rows_out": "count", "task_retries": "count",
                "rows_s": "rows/s"}
HIGHER_IS_BETTER = {"tasks_per_job", "util", "rows_s", "rows_out"}

# (layer, counters, e2e metric it should move, workload where it works most)
_SEOUL = ("throughput_items_s", "seoul_ingest")
_CORPUS = ("throughput_items_s", "corpus_dedup")
_EMBED = ("throughput_items_s", "corpus_dedup")
PER_LAYER_GROUPS = [
    ("pipeline.SeoulPipeline.csvIngest", ("build_s", "exec_s", "jobs"), *_SEOUL),
    ("pipeline.SeoulPipeline.inferAndIngest", ("build_s",), *_SEOUL),
    ("pipeline.SeoulPipeline.categoryEnrich", ("exec_s",), *_SEOUL),
    ("sources.Ingest.csvQuarantine", ("build_s",), *_SEOUL),
    ("sources.Warehouse.writePartitioned", ("exec_s", "task_s", "util"), *_SEOUL),
    ("sources.Audit.record", ("exec_s",), "latency_p50_s", "seoul_ingest"),
    ("operators.Dedup.exactKeepFirst", ("exec_s", "shuffle_w_mb"), *_CORPUS),
    ("operators.Similarity.jaccardNearDupPairs",
     ("build_s", "exec_s", "shuffle_w_mb", "skew", "rows_out"), *_CORPUS),
    ("operators.Dedup.duplicateClusters", ("build_s", "jobs_eager", "tasks_per_job", "util"),
     *_CORPUS),
    ("operators.Bpe.learnMerges", ("build_s", "jobs_eager"), *_CORPUS),
    ("operators.Bpe.applyMerges", ("exec_s",), *_CORPUS),
    ("operators.Similarity.knnGraph", ("exec_s", "shuffle_w_mb", "spill_mb"), *_EMBED),
    ("operators.Similarity.nnDescentRound", ("build_s", "exec_s", "shuffle_w_mb"), *_EMBED),
    ("operators.Similarity.quantRerankTopK", ("exec_s",), *_EMBED),
    ("operators.Similarity.lshTopK", ("exec_s",), *_EMBED),
    ("functions.TextFunctions.tokens", ("rows_s",), *_CORPUS),
    ("functions.TextFunctions.nfc", ("rows_s",), *_CORPUS),
    ("functions.TextFunctions.fingerprintMd5", ("rows_s",), *_CORPUS),
    ("functions.VectorFunctions.asDouble", ("rows_s",), *_EMBED),
    ("operators.Similarity.srpBucket", ("rows_s",), *_EMBED),
]
# Spark-runtime totals and tracing bookkeeping, per workload
RUNTIME = [
    ("spark.shuffle_w_mb", "MiB", "lower", "peak_live_heap_mb"),
    ("spark.spill_mb", "MiB", "lower", "peak_live_heap_mb"),
    ("spark.task_retries", "count", "lower", "throughput_items_s"),
    ("spark.gc_s", "s", "lower", "throughput_items_s"),
    ("trace.wall_s", "s", "lower", "throughput_items_s"),
    ("trace.harness_self_s", "s", "lower", "throughput_items_s"),
]


def per_layer_catalog():
    """[(name, unit, better, moves, workload)] for every per-layer metric."""
    out = []
    for layer, counters, moves, workload in PER_LAYER_GROUPS:
        for c in counters:
            out.append((f"{layer}.{c}", COUNTER_UNIT.get(c, "s"),
                        "higher" if c in HIGHER_IS_BETTER else "lower", moves, workload))
    out += [(n, u, b, m, "all") for n, u, b, m in RUNTIME]
    return out


# ------------------------------------------------------------------ statistics

def nearest_rank(values, p):
    """The p-th percentile by nearest rank (p in (0, 100])."""
    s = sorted(values)
    return s[max(0, math.ceil(p / 100 * len(s)) - 1)]


def tail_percentile(values, beyond=10, candidates=(99.9, 99, 95, 90, 75, 50)):
    """Highest candidate percentile with at least `beyond` samples strictly
    above it, as (p, value); None when even the median lacks them."""
    for p in candidates:
        v = nearest_rank(values, p)
        if sum(1 for x in values if x > v) >= beyond:
            return p, v
    return None


def fail_counts(ops, failed_checks=()):
    """(attempted, failed) over the ops of a run, in run order. An op fails
    when it threw; a failed correctness check fails the last op of the
    name it gives (the one whose output was checked), or counts as one
    more attempted and failed op when no op has that name."""
    bad = [not o["ok"] for o in ops]
    last = {o["name"]: i for i, o in enumerate(ops)}
    extra = 0
    for name in failed_checks:
        if name in last:
            bad[last[name]] = True
        else:
            extra += 1
    return len(ops) + extra, sum(bad) + extra


# ----------------------------------------------------------------- span math

def _covered(intervals, lo, hi):
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def self_times(spans):
    """{span id: duration minus the part of it covered by its children};
    overlapping children count once."""
    kids = {}
    for s in spans:
        if s.get("parent") is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - _covered(kids.get(s["id"], []), s["start"], s["end"]) for s in spans}


def _sum_phases(span, key):
    return sum(ph[key] for ph in span["phases"].values())


def layer_metrics(spans, cores):
    """Aggregate spans by layer (the span name) into every per-layer
    counter. Times are inclusive except self_s; job and task counters are
    each span's own (work inside a child span is the child's)."""
    selfs = self_times(spans)
    groups = {}
    for s in spans:
        groups.setdefault(s["name"], []).append(s)
    out = {}
    for layer, ss in groups.items():
        wall = sum(s["end"] - s["start"] for s in ss)
        jobs = sum(_sum_phases(s, "jobs") for s in ss)
        tasks = sum(_sum_phases(s, "tasks") for s in ss)
        task_s = sum(_sum_phases(s, "task_s") for s in ss)
        durs = [d for s in ss for ph in s["phases"].values() for d in ph["task_ms"]]
        exec_s = sum(s["exec_s"] for s in ss)
        rows = sum(s["rows_out"] for s in ss)
        m = {
            "build_s": sum(s["build_s"] for s in ss),
            "plan_s": sum(s["plan_s"] for s in ss),
            "exec_s": exec_s,
            "self_s": sum(selfs[s["id"]] for s in ss),
            "jobs": jobs,
            "jobs_eager": sum(s["phases"]["build"]["jobs"] for s in ss),
            "tasks_per_job": tasks / jobs if jobs else 0.0,
            "task_s": task_s,
            "skew": max(durs) / max(statistics.median(durs), 1) if durs else 0.0,
            "util": task_s / (wall * cores) if wall > 0 else 0.0,
            "sched_wait_s": sum(_sum_phases(s, "sched_wait_s") for s in ss),
            "shuffle_w_mb": sum(_sum_phases(s, "shuffle_w_mb") for s in ss),
            "shuffle_r_mb": sum(_sum_phases(s, "shuffle_r_mb") for s in ss),
            "spill_mb": sum(_sum_phases(s, "spill_mb") for s in ss),
            "rows_out": rows,
            "task_retries": sum(_sum_phases(s, "task_retries") for s in ss),
            "rows_s": rows / exec_s if exec_s > 0 else 0.0,
        }
        out[layer] = m
    return out


def per_layer_values(traced, cores):
    """Every per-layer metric from a traced pass (0 for layers the
    workload does not call), plus the full per-layer table."""
    spans = traced["trace"]["spans"]
    layers = layer_metrics(spans, cores)
    values = {}
    for name, *_ in per_layer_catalog():
        layer, counter = name.rsplit(".", 1)
        values[name] = float(layers.get(layer, {}).get(counter, 0.0))
    every = [ph for s in spans for ph in s["phases"].values()] + [traced["trace"]["unattributed"]]
    values["spark.shuffle_w_mb"] = sum(c["shuffle_w_mb"] for c in every)
    values["spark.spill_mb"] = sum(c["spill_mb"] for c in every)
    values["spark.task_retries"] = float(sum(c["task_retries"] for c in every))
    values["spark.gc_s"] = traced["gc_s"]
    values["trace.wall_s"] = traced["wall_s"]
    selfs = self_times(spans)
    values["trace.harness_self_s"] = sum(selfs[s["id"]] for s in spans
                                         if s["name"].startswith("bench."))
    # the timed pass is the first top-level span; its subtree's self times
    # partition it
    root = next(s for s in spans if s.get("parent") is None)
    inside, members = {root["id"]}, [root]
    for s in spans:
        if s.get("parent") in inside:
            inside.add(s["id"])
            members.append(s)
    coverage = {"wall_s": traced["wall_s"], "pass_span_s": root["end"] - root["start"],
                "self_sum_s": sum(selfs[s["id"]] for s in members)}
    return values, layers, coverage


def benchmark_json(run_seconds):
    """The BENCHMARK.json document for this catalog."""
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": run_seconds,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS.items()],
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": bound}
                       for n, u, b, bound, _ in END_TO_END],
        "per_layer": [{"name": n, "unit": u, "better": b}
                      for n, u, b, _m, _w in per_layer_catalog()],
    }
