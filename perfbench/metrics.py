"""Turns the raw run record written by the benchmark JVM into metrics.

Everything here is plain arithmetic over the record (see Recorder in
src/main/scala/perfbench/Trace.scala): ops, rounds, spans, Spark jobs,
stages and planning phases, all timed in epoch microseconds.
"""

import statistics

# Percentiles a tail may be reported at, lowest first.
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
# A tail percentile needs at least this many samples beyond it.
TAIL_BEYOND = 10

# Layer calls timed by the benchmark, one span each (see NOTES.md).
LAYER_SPANS = (
    "Levi.latestVersion", "Levi.skippedStats", "Levi.deltaFileSizes",
    "Levi.updatedPartitions", "Levi.rowCountFromLog",
    "DeltaLog.snapshot", "DeltaLog.snapshot_fresh", "DeltaLog.commit",
    "Skipping.prunedFiles", "Skipping.readWhere",
    "TransactionWriter.append", "Levi.killDuplicates", "Levi.dropDuplicates",
    "Levi.dropDuplicatesPkey", "Levi.type2ScdUpsert", "Merge.execute",
    "Mutations.delete", "Maintenance.compact",
)

E2E_UNITS = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "read_ms": "ms",
    "fresh_read_ms": "ms",
    "write_ms": "ms",
    "cpu_ms_per_op": "ms",
    "retained_heap_mb": "MB",
}

# End-to-end metrics measured within the loop (see loop_metrics);
# comparable between the traced and untraced rounds of one run.
LOOP_METRICS = ("ops_per_s", "read_ms", "fresh_read_ms", "write_ms", "cpu_ms_per_op")


def per_layer_units():
    units = {}
    for name in LAYER_SPANS:
        units[name + "_ms"] = "ms"
        units[name + "_self_ms"] = "ms"
    units.update({
        "Skipping.kept_ratio": "ratio",
        "commit.versions_per_write": "count",
        "commit.files_rewritten_ratio": "ratio",
        "commit.bytes_written_per_write": "B",
        "table.active_files": "count",
        "table.bytes_on_disk": "B",
        "spark.jobs_per_op": "count",
        "spark.tasks_per_op": "count",
        "spark.planning_ms_per_op": "ms",
        "spark.executor_run_ms_per_op": "ms",
        "spark.executor_cpu_ms_per_op": "ms",
        "spark.shuffle_bytes_per_op": "B",
        "driver.gap_ms_per_op": "ms",
    })
    for name in LOOP_METRICS:
        units["overhead." + name] = E2E_UNITS[name]
    return units


# ---- arithmetic -------------------------------------------------------------

def percentile(values, q):
    """Linear interpolation between closest ranks (numpy's default)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n):
    """The highest ladder percentile with at least TAIL_BEYOND of `n`
    samples beyond it; the median when there are too few samples."""
    best = TAIL_LADDER[0]
    for q in TAIL_LADDER:
        if n * (100.0 - q) / 100.0 + 1e-9 >= TAIL_BEYOND:
            best = q
    return best


def union_length(intervals, lo=None, hi=None):
    """Total length covered by `intervals` ((start, end) pairs), each first
    clipped to [lo, hi] when given. Overlapping and nested intervals are
    counted once."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total = 0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(t0, t1, children):
    """A span's duration minus the part of it its children cover."""
    return (t1 - t0) - union_length(children, t0, t1)


def median_or_zero(values):
    return statistics.median(values) if values else 0.0


# ---- end-to-end -------------------------------------------------------------

def mean(values):
    return sum(values) / len(values)


def cycles(record, rounds):
    """The given rounds, in order, cut into whole cycles of the workload's
    `rounds_per_cycle` rounds."""
    k = record["rounds_per_cycle"]
    rounds = sorted(rounds, key=lambda r: r["id"])
    return [rounds[i:i + k] for i in range(0, len(rounds) - k + 1, k)]


def call_weighted_median_ms(ops):
    """Latency of a class of ops: the median latency of each call (op
    name), weighted by how many of the ops that call makes. A median per
    call discards a stall; the weights keep each call's share of the mix,
    where a median over mixed calls would fall on whichever call sits in
    the middle."""
    by_name = {}
    for o in ops:
        by_name.setdefault(o["name"], []).append((o["t1"] - o["t0"]) / 1000.0)
    if not ops:
        return 0.0
    return sum(len(xs) * statistics.median(xs) for xs in by_name.values()) / len(ops)


def loop_metrics(record, rounds):
    """End-to-end metrics of the loop over the whole cycles among the given
    rounds. A read is on a snapshot already resolved; a fresh read is the
    first read after a commit; each latency is `call_weighted_median_ms`
    of its class. `ops_per_s` and `cpu_ms_per_op` are figures per cycle,
    and the metric is their median over the cycles."""
    per_cycle = {"ops_per_s": [], "cpu_ms_per_op": [], "cpu_ms_per_op_with_jit": []}
    counts = {"ops": 0, "reads": 0, "fresh_reads": 0, "writes": 0, "cycles": 0, "window_s": 0.0}
    all_ops = []
    for cycle in cycles(record, rounds):
        ids = {r["id"] for r in cycle}
        ops = [o for o in record["ops"] if o["round"] in ids]
        window_us = sum(r["t1"] - r["t0"] - r["check_us"] for r in cycle)
        cpu_ns = sum(r["cpu_ns"] - r["check_cpu_ns"] for r in cycle)
        jit_ns = sum(r.get("jit_cpu_ns", 0) for r in cycle)
        if ops and window_us > 0:
            per_cycle["ops_per_s"].append(len(ops) / (window_us / 1e6))
            per_cycle["cpu_ms_per_op"].append((cpu_ns - jit_ns) / 1e6 / len(ops))
            per_cycle["cpu_ms_per_op_with_jit"].append(cpu_ns / 1e6 / len(ops))
        all_ops += ops
        counts["ops"] += len(ops)
        counts["cycles"] += 1
        counts["window_s"] += window_us / 1e6
    out = {name: median_or_zero(xs) for name, xs in per_cycle.items()}
    for group, name, kind, fresh in (("reads", "read_ms", "read", False),
                                     ("fresh_reads", "fresh_read_ms", "read", True),
                                     ("writes", "write_ms", "write", False)):
        ops = [o for o in all_ops if o["kind"] == kind and o["fresh"] == fresh]
        out[name] = call_weighted_median_ms(ops)
        counts[group] = len(ops)
    return out, counts


def end_to_end(record):
    rounds = [r for r in record["rounds"] if not r["traced"]]
    metrics, detail = loop_metrics(record, rounds)
    # set-up: the median input build, plus the one warm-up after it
    metrics["setup_s"] = statistics.median(record["build_s"]) + record["warmup_s"]
    metrics["retained_heap_mb"] = record["retained_heap_mb"]
    return metrics, detail


# ---- per layer --------------------------------------------------------------

def per_layer(record):
    traced_rounds = [r for r in record["rounds"] if r["traced"]]
    traced_ids = {r["id"] for r in traced_rounds}
    ops = [o for o in record["ops"] if o["round"] in traced_ids]
    op_ids = {o["id"] for o in ops}
    n = max(len(ops), 1)
    jobs = [j for j in record["jobs"] if j["op"] in op_ids]
    jobs_by_op = {}
    for j in jobs:
        jobs_by_op.setdefault(j["op"], []).append((j["t0"], j["t1"]))
    phases = [(p["t0"], p["t1"]) for p in record["phases"]]
    stages = {s["id"]: s for s in record["stages"]}
    counted = set()
    tasks = run_ms = cpu_ns = shuffle = 0
    for j in jobs:
        for sid in j["stages"]:
            if sid in stages and sid not in counted:
                counted.add(sid)
                s = stages[sid]
                tasks += s["tasks"]
                run_ms += s["run_ms"]
                cpu_ns += s["cpu_ns"]
                shuffle += s["shuffle_bytes"]

    out = {}
    spans = record["spans"]
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
    for name in LAYER_SPANS:
        mine = [s for s in spans if s["name"] == name and s["op"] in op_ids]
        out[name + "_ms"] = median_or_zero([(s["t1"] - s["t0"]) / 1000.0 for s in mine])
        out[name + "_self_ms"] = median_or_zero([
            self_time(s["t0"], s["t1"], children.get(s["id"], []) +
                      jobs_by_op.get(s["op"], []) + phases) / 1000.0
            for s in mine])

    samples = record["samples"]

    def mean(name):
        xs = samples.get(name, [])
        return sum(xs) / len(xs) if xs else 0.0

    active = sum(samples.get("commit.active_before", []))
    out["Skipping.kept_ratio"] = mean("Skipping.kept_ratio")
    out["commit.versions_per_write"] = mean("commit.versions_per_write")
    out["commit.files_rewritten_ratio"] = (
        sum(samples.get("commit.removed", [])) / active if active else 0.0)
    out["commit.bytes_written_per_write"] = mean("commit.bytes_written")
    out["table.active_files"] = record["values"].get("table.active_files", 0.0)
    out["table.bytes_on_disk"] = record["values"].get("table.bytes_on_disk", 0.0)
    out["spark.jobs_per_op"] = len(jobs) / n
    out["spark.tasks_per_op"] = tasks / n
    out["spark.planning_ms_per_op"] = sum(
        union_length(phases, o["t0"], o["t1"]) for o in ops) / 1000.0 / n
    out["spark.executor_run_ms_per_op"] = run_ms / n
    out["spark.executor_cpu_ms_per_op"] = cpu_ns / 1e6 / n
    out["spark.shuffle_bytes_per_op"] = shuffle / n
    out["driver.gap_ms_per_op"] = sum(
        self_time(o["t0"], o["t1"], jobs_by_op.get(o["id"], [])) for o in ops) / 1000.0 / n

    traced, _ = loop_metrics(record, traced_rounds)
    untraced, _ = loop_metrics(record, [r for r in record["rounds"] if not r["traced"]])
    for name in LOOP_METRICS:
        out["overhead." + name] = traced[name] - untraced[name]
    return out
