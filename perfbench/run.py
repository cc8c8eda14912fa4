#!/usr/bin/env python3
"""Runs one workload of the graft benchmark and prints its metrics.

    python3 perfbench/run.py --workload levi_log --seed 1 --seconds 10 --trace 0

Run from the root of a graft checkout. The first run builds graft and the
benchmark with sbt (perfbench/build.sbt); later runs start the benchmark
JVM directly. Each run works in its own scratch directory under
.bench_build/ (tables, Spark local dirs, java.io.tmpdir) and deletes it
at the end.

With --trace 0 the last stdout line holds the end-to-end metrics, with
--trace 1 the per-layer ones (see NOTES.md). The command exits non-zero
when a call fails or returns a wrong answer.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import metrics

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("levi_log", "levi_dml")
LAUNCHER = os.path.join(HERE, "target", "launcher.txt")
# Hash of the sources the launcher was built from (see source_hash).
LAUNCHER_KEY = os.path.join(HERE, "target", "launcher.key")
# What the build compiles from, relative to ROOT: directories are hashed
# recursively, except `project`, where sbt reads only the top level.
SOURCES = ("build.sbt", "project", "src/main",
           "perfbench/build.sbt", "perfbench/project", "perfbench/src")
BUILD_TIMEOUT_S = 840
RUN_LIMIT_S = 170
HEAP = "-Xmx3g"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def kill_group(proc):
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def run_bounded(cmd, timeout, **kw):
    """Runs `cmd` in its own process group; kills the group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        kill_group(proc)
        return None
    except BaseException:
        kill_group(proc)
        raise


def source_hash():
    """Hash of every file the build reads, so that a launcher built from
    other sources (another commit, a copied tree) is not reused."""
    h = hashlib.sha256()
    for rel in SOURCES:
        top = os.path.join(ROOT, rel)
        if os.path.isfile(top):
            files = [top]
        elif os.path.basename(rel) == "project":
            files = sorted(os.path.join(top, f) for f in os.listdir(top)
                           if os.path.isfile(os.path.join(top, f))) if os.path.isdir(top) else []
        else:
            files = sorted(os.path.join(r, f) for r, _, fs in os.walk(top) for f in fs)
        for path in files:
            h.update(os.path.relpath(path, ROOT).encode() + b"\0")
            with open(path, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def launcher_is_current(key):
    """The launcher exists, was built from these sources, and its class
    directories lie in this tree."""
    try:
        with open(LAUNCHER_KEY) as f:
            if f.read().strip() != key:
                return False
        with open(LAUNCHER) as f:
            classpath = f.readline().strip().split(os.pathsep)
    except OSError:
        return False
    root = os.path.realpath(ROOT)
    return all(not os.path.isdir(e) or os.path.commonpath([root, os.path.realpath(e)]) == root
               for e in classpath)


def build(work):
    key = source_hash()
    if launcher_is_current(key):
        return
    for stale in (LAUNCHER, LAUNCHER_KEY):
        if os.path.exists(stale):
            os.remove(stale)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    tmp = os.path.join(work, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    log_path = os.path.join(work, "build.log")
    with open(log_path, "w") as log:
        code = run_bounded(["sbt", "--batch", "--no-server", "-J-XX:-UsePerfData",
                            f"-J-Djava.io.tmpdir={tmp}",
                            "-Dsbt.log.noformat=true", "launcher"],
                           BUILD_TIMEOUT_S, cwd=HERE, env=env,
                           stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if code != 0 or not os.path.exists(LAUNCHER):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"build failed (exit {code})")
    with open(LAUNCHER_KEY, "w") as f:
        f.write(key + "\n")


def java_command(args, scratch, out):
    with open(LAUNCHER) as f:
        lines = f.read().splitlines()
    classpath, opts = lines[0], [o for o in lines[1:] if not o.startswith("-Xmx")]
    return (["java", HEAP, "-XX:-UsePerfData", "-XX:-UseDynamicNumberOfCompilerThreads",
             f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')}"] + opts +
            ["-cp", classpath, "perfbench.Main",
             "--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--scratch", scratch, "--out", out])


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    started = time.monotonic()
    # a terminated run still stops its JVM and deletes its scratch dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"{ROOT} is not a graft checkout (no build.sbt or src/main/scala/graft)")

    work = os.path.join(ROOT, ".bench_build")
    os.makedirs(work, exist_ok=True)
    build(work)

    scratch = os.path.join(work, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(os.path.join(scratch, "tmp"))
    out = os.path.join(scratch, "record.json")
    jvm_log = os.path.join(work, f"jvm-{args.workload}.log")
    try:
        env = dict(os.environ, LANG="C.UTF-8")
        with open(jvm_log, "w") as log:
            code = run_bounded(java_command(args, scratch, out),
                               max(10.0, RUN_LIMIT_S - (time.monotonic() - started)),
                               cwd=scratch, env=env, stdout=log, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL)
        if code != 0 or not os.path.exists(out):
            with open(jvm_log, errors="replace") as f:
                sys.stderr.write(f.read()[-4000:])
            fail(f"benchmark JVM failed (exit {code})")
        with open(out) as f:
            record = json.load(f)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    ops = record["ops"]
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"])
    correct = failed == 0 and not record["errors"] and record["checks"]["failed"] == 0

    e2e, detail = metrics.end_to_end(record)
    print(f"workload {args.workload} seed {args.seed} seconds {args.seconds} "
          f"trace {args.trace}" + (" (end-to-end figures: untraced rounds)" if args.trace else ""))
    print(f"  ops {detail['ops']} (reads {detail['reads']}, fresh reads "
          f"{detail['fresh_reads']}, writes {detail['writes']}) in {detail['cycles']} "
          f"cycles, {detail['window_s']:.2f} s; checks {record['checks']['attempted']}; "
          f"error_ratio {failed / max(attempted, 1):.4f}")
    print("  input builds (s): " + ", ".join(f"{x:.2f}" for x in record["build_s"]) +
          f"; warm-up {record['warmup_s']:.2f} s")
    for name, unit in metrics.E2E_UNITS.items():
        print(f"  {name} = {e2e[name]:.4f} {unit}")
    print(f"  (cpu_ms_per_op with the JIT compiler threads' CPU: "
          f"{e2e['cpu_ms_per_op_with_jit']:.4f} ms)")
    print("  rounds (wall s, CPU s, JIT CPU s, GC s, codegen classes): " + "; ".join(
        f"{(r['t1'] - r['t0']) / 1e6:.2f} {r['cpu_ns'] / 1e9:.2f} {r['jit_cpu_ns'] / 1e9:.2f} "
        f"{r['gc_ms'] / 1e3:.2f} {r['codegens']}" + (" traced" if r["traced"] else "")
        for r in record["rounds"]))
    # latency distribution of the untraced ops: the median and the highest
    # percentile with ten samples beyond it (too few samples for a metric)
    untraced = {r["id"] for r in record["rounds"] if not r["traced"]}
    for label, kind, fresh in (("reads", "read", False), ("fresh reads", "read", True),
                               ("writes", "write", False)):
        ms = [(o["t1"] - o["t0"]) / 1000.0 for o in ops
              if o["round"] in untraced and o["kind"] == kind and o["fresh"] == fresh]
        if ms:
            q = metrics.tail_percentile(len(ms))
            tail = f", p{q:g} {metrics.percentile(ms, q):.1f} ms" if q > 50 else ""
            print(f"  {label}: {len(ms)} ops, p50 {metrics.percentile(ms, 50):.1f} ms{tail}")
    by_name = {}
    for o in ops:
        by_name.setdefault((o["kind"], o["name"]), []).append((o["t1"] - o["t0"]) / 1000.0)
    for (kind, name), ms in sorted(by_name.items()):
        print(f"  {kind} {name}: {len(ms)} calls, median {metrics.median_or_zero(ms):.1f} ms")
    for err in record["errors"][:20]:
        print(f"  error: {err}")

    if args.trace:
        units = metrics.per_layer_units()
        values = metrics.per_layer(record)
        for name, unit in units.items():
            print(f"  {name} = {values[name]:.4f} {unit}")
    else:
        units, values = metrics.E2E_UNITS, e2e
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
