#!/usr/bin/env python3
"""Benchmark of the graft engine's public entry points.

Usage:
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1> [--heap 3g]

Builds the engine together with the harness in perfbench/src (sbt, output
under perfbench/target) when the sources changed, then runs one workload
in one JVM with run-private java.io.tmpdir, warehouse, local and output
directories, all removed afterwards. Every result is checked against the
row counts and order-insensitive hashes in perfbench/expected. The last
stdout line is the run's JSON result: the end-to-end metrics with
--trace 0, the per-layer metrics (plus the traced run's end-to-end
numbers, prefixed `traced.`) with --trace 1. The full run record,
including the traced run's spans, goes to perfbench/results.

The run directories live under perfbench/.runs, inside the checkout the
benchmark runs from; a run started after one that was killed removes the
killed run's directory.
"""

import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
RUNS = os.path.join(BENCH, ".runs")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
CLASSPATH_FILE = os.path.join(BENCH, "target", "perfbench.classpath")
STAMP_FILE = os.path.join(BENCH, "target", "perfbench.stamp")
# the traced run times the engine's SQL functions over this scale's
# documents and embeddings
FUNCTIONS_DATA = "data/sf0.1"
# Layer times that only one workload spends are printed as shares of the
# run's timed wall time (`<layer>_share`): as seconds they would read 0.0
# on every run of the other workload.
SHARES = ("operators.build_s", "serve.prepare_s", "stream.trigger_s",
          "stream.planning_s", "stream.wal_s", "stream.state_commit_s",
          "nightly.etl_s", "nightly.corpus_cold_s", "nightly.corpus_warm_s")

# Spark on JDK 17 outside spark-submit needs these (the engine's build.sbt
# passes the same list to its forked mains).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def load_json(path):
    with open(path) as f:
        return json.load(f)


# ---------------------------------------------------------------- build


def source_files():
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                             recursive=True))
    files.append(os.path.join(ROOT, "src/test/scala/graft/HarnessSession.scala"))
    files += sorted(glob.glob(os.path.join(BENCH, "src/**/*.scala"),
                              recursive=True))
    files += [os.path.join(BENCH, "build.sbt"),
              os.path.join(BENCH, "project/build.properties")]
    return files


def build():
    """Compile engine + harness when any source changed; return the
    classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src/main/scala/graft")):
        fail("the engine's sources (src/main/scala/graft) are not in this "
             "checkout")
    files = source_files()
    missing = [f for f in files if not os.path.isfile(f)]
    if missing:
        fail(f"missing sources: {missing}")
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    if (os.path.isfile(STAMP_FILE) and os.path.isfile(CLASSPATH_FILE)
            and open(STAMP_FILE).read() == stamp):
        return open(CLASSPATH_FILE).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdin=subprocess.DEVNULL,
            capture_output=True, text=True, timeout=BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l for l in p.stdout.splitlines() if "scala-2.13/classes" in l]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    os.makedirs(os.path.dirname(CLASSPATH_FILE), exist_ok=True)
    with open(CLASSPATH_FILE, "w") as f:
        f.write(lines[-1].strip())
    with open(STAMP_FILE, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


# ---------------------------------------------------------------- metrics


def _betacf(a, b, x):
    """Continued fraction of the incomplete beta function (Lentz)."""
    tiny = 1e-300
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1.0)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 300):
        for num in (m * (b - m) * x / ((a - 1 + 2 * m) * (a + 2 * m)),
                    -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 1 + 2 * m))):
            d = 1.0 + num * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + num / c
            c = c if abs(c) > tiny else tiny
            h *= d * c
        if abs(d * c - 1.0) < 1e-14:
            break
    return h


def _ibeta(a, b, x):
    """Regularized incomplete beta function I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                     + a * math.log(x) + b * math.log(1.0 - x))
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _betacf(a, b, x) / a
    return 1.0 - front * _betacf(b, a, 1.0 - x) / b


def percentile(values, p):
    """Harrell-Davis estimate of the p-th percentile: a Beta-weighted mean
    of all order statistics. A mix has few distinct queries, so the plain
    sample percentile jumps between the clusters of neighbouring queries'
    latencies; this estimate moves smoothly. An infinite sample (a failed
    operation) makes the estimate infinite."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return math.inf
    if n == 1:
        return xs[0]
    q = p / 100.0
    a, b = (n + 1) * q, (n + 1) * (1 - q)
    cdf = [_ibeta(a, b, i / n) for i in range(n + 1)]
    total = 0.0
    for i, x in enumerate(xs):
        w = cdf[i + 1] - cdf[i]
        if w > 0:
            total += w * x
    return total


def tail_percentile(n):
    """Highest whole percentile whose sample position, (n - 1) * p / 100
    in rank order, leaves at least ten of n samples above it (None when
    no percentile does)."""
    fits = [p for p in range(100)
            if n - 1 - math.floor((n - 1) * p / 100) >= 10]
    return fits[-1] if fits else None


def sample_note(workload, n, passes):
    tail = tail_percentile(n)
    return (f"perfbench: {workload}: {n} timed operations over {passes} "
            f"pass(es); highest percentile with ten samples above it: "
            f"{'none' if tail is None else f'p{tail}'}")


def op_ok(op, kind, expected):
    """An operation passes if it did not throw and every result it made
    matches the expected row count and hash."""
    if op.get("error"):
        return False
    if kind == "mix":
        exp = expected.get("rows", {}).get(op["name"])
        return exp is not None and exp == {"rows": op["rows"],
                                           "hash": op["hash"]}
    checks = op.get("checks") or []
    if not checks:
        return False
    for c in checks:
        exp = expected.get("tables", {}).get(c.get("table"))
        if c.get("error") or exp != {"rows": c["rows"], "hash": c["hash"]}:
            return False
    return True


def end_to_end(rec, kind, expected, wall_s):
    """setup_s, mix_s, query percentiles and peak RSS of one run record.
    Set-up runs from process start to the first timed operation: a JVM
    pays its cold start, JIT and codegen once, so each run gives one
    sample.
    Failed operations count as infinitely slow (so a failure never reads
    as faster) and an infinite figure is reported as the run's whole wall
    time, which no real operation or pass exceeds."""
    ops = rec["ops"]
    ok = [op_ok(op, kind, expected) for op in ops]
    lat = [op["s"] if good else math.inf for op, good in zip(ops, ok)]
    if kind == "mix":
        bad_passes = {op["pass"] for op, good in zip(ops, ok) if not good}
        passes = [math.inf if i in bad_passes else s
                  for i, s in enumerate(rec["passes"])]
    else:
        passes = [math.inf] if not all(ok) else rec["passes"]

    def finite(x):
        return wall_s if x == math.inf else x

    metrics = {
        "setup_s": rec["setup_s"],
        "mix_s": finite(percentile(passes, 50)),
        "query_p50_s": finite(percentile(lat, 50)),
        "query_p85_s": finite(percentile(lat, 85)),
        "peak_rss_mb": rec["peak_rss_mb"],
    }
    return metrics, len(ops), ok.count(False)


# ---------------------------------------------------------------- run


def remove_dead_runs():
    """Remove the run directories of runs whose process no longer lives: a
    killed run leaves its serve artifacts and shuffle files behind."""
    for d in glob.glob(os.path.join(RUNS, "*-*")):
        try:
            os.kill(int(d.rsplit("-", 1)[1]), 0)
        except ProcessLookupError:
            shutil.rmtree(d, ignore_errors=True)
        except (ValueError, PermissionError):
            pass


def run_jvm(classpath, spec, args, run_dir, record_path, deadline):
    tmp, local = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "local")
    for d in (tmp, local):
        os.makedirs(d)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        # a fixed heap with a fixed 1g young generation, not pre-touched:
        # the run soon touches the whole young generation, and the rest of
        # the resident set is what the old generation retained plus native
        # memory, which the program's behaviour moves
        f"-Xms{args.heap}", f"-Xmx{args.heap}", "-Xmn1g",
        # no hsperfdata file under the system /tmp
        "-XX:-UsePerfData",
        "-XX:ReservedCodeCacheSize=512m",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={local}",
        f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
        f"-Dderby.system.home={os.path.join(run_dir, 'derby')}",
    ]
    if args.trace == 1:
        cmd += ["-Dspark.extraListeners=perfbench.LayerListener",
                "-Dspark.sql.streaming.streamingQueryListeners="
                "perfbench.StreamListener",
                "-Dspark.sql.queryExecutionListeners="
                "perfbench.PlanningListener"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--kind", spec["kind"],
            "--data", os.path.join(BENCH, spec["data"]),
            "--rows", ",".join(spec.get("rows", [])),
            "--warmups", str(spec.get("warmups", 0)),
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace),
            "--out", os.path.join(run_dir, "out"),
            "--record", record_path]
    if args.trace == 1:
        cmd += ["--functions", os.path.join(BENCH, FUNCTIONS_DATA)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env,
                                stdin=subprocess.DEVNULL, stdout=log,
                                stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except BaseException:
            proc.kill()
            proc.wait()
            raise
    if code != 0 or not os.path.isfile(record_path):
        with open(log_path, errors="replace") as f:
            sys.stderr.write("".join(
                l for l in f.readlines()[-60:] if " WARN " not in l))
        fail(f"JVM exited with code {code}")


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--heap", default="3g")
    args = ap.parse_args(argv)
    # a terminated run still stops and waits for its JVM (see run_jvm)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    workloads = load_json(os.path.join(BENCH, "workloads.json"))
    if args.workload not in workloads:
        fail(f"unknown workload {args.workload!r}; one of {sorted(workloads)}")
    spec = workloads[args.workload]
    contract = load_json(os.path.join(ROOT, "BENCHMARK.json"))
    expected_path = os.path.join(BENCH, "expected", f"{args.workload}.json")
    expected = load_json(expected_path)

    classpath = build()
    start = time.time()
    remove_dead_runs()
    run_dir = os.path.join(
        RUNS, f"{args.workload}-{args.seed}-{os.getpid()}")
    results = os.path.join(BENCH, "results")
    os.makedirs(results, exist_ok=True)
    record_path = os.path.join(
        results, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    if os.path.exists(record_path):
        os.remove(record_path)
    os.makedirs(run_dir)
    try:
        run_jvm(classpath, spec, args, run_dir, record_path,
                start + RUN_LIMIT_S)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass
    wall_s = time.time() - start
    rec = load_json(record_path)
    e2e, attempted, failed = end_to_end(rec, spec["kind"], expected, wall_s)
    print(sample_note(args.workload, len(rec["ops"]), len(rec["passes"])),
          file=sys.stderr)
    if args.trace == 0:
        wanted = contract["end_to_end"]
        values = e2e
    else:
        wanted = contract["per_layer"]
        values = dict(rec.get("layers", {}))
        timed_wall = sum(op["s"] for op in rec["ops"])
        for k in SHARES:
            values[k[:-len("_s")] + "_share"] = values.pop(k, 0.0) / timed_wall
        values.update(rec.get("functions", {}))
        values.update({f"traced.{k}": v for k, v in e2e.items()})
        values["pruning.rows_pruned"] = sum(
            1 for p in rec.get("pruning", []) if p.get("dropped"))
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in wanted}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
