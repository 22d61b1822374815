#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 graftbench/run.py --workload singer_sync --seed 1 --seconds 10 --trace 0

Run from the root of a graft checkout. It builds graft and the harness from
source with sbt (once per source state), generates the workload's inputs
from the seed, runs the harness JVM in a closed loop with one client thread
on local[nproc], checks every output, and prints as its last line one JSON
object: `correct`, `attempted`, `failed` and `metrics`. `--trace 0` reports
the end-to-end metrics, `--trace 1` the per-layer ones. See README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
LAUNCH = os.path.join(WORK, "launch")
DATA = os.path.join(HERE, "data", "sf0.01")

sys.path.insert(0, HERE)
import feedgen  # noqa: E402

# Fixed heap, so rss_peak_mb compares across runs. No hsperfdata file, so
# the JVM writes nothing outside the checkout. The module flags Spark needs
# and the classpath come from the harness build (`writeLaunch`).
HEAP = ["-Xms3g", "-Xmx3g", "-XX:+UseG1GC"]
NO_PERF_DATA = "-XX:-UsePerfData"

# Warm-up and timed amounts, chosen from the warm-up curves in README.md.
# The timed amount is `max(min_timed, seconds // unit_s)`: it depends on
# --seconds only, never on how fast the build under test is, so every run
# times the same work at the same table-history depth.
WORKLOADS = {
    # warm: untimed syncs; every: a readback after every k-th sync;
    # unit: one sync with its share of read-backs
    "singer_sync": {"warm": 10, "every": 3, "unit_s": 2.0, "min_timed": 3},
    # warm: untimed passes of the 7-query sample: the cold pass, the output
    # check pass and two more; unit: one pass
    "registry_read": {"warm": 4, "every": 0, "unit_s": 5.5, "min_timed": 2},
}


def definition():
    """The metric names and units of BENCHMARK.json: (end_to_end, per_layer)."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        b = json.load(fh)
    return tuple([(m["name"], m["unit"]) for m in b[k]] for k in ("end_to_end", "per_layer"))


RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850


def fail(msg, code=1):
    print("graftbench: " + msg, file=sys.stderr)
    sys.exit(code)


def read(path):
    with open(path) as fh:
        return fh.read()


def source_digest():
    """Digest of every input of the build: graft's and the harness's."""
    h = hashlib.sha256()
    for base in ("build.sbt", "project/build.properties", "src/main",
                 "graftbench/jvm/build.sbt", "graftbench/jvm/project/build.properties",
                 "graftbench/jvm/src/main"):
        path = os.path.join(ROOT, base)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile graft and the harness with sbt and record the harness JVM's
    options and classpath, unless the sources are unchanged since the last
    successful build in this checkout."""
    stamp = os.path.join(WORK, "build.stamp")
    digest = source_digest()
    if os.path.exists(LAUNCH) and os.path.exists(stamp) and read(stamp) == digest:
        return
    for f in (stamp, LAUNCH):
        if os.path.exists(f):
            os.remove(f)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.repository.config=%s "
                           "-Dsbt.offline=true -Xmx2g" % repos)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " %s -Djava.io.tmpdir=%s"
                       % (NO_PERF_DATA, tmp)).strip()
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as fh:
        try:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                                cwd=os.path.join(HERE, "jvm"), env=env, stdout=fh,
                                stderr=subprocess.STDOUT, timeout=BUILD_LIMIT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0:
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-30:]))
        fail("build failed (log in %s)" % log)
    if not os.path.exists(LAUNCH):
        fail("the build wrote no %s (log in %s)" % (LAUNCH, log))
    with open(stamp, "w") as fh:
        fh.write(digest)


def timed_amount(spec, seconds):
    return max(spec["min_timed"], int(seconds // spec["unit_s"]))


def run_jvm(args, rundir, jvm_args):
    """Launch the harness JVM; return (result, setup_s, curve lines)."""
    cmd = (["java"] + HEAP + [NO_PERF_DATA, "-Duser.timezone=UTC",
                              "-Djava.io.tmpdir=" + os.path.join(rundir, "tmp")] +
           read(LAUNCH).splitlines() + ["graftbench.Main"] + jvm_args)
    os.makedirs(os.path.join(rundir, "tmp"), exist_ok=True)
    log_path = os.path.join(WORK, "last-%s.log" % args.workload)
    result, cold, curve = None, None, []
    with open(log_path, "w") as log:
        t0 = time.monotonic()
        p = subprocess.Popen(cmd, cwd=rundir, stdout=subprocess.PIPE, stderr=log,
                             text=True)
        timer = threading.Timer(RUN_LIMIT_S, p.kill)
        timer.start()
        try:
            for line in p.stdout:
                if line.startswith("GRAFTBENCH_COLD") and cold is None:
                    cold = time.monotonic() - t0
                elif line.startswith(("GRAFTBENCH_RESULT ", "GRAFTBENCH_RECORD ")):
                    result = json.loads(line.split(" ", 1)[1])
                elif line.startswith("curve "):
                    curve.append(line.split()[1:])
                log.write(line)
            rc = p.wait()
        finally:
            timer.cancel()
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0 or result is None:
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail("harness exited with %s (log in %s)" % (rc, log_path))
    return result, cold, curve


def main():
    ap = argparse.ArgumentParser(description="graft benchmark (see README.md)")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--curve", action="store_true",
                    help="measure history depth on every operation and print the warm-up curve")
    ap.add_argument("--timed", type=int,
                    help="override the timed amount (to draw a longer warm-up curve)")
    ap.add_argument("--record", action="store_true",
                    help="registry_read: print row counts and hashes and dump the "
                         "outputs under .work/record for crosscheck.py")
    args = ap.parse_args()
    # a terminated run unwinds through the `finally` blocks that stop the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("no graft sources next to %s: run from the root of a graft checkout" % HERE, 2)
    os.makedirs(WORK, exist_ok=True)
    build()

    end_to_end, per_layer = definition()
    spec = WORKLOADS[args.workload]
    warm = spec["warm"]
    timed = timed_amount(spec, args.seconds) if args.timed is None else args.timed
    rundir = os.path.join(WORK, "record" if args.record else
                          "run-%s-%d" % (args.workload, os.getpid()))
    shutil.rmtree(rundir, ignore_errors=True)
    os.makedirs(rundir)
    try:
        if args.workload == "singer_sync":
            inputs = os.path.join(rundir, "feed")
            feedgen.generate(inputs, args.seed, warm + timed)
            expected = os.path.join(inputs, "expected.json")
        else:
            inputs = DATA
            expected = os.path.join(HERE, "expected", "registry_read.json")
        jvm_args = ["--workload", args.workload, "--trace", str(args.trace),
                    "--curve", "1" if args.curve else "0",
                    "--input", inputs, "--work", rundir, "--expected", expected,
                    "--warm", str(warm), "--timed", str(timed),
                    "--every", str(spec["every"]),
                    "--cpus", str(len(os.sched_getaffinity(0))),
                    "--record", "1" if args.record else "0",
                    "--layer-metrics", ",".join(n for n, _ in per_layer)]
        result, setup_s, curve = run_jvm(args, rundir, jvm_args)
        if args.record:
            print(json.dumps(result, indent=1, sort_keys=True))
            return
        if args.trace and os.path.exists(os.path.join(rundir, "spans.jsonl")):
            shutil.copy(os.path.join(rundir, "spans.jsonl"),
                        os.path.join(WORK, "spans-%s.jsonl" % args.workload))
    finally:
        if not args.record:
            shutil.rmtree(rundir, ignore_errors=True)

    if args.curve:
        print("op kind phase wall_ms cpu_ms jit_ms codegen_compiles lake_snapshots")
        for c in curve:
            print(" ".join(c))
    measured = dict(result["metrics"])
    measured["setup_s"] = setup_s
    wanted = per_layer if args.trace else end_to_end
    metrics = {}
    for name, unit in wanted:
        v = measured.get(name)
        if not isinstance(v, (int, float)):
            fail("metric %s missing from the harness result" % name)
        metrics[name] = {"value": v, "unit": unit}
    for p in result["problems"]:
        print("check failed: " + p)
    print("samples per kind: " + json.dumps(result["samples"], sort_keys=True))
    print("median ms per kind: " + json.dumps(
        {k: round(v, 1) for k, v in result["medians_ms"].items()}, sort_keys=True))
    print("host steal: %.3f jiffies/s over a %.1f s timed window"
          % (result["steal_jiffies_per_s"], result["window_s"]))
    print(json.dumps({"correct": bool(result["correct"]), "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
