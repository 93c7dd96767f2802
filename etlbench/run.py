#!/usr/bin/env python3
"""graft benchmark runner.

    python3 etlbench/run.py --workload lanes_small --seed 7 --seconds 15 --trace 0

Run from the root of a graft checkout. The first run builds graft and the
benchmark with one sbt launch and caches the classpath and the root build's
JVM flags under etlbench/target/launch; later runs start the JVM directly.
Generated inputs, logs and traces go under etlbench/work.

--trace 0 prints the end-to-end metrics, which are CPU seconds of the JVM's
threads, its JIT compiler threads left out (see Watch in Harness.scala),
and a line with the same figures in wall time; --trace 1 runs the workload
once untraced and once traced and prints the per-layer metrics, writing the
spans to etlbench/work/traces/<workload>-seed<n>.jsonl. The last stdout line
is one JSON object: {"correct", "attempted", "failed", "metrics"}.

Maintainer modes: --self-test (each check must catch a wrong output) and
--record (re-record every lane's row count at sf0.01).
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, "work")
LAUNCH = os.path.join(BENCH, "target", "launch")
WORKLOADS = ("etl_pipeline", "lanes_small", "stream_ingest")
LANES_SF = ("0.01", "0.001")
# A run ends within 180 s, or 900 s when it first builds and generates data.
RUN_BUDGET_S = 170
FIRST_RUN_BUDGET_S = 880
START = time.monotonic()

# Settings that reshape the engine. A run with any of them set would not
# measure graft as built, so it refuses to start.
ENV_OVERRIDES = ("SPARK_GRAFT_NO_BROADCAST", "GRAFT_CC_LOCAL_MAX", "GRAFT_STREAM_PARTS",
                 "GRAFT_STREAM_REMAP", "SPARK_GRAFT_HOTKEY_GATE", "SPARK_GRAFT_JVM_EXTRA")
PROP_OVERRIDES = ("graft.barrier.mode", "graft.hotkey.gate.bytes")
# Added to the root build's flags: keeps the JVM's perf counters out of /tmp,
# and keeps the JIT compiler threads alive for the whole run, so that the
# benchmark can tell their CPU time from the program's (see Watch in
# Harness.scala).
EXTRA_JVM_FLAGS = ["-XX:+PerfDisableSharedMem", "-XX:-UseDynamicNumberOfCompilerThreads"]

END_TO_END = (("pass_cpu_s", "s"), ("op_cpu_p50_s", "s"), ("setup_s", "s"))
PER_LAYER = (
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.driver_only_s", "s"), ("spark.task_s", "s"), ("spark.task_cpu_s", "s"),
    ("spark.gc_s", "s"), ("spark.shuffle_read_mb", "MB"), ("spark.shuffle_write_mb", "MB"),
    ("spark.spill_mb", "MB"), ("spark.peak_exec_mem_mb", "MB"), ("spark.idle_core_s", "s"),
    ("spark.par", "ratio"), ("plan.queries", "count"), ("plan.s", "s"),
    ("queries.construct_jobs", "count"),
    ("session.release_s", "s"), ("session.released_rdds", "count"),
    ("sources.requests", "count"), ("sources.rows_served", "count"),
    ("ingest.bronze_files", "count"), ("push.requests", "count"), ("stream.batches", "count"),
    ("stream.state_rows", "count"), ("jvm.gc_pause_s", "s"), ("jvm.gc_count", "count"),
    ("jvm.jit_s", "s"), ("jvm.peak_heap_mb", "MB"), ("log.warn_lines", "count"),
    ("trace.cover", "ratio"), ("trace.overhead_s", "s"), ("trace.overhead_op_p50_s", "s"),
    ("ops.p90_s", "s"), ("jvm.jit_pass_s", "s"), ("wall.pass_s", "s"),
    ("wall.op_p50_s", "s"), ("wall.setup_s", "s"), ("host.steal_share", "ratio"))


def fail(msg, code=1):
    print(f"[etlbench] {msg}", file=sys.stderr)
    sys.exit(code)


def refuse_overrides():
    bad = [k for k in ENV_OVERRIDES if os.environ.get(k)]
    jvm_env = " ".join(os.environ.get(k, "") for k in
                       ("JAVA_TOOL_OPTIONS", "_JAVA_OPTIONS", "JDK_JAVA_OPTIONS", "SBT_OPTS"))
    bad += [p for p in PROP_OVERRIDES if f"-D{p}=" in jvm_env]
    if bad:
        fail("refusing to run with engine overrides set: " + ", ".join(bad), 2)


def heap():
    """MemTotal/2 in GiB, clamped to [2, 8]: the heap the repo's tests use."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def fingerprint():
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
            os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    files = [p for p in tops if os.path.isfile(p)]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    for p in sorted(files):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def revision():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "sources-sha256:" + fingerprint()[:16]


def build(mem):
    """One sbt launch compiles graft and the benchmark and writes the launch
    files; skipped while the sources are unchanged. Returns whether it ran."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main"))):
        fail("no graft sources next to the benchmark (build.sbt, src/main)")
    stamp = os.path.join(LAUNCH, "stamp")
    fp = fingerprint() + mem
    if os.path.isfile(stamp) and open(stamp).read() == fp:
        return False
    env = dict(os.environ, SPARK_DRIVER_MEM=mem, COURSIER_MODE="offline")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g", f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "launchFiles"],
                       cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    if r.returncode != 0:
        fail(f"build failed (sbt exit {r.returncode})")
    with open(stamp, "w") as f:
        f.write(fp)
    print(f"[etlbench] built in {time.time() - t0:.1f} s", file=sys.stderr)
    return True


def cpu_ticks():
    """(steal, total) clock ticks of every CPU of this machine so far."""
    try:
        with open("/proc/stat") as f:
            t = [int(x) for x in f.readline().split()[1:]]
        return t[7], sum(t)
    except (OSError, ValueError, IndexError):
        return 0, 0


def launch_files():
    with open(os.path.join(LAUNCH, "classpath.txt")) as f:
        cp = [l.strip() for l in f if l.strip()]
    with open(os.path.join(LAUNCH, "jvm_opts.txt")) as f:
        opts = [l.strip() for l in f if l.strip()]
    return ":".join(cp), opts


class Jvm:
    """Starts `etlbench.Main` in its own work directory; records when it
    prints `@ready` (wall seconds since the start and the JVM's CPU seconds
    then), what it prints after `@result`, and the share of CPU time the
    host held back (steal) between the two."""

    def __init__(self, cp, opts, args, run_dir, log):
        os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
        self.cmd = (["java"] + opts + EXTRA_JVM_FLAGS +
                    [f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
                     f"-Detlbench.home={BENCH}", "-cp", cp, "etlbench.Main"] +
                    [str(a) for a in args])
        self.env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
        self.run_dir = run_dir
        self.log = log

    def run(self, deadline, echo=sys.stderr):
        ready = result = None
        self.steal_share = 0.0
        # flush what earlier runs left in the page cache, so its write-back
        # does not land inside this run
        os.sync()
        t0 = time.monotonic()
        with open(self.log, "w") as err:
            p = subprocess.Popen(self.cmd, cwd=self.run_dir, env=self.env,
                                 stdout=subprocess.PIPE, stderr=err, text=True)
            watchdog = threading.Timer(max(1.0, deadline - time.monotonic()), p.kill)
            watchdog.start()
            try:
                for line in p.stdout:
                    if line.startswith("@ready") and ready is None:
                        ready = (time.monotonic() - t0, float(line.split()[1]))
                        ticks = cpu_ticks()
                    elif line.startswith("@result "):
                        result = json.loads(line[len("@result "):])
                        if ready is not None:
                            steal, total = (b - a for a, b in zip(ticks, cpu_ticks()))
                            self.steal_share = steal / total if total else 0.0
                    else:
                        print(line.rstrip(), file=echo)
            finally:
                p.wait()
                watchdog.cancel()
        if p.returncode != 0:
            with open(self.log) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            fail(f"JVM exited with {p.returncode}: {' '.join(self.cmd[-8:])}")
        return ready, result

    def warn_lines(self):
        with open(self.log, errors="replace") as f:
            return sum(1 for l in f if " WARN " in l)


def ensure_data(cp, opts, sf, deadline):
    """Generates the lane tables of one scale factor once; returns whether
    it ran."""
    data = os.path.join(WORK, "data")
    target = os.path.join(data, f"sf{sf}")
    with open(os.path.join(BENCH, "src", "main", "scala", "etlbench", "DataGen.scala"), "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()
    stamp = os.path.join(target, "_generated")
    if os.path.isfile(stamp) and open(stamp).read() == version:
        return False
    shutil.rmtree(target, ignore_errors=True)
    os.makedirs(data, exist_ok=True)
    scratch = os.path.join(WORK, "gen")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    Jvm(cp, opts, ["gen", data, sf], scratch, os.path.join(WORK, "gen.log")).run(deadline)
    shutil.rmtree(scratch, ignore_errors=True)
    with open(stamp, "w") as f:
        f.write(version)
    return True


def percentile(xs, q, grid=20000):
    """Harrell-Davis estimate of the q-th percentile: a Beta-weighted mean of
    all order statistics. Unlike a single order statistic it moves smoothly
    when two operations of similar length swap ranks between runs."""
    s = sorted(xs)
    n = len(s)
    if n == 1:
        return s[0]
    a, b = q / 100 * (n + 1), (1 - q / 100) * (n + 1)
    dens = [((k + 0.5) / grid) ** (a - 1) * (1 - (k + 0.5) / grid) ** (b - 1)
            for k in range(grid)]
    total = sum(dens)
    cuts = [round(i * grid / n) for i in range(n + 1)]
    return sum(x * sum(dens[cuts[i]:cuts[i + 1]]) / total for i, x in enumerate(s))


def measure(cp, opts, args, tag, trace, deadline):
    run_dir = os.path.join(WORK, f"run-{tag}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    trace_file = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.jsonl")
    jvm = Jvm(cp, opts, ["run", args.workload, args.seed, args.seconds, int(trace), run_dir,
                         os.path.join(WORK, "data"), trace_file],
              run_dir, os.path.join(WORK, "logs", f"{args.workload}-seed{args.seed}-{tag}.log"))
    try:
        ready, result = jvm.run(deadline)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if ready is None or result is None:
        fail(f"{tag} run printed no result")
    result["warn_lines"] = jvm.warn_lines()
    result["steal_share"] = jvm.steal_share
    with open(jvm.log[:-len(".log")] + ".json", "w") as f:
        json.dump(result, f)
    return ready, result


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()
    if not (args.workload or args.self_test or args.record):
        ap.error("--workload is required")
    refuse_overrides()
    mem = heap()
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    first = build(mem)
    cp, opts = launch_files()
    for sf in LANES_SF:
        first |= ensure_data(cp, opts, sf, START + FIRST_RUN_BUDGET_S)
    data = os.path.join(WORK, "data")
    deadline = START + (FIRST_RUN_BUDGET_S if first else RUN_BUDGET_S)

    print(f"nproc: {os.cpu_count()}")
    print(f"heap: {mem}")
    print(f"jvm flags: {' '.join(opts + EXTRA_JVM_FLAGS)}")
    print(f"revision: {revision()}")
    if args.self_test or args.record:
        mode = ["selftest", os.path.join(WORK, "selftest"), data] if args.self_test \
            else ["record", data, LANES_SF[0]]
        shutil.rmtree(os.path.join(WORK, mode[0]), ignore_errors=True)
        os.makedirs(os.path.join(WORK, mode[0]), exist_ok=True)
        Jvm(cp, opts, mode, os.path.join(WORK, mode[0]),
            os.path.join(WORK, "logs", f"{mode[0]}.log")).run(START + 900, sys.stdout)
        return
    print(f"workload: {args.workload}")
    print(f"seed: {args.seed}")

    if args.trace == 0:
        ready, res = measure(cp, opts, args, "timed", False, deadline)
        metrics = {
            "pass_cpu_s": statistics.median(res["pass_cpu_s"]),
            "op_cpu_p50_s": percentile(res["op_cpu_s"], 50),
            "setup_s": ready[1],
        }
        print(f"wall: pass_s {statistics.median(res['pass_s']):.4f} "
              f"op_p50_s {percentile(res['op_s'], 50):.4f} setup_s {ready[0]:.4f} "
              f"(host steal share {res['steal_share']:.3f})")
        units = dict(END_TO_END)
        attempted, failed = res["attempted"], res["failed"]
    else:
        ready, plain = measure(cp, opts, args, "untraced", False, deadline)
        _, res = measure(cp, opts, args, "traced", True, deadline)
        layers = dict(res["layers"])
        layers["log.warn_lines"] = res["warn_lines"]
        layers["jvm.peak_heap_mb"] = res["peak_heap_mb"]
        layers["ops.p90_s"] = percentile(plain["op_s"], 90)
        layers["wall.pass_s"] = statistics.median(plain["pass_s"])
        layers["wall.op_p50_s"] = percentile(plain["op_s"], 50)
        layers["wall.setup_s"] = ready[0]
        layers["host.steal_share"] = plain["steal_share"]
        layers["trace.overhead_s"] = (statistics.median(res["pass_cpu_s"]) -
                                      statistics.median(plain["pass_cpu_s"]))
        layers["trace.overhead_op_p50_s"] = (percentile(res["op_cpu_s"], 50) -
                                             percentile(plain["op_cpu_s"], 50))
        layers["jvm.jit_pass_s"] = statistics.median(plain["pass_jit_s"])
        for k in sorted(layers):
            print(f"layer {k} = {layers[k]:.6g}")
        metrics = {k: layers.get(k, 0.0) for k, _ in PER_LAYER}
        units = dict(PER_LAYER)
        attempted = plain["attempted"] + res["attempted"]
        failed = plain["failed"] + res["failed"]
        res["failures"] = plain["failures"] + res["failures"]
    for f in res["failures"]:
        print(f"check failed: {f}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))


if __name__ == "__main__":
    main()
