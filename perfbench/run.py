#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload links|batch \
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run compiles the engine and the
benchmark (perfbench/build.py); each run is one local[nproc] Spark JVM that
writes its raw record to .bench_build/runs/<run>/record.json. The report
lines name every metric with its unit; the last line of standard output is
one JSON object {"correct", "attempted", "failed", "metrics"} holding the
end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("links", "batch")
JVM_DEADLINE_S = 165  # a run must end within 180 s, not counting the first build
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def run_jvm(classpath, args, run_dir, deadline):
    scratch = os.path.join(run_dir, "scratch")
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    record = os.path.join(run_dir, "record.json")
    cmd = ["java"] + [x for p in JVM_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] + [
        "-Xmx3g", "-Xss64m", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false",
        "-cp", classpath, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--scratch", scratch, "--out", record]
    with open(os.path.join(run_dir, "jvm.log"), "w") as jvm_log:
        proc = subprocess.Popen(cmd, stdout=jvm_log, stderr=subprocess.STDOUT,
                                start_new_session=True)

        def stop(*_):
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()

        # a terminated benchmark takes its JVM down with it
        signal.signal(signal.SIGTERM, lambda *_: (stop(), sys.exit(143)))
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            stop()
            code = None
    shutil.rmtree(scratch, ignore_errors=True)
    if code != 0 or not os.path.exists(record):
        with open(os.path.join(run_dir, "jvm.log")) as fh:
            tail = fh.read()[-3000:]
        raise RuntimeError(("timed out" if code is None else f"JVM exited with {code}") + "\n" + tail)
    with open(record) as fh:
        return json.load(fh)


def report(rec, args):
    """Human-readable lines: environment stamp, the workload's own metrics,
    every end-to-end metric, checks."""
    env = rec["env"]
    log(f"[env] spin {env['spin_s']:.3f}s ({env['spin_steps']} xorshift steps), "
        f"nproc {env['nproc']}, driver heap {env['driver_heap_bytes'] / 2**30:.2f} GiB, "
        f"{env['jvm']}, Spark {env['spark']} {env['master']}")
    log(f"[sizes] {json.dumps(rec['sizes'], sort_keys=True)}")
    log(f"[setup] session start {rec['setup']['session_s']:.3f} s (once, not in setup_s); "
        f"set-up repetitions {', '.join('%.3f' % x for x in rec['setup']['prepare_s'])} s")
    section = "untraced" if args.trace else "timed"
    for name, (value, unit, n) in stats.named_metrics(rec, section).items():
        log(f"[metric] {args.workload} {name} = {value} {unit} (n={n})")
    attempted, failed = stats.op_accounting(rec["ops"], rec["checks"])
    log(f"[metric] {args.workload} failed_ops_ratio = {failed / attempted} ratio "
        f"({failed} of {attempted})")
    for c in rec["checks"]:
        log(f"[check] {'ok  ' if c['ok'] else 'FAIL'} {c['name']}" +
            ("" if c["ok"] else f": {c['error']}"))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    try:
        classpath = build.build()
    except build.BuildError as e:
        log(f"[perfbench] build failed: {e}")
        return 2
    deadline = time.time() + JVM_DEADLINE_S
    run_dir = os.path.join(build.BUILD_DIR, "runs",
                           f"{args.workload}-{args.seed}-t{args.trace}-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    try:
        rec = run_jvm(classpath, args, run_dir, deadline)
    except RuntimeError as e:
        log(f"[perfbench] run failed: {e}")
        return 3
    report(rec, args)
    attempted, failed = stats.op_accounting(rec["ops"], rec["checks"])
    if args.trace:
        layer = stats.per_layer(rec)
        values = {name: (layer[name], unit) for name, unit in stats.PER_LAYER}
    else:
        values = stats.end_to_end(rec, "timed")
    for name, (value, unit) in values.items():
        log(f"[{'layer' if args.trace else 'e2e'}] {name} = {value} {unit}")
    missing = [k for k, (v, _) in values.items() if v is None]
    result = {"correct": failed == 0 and not missing, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()
                          if v is not None}}
    print(json.dumps(result))
    return 0 if not missing else 4


if __name__ == "__main__":
    sys.exit(main())
