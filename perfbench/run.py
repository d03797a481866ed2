#!/usr/bin/env python3
"""Sync benchmark runner.

    python3 perfbench/run.py --workload cdc_bulk|fanout_live|all \
        --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

Builds the engine and the benchmark (build.py), runs each workload in a
fresh JVM at local[4], checks its outputs and prints its metrics by name
and unit. The last line of stdout is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1. The full report of
each run (checks, latency summaries, environment, layer-to-metric
effects) is written to perfbench/.out/.

The JVM is launched directly, not through sbt, so the result line is the
raw last line of stdout.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ["cdc_bulk", "fanout_live"]
JVM_TIMEOUT_S = 170
HEAP = "3g"
MARKER = "PERFBENCH_REPORT "
# Spark on JDK 17 outside spark-submit (JavaModuleOptions.defaultModuleOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def loadavg():
    try:
        return list(os.getloadavg())
    except OSError:
        return None


def steal_s():
    """CPU time the host gave to other guests, from /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def cpu_reference_s():
    """Seconds to SHA-256 a fixed 64 MiB: a host-speed reading recorded
    beside each run, so a drift in the host shows apart from the program."""
    block = bytes(range(256)) * 4096
    t0 = time.perf_counter()
    h = hashlib.sha256()
    for _ in range(64):
        h.update(block)
    return time.perf_counter() - t0


def expected_metrics(trace):
    """Metric names BENCHMARK.json declares for this mode, if it is present."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        return None
    with open(path) as fh:
        spec = json.load(fh)
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def run_jvm(classes, jars, args_list, work, log_path):
    """Run perfbench.Main; return (exit code, stdout). Kills the whole
    process group on timeout and always waits for it."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Main"]
           + args_list)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=log,
                                text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except BaseException as e:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.communicate()
            if isinstance(e, subprocess.TimeoutExpired):
                return None, ""
            raise
    return proc.returncode, out


def run_one(workload, seed, seconds, trace, classes, jars):
    """Run one workload; return its report dict, or None on failure."""
    out_dir = os.path.join(HERE, ".out")
    os.makedirs(out_dir, exist_ok=True)
    tag = f"{workload}-seed{seed}-trace{trace}"
    work = os.path.join(HERE, ".work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    log_path = os.path.join(out_dir, tag + ".log")
    before = loadavg(), cpu_reference_s(), steal_s()
    try:
        code, stdout = run_jvm(
            classes, jars,
            ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
             "--trace", str(trace), "--work", work],
            work, log_path)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    after = loadavg(), cpu_reference_s(), steal_s()
    lines = [ln[len(MARKER):] for ln in stdout.splitlines() if ln.startswith(MARKER)]
    if code != 0 or not lines:
        print(f"perfbench: {workload} failed (exit {code}); see {log_path}", file=sys.stderr)
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-30:]))
        return None
    report = json.loads(lines[-1])
    report["env"].update({
        "nproc": len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count(),
        "loadavg_before": before[0],
        "loadavg_after": after[0],
        "cpu_reference_s_before": before[1],
        "cpu_reference_s_after": after[1],
        "steal_s": None if None in (before[2], after[2]) else after[2] - before[2],
    })
    with open(os.path.join(out_dir, tag + ".json"), "w") as fh:
        json.dump(report, fh, indent=1)
    return report


def describe(report):
    w = report["workload"]
    print(f"[{w}] correct={report['correct']} attempted={report['attempted']} "
          f"failed={report['failed']} error_rate={report['error_rate']:.4f} "
          f"checks={report['checks']}")
    print(f"[{w}] env: " + json.dumps(report["env"], sort_keys=True))
    for name, m in report["metrics"].items():
        print(f"[{w}] {name} = {m['value']:.6g} {m['unit']}")
    if report["trace"]:
        for e in report["layer_effects"]:
            print(f"[{w}] layer {e['layer']}: should move {e['moves']} on {e['workload']}; "
                  f"predicted no change on {e['no_change']}")


def main():
    # a terminated runner unwinds through run_jvm and subprocess.run, which
    # kill and reap their children
    signal.signal(signal.SIGTERM, lambda signum, _: sys.exit(128 + signum))
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", choices=WORKLOADS + ["all"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--selftest", action="store_true")
    a = p.parse_args()
    if not a.selftest and a.workload is None:
        p.error("--workload is required")
    if a.seconds < 1:
        p.error("--seconds must be at least 1")
    try:
        classes, jars = build.build()
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2
    if a.selftest:
        cmd = ["java", "-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Main", "--selftest"]
        return subprocess.run(cmd, timeout=JVM_TIMEOUT_S).returncode

    expected = expected_metrics(a.trace)
    reports = []
    for w in (WORKLOADS if a.workload == "all" else [a.workload]):
        r = run_one(w, a.seed, a.seconds, a.trace, classes, jars)
        if r is None:
            return 1
        if expected is not None and set(r["metrics"]) != expected:
            print(f"perfbench: {w} reported {sorted(r['metrics'])}, BENCHMARK.json declares "
                  f"{sorted(expected)}", file=sys.stderr)
            return 1
        describe(r)
        reports.append(r)

    if len(reports) == 1:
        metrics = reports[0]["metrics"]
    else:
        metrics = {f"{r['workload']}.{n}": m for r in reports for n, m in r["metrics"].items()}
    print(json.dumps({
        "correct": all(r["correct"] for r in reports),
        "attempted": sum(r["attempted"] for r in reports),
        "failed": sum(r["failed"] for r in reports),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
