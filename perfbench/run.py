#!/usr/bin/env python3
"""Benchmark entry point: build, run one workload in one JVM, print the result.

    python3 perfbench/run.py --workload live_orders --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --selftest

The last line of standard output is the result object
(`correct`, `attempted`, `failed`, `metrics`). The exit code is 0 only
when the run completed and its outputs were correct. Everything the run
writes stays under `.bench_build` (compiled classes) and `.bench_work`
(per-run scratch, deleted at exit) at the repository root.
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

ROOT = build.ROOT
WORKLOADS = ("live_orders", "operator_mix")
# JDK 17 module openings Spark needs outside spark-submit
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]
JVM_LIMIT_S = 170  # the whole run must end within 180 s once built
# Per-layer metrics of the layers a workload does not run, by name prefix:
# a traced run reports them as 0 (no calls, no time, no bytes).
NOT_RUN = {
    "live_orders": ("ops.",),
    "operator_mix": ("genesis.", "producer.", "consumer.", "replica.",
                     "topic.", "dlq.", "quarantine.", "feeder.", "reader."),
}


def jvm(classpath, work, main_args, limit):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # A fixed young generation: G1 otherwise sizes it from measured pause
    # times, which follow the box's load, and with it what each collection
    # promotes, so heap_peak_mb would move with the neighbours' load.
    cmd = ["java", "-Xmx4g", "-Xmn1g", "-Xss8m", "-XX:-UsePerfData",
           "-Dfile.encoding=UTF-8", "-Djava.io.tmpdir=" + tmp,
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main"] + main_args
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)
    env["SPARK_LOCAL_IP"] = "127.0.0.1"
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr,
                            start_new_session=True)
    try:
        return proc.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        print(f"run: JVM exceeded {limit:.0f} s, stopping it", file=sys.stderr)
        return -1
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def complete(metrics, workload, trace):
    """The run's metrics in the manifest's order, with the layers the
    workload does not run added on a traced run; None, after saying why,
    when they differ from what BENCHMARK.json declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        manifest = json.load(fh)
    want = {m["name"]: m["unit"]
            for m in manifest["per_layer" if trace else "end_to_end"]}
    if trace:
        for name, unit in want.items():
            if name not in metrics and name.startswith(NOT_RUN[workload]):
                metrics[name] = {"value": 0.0, "unit": unit}
    wrong = sorted(set(want) ^ set(metrics)) + sorted(
        n for n in want if n in metrics and metrics[n]["unit"] != want[n])
    if wrong:
        print(f"run: metrics differ from BENCHMARK.json: {wrong}", file=sys.stderr)
        return None
    return {n: metrics[n] for n in want}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if not args.selftest and not args.workload:
        ap.error("--workload is required")

    t0 = time.time()
    classpath = build.build()
    limit = JVM_LIMIT_S - (time.time() - t0) if not args.selftest else 600
    limit = max(limit, 150)  # a first run that built may take longer

    work = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    out = os.path.join(work, "result.json")
    try:
        if args.selftest:
            code = jvm(classpath, work, ["--selftest", "--work", work], limit)
            print(json.dumps({"selftest": "pass" if code == 0 else "fail"}))
            return 0 if code == 0 else 1
        code = jvm(classpath, work,
                   ["--workload", args.workload, "--seed", str(args.seed),
                    "--seconds", str(args.seconds), "--trace", str(args.trace),
                    "--work", work, "--out", out], limit)
        if not os.path.exists(out):
            print(f"run: no result (JVM exit code {code})", file=sys.stderr)
            return 1
        with open(out) as fh:
            result = json.load(fh)
        result["metrics"] = complete(result["metrics"], args.workload, args.trace)
        if result["metrics"] is None:
            return 1
        print(json.dumps(result))
        return 0 if code == 0 and result.get("correct") else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


if __name__ == "__main__":
    sys.exit(main())
