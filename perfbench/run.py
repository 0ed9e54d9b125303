#!/usr/bin/env python3
"""End-to-end benchmark of the CDC sync pipeline.

    python3 perfbench/run.py --workload tail_uniform --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the program and the benchmark from
source (perfbench/build.py), then runs two JVMs: the load generator
(perfbench.FeedMain, serving the CDC feed wire) and the system under test
(perfbench.BenchMain, Spark local[nproc]). Prints a table of every metric
with its unit and sample count, and as the last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
the end-to-end ones; with --trace 1 the per-layer ones, from a traced run that
follows an untraced run of the same seed (the gap is the trace overhead).
Exits non-zero if a run fails or the correctness gate fails.

--cpus N runs the system JVM at local[N] (default: nproc); the single-core
baseline in README.md is --cpus 1. See README.md for workloads and metrics."""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ["tail_uniform", "backlog_drain"]
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
JVM_COMMON = ["-Dfile.encoding=UTF-8", "-Dsun.jnu.encoding=UTF-8",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]


def run_once(args, trace, deadline):
    """One generator + system JVM pair; returns the system's result dict."""
    run_dir = os.path.join(build.OUT, "runs", "%s-%d-%d-%d" % (args.workload, args.seed, os.getpid(), trace))
    shutil.rmtree(run_dir, ignore_errors=True)
    ctl = os.path.join(run_dir, "ctl")
    os.makedirs(ctl)
    cp = build.classpath()
    feed_log = open(os.path.join(run_dir, "feed.log"), "w")
    sys_log = open(os.path.join(run_dir, "system.log"), "w")
    # the generator is one small JVM whose threads stay within nproc
    feed = subprocess.Popen(
        ["java", "-Xmx512m", "-XX:+UseSerialGC", "-XX:CICompilerCount=2", "-XX:-UsePerfData",
         "-Djava.io.tmpdir=" + run_dir, "-cp", cp,
         "perfbench.FeedMain", args.workload, str(args.seed), str(args.seconds), ctl],
        stdout=feed_log, stderr=subprocess.STDOUT)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    system = subprocess.Popen(
        ["java", "-Xmx3g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + run_dir] + opens + JVM_COMMON +
        ["-cp", cp, "perfbench.BenchMain", "--workload", args.workload,
         "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace),
         "--dir", run_dir, "--cpus", str(args.cpus)],
        stdout=sys_log, stderr=subprocess.STDOUT)
    try:
        system.wait(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        pass
    finally:
        for p in (system, feed):
            if p.poll() is None:
                # the generator exits by itself once the system is done
                try:
                    p.wait(timeout=5)
                except subprocess.TimeoutExpired:
                    p.send_signal(signal.SIGKILL)
                    p.wait()
        feed_log.close()
        sys_log.close()
    result_path = os.path.join(run_dir, "result.json")
    if system.returncode != 0 or not os.path.exists(result_path):
        with open(os.path.join(run_dir, "system.log"), errors="replace") as fh:
            sys.stderr.write("".join(fh.readlines()[-60:]))
        raise RuntimeError("%s run failed (exit %s); logs in %s" % (args.workload, system.returncode, run_dir))
    with open(result_path) as fh:
        result = json.load(fh)
    shutil.rmtree(run_dir, ignore_errors=True)
    return result


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cpus", type=int, default=os.cpu_count() or 1)
    args = ap.parse_args()
    build.build()
    deadline = time.time() + RUN_TIMEOUT_S
    base = run_once(args, 0, deadline)
    result = base
    if args.trace:
        result = run_once(args, 1, deadline)
        untraced = base["info"]["add_batch_ms_p50"]
        result["metrics"]["harness.trace_overhead_frac"] = {
            "value": result["info"]["add_batch_ms_p50"] / untraced - 1.0, "unit": "ratio"}
        result["correct"] = result["correct"] and base["correct"]
        result["failed"] += base["failed"]
        result["attempted"] += base["attempted"]
    info = result["info"]
    # per-layer metric names are "<layer>.<metric>"; end-to-end ones have no dot
    names = [n for n in result["metrics"] if ("." in n) == bool(args.trace)]
    print("workload %s seed %d cpus %d seconds %d trace %d" % (args.workload, args.seed, args.cpus, args.seconds, args.trace))
    print("samples: %s" % json.dumps(info["samples"]))
    for n in names:
        m = result["metrics"][n]
        print("  %-40s %14.4f %s" % (n, m["value"], m["unit"]))
    for k in ("events_failed_frac", "reads_failed_frac", "refresh_matches_table", "read_p90_ms", "compaction_diff_keys", "dead_letters",
              "setup_parts_s", "generator", "batches"):
        print("  %-40s %s" % (k, json.dumps(info.get(k))))
    metrics = {n: {"value": result["metrics"][n]["value"], "unit": result["metrics"][n]["unit"]} for n in names}
    print(json.dumps({"correct": bool(result["correct"]), "attempted": int(result["attempted"]),
                      "failed": int(result["failed"]), "metrics": metrics}))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
