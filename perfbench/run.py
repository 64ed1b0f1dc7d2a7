#!/usr/bin/env python3
"""Pipeline benchmark of the engine: one run of one workload.

    python3 perfbench/run.py --workload backfill-ticks --seed 1 --seconds 40 --trace 0

Builds the program from source on first use (perfbench/build.py), runs one
JVM under Spark local[4] that generates its inputs from --seed, sets up,
runs the workload's scenarios, checks the outputs, and prints a report
followed, as the last line, by the result as one JSON object: the
end-to-end metrics, or with --trace 1 the per-layer metrics of a traced run.
See perfbench/NOTES.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("backfill-ticks", "corpus-stream")
DEADLINE_S = 175
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def run_jvm(classes, args, deadline):
    """Runs Main once; returns its result dict. Raises on failure."""
    work = os.path.join(build.BUILD, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    cmd = ["java", "-Xmx2g", "-XX:+UseSerialGC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(build.SPARK_JARS, "*"), "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work, "--out", out]
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = proc.wait(timeout=max(1, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        raise SystemExit("perfbench: run exceeded its time limit")
    finally:  # also on SIGTERM: never leave the JVM behind
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    try:
        if rc != 0:
            raise SystemExit(f"perfbench: benchmark JVM exited with {rc}")
        with open(out) as fh:
            result = json.load(fh)
        if args.trace and os.path.exists(os.path.join(work, "spans.json")):
            os.makedirs(os.path.join(build.BUILD, "traces"), exist_ok=True)
            shutil.copy(os.path.join(work, "spans.json"), os.path.join(
                build.BUILD, "traces", f"{args.workload}-seed{args.seed}.json"))
        return result
    finally:
        shutil.rmtree(work, ignore_errors=True)


def report(title, result, metrics):
    print(f"== {title}")
    for name, m in metrics.items():
        extra = result["detail"].get(name) or result["detail"].get(name.rsplit("_", 2)[0], "")
        print(f"  {name:40s} {m['value']!s:>24} {m['unit']:6s} {extra}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))
    deadline = time.monotonic() + DEADLINE_S

    classes = build.build()
    deadline = max(deadline, time.monotonic() + 150)  # a first build gets its own time
    result = run_jvm(classes, args, deadline)

    print(f"perfbench workload={args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    for k, v in result["info"].items():
        print(f"  {k}: {v}")
    failed_share = result["failed"] / max(1, result["attempted"])
    print(f"  failed_share: {failed_share} ({result['failed']} of {result['attempted']} operations)")
    for f in result["failures"]:
        print(f"  FAILED: {f}")
    for k, v in result["samples"].items():
        if ":" not in k:
            print(f"  samples {k}: " + " ".join(f"{x:.3f}" for x in v))
    report("end-to-end" + (" (traced run)" if args.trace else ""), result, result["metrics"])
    if args.trace:
        report("per layer", result, result["layers"])
    metrics = result["layers"] if args.trace else result["metrics"]
    print(json.dumps({"correct": result["correct"],
                      "attempted": result["attempted"], "failed": result["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
