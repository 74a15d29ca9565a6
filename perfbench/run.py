#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

Usage (from the repository root):
  python3 perfbench/run.py --workload replay_dense --seed 1 --seconds 24 --trace 0

Builds the engine and the benchmark from source (see build.py), runs the
workload in one JVM, checks the ops queries' results against their oracle SQL
in DuckDB (opscheck.py; a mismatching query is a failed op), and prints one
line per metric followed, as the last line, by the result object:
{"correct", "attempted", "failed", "metrics"}.
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer metrics of
a traced run. The full record of the run (host calibration, every raw sample,
spans) is written to <build dir>/results/. Exits non-zero when any answer
disagrees with the oracle or an operation fails.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True  # the checkout stays as committed
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import opscheck  # noqa: E402

WORKLOADS = ("replay_dense", "mor_serve")
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def java(main_class, args):
    """The JVM command line that runs `main_class` against a fresh build."""
    jar = build.build()
    tmp = os.path.join(build.build_dir(), "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData"]
            + [x for p in JAVA_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
            + ["-Dlog4j2.configurationFile="
               + os.path.join(build.ROOT, "perfbench", "log4j2.properties"),
               "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false",
               "-cp", jar + os.pathsep + os.path.join(build.spark_jars(), "*"),
               main_class] + args)


def launch(cmd, timeout):
    """Runs `cmd` in its own process group; returns (exit code, stdout).
    The whole group is killed if it outlives `timeout` seconds."""
    proc = subprocess.Popen(cmd, cwd=build.ROOT, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.seconds < 1:
        ap.error("--seconds must be at least 1")

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(build.build_dir(), "work", tag)
    out = os.path.join(build.build_dir(), "results", tag + ".json")
    ops = os.path.join(build.build_dir(), "work", tag + "-ops")
    cmd = java("perfbench.Main", ["--workload", a.workload, "--seed", str(a.seed),
                                  "--seconds", str(a.seconds), "--trace", str(a.trace),
                                  "--work", work, "--out", out, "--ops", ops])
    try:
        code, stdout = launch(cmd, timeout=170)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"perfbench: {a.workload} did not finish within 170 s")
    if code != 0:
        raise SystemExit(f"perfbench: {a.workload} failed (exit {code})")
    lines = [l for l in stdout.splitlines() if l.startswith('{"correct"')]
    if not lines:
        raise SystemExit(f"perfbench: {a.workload} printed no result")
    result = json.loads(lines[-1])
    # the ops results against their oracle SQL, outside the timed region
    n, bad = opscheck.check(os.path.join(ops, "in"), os.path.join(ops, "out"))
    shutil.rmtree(ops, ignore_errors=True)
    for name, why in bad:
        print(f"{a.workload} ops query {name} differs from its oracle: {why}")
    result["attempted"] += n
    result["failed"] += len(bad)
    result["correct"] = result["correct"] and not bad and n > 0
    with open(out) as f:
        record = json.load(f)
    record["ops_check"] = {"queries": n, "mismatches": [list(b) for b in bad]}
    record["result"] = result
    with open(out, "w") as f:
        json.dump(record, f, indent=1)
    for name, m in result["metrics"].items():
        print(f"{a.workload} {name} = {m['value']} {m['unit']}")
    print(f"{a.workload} attempted = {result['attempted']}, failed = {result['failed']}, "
          f"failed_frac = {result['failed'] / result['attempted']:.6f}; record: "
          f"{os.path.relpath(out, build.ROOT)}")
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
