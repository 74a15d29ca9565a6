#!/usr/bin/env python3
"""Smoke test of the benchmark at toy sizes (about three minutes).

Usage (from the repository root): python3 perfbench/smoke.py

Runs every workload's full life cycle, untraced and traced, on toy inputs and
requires every answer to match the oracle, the ops queries' results included
(opscheck.py); then tampers one row of a copied lake table and requires the
same oracle check to fail. Exits non-zero if any of that does not hold.
"""
import os
import shutil
import sys

sys.dont_write_bytecode = True  # the checkout stays as committed
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import opscheck  # noqa: E402
import run  # noqa: E402

if __name__ == "__main__":
    work = os.path.join(build.build_dir(), "work", "smoke")
    code, out = run.launch(run.java("perfbench.Smoke", [work]), timeout=600)
    sys.stdout.write(out)
    if code != 0 or not out.rstrip().endswith("smoke: ok"):
        raise SystemExit(f"perfbench smoke test FAILED (exit {code})")
    dirs = [l.split("smoke: ops ", 1)[1] for l in out.splitlines() if l.startswith("smoke: ops ")]
    failed = False
    for d in dirs:
        n, bad = opscheck.check(os.path.join(d, "in"), os.path.join(d, "out"))
        for name, why in bad:
            print(f"smoke: FAIL {name} in {d}: {why}")
        failed |= bool(bad) or n == 0
    shutil.rmtree(work, ignore_errors=True)
    if failed or not dirs:
        raise SystemExit("perfbench smoke test FAILED (ops results differ from their oracle)")
    print(f"smoke: ops queries match their oracle in {len(dirs)} runs")
