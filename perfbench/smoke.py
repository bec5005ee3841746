#!/usr/bin/env python3
"""Smoke test of the benchmark: every workload at a tiny input size, traced,
with every output check. A traced run also makes untraced runs (its overhead
baseline), so both paths run. Takes about two minutes on four cores, most of
it JVM and Spark start-up. Exits non-zero if any run fails its checks or
misses a declared metric.

    python3 perfbench/smoke.py
"""
import signal
import sys
from pathlib import Path

sys.dont_write_bytecode = True  # write nothing into the checkout but .bench_build
sys.path.insert(0, str(Path(__file__).resolve().parent))
import run as bench  # noqa: E402


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    bad = []
    for workload in bench.WORKLOADS:
        line, env = bench.run(workload, seed=7, seconds=1, trace=1, scale=0.02)
        # the scaling ratio is not measured below four cores
        missing = [k for k, v in line["metrics"].items() if v["value"] is None
                   and not (k == "spark.scaling_eff_1to4" and env["nproc"] < 4)]
        ok = line["correct"] and not missing
        print(f"{workload:13s} attempted={line['attempted']} failed={line['failed']} "
              f"{'ok' if ok else 'FAIL'}" + (f" missing={missing}" if missing else ""))
        if not ok:
            bad.append(workload)
    if bad:
        raise SystemExit(f"smoke test failed: {bad}")
    print("smoke test passed")


if __name__ == "__main__":
    main()
