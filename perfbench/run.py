#!/usr/bin/env python3
"""graft engine benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the engine and the harness from
source (perfbench/build.py), generates the workload's input from the seed,
runs it warm in one local[nproc] Spark session for the given seconds, checks
every run's output, and prints as the last stdout line one JSON object with
`correct`, `attempted`, `failed` and `metrics`. `--trace 0` reports the
end-to-end metrics of BENCHMARK.json, `--trace 1` its per-layer metrics; a
per-layer metric of a layer the workload does not load reads 0. The line
before it records the environment. Traced runs also write their spans as JSON
lines to .bench_build/spans/.

The workloads, why each was chosen and which layers it loads, are listed in
BENCHMARK.json. perfbench/smoke.py runs all of them at a tiny size.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True  # write nothing into the checkout but .bench_build
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ["flagship", "near_dup"]
TIMEOUT_S = 170

# the JVM module flags Spark needs outside spark-submit
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
HEAP = ["-Xms3g", "-Xmx3g", "-Xss8m"]


def mem_total_kb():
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return None


def git_sha():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run(workload, seed, seconds, trace, scale=1.0):
    """Runs one benchmark process; returns (result line dict, environment dict)."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    classes = build.build()
    nproc = len(os.sched_getaffinity(0))
    work = build.BUILD_DIR / "work" / f"{workload}-{os.getpid()}"
    spans = build.BUILD_DIR / "spans" / f"{workload}-seed{seed}.jsonl"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    jvm = HEAP + ADD_OPENS + [f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
                              "-Dspark.sql.session.timeZone=UTC"]
    cmd = [build.java(), *jvm, "-cp", f"{classes}{os.pathsep}{build.spark_jars() / '*'}",
           "graftbench.Main", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace), "--work", str(work / "run"),
           "--scale", str(scale), "--cores", str(nproc),
           "--spans", str(spans)]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"benchmark process exceeded {TIMEOUT_S} s")
    finally:
        # also on SIGTERM (see main): never leave the JVM running
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.startswith("RESULT ")]
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"benchmark process failed (exit code {proc.returncode})")
    res = json.loads(lines[-1][len("RESULT "):])

    declared = spec["per_layer"] if trace else spec["end_to_end"]
    metrics = {}
    for m in declared:
        v = res["metrics"].get(m["name"])
        if v is None and trace:
            v = 0.0  # the workload does not load this layer
        if v is None:
            raise SystemExit(f"metric {m['name']} missing from the result")
        if isinstance(v, float) and not math.isfinite(v):
            v = None
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    attempted, failed = res["attempted"], res["failed"]
    env = {
        "git_sha": git_sha(), "source_sha256": (build.BUILD_DIR / "classes.sha256").read_text(),
        "nproc": nproc, "mem_total_kb": mem_total_kb(), "jvm_flags": HEAP,
        "spark_confs": res["confs"], "workload": workload, "seed": seed, "trace": trace,
        "seconds": seconds, "scale": scale, "input_rows": res["input_rows"],
        "row_kind": res["row_kind"], "errors": res["errors"],
        "scaling_eff_1to4": "measured" if nproc >= 4 else "not measured: nproc < 4",
    }
    line = {"correct": attempted > 0 and failed == 0, "attempted": attempted,
            "failed": failed, "metrics": metrics}
    return line, env


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    line, env = run(args.workload, args.seed, args.seconds, args.trace)
    print(json.dumps({"env": env}))
    print(json.dumps(line))


if __name__ == "__main__":
    main()
