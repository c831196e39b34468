#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload deck_roundtrip --seed 1 --seconds 14 --trace 0

Builds the library and the benchmark from source first (see build.py), then
runs the workload in one JVM. Inputs are generated from --seed into a fresh
directory under .bench_work/ and removed afterwards; a traced run
(--trace 1) also leaves its span file in .bench_out/. The last line is one
JSON object: correct, attempted, failed, and the end-to-end metrics
(--trace 0) or per-layer metrics (--trace 1) named in BENCHMARK.json, each
with its unit. Per-layer metrics of layers the workload does not exercise
read 0.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

# Spark on JDK 17 outside spark-submit needs these (the same list build.sbt
# passes to forked test JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# A fixed-size heap with the throughput collector: in five-run A/B batches
# on a 4-core VM, G1 (concurrent, adaptive) gave a higher per-op CPU time
# (median 1.14 s vs 0.84 s) and a wider run-to-run spread (IQR/median 0.39
# vs 0.27).
JVM_HEAP = ["-XX:+UseParallelGC", "-Xms2g", "-Xmx2g", "-Xmn768m"]
# stream_ingest's ops are ~0.4 s micro-batches of engine code, run back to
# back for the whole run. With C2 that path was still compiling after 25 s
# and runs settled at different speeds (op_p50_s 0.33-0.52 s, IQR/median
# 0.28 over five seeds); with C1 alone it settles within seconds of the
# warm-up (0.44-0.50 s, 0.08 on the same seeds). The closed loops keep C2:
# under C1 alone their ops ran 25-45% slower at no steadier spread.
JIT = {"stream_ingest": ["-XX:TieredStopAtLevel=1"]}
JVM_TIMEOUT_S = 170
MARKER = "PERFBENCH_RESULT "


def result_line(bench, res, trace):
    """The compact final line: every declared metric of the run's kind, with
    its unit, values as measured."""
    declared = bench["per_layer" if trace else "end_to_end"]
    got = res["metrics"]
    unknown = set(got) - {m["name"] for m in declared}
    if unknown:
        raise ValueError(f"metrics not declared in BENCHMARK.json: {sorted(unknown)}")
    if not trace:
        missing = [m["name"] for m in declared if m["name"] not in got]
        if missing:
            raise ValueError(f"end-to-end metrics not measured: {missing}")
    metrics = {m["name"]: {"value": got.get(m["name"], 0), "unit": m["unit"]} for m in declared}
    return json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                       "failed": res["failed"], "metrics": metrics}, separators=(",", ":"))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if a.workload not in {w["name"] for w in bench["workloads"]}:
        print(f"perfbench: unknown workload {a.workload}", file=sys.stderr)
        return 2
    try:
        cp = build.build()
    except (FileNotFoundError, subprocess.CalledProcessError, SystemExit) as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    out = os.path.join(ROOT, ".bench_out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] +
           JVM_HEAP + JIT.get(a.workload, []) + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--out", out])
    res = None
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=work)
    watchdog = threading.Timer(JVM_TIMEOUT_S, proc.kill)
    watchdog.start()
    try:
        for line in proc.stdout:
            if line.startswith(MARKER):
                res = json.loads(line[len(MARKER):])
            else:
                sys.stdout.write(line)
        rc = proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or res is None:
        print(f"perfbench: benchmark JVM exited with {rc}", file=sys.stderr)
        return 1
    sys.stdout.flush()
    print(result_line(bench, res, a.trace))
    return 0


if __name__ == "__main__":
    sys.exit(main())
