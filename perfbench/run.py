"""One benchmark run: build (if needed), generate inputs from the seed,
run the workload in a fresh JVM, check and report.

    python3 perfbench/run.py --workload corpus_ingest --seed 1 --seconds 15 --trace 0

The last line of stdout is the result: {"correct", "attempted",
"failed", "metrics"}; with --trace 0 the metrics are the end-to-end
metrics of BENCHMARK.json, with --trace 1 its per-layer metrics (a
layer a workload does not exercise reports 0). The line before it
carries the workload's own named figures (see README.md). A traced
run also leaves its spans and per-layer table under
BUILD_DIR/perfbench/traces/.

Each run works in a fresh scratch dir under BUILD_DIR/perfbench and
deletes it afterwards.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

# Spark 4 on JDK 17 outside spark-submit needs these module opens
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]]
JVM_TIMEOUT_S = 165


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(2)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    bench_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_path):
        fail("BENCHMARK.json not found at the repo root")
    with open(bench_path) as f:
        bench = json.load(f)
    if a.workload not in [w["name"] for w in bench["workloads"]]:
        fail(f"unknown workload {a.workload}")
    classes = build.build()

    work = os.path.join(build.build_dir(), "perfbench",
                        f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        inputs = os.path.join(work, "inputs")
        gen.generate(a.workload, a.seed, inputs)
        result = run_jvm(a, classes, inputs, work)
        if a.trace:
            keep = os.path.join(build.build_dir(), "perfbench", "traces")
            os.makedirs(keep, exist_ok=True)
            for name in ("spans.jsonl", "layers.txt"):
                src = os.path.join(work, name)
                if os.path.exists(src):
                    shutil.copyfile(src, os.path.join(keep, f"{a.workload}-{a.seed}-{name}"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    wanted = bench["per_layer"] if a.trace else bench["end_to_end"]
    got = result["per_layer"] if a.trace else result["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in got and not a.trace]
    metrics = {m["name"]: {"value": float(got.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    for p in result["problems"][:20]:
        sys.stderr.write(f"perfbench: check failed: {p}\n")
    if missing:
        sys.stderr.write(f"perfbench: metrics not produced: {missing}\n")
    print(json.dumps({"workload": a.workload, "seed": a.seed, "detail": result["detail"]},
                     sort_keys=True))
    print(json.dumps({
        "correct": bool(result["correct"]) and not missing,
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": metrics}))


def run_jvm(a, classes, inputs, work):
    with open(os.path.join(HERE, "workloads.json")) as f:
        spark = json.load(f)["spark"]
    out = os.path.join(work, "result.json")
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    mem = spark["driver_memory"]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # no perf-data file and no temp files outside the run's scratch dir
    cmd = (["java", f"-Xms{mem}", f"-Xmx{mem}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}"] + ADD_OPENS +
           ["-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--inputs", inputs, "--work", work,
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--config", os.path.join(HERE, "workloads.json"), "--out", out])
    log_path = os.path.join(work, "jvm.log")
    t0 = time.time()
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = None
    if rc != 0 or not os.path.exists(out):
        with open(log_path, errors="replace") as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"workload JVM {'timed out' if rc is None else f'exited {rc}'} "
             f"after {time.time() - t0:.0f}s without a result")
    with open(out) as f:
        result = json.load(f)
    result["detail"]["timeline_s"]["jvm_exit"] = round(time.time() - t0, 3)
    return result


if __name__ == "__main__":
    main()
