"""Run the benchmark several times and collect the results.

    python3 perfbench/runs.py --out runs_a.jsonl --seeds 1-10
    python3 perfbench/runs.py --out runs_a.jsonl --seeds 1-5 --workloads search_serve

One JSON line per run: {"workload", "seed", "result", "detail"} where
result is the run's last stdout line (null when the run failed) and
detail the workload's named figures from the line before it. Prints each
end-to-end metric's spread per workload at the end: the distance
between the first and third quartile as a share of the median, next to
the metric's bound. Feed two such files to compare.py.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        if "-" in part:
            a, b = part.split("-")
            out += list(range(int(a), int(b) + 1))
        else:
            out.append(int(part))
    return out


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def spreads(runs, bench):
    """{workload: {metric: (median, spread)}} over the successful runs"""
    out = {}
    for w in bench["workloads"]:
        rs = [r["result"] for r in runs if r["workload"] == w["name"] and r["result"]]
        if len(rs) < 2:
            continue
        out[w["name"]] = {}
        for m in bench["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in rs]
            out[w["name"]][m["name"]] = (statistics.median(vals), spread(vals))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default="")
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    with open(a.out, "a") as out:
        for w in names:
            for seed in seeds_of(a.seeds):
                cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                       "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                       "--trace", str(a.trace)]
                p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
                lines = p.stdout.strip().splitlines()
                result = json.loads(lines[-1]) if p.returncode == 0 and lines else None
                detail = json.loads(lines[-2])["detail"] if result and len(lines) > 1 else None
                out.write(json.dumps({"workload": w, "seed": seed, "result": result,
                                      "detail": detail}) + "\n")
                out.flush()
                print(f"{w} seed {seed}: " + ("failed" if result is None else
                      f"correct={result['correct']} " + " ".join(
                          f"{k}={v['value']:.4g}" for k, v in result["metrics"].items())),
                      flush=True)
    if a.trace:
        return
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for w, ms in spreads(load(a.out), bench).items():
        for m, (med, sp) in ms.items():
            print(f"{w:16s} {m:18s} median {med:12.4f}  spread {sp:6.3f}  bound {bounds[m]}")


if __name__ == "__main__":
    main()
