"""Run each workload several times, one seed per run, and print every
metric's median, quartiles and spread (quartile distance / median).

    python3 perfbench/repeat.py [--workloads build-stream,query-mix]
        [--runs 10] [--seed0 1] [--seconds 5] [--trace 0]

Runs go one after another, each in its own process, from the repository
root. Every result line is also appended to perfbench/_work/repeat.jsonl
and each run's standard error is kept in perfbench/_work/logs/.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict:
    t = time.time()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True)
    logs = os.path.join(HERE, "_work", "logs")
    os.makedirs(logs, exist_ok=True)
    with open(os.path.join(logs, f"{workload}-{seed}-t{trace}.err"), "w") as f:
        f.write(p.stderr)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit code {p.returncode}")
    res = json.loads(lines[-1])
    res.update(workload=workload, seed=seed, trace=trace, wall_s=time.time() - t)
    return res


def summary(results: list[dict]) -> list[str]:
    out = []
    for wl in dict.fromkeys(r["workload"] for r in results):
        rs = [r for r in results if r["workload"] == wl]
        wall = [r["wall_s"] for r in rs]
        out.append(f"{wl}: {len(rs)} runs, correct {sum(r['correct'] for r in rs)}/{len(rs)}, "
                   f"failed/attempted {sum(r['failed'] for r in rs)}/"
                   f"{sum(r['attempted'] for r in rs)}, run wall median {statistics.median(wall):.1f}s "
                   f"max {max(wall):.1f}s")
        for m in rs[0]["metrics"]:
            v = [r["metrics"][m]["value"] for r in rs]
            med = statistics.median(v)
            q1, _, q3 = statistics.quantiles(v, n=4) if len(v) > 1 else (v[0], 0, v[0])
            spread = (q3 - q1) / med if med else float("nan")
            out.append(f"  {m:48s} median {med:12.4f} q1 {q1:12.4f} q3 {q3:12.4f} "
                       f"spread {spread:7.3f} {rs[0]['metrics'][m]['unit']}")
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default="build-stream,query-mix")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    log = os.path.join(HERE, "_work", "repeat.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    results = []
    for wl in a.workloads.split(","):
        for i in range(a.runs):
            r = run_once(wl, a.seed0 + i, a.seconds, a.trace)
            results.append(r)
            with open(log, "a") as f:
                f.write(json.dumps(r) + "\n")
            print(f"{wl} seed {r['seed']}: {r['wall_s']:.1f}s correct={r['correct']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
                  flush=True)
    print("\n".join(summary(results)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
