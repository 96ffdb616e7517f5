"""Interleaved same-host A/B: a git revision (A) against this checkout (B).

Each pair runs both sides, A first in odd pairs and B first in even
ones, each leg in a fresh process (and JVM), so slow drifts of the host
land on both sides. A runs from a copy of the revision exported with
``git archive`` under --workdir (reused when it already exists); B runs
from this checkout as it is on disk. Every leg
appends one JSON record (tag, revision, return code, wall seconds, load
average, the benchmark's parsed JSON line) to --out and prints a summary.

Usage:
    python tools/regression_ab.py --a <git rev> [--pairs N]
        [--workload query-mix|build-stream [--seconds S]]
        [--workdir DIR] [--out FILE]

Without --workload each leg runs bench.py (BENCH_DOCS defaults to
500000); with it, perfbench/run.py --workload W --seed <pair number>
--seconds S --trace 0, so pair i runs seed i on both sides. Environment
passed through; SPARK_GRAFT_CPUS defaults to the CPUs this process may
run on (nproc).
"""

from __future__ import annotations

import argparse
import io
import json
import os
import subprocess
import sys
import tarfile
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def export(rev: str, workdir: str) -> tuple[str, str]:
    """(commit id, directory holding the revision's files)."""
    sha = subprocess.run(["git", "-C", ROOT, "rev-parse", "--verify",
                          f"{rev}^{{commit}}"], check=True,
                         capture_output=True, text=True).stdout.strip()
    dest = os.path.join(workdir, sha[:12])
    if not os.path.isdir(dest):
        tar = subprocess.run(["git", "-C", ROOT, "archive", "--format=tar",
                              sha], check=True, capture_output=True).stdout
        tmp = dest + ".partial"
        os.makedirs(tmp, exist_ok=True)
        with tarfile.open(fileobj=io.BytesIO(tar)) as tf:
            tf.extractall(tmp, filter="data")
        os.rename(tmp, dest)
    return sha, dest


def command(args, pair: int) -> list[str]:
    if args.workload is None:
        return [sys.executable, "bench.py"]
    return [sys.executable, "perfbench/run.py", "--workload", args.workload,
            "--seed", str(pair), "--seconds", str(args.seconds),
            "--trace", "0"]


def parse(stdout: str) -> dict | None:
    """The benchmark's result: the last JSON object line of stdout."""
    for line in reversed(stdout.strip().splitlines()):
        line = line.strip()
        if line.startswith("{"):
            try:
                return json.loads(line)
            except json.JSONDecodeError:
                continue
    return None


def run_leg(tag: str, rev: str, cwd: str, args, pair: int) -> dict:
    env = dict(os.environ)
    env.setdefault("BENCH_DOCS", "500000")
    env.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    env["PYTHONPATH"] = cwd
    la0 = loadavg()
    t0 = time.time()
    p = subprocess.run(command(args, pair), cwd=cwd, env=env,
                       capture_output=True, text=True, timeout=3600)
    wall = time.time() - t0
    parsed = parse(p.stdout)
    rec = {"tag": tag, "rev": rev, "cwd": cwd, "rc": p.returncode,
           "wall_sec": round(wall, 1), "load_before": la0,
           "load_after": loadavg(), "ts": time.strftime("%Y-%m-%dT%H:%M:%S"),
           "parsed": parsed}
    if parsed is None or p.returncode:
        rec["stderr_tail"] = p.stderr[-2000:]
    with open(args.out, "a") as f:
        f.write(json.dumps(rec) + "\n")
    if args.workload is None:
        q = (parsed or {}).get("queries", {})
        summary = (f"index_build={q.get('index_build')} "
                   f"term_head={q.get('engine_term_head')}")
    else:
        m = (parsed or {}).get("metrics", {})
        summary = " ".join(f"{k}={v['value']:.4g}" for k, v in m.items())
        summary += f" correct={(parsed or {}).get('correct')}"
    print(f"[{tag}] rc={p.returncode} wall={wall:.0f}s {summary}",
          flush=True)
    return rec


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--a", required=True, help="git revision of side A")
    ap.add_argument("--pairs", type=int, default=2)
    ap.add_argument("--workload", default=None,
                    help="a perfbench workload; default: bench.py")
    ap.add_argument("--seconds", type=int, default=5)
    ap.add_argument("--workdir",
                    default=os.path.join(tempfile.gettempdir(),
                                         "regression_ab"),
                    help="where side A's files are exported")
    ap.add_argument("--out",
                    default=os.path.join(ROOT, "BENCH",
                                         "regression_runs.jsonl"))
    args = ap.parse_args(argv)
    os.makedirs(args.workdir, exist_ok=True)
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    sha, a_dir = export(args.a, args.workdir)
    for i in range(1, args.pairs + 1):
        legs = [(f"A{i}", sha, a_dir), (f"B{i}", "working tree", ROOT)]
        # odd pairs run A first, even pairs B first
        for tag, rev, cwd in legs if i % 2 else legs[::-1]:
            run_leg(tag, rev, cwd, args, i)
    print("done; records in", args.out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
