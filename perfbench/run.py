"""Benchmark entry point.

    python3 perfbench/run.py --workload build-stream|query-mix --seed N \
        --seconds S --trace 0|1

Run from the repository root. --seconds fixes how many whole rounds are
timed (workloads.rounds: one per started 20 s). Prints one JSON object
as the last line of standard output: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end ones; with
--trace 1 they are the per-layer ones, and the spans and the per-layer
table are also written to perfbench/_work/traces/.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)


def process_start() -> float:
    """Wall-clock time this process started, from /proc."""
    try:
        with open("/proc/self/stat") as f:
            ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            up = float(f.read().split()[0])
        return time.time() - up + ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError):
        return time.time()


def session(work: str, traced: bool):
    from lucene_solr_1_spark.session import get_spark
    cores = len(os.sched_getaffinity(0))
    extra = {"spark.local.dir": os.path.join(work, "local"),
             "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
             "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             "spark.ui.showConsoleProgress": "false"}
    if traced:
        os.makedirs(os.path.join(work, "eventlog"))
        extra.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
                      "spark.eventLog.compress": "false"})
    return get_spark(cores=cores, app="perfbench", driver_mem="3g", extra=extra)


def stop(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def geomean(xs) -> float:
    import numpy as np
    return float(np.exp(np.log(np.asarray(xs, dtype=float)).mean()))


def op_wall_ms(run) -> float:
    return geomean([(sp["end"] - sp["start"]) * 1e3 for sp in run.tr.spans if sp.get("timed")])


def e2e_metrics(res: dict, run, t_start: float) -> dict:
    """setup_s: process start to the first timed call.
    op_wall_ms: geometric mean wall time of the timed calls, which is the
    client's latency: with one client in a closed loop it waits for each.
    op_cpu_ms: geometric mean, over the timed calls, of the CPU time the
    run's processes (driver, JVM, Python workers) used during the call,
    floored at one 10 ms clock tick.
    index_bytes_per_input_byte: bytes of the indexes the workload built
    per byte of the text they were built from."""
    return {"setup_s": (run.first_timed - t_start, "s"),
            "op_wall_ms": (op_wall_ms(run), "ms"),
            "op_cpu_ms": (geomean([max(sp["cpu_s"] * 1e3, 10.0)
                                   for sp in run.tr.spans if sp.get("timed")]), "ms"),
            "index_bytes_per_input_byte": (res["index_bytes"] / res["input_bytes"], "ratio")}


def main(argv=None) -> int:
    t0 = process_start()
    import workloads as W
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    work = os.path.join(HERE, "_work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(work, sub))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    import spans as T
    steal0 = T.host_cpu()
    prepare, execute = W.WORKLOADS[a.workload]
    # the JVM starts while this thread generates the inputs
    box: dict = {}

    def start():
        try:
            box["spark"] = session(work, bool(a.trace))
        except BaseException as e:  # re-raised below
            box["error"] = e
    th = threading.Thread(target=start)
    th.start()
    try:
        inputs = prepare(a.seed, work)
        t_prepared = time.time()
    finally:
        th.join()
    t_session = time.time()
    if "error" in box:
        raise box["error"]
    spark = box["spark"]
    try:
        tracer = T.Tracer(spark.sparkContext if a.trace else None)
        run = W.Run(spark, tracer, work, a.seed, a.seconds, bool(a.trace))
        res = execute(run, inputs)
        t_checked = time.time()
    finally:
        stop(spark)
    steal1 = T.host_cpu()
    steal = ((steal1[0] - steal0[0]) / (steal1[1] - steal0[1]) * 100
             if steal1[1] > steal0[1] else 0.0)
    # the span log goes to standard error; the result line is stdout
    print(f"prepared {t_prepared - t0:.2f}s, session {t_session - t0:.2f}s, "
          f"window end {run.timed_end - t0:.2f}s, checked {t_checked - t0:.2f}s, "
          f"stopped {time.time() - t0:.2f}s, host steal {steal:.1f}%, "
          f"op wall {op_wall_ms(run):.1f}ms", file=sys.stderr)
    for sp in tracer.spans:
        print(f"{sp['start'] - t0:8.2f}s {sp['end'] - sp['start']:7.3f}s "
              f"{'*' if sp.get('timed') else ' '} {sp['name']} {sp.get('query', '')}"
              + (f" cpu {sp['cpu_s']:.2f}s" if "cpu_s" in sp else ""),
              file=sys.stderr)
    for msg in run.failures:
        print("CHECK FAILED:", msg, file=sys.stderr)
    metrics = e2e_metrics(res, run, t0)
    if a.trace:
        import layers
        rows = T.span_counters(tracer, T.read_event_log(os.path.join(work, "eventlog")))
        table = layers.per_layer(run, res, rows)
        table["traced.setup_s"] = (metrics["setup_s"][0], "s")
        table["traced.op_ms"] = (metrics["op_wall_ms"][0], "ms")
        table["traced.op_cpu_ms"] = (metrics["op_cpu_ms"][0], "ms")
        table["host.steal_pct"] = (steal, "%")
        out_dir = os.path.join(HERE, "_work", "traces")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"{a.workload}-seed{a.seed}.json"), "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed,
                       "per_layer": {k: {"value": v, "unit": u}
                                     for k, (v, u) in table.items()},
                       "spans": rows}, f, indent=1, default=str)
        metrics = table
    shutil.rmtree(work, ignore_errors=True)
    bad = [k for k, (v, _) in metrics.items() if not math.isfinite(v)]
    if bad:
        print("non-finite metrics:", bad, file=sys.stderr)
        return 2
    print(json.dumps({"correct": not run.failures, "attempted": run.attempted,
                      "failed": 0,
                      "metrics": {k: {"value": v, "unit": u}
                                  for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
