"""Spans around public engine calls, and per-span Spark counters read
back from the session's event log.

A span is one call into a public function: name, start, end, parent.
While a span is open its Spark jobs run under a job group named after
the span id, so every job, stage and task record in the event log can
be charged to the span that caused it. Untraced runs use the same
``span`` calls with tracing off, where a span only measures wall time.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager


def host_cpu() -> tuple[int, int]:
    """(steal, total) jiffies of the whole host since boot."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return 0, 0
    return (vals[7] if len(vals) > 7 else 0), sum(vals[:8])


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system, own and reaped children) used so far by
    root_pid and every process under it: the driver, its JVM and Spark's
    Python workers. Host CPU steal is not charged to a process."""
    stat: dict[int, tuple[int, int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:      # the process ended meanwhile
                continue
            stat[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in stat.items():
        kids.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        ticks += stat.get(pid, (0, 0))[1]
        todo.extend(kids.get(pid, []))
    return ticks / os.sysconf("SC_CLK_TCK")


class Tracer:
    def __init__(self, sc=None):
        """sc: the SparkContext whose jobs get grouped per span; None
        records wall time only."""
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        if self.sc is not None:
            self.sc.setJobGroup(f"span-{sid}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self.sc is not None:
                if self._stack:
                    self.sc.setJobGroup(f"span-{self._stack[-1]}",
                                        self.spans[self._stack[-1]]["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)


# ------------------------------------------------------------- event log

def read_event_log(log_dir: str) -> dict[int, dict]:
    """Per-span Spark counters from the event log(s) in log_dir:
    {span id: {jobs, tasks, job_intervals, input_rows, shuffle_bytes,
    shuffle_write_bytes, spill_bytes, output_bytes, task_cpu_s, gc_s}}."""
    job_span: dict[int, int] = {}
    job_iv: dict[int, list] = {}
    stage_span: dict[int, int] = {}
    out: dict[int, dict] = {}

    def acc(sid: int) -> dict:
        return out.setdefault(sid, {
            "jobs": 0, "tasks": 0, "job_intervals": [], "input_rows": 0,
            "shuffle_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
            "output_bytes": 0, "task_cpu_s": 0.0, "gc_s": 0.0})

    files = sorted(os.path.join(dp, fn) for dp, _, fns in os.walk(log_dir)
                   for fn in fns if not fn.startswith((".", "appstatus")))
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    if not group.startswith("span-"):
                        continue
                    sid = int(group[5:])
                    jid = ev["Job ID"]
                    job_span[jid] = sid
                    job_iv[jid] = [ev["Submission Time"] / 1e3, None]
                    for st in ev.get("Stage IDs", []):
                        stage_span[st] = sid
                    acc(sid)["jobs"] += 1
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_span:
                    job_iv[ev["Job ID"]][1] = ev["Completion Time"] / 1e3
                    acc(job_span[ev["Job ID"]])["job_intervals"].append(
                        tuple(job_iv[ev["Job ID"]]))
                elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in stage_span:
                    a = acc(stage_span[ev["Stage ID"]])
                    m = ev.get("Task Metrics") or {}
                    a["tasks"] += 1
                    a["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    a["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    a["input_rows"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    a["shuffle_bytes"] += (sr.get("Remote Bytes Read", 0)
                                           + sr.get("Local Bytes Read", 0))
                    a["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    a["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                    a["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    return out


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def span_counters(tracer: Tracer, log: dict[int, dict]) -> list[dict]:
    """Each span with its own Spark counters plus job_s (union of its
    job intervals) and driver_s (wall time no job covers). Counters of
    jobs run under a child span's group stay with the child."""
    rows = []
    for s in tracer.spans:
        c = log.get(s["id"], {})
        wall = s["end"] - s["start"]
        job_s = union_length(c.get("job_intervals", []), s["start"], s["end"])
        rows.append({**s, **{k: v for k, v in c.items() if k != "job_intervals"},
                     "wall_s": wall, "job_s": job_s,
                     "driver_s": max(0.0, wall - job_s)})
    return rows
