"""The per-layer table of a traced run. Layer names are the engine's
module names; every workload reports every metric, and a layer the
workload does not exercise reads 0."""

from __future__ import annotations

import os
import statistics

import workloads as W

QUERY_KINDS = ("term", "bool", "long", "wand", "phrase")


def _med(xs):
    return statistics.median(xs) if xs else 0.0


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(run, res: dict, rows: list[dict]) -> dict:
    """{metric: (value, unit)} from the span rows of a traced run."""
    by_id = {r["id"]: r for r in rows}

    def pick(name, timed_only=True):
        """Spans of a timed call or inside one; with timed_only=False,
        all spans of that name when no timed one ran (warm-up calls)."""
        sel = [r for r in rows if r["name"] == name]
        timed = [r for r in sel if r.get("timed") or (
            r["parent"] is not None and by_id[r["parent"]].get("timed"))]
        return timed if timed_only else (timed or sel)

    out: dict = {}
    tok = pick("analysis.tokenize", timed_only=False)
    out["analysis.tokenize.s"] = (_med([r["wall_s"] for r in tok]), "s")
    stage_metrics = {
        "index.assign_docids": ("jobs", "shuffle_bytes"),
        "index.build_segments": ("jobs", "task_cpu_s", "gc_s", "output_bytes"),
        "index.merge_segments": ("jobs", "shuffle_bytes", "spill_bytes", "output_bytes"),
        "index.write_stats": ("jobs",),
    }
    units = {"jobs": "count", "tasks": "count", "shuffle_bytes": "bytes",
             "spill_bytes": "bytes", "output_bytes": "bytes", "task_cpu_s": "s",
             "gc_s": "s", "input_rows": "count"}
    for stage, ms in stage_metrics.items():
        sel = pick(stage, timed_only=False)
        out[f"{stage}.s"] = (_med([r["wall_s"] for r in sel]), "s")
        for m in ms:
            out[f"{stage}.{m}"] = (_mean([r.get(m, 0) for r in sel]), units[m])

    root, n_docs = res["root"], res["index_docs"]
    for sub in ("docs", "segments", "postings", "termstats"):
        out[f"index.bytes.{sub}"] = (W.dir_bytes(os.path.join(root, sub)) / n_docs,
                                     "bytes/doc")
    out["index.postings_bytes_per_posting"] = (
        W.dir_bytes(os.path.join(root, "postings")) / res["index_postings"], "bytes")

    for name in ("search.open", "search.term_stats"):
        out[f"{name}.ms"] = (_med([r["wall_s"] * 1e3 for r in pick(name, False)]), "ms")
    for k in QUERY_KINDS:
        sel = pick(f"search.{k}")
        out[f"search.{k}.ms"] = (_med([r["wall_s"] * 1e3 for r in sel]), "ms")
        out[f"search.{k}.cpu_ms"] = (_med([r["cpu_s"] * 1e3 for r in sel]), "ms")
        out[f"search.{k}.jobs"] = (_mean([r.get("jobs", 0) for r in sel]), "count")
        out[f"search.{k}.tasks"] = (_mean([r.get("tasks", 0) for r in sel]), "count")
        out[f"search.{k}.job_ms"] = (_med([r["job_s"] * 1e3 for r in sel]), "ms")
        out[f"search.{k}.driver_ms"] = (_med([r["driver_s"] * 1e3 for r in sel]), "ms")
        out[f"search.{k}.input_rows"] = (_mean([r.get("input_rows", 0) for r in sel]), "count")
        out[f"search.{k}.shuffle_bytes"] = (_mean([r.get("shuffle_bytes", 0) for r in sel]), "bytes")
        out[f"search.{k}.task_cpu_ms"] = (_mean([r.get("task_cpu_s", 0) * 1e3 for r in sel]), "ms")
    skip = run.extra.get("skip_ratio", {})
    out["search.wand.skip_ratio_skewed"] = (skip.get("skewed", 0.0), "ratio")
    out["search.wand.skip_ratio_webtext"] = (skip.get("webtext", 0.0), "ratio")

    for name, scale, unit in (("index.build", 1, "s"), ("streaming.refresh", 1e3, "ms"),
                              ("streaming.maintenance", 1, "s")):
        sel = pick(name)
        out[f"{name}.{unit}"] = (_med([r["wall_s"] * scale for r in sel]), unit)
        out[f"{name}.cpu_{unit}"] = (_med([r["cpu_s"] * scale for r in sel]), unit)
    sel = pick("streaming.process_batch")
    out["streaming.process_batch.ms"] = (_med([r["wall_s"] * 1e3 for r in sel]), "ms")
    out["streaming.process_batch.jobs"] = (_mean([r.get("jobs", 0) for r in sel]), "count")
    out["streaming.process_batch.bytes_written_per_input_byte"] = (
        sum(r.get("output_bytes", 0) for r in sel) / max(1, sum(r["input_bytes"] for r in sel)),
        "ratio")
    sel = pick("search.reopen")
    out["search.reopen.ms"] = (_med([r["wall_s"] * 1e3 for r in sel]), "ms")
    out["search.reopen.jobs"] = (_mean([r.get("jobs", 0) for r in sel]), "count")
    sel = pick("search.nrt")
    out["search.nrt.ms"] = (_med([r["wall_s"] * 1e3 for r in sel]), "ms")
    out["search.nrt.cpu_ms"] = (_med([r["cpu_s"] * 1e3 for r in sel]), "ms")
    out["search.nrt.jobs"] = (_mean([r.get("jobs", 0) for r in sel]), "count")
    out["search.nrt.job_ms"] = (_med([r["job_s"] * 1e3 for r in sel]), "ms")
    out["search.nrt.driver_ms"] = (_med([r["driver_s"] * 1e3 for r in sel]), "ms")
    sel = pick("streaming.tiered_maintenance")
    out["streaming.tiered_maintenance.s"] = (_med([r["wall_s"] for r in sel]), "s")
    out["streaming.tiered_maintenance.jobs"] = (_mean([r.get("jobs", 0) for r in sel]), "count")
    out["streaming.tiered_maintenance.bytes_rewritten"] = (
        _mean([r.get("output_bytes", 0) for r in sel]), "bytes")
    return out
