"""Benchmark harness. Prints ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Components:
  * index_build       — full distributed build (tokenize -> per-segment pack
                        with checkpoints -> term-bucket merge) over BENCH_DOCS
                        deterministically generated webtext docs
                        (docs/sec is the BASELINE.json headline metric)
  * engine q_*        — BM25 top-10 through the packed-postings engine
  * sql q_*           — headline contract queries on $SPARK_GRAFT_SF_DIR

Self-normalization (VERDICT r3 #1 — the host throttles 2-4x between
windows, which made BENCH_r03's single-shot index_build unreadable):
  * index_build runs BENCH_BUILD_LEGS (default 2) interleaved legs and
    reports the min plus every leg in "index_build_legs";
  * a fixed JVM-only calibration probe (regexp tokenize + hash + agg of
    1M synthetic rows — independent of the code under test) runs before
    leg 1 and after every leg: "calibration_probe_rows_per_sec"[i]
    brackets leg i, so a cold read of BENCH_rN shows whether the host
    or the code moved between rounds;
  * 1/5/15-min load averages at start / after builds / at end.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32), BENCH_DOCS (default 50000),
     BENCH_BUILD_LEGS (default 2; 1 = old single-shot behavior).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _loadavg() -> list[float]:
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:  # non-Linux
        return []


def _host_probe(spark) -> float:
    """Host-calibration probe: a FIXED JVM-only workload (tokenize +
    hash + aggregate 1M synthetic strings through whole-stage codegen)
    whose pattern and data never change with the code under test.
    Returns rows/sec. Measured before and after index_build, it makes
    every BENCH_rN self-normalizing: if the probe moved 3x between
    rounds, the host moved, not the code (this repo's host throttles
    2-4x between windows — BENCH/regression.json)."""
    import time as _t

    from pyspark.sql import functions as F
    n = 1_000_000
    t0 = _t.time()
    df = spark.range(n).select(
        F.concat(F.lit("the quick brown fox jumps over the lazy dog "),
                 (F.col("id") % 9973).cast("string")).alias("s"))
    df.select(F.regexp_extract_all(
        "s", F.lit("[A-Za-z0-9]+"), 0).alias("t")) \
      .select(F.sum(F.size("t")).alias("n"),
              F.sum(F.pmod(F.xxhash64(F.element_at("t", 1)),
                           F.lit(9973))).alias("h")) \
      .collect()
    return round(n / (_t.time() - t0), 1)


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_docs = int(os.environ.get("BENCH_DOCS", "500000"))
    build_legs = int(os.environ.get("BENCH_BUILD_LEGS", "2"))

    from lucene_solr_1_spark.session import get_spark
    from lucene_solr_1_spark.fixtures.webtext import gen_docs_spark
    from lucene_solr_1_spark.index.build import build_index
    from lucene_solr_1_spark.search.engine import IndexSearcher
    from lucene_solr_1_spark.contract import make_queries

    spark = get_spark(cores=cpus, shuffle_partitions=cpus, app="bench")
    queries: dict[str, float] = {}
    t_all = time.time()

    # ---- index build throughput -----------------------------------------
    # corpus is materialized to parquet first (the reference's rec/s also
    # reads a pre-existing corpus); build time excludes generation
    corpus = f"/tmp/bench_corpus_{n_docs}"
    if not os.path.exists(os.path.join(corpus, "_SUCCESS")):
        gen_docs_spark(spark, n_docs, parallelism=cpus * 2) \
            .write.mode("overwrite").parquet(corpus)
    docs = spark.read.parquet(corpus)
    docs.count()  # JVM/codegen warmup so probe 1 isn't first-job noise

    # Best-of-N interleaved legs (probe, build, probe, build, ...): the
    # min is the code's capability in this window; the probes + load
    # averages expose whether a slow leg was the host throttling.
    load_before = _loadavg()
    probes = [_host_probe(spark)]
    leg_secs: list[float] = []
    roots: list[str] = []
    paths = None
    for _leg in range(max(1, build_legs)):
        root = os.path.join(tempfile.mkdtemp(prefix="bench_idx_"), "idx")
        roots.append(root)
        t0 = time.time()
        paths = build_index(spark, docs, root, num_segments=cpus * 2,
                            out_partitions=cpus)
        leg_secs.append(round(time.time() - t0, 3))
        probes.append(_host_probe(spark))
    for r in roots[:-1]:  # query phase uses the last leg's index
        shutil.rmtree(os.path.dirname(r), ignore_errors=True)
    build_sec = min(leg_secs)
    queries["index_build"] = build_sec
    docs_per_sec = round(n_docs / build_sec, 1)
    load_after = _loadavg()

    # ---- engine query latency -------------------------------------------
    searcher = IndexSearcher(spark, paths.root)
    from lucene_solr_1_spark.fixtures.webtext import VOCAB
    engine_qs = {
        "engine_term_head": ([str(VOCAB[0])], "OR"),
        "engine_term_mid": ([str(VOCAB[500])], "OR"),
        "engine_or3": ([str(VOCAB[1]), str(VOCAB[200]), str(VOCAB[3000])], "OR"),
        "engine_and2": ([str(VOCAB[50]), str(VOCAB[120])], "AND"),
        "engine_msm2": ([str(VOCAB[10]), str(VOCAB[300]), str(VOCAB[900])], "MSM2"),
    }
    for name, (terms, op) in engine_qs.items():
        t0 = time.time()
        searcher.search(terms, op, k=10).collect()
        queries[name] = round(time.time() - t0, 3)
    # an OR of head terms past IndexSearcher.LOCAL_POSTINGS, so the Spark
    # executor is timed too (when the corpus is large enough to reach it)
    head_st = (searcher.term_stats([str(t) for t in VOCAB[:128]])
               .sort_values(["df", "term"], ascending=[False, True]))
    heads, n_post = [], 0
    for t, df in zip(head_st["term"], head_st["df"]):
        if n_post > IndexSearcher.LOCAL_POSTINGS:
            break
        heads.append(t)
        n_post += int(df)
    if n_post > IndexSearcher.LOCAL_POSTINGS:
        t0 = time.time()
        searcher.search(heads, "OR", k=10).collect()
        queries["engine_or_spark_executor"] = round(time.time() - t0, 3)
    t0 = time.time()
    searcher.search_wand([str(VOCAB[1]), str(VOCAB[200]), str(VOCAB[3000])],
                         k=10).collect()
    queries["engine_wand_or3"] = round(time.time() - t0, 3)

    # ---- block-max WAND skip rate on a SKEWED corpus --------------------
    # the uniform bench corpus mathematically admits 0% skipping (flat
    # per-block bounds); real webtext is skewed (hub docs + verbose
    # tail), so the per-round evidence of BMW's value is measured here:
    # one hub doc holds both terms at max tf, the tail mentions them
    # singly in long docs — θ from the hub prunes most tail blocks.
    import numpy as np
    rng = np.random.RandomState(7)
    w = rng.randint(0, 2000, size=(30000, 60))
    texts = ["alpha " * 15 + "beta " * 12 + "pad"]
    for i in range(1, len(w)):
        row = [f"w{x}" for x in w[i]]
        if i % 3 == 0:
            row[0] = "alpha"
        if i % 5 == 0:
            row[1] = "beta"
        texts.append(" ".join(row))
    import pandas as pd
    skew_pdf = pd.DataFrame({"url": [f"s{i:06d}" for i in range(len(texts))],
                             "text": texts})
    skew_root = os.path.join(tempfile.mkdtemp(prefix="bench_skew_"), "idx")
    skew_paths = build_index(spark, spark.createDataFrame(skew_pdf),
                             skew_root, num_segments=8, out_partitions=8)
    skew_s = IndexSearcher(spark, skew_paths.root)
    stats: dict = {}
    t0 = time.time()
    skew_s.search_wand(["alpha", "beta"], k=1, stats=stats,
                       force=True).collect()
    queries["engine_wand_skewed_k1"] = round(time.time() - t0, 3)
    total_b = stats["blocks_total"].value
    kept_b = stats["blocks_kept"].value
    wand_skip_ratio = round(1.0 - kept_b / total_b, 4) if total_b else 0.0
    shutil.rmtree(os.path.dirname(skew_root), ignore_errors=True)

    # ---- headline SQL operators on the driver testdata -------------------
    contract = make_queries()
    for name in ["term_stats", "bool_or_topk", "facet_field", "grouping_top1",
                 "minhash_lsh", "ann_cosine_topk", "event_window_agg",
                 "numeric_trie_range", "geo_bbox_grid", "winnow_fingerprint",
                 "payload_term", "frange_filter", "schema_copyfield_topk",
                 "cjk_segmentation", "icu_segmentation", "gopher_quality",
                 "c4_span_dedup", "memory_percolate", "signature_dedup"]:
        t0 = time.time()
        contract[name](spark, sf_dir).collect()
        queries[f"sql_{name}"] = round(time.time() - t0, 3)

    total = round(time.time() - t_all, 3)
    shutil.rmtree(os.path.dirname(root), ignore_errors=True)
    print(json.dumps({
        "metric": "index-build + BM25 top-k + pipeline ops wall time",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "sf": sf_dir.rstrip("/").split("/")[-1],
        "bench_docs": n_docs,
        "indexing_docs_per_sec": docs_per_sec,
        "index_build_legs": leg_secs,
        "calibration_probe_rows_per_sec": probes,
        "load_before": load_before,
        "load_after_build": load_after,
        "load_end": _loadavg(),
        "wand_skip_ratio_skewed": wand_skip_ratio,
        "cpus": cpus,
    }))


if __name__ == "__main__":
    main()
