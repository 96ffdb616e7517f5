"""The workloads: one client in a closed loop, calling the engine's public
functions and waiting for each reply before the next call.

build-stream  the write path: repeated build_index of a webtext corpus,
              then NRT micro-batches (process_batch, reopen, a query on
              the NRT view) and tiered_maintenance on a base index.
query-mix     the read path: a fixed mix of term, boolean, long OR,
              block-max WAND and phrase queries on a positional index.

A run times a fixed number of whole rounds of the workload's fixed call
sequence (see rounds()); the first round starts after a cold build and
an untimed pass of every call kind the round times, in the same process.
Every call is a span. Outputs are checked against reference.py, built
after the timed window.
"""

from __future__ import annotations

import hashlib
import math
import os
import shutil
import time
from contextlib import ExitStack, contextmanager
from unittest import mock

import numpy as np
import pandas as pd

import corpus
import reference as ref
from spans import tree_cpu_s

NUM_SEGMENTS = 4

# build-stream sizes
BUILD_DOCS = 3000         # corpus of the timed bulk builds
BASE_DOCS = 1000          # its first documents: the base index of the stream
NRT_BATCH = 200           # documents per micro-batch, 10% of them updates

# query-mix sizes
QUERY_DOCS = 5000
SKEW_HUBS = 48
SKEW_TAIL = 2000

# build_index's stage functions, each a span of its own in a traced run
BUILD_STAGES = ("assign_docids", "build_segments", "merge_segments", "write_stats")

# One timed round per started ROUND_S of --seconds. A round took 14-25 s
# when this was written; the count is fixed by --seconds alone, so a
# faster program times the same rounds, not more and warmer ones.
ROUND_S = 20


def rounds(seconds: float) -> int:
    return max(1, math.ceil(seconds / ROUND_S))


def dir_bytes(path: str) -> int:
    total = 0
    for dp, _, fns in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dp, f)) for f in fns
                     if not f.startswith(".") and not f.endswith(".crc"))
    return total


def text_bytes(docs: pd.DataFrame) -> int:
    return int(docs["text"].str.encode("utf-8").str.len().sum())


def write_corpus(df: pd.DataFrame, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    df.to_parquet(path, index=False)
    return path


def hub_urls(n: int) -> list[str]:
    """n urls whose md5 starts 0x00-0x03. The engine numbers documents
    within a segment in url-hash order, so these documents lead every
    segment and share postings blocks: the docid clustering block-max
    WAND needs to skip the blocks behind them."""
    out, i = [], 0
    while len(out) < n:
        u = corpus.url_of("hub", i)
        if hashlib.md5(u.encode()).hexdigest()[:2] < "04":
            out.append(u)
        i += 1
    return out


class Run:
    """State shared by a workload run: session, tracer, work dir, clock."""

    def __init__(self, spark, tracer, work: str, seed: int, seconds: float,
                 traced: bool):
        self.spark, self.tr, self.work = spark, tracer, work
        self.seed, self.rounds, self.traced = seed, rounds(seconds), traced
        self.first_timed: float | None = None
        self.timed_end: float | None = None
        self.attempted = 0
        self.failures: list[str] = []
        self.extra: dict = {}

    @contextmanager
    def timed(self, name: str, **attrs):
        """A timed call: a span that also records the CPU seconds the
        whole process tree used during it."""
        if self.first_timed is None:
            self.first_timed = time.time()
        self.attempted += 1
        cpu0 = tree_cpu_s(os.getpid())
        with self.tr.span(name, timed=True, **attrs) as rec:
            yield rec
        rec["cpu_s"] = tree_cpu_s(os.getpid()) - cpu0

    def check(self, fn, *args) -> None:
        try:
            fn(*args)
        except ref.CheckFailed as e:
            self.failures.append(str(e))

    # ---------------------------------------------------------- engine calls
    def build(self, docs_path: str, root: str, positions: bool = False,
              name: str = "index.build", timed: bool = False):
        """build_index. In a traced run each of its stage functions runs
        in a span of its own for the length of this one call."""
        from lucene_solr_1_spark.index import build as B
        docs = self.spark.read.schema("url string, text string").parquet(docs_path)
        with ExitStack() as stages:
            if self.traced:
                for stage in BUILD_STAGES:
                    stages.enter_context(mock.patch.object(
                        B, stage, self._in_span(f"index.{stage}", getattr(B, stage))))
            with self.timed(name) if timed else self.tr.span(name):
                return B.build_index(self.spark, docs, root,
                                     num_segments=NUM_SEGMENTS,
                                     out_partitions=NUM_SEGMENTS,
                                     positions=positions)

    def _in_span(self, name: str, fn):
        def call(*args, **kwargs):
            with self.tr.span(name):
                return fn(*args, **kwargs)
        return call

    def tokenize_only(self, docs_path: str) -> None:
        """The analysis chain alone over the corpus, into a no-op sink."""
        from lucene_solr_1_spark.analysis.standard import analyze_expr
        with self.tr.span("analysis.tokenize"):
            (self.spark.read.schema("url string, text string").parquet(docs_path)
             .select(analyze_expr("text").alias("t"))
             .write.format("noop").mode("overwrite").save())

    def urls_of(self, searcher, docids) -> dict[int, str]:
        """docid -> url through IndexSearcher.fetch_fields."""
        ids = sorted({int(d) for d in docids})
        if not ids:
            return {}
        topk = self.spark.createDataFrame([(d, 0) for d in ids], "docid long, rank long")
        return {int(r["docid"]): r["url"] for r in searcher.fetch_fields(topk).collect()}


def hits(rows) -> list[tuple[int, np.float32]]:
    return [(int(r["docid"]), np.float32(r["score"])) for r in rows]


def with_urls(h, urls: dict[int, str]):
    return [(urls.get(d, f"<docid {d}>"), s) for d, s in h]


# ------------------------------------------------------------- build-stream

def prepare_build_stream(seed: int, work: str) -> dict:
    """The corpus and the NRT micro-batches; no Spark, no reference."""
    vocab = corpus.make_vocab()
    docs = corpus.webtext(seed, BUILD_DOCS, vocab)
    base_docs = docs.iloc[:BASE_DOCS]
    return {"vocab": vocab, "docs": docs, "base_docs": base_docs,
            "docs_path": write_corpus(docs, os.path.join(work, "corpus", "docs.parquet")),
            "base_path": write_corpus(base_docs, os.path.join(work, "corpus", "base.parquet")),
            "batches": corpus.nrt_batches(seed, vocab, base_docs["url"].tolist(), NRT_BATCH),
            "nrt_terms": [str(vocab[2]), str(vocab[300])]}


def build_stream(run: Run, inp: dict) -> dict:
    """Warm-up: a cold build_index of the base index (the corpus's first
    documents), then one stream cycle on it.
    Round: build_index of the corpus, then one stream cycle.
    Stream cycle: refresh (process_batch of a micro-batch + reopen), a
    query on the NRT view, maintenance (tiered_maintenance + reopen) and
    the same query again."""
    from lucene_solr_1_spark.search.engine import IndexSearcher
    from lucene_solr_1_spark.streaming.ingest import (StreamingIndexWriter,
                                                      tiered_maintenance)
    spark, terms = run.spark, inp["nrt_terms"]
    base = os.path.join(run.work, "base")
    run.build(inp["base_path"], base, name="index.build.warmup")
    if run.traced:
        run.tokenize_only(inp["docs_path"])
    writer = StreamingIndexWriter(base)
    added: list[pd.DataFrame] = []      # NRT batches in ingest order
    nrt_log: list[tuple[int, str, list]] = []   # (batches seen, when, hits)

    def nrt_query(s, when: str, span) -> None:
        with span("search.nrt"):
            nrt_log.append((len(added), when, hits(s.search(terms, "OR", k=10).collect())))

    def cycle(timed: bool):
        span = run.timed if timed else run.tr.span
        b = next(inp["batches"])
        sdf = spark.createDataFrame(b)
        with span("streaming.refresh"):
            with run.tr.span("streaming.process_batch", input_bytes=text_bytes(b)):
                writer.process_batch(sdf, len(added))
            with run.tr.span("search.reopen"):
                s = IndexSearcher(spark, base, include_nrt=True)
        added.append(b)
        nrt_query(s, "ingest", span)
        with span("streaming.maintenance"):
            with run.tr.span("streaming.tiered_maintenance"):
                tiered_maintenance(spark, base, segs_per_tier=1,
                                   max_merge_at_once=8, promote_ratio=None)
            with run.tr.span("search.reopen"):
                s = IndexSearcher(spark, base, include_nrt=True)
        nrt_query(s, "maintenance", span)
        return s

    cycle(timed=False)
    builds, last = [], None
    for _ in range(run.rounds):
        root = os.path.join(run.work, f"build{len(builds)}")
        run.build(inp["docs_path"], root, name="index.build", timed=True)
        if builds:
            shutil.rmtree(builds[-1], ignore_errors=True)
        builds.append(root)
        last = cycle(timed=True)
    run.timed_end = time.time()

    # ---- checks: the last bulk build
    r_build, vocab = ref.RefIndex(), inp["vocab"]
    r_build.add(inp["docs"])
    bs = IndexSearcher(spark, builds[-1])
    run.check(ref.check_equal, bs.max_doc, r_build.max_doc, "build maxDoc")
    run.check(ref.check_equal, bs.sum_ttf, r_build.sum_ttf, "build sum(ttf)")
    run.check(ref.check_equal, bs.stats["n_terms"], r_build.n_terms(), "build term count")
    sample = [str(vocab[i]) for i in (0, 3, 50, 400, 2000)] + [
        "tfbig", "tfblock", "normaltoken", "y" * 255, "x86_64", "café", "日", "zqxabsent"]
    st = bs.term_stats(sample).set_index("term")
    for t in sample:
        got = (tuple(int(st.loc[t, c]) for c in ("df", "ttf", "max_tf"))
               if t in st.index else (0, 0, 0))
        run.check(ref.check_equal, got, r_build.term_stats(t), f"build term_stats({t!r})")
    t = str(vocab[5])
    run.check(ref.check_equal, bs.count([t]), r_build.term_stats(t)[0], f"build count([{t!r}])")

    # ---- checks: replay the stream into a reference, compare every query
    urls = run.urls_of(last, [d for _, _, h in nrt_log for d, _ in h])
    r_nrt, n_in = ref.RefIndex(), 0
    r_nrt.add(inp["base_docs"])
    for i, (n_seen, when, h) in enumerate(nrt_log):
        while n_in < n_seen:
            r_nrt.add(added[n_in])
            n_in += 1
        if when == "maintenance":
            run.check(ref.check_equal, h, nrt_log[i - 1][2],
                      f"nrt hits after maintenance == before (batch {n_seen})")
        run.check(ref.check_topk, with_urls(h, urls), r_nrt.search(terms, "OR"), 10,
                  f"nrt {terms} after {when} of batch {n_seen}")
    run.check(ref.check_equal, last.max_doc, r_nrt.max_doc, "nrt maxDoc")
    run.check(ref.check_equal, last.sum_ttf, r_nrt.sum_ttf, "nrt sum(ttf)")
    # both indexes: the bulk build, and the base after the stream folded in
    stream_input = text_bytes(inp["base_docs"]) + sum(text_bytes(b) for b in added)
    return {"index_bytes": dir_bytes(builds[-1]) + dir_bytes(base),
            "input_bytes": text_bytes(inp["docs"]) + stream_input,
            "index_docs": len(inp["docs"]), "index_postings": r_build.n_postings(),
            "root": builds[-1]}


# ---------------------------------------------------------------- query-mix

def prepare_query_mix(seed: int, work: str) -> dict:
    """Corpus (webtext + skewed family) and the query mix, chosen from a
    cheap count of the corpus; no Spark, no reference."""
    vocab = corpus.make_vocab()
    web = corpus.webtext(seed, QUERY_DOCS, vocab)
    skew = corpus.skewed(seed, vocab, n_hubs=SKEW_HUBS, n_tail=SKEW_TAIL)
    skew.loc[:SKEW_HUBS - 1, "url"] = hub_urls(SKEW_HUBS)
    docs = pd.concat([web, skew], ignore_index=True)
    df, phrases = ref.corpus_counts(docs["text"].tolist(),
                                    np.random.default_rng((seed, 7)), 40)
    return {"docs": docs, "mix": corpus.query_mix(vocab, df, phrases),
            "docs_path": write_corpus(docs, os.path.join(work, "corpus", "docs.parquet"))}


def query_mix(run: Run, inp: dict) -> dict:
    """Warm-up: the positional build (cold), then one pass of the mix.
    Round: every query of the mix once, in order."""
    from lucene_solr_1_spark.search.engine import IndexSearcher
    from lucene_solr_1_spark.search.phrase import phrase_search
    spark, mix = run.spark, inp["mix"]
    root = os.path.join(run.work, "index")
    run.build(inp["docs_path"], root, positions=True, name="index.build.warmup")
    if run.traced:
        run.tokenize_only(inp["docs_path"])
    with run.tr.span("search.open"):
        s = IndexSearcher(spark, root)
    with run.tr.span("search.term_stats"):
        s.term_stats([t for q in mix for t in q["terms"]])

    def execute(q, timed: bool):
        span = run.timed if timed else run.tr.span
        with span(f"search.{q['kind']}", query=q["name"]) as rec:
            if q["kind"] == "wand":
                st: dict = {}
                rows = s.search_wand(q["terms"], k=10, stats=st).collect()
                rec["blocks"] = (st["blocks_kept"].value, st["blocks_total"].value)
            elif q["kind"] == "phrase":
                rows = phrase_search(s, q["terms"], k=10).collect()
            else:
                rows = s.search(q["terms"], q["op"], k=10).collect()
        return hits(rows)

    for q in mix:
        execute(q, timed=False)
    results = [[execute(q, timed=True) for q in mix] for _ in range(run.rounds)]
    run.timed_end = time.time()

    r = ref.RefIndex(positions=True)
    r.add(inp["docs"])

    # ---- checks; the webtext WAND query asks the terms of the bool OR query
    exact = {i: hits(s.search(q["terms"], "OR", k=10).collect())
             for i, q in enumerate(mix) if q["kind"] == "wand" and q["name"] == "skewed"}
    exact.update({i: results[0][j] for i, q in enumerate(mix) for j, p in enumerate(mix)
                  if q["kind"] == "wand" and p["kind"] == "bool"
                  and p["op"] == "OR" and p["terms"] == q["terms"]})
    urls = run.urls_of(s, [d for rnd in results for h in rnd for d, _ in h])
    for i, q in enumerate(mix):
        want = (r.phrase_search(q["terms"]) if q["kind"] == "phrase"
                else r.search(q["terms"], q["op"]))
        for rnd in results:
            run.check(ref.check_topk, with_urls(rnd[i], urls), want, 10,
                      f"{q['kind']}/{q['name']} {q['op']} {q['terms']}")
        if i in exact:
            run.check(ref.check_equal, results[0][i], exact[i],
                      f"wand/{q['name']} == exact search")
    run.check(ref.check_equal, s.max_doc, r.max_doc, "positional maxDoc")
    run.check(ref.check_equal, s.sum_ttf, r.sum_ttf, "positional sum(ttf)")

    blocks: dict[str, list] = {}
    for sp in run.tr.spans:
        if sp.get("timed") and sp["name"] == "search.wand":
            b = blocks.setdefault(sp["query"], [0, 0])
            b[0] += sp["blocks"][0]
            b[1] += sp["blocks"][1]
    run.extra["skip_ratio"] = {k: (1 - v[0] / v[1]) if v[1] else 0.0
                               for k, v in blocks.items()}
    return {"index_bytes": dir_bytes(root), "input_bytes": text_bytes(inp["docs"]),
            "index_docs": len(inp["docs"]), "index_postings": r.n_postings(),
            "root": root}


WORKLOADS = {"build-stream": (prepare_build_stream, build_stream),
             "query-mix": (prepare_query_mix, query_mix)}
