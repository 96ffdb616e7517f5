"""One postings kernel, two executors. A query whose postings fit
IndexSearcher.LOCAL_POSTINGS runs in the driver process; a bigger one
runs the Spark plan. Both must return the same bits: every case runs at
budget 0 (the Spark plan) and at an unbounded budget (in-process) and
compares (docid, float32 score, rank).

The fixture is a positional base with a hub document, plus a micro-batch
that adds documents and updates base documents, seen on the NRT view;
and the same after tiered_compact folded that generation and a second
micro-batch arrived (one folded and one unfolded generation)."""

import contextlib
import os
import uuid

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from lucene_solr_1_spark.index.build import build_index
from lucene_solr_1_spark.search.engine import (BooleanQuery, IndexSearcher,
                                               PhraseClause, topk_with_rank)
from lucene_solr_1_spark.search.phrase import (field_masking_span,
                                               multi_phrase_search,
                                               phrase_scores, phrase_search,
                                               span_first, span_not, span_or)
from lucene_solr_1_spark.streaming.ingest import (StreamingIndexWriter,
                                                  nrt_postings,
                                                  tiered_compact)
from pivot_reference import pivot_dismax, pivot_edismax, pivot_search

UNBOUNDED = 1 << 62


def _text(i: int) -> str:
    if i == 0:      # the hub: short, both terms at high tf
        return " ".join(["alpha"] * 15 + ["beta"] * 12 + ["pad"])
    words = [f"w{(i * 7 + j) % 300}" for j in range(40)]
    if i % 3 == 0:
        words[0] = "alpha"
    if i % 5 == 0:
        words[1] = "beta"
    return " ".join(words)


def _batch(gen: int, n_new: int, updated: list[str]) -> pd.DataFrame:
    new = [(f"n{gen}_{i:04d}", _text(1000 * (gen + 1) + i))
           for i in range(n_new)]
    upd = [(u, _text(7 + j) + " alpha") for j, u in enumerate(updated)]
    return pd.DataFrame(new + upd, columns=["url", "text"])


@pytest.fixture(scope="module", params=["nrt_view", "after_tiered_compact"])
def view(request, spark, tmp_root):
    base = pd.DataFrame([(f"u{i:06d}", _text(i)) for i in range(900)],
                        columns=["url", "text"])
    root = os.path.join(tmp_root, f"two_exec_{request.param}")
    build_index(spark, spark.createDataFrame(base), root, num_segments=2,
                positions=True)
    writer = StreamingIndexWriter(root)
    writer.process_batch(spark.createDataFrame(
        _batch(0, 60, ["u000003", "u000010", "u000011"])), 0)
    if request.param == "after_tiered_compact":
        assert tiered_compact(spark, root)["folded"] == [0]
        writer.process_batch(spark.createDataFrame(
            _batch(1, 40, ["u000005", "n0_0003"])), 1)
    return root


def _searcher(spark, root, budget, monkeypatch):
    monkeypatch.setattr(IndexSearcher, "LOCAL_POSTINGS", budget)
    return IndexSearcher(spark, root, include_nrt=True)


def _rows(df):
    return [(r["docid"], np.float32(r["score"]).tobytes(), r["rank"])
            for r in df.collect()]


class _Engine:
    search = staticmethod(IndexSearcher.search)
    phrase = staticmethod(phrase_search)
    dismax = staticmethod(IndexSearcher.search_dismax)
    edismax = staticmethod(IndexSearcher.search_edismax)


class _Pivot:
    """The same calls through the Catalyst pivot reference."""
    search = staticmethod(pivot_search)
    dismax = staticmethod(pivot_dismax)
    edismax = staticmethod(pivot_edismax)

    @staticmethod
    def phrase(s, terms, slop=0, k=10):
        return topk_with_rank(phrase_scores(s, terms, slop=slop), k)


CASES = {
    "term": lambda s, e=_Engine: e.search(s, ["alpha"], "OR", k=10),
    "or": lambda s, e=_Engine: e.search(s, ["alpha", "beta", "w12"], "OR",
                                        k=10),
    "and": lambda s, e=_Engine: e.search(s, ["alpha", "beta"], "AND", k=10),
    "msm2": lambda s, e=_Engine: e.search(s, ["alpha", "beta", "w20", "w21"],
                                          "MSM2", k=10),
    "must_not": lambda s, e=_Engine: e.search(s, BooleanQuery(
        should=["alpha", "w30"], must_not=["beta"], k=10)),
    "boosts": lambda s, e=_Engine: e.search(s, BooleanQuery(
        should=["alpha", "beta", "w40"], boosts={"beta": 2.5}, k=10)),
    "classic_coord": lambda s, e=_Engine: e.search(
        s, ["alpha", "beta", "w50"], "OR", k=10, similarity="classic"),
    "after": lambda s, e=_Engine: e.search(
        s, ["alpha", "beta"], "OR", k=5,
        after=_cursor(s, ["alpha", "beta"], 3)),
    "phrase": lambda s, e=_Engine: e.phrase(s, ["w10", "w11"], k=10),
    "sloppy_phrase": lambda s, e=_Engine: e.phrase(s, ["w10", "w12"], slop=2,
                                                   k=10),
    "bool_phrase": lambda s, e=_Engine: e.search(s, BooleanQuery(
        should=["alpha"], must=["w61"],
        phrases=[PhraseClause(("w60", "w61"), slop=0, occur="SHOULD")],
        k=10)),
    "repeated_phrase": lambda s, e=_Engine: e.phrase(s, ["alpha", "alpha"],
                                                     k=10),
}

# the span family: one positions kernel on both executors
SPANS = {
    "span_first": lambda s: span_first(s, "alpha", 3, k=10),
    "span_or": lambda s: span_or(s, [["w10", "w11"], ["w20", "w22"],
                                     ["alpha", "zzabsent"]], slop=1, k=10),
    "span_not": lambda s: span_not(s, "alpha", "beta", pre=0, post=1, k=10),
    "multi_phrase": lambda s: multi_phrase_search(
        s, [["w10", "w40"], ["w11", "w41"]], k=10),
    "multi_phrase_strict": lambda s: multi_phrase_search(
        s, [["w10"], ["w12", "alpha"]], slop=2, ordered=True, strict=True,
        k=10),
    "multi_phrase_unordered": lambda s: multi_phrase_search(
        s, [["w12"], ["w10", "beta"]], slop=2, ordered=False, k=10),
}


def _cursor(s, terms, n):
    """(score, docid) of the n-th hit: a searchAfter cursor."""
    r = s.search(terms, "OR", k=n).collect()[-1]
    return (float(r["score"]), int(r["docid"]))


@pytest.mark.parametrize("case", list(CASES))
def test_executors_bitwise_equal(spark, view, monkeypatch, case):
    got = {}
    for budget in (0, UNBOUNDED):
        got[budget] = _rows(CASES[case](
            _searcher(spark, view, budget, monkeypatch)))
    assert got[0] and got[0] == got[UNBOUNDED]


@pytest.mark.parametrize("case", list(SPANS))
def test_span_executors_bitwise_equal(spark, view, monkeypatch, case):
    got = {}
    for budget in (0, UNBOUNDED):
        got[budget] = _rows(SPANS[case](
            _searcher(spark, view, budget, monkeypatch)))
    assert got[0] and got[0] == got[UNBOUNDED]


def test_field_masking_span_executors_bitwise_equal(spark, fielded,
                                                    monkeypatch):
    got = {}
    for budget in (0, UNBOUNDED):
        s = _searcher(spark, fielded, budget, monkeypatch)
        got[budget] = _rows(field_masking_span(
            s, [("title", "v1"), ("body", "v2")], slop=3, ordered=False,
            k=10))
    assert got[0] and got[0] == got[UNBOUNDED]


@pytest.mark.parametrize("terms", [
    ["alpha", "beta"],
    # an absent term ahead of present ones, and a repeated term: clause
    # indices are positions among the distinct present terms
    ["zzabsent", "alpha", "beta"],
    ["alpha", "alpha", "beta"],
    "alpha alpha beta",
], ids=["two_terms", "absent_first", "repeated", "repeated_string"])
def test_wand_executors_equal_with_equal_counters(spark, view, monkeypatch,
                                                  terms):
    got = {}
    for budget in (0, UNBOUNDED):
        s = _searcher(spark, view, budget, monkeypatch)
        stats = {}
        rows = _rows(s.search_wand(terms, k=1, stats=stats))
        got[budget] = (rows, stats["blocks_total"].value,
                       stats["blocks_kept"].value)
    assert got[0] == got[UNBOUNDED]
    rows, total, kept = got[0]
    assert 0 < kept < total, (kept, total)
    exact = _rows(_searcher(spark, view, 0, monkeypatch)
                  .search(["alpha", "beta"], "OR", k=1))
    assert rows == exact


def test_count_executors_equal(spark, view, monkeypatch):
    for query, op in ((["alpha"], "OR"), (["alpha", "beta"], "AND"),
                      (["alpha", "beta", "w3"], "MSM2")):
        counts = {b: _searcher(spark, view, b, monkeypatch).count(query, op)
                  for b in (0, UNBOUNDED)}
        assert counts[0] == counts[UNBOUNDED] > 0


@contextlib.contextmanager
def _partitions(spark, n):
    """n shuffle partitions, none coalesced away by AQE."""
    conf = {"spark.sql.shuffle.partitions": str(n),
            "spark.sql.adaptive.coalescePartitions.enabled": "false"}
    old = {key: spark.conf.get(key) for key in conf}
    for key, value in conf.items():
        spark.conf.set(key, value)
    try:
        yield
    finally:
        for key, value in old.items():
            spark.conf.set(key, value)


PARTITIONS = (1, 7)


@pytest.mark.parametrize("case", list(CASES))
def test_spark_executor_equals_pivot_reference(spark, view, monkeypatch,
                                               case):
    """Each docid-hash partition's combine is exact: over 1 and 7
    partitions the Spark executor returns the pivot arithmetic's bits."""
    s = _searcher(spark, view, 0, monkeypatch)
    want = _rows(CASES[case](s, _Pivot))
    assert want
    for n in PARTITIONS:
        with _partitions(spark, n):
            assert _rows(CASES[case](s)) == want, n


def test_wand_and_filters_equal_pivot_reference(spark, view, monkeypatch):
    s = _searcher(spark, view, 0, monkeypatch)
    terms = ["alpha", "beta", "w12"]
    ids = (spark.read.parquet(s.paths.docs)
           .filter(F.col("url") >= "u000450").select("docid"))
    flt = "url < 'u000600'"
    calls = {
        "wand": (lambda: s.search_wand(terms, k=10, force=True),
                 lambda: pivot_search(s, terms, k=10)),
        "doc_filter": (lambda: s.search(terms, k=10, doc_filter=flt),
                       lambda: pivot_search(s, terms, k=10, doc_filter=flt)),
        "docid_filter": (
            lambda: s.search(terms, "AND", k=10, docid_filter=ids),
            lambda: pivot_search(s, terms, "AND", k=10, docid_filter=ids)),
        "filtered_term": (
            lambda: s.search(["beta"], k=10, doc_filter=flt,
                             docid_filter=ids),
            lambda: pivot_search(s, ["beta"], k=10, doc_filter=flt,
                                 docid_filter=ids)),
    }
    for name, (call, reference) in calls.items():
        want = _rows(reference())
        assert want, name
        for n in PARTITIONS:
            with _partitions(spark, n):
                assert _rows(call()) == want, (name, n)


@pytest.fixture(scope="module")
def fielded(spark, tmp_root):
    """A positional two-field index for dismax and edismax."""
    rng = np.random.default_rng(5)
    vocab = [f"v{i}" for i in range(25)]
    docs = pd.DataFrame(
        [(f"f{i:05d}", " ".join(rng.choice(vocab, 4)),
          " ".join(rng.choice(vocab, 30))) for i in range(400)],
        columns=["url", "title", "body"])
    root = os.path.join(tmp_root, "two_exec_fielded")
    build_index(spark, spark.createDataFrame(docs), root, num_segments=2,
                fields=["title", "body"], positions=True)
    return root


FIELDS = ["title", "body"]
FIELDED = {
    "dismax": lambda s, e=_Engine: e.dismax(s, ["v1", "v2", "v3"], FIELDS,
                                            0.0, 10),
    "dismax_tie": lambda s, e=_Engine: e.dismax(
        s, ["v1", "v2", "v3"], FIELDS, 0.3, 10, {"title": 2.0}),
    "edismax": lambda s, e=_Engine: e.edismax(
        s, ["v4", "v5", ("PHRASE", ("v8", "v9"), 1)], ["v1"],
        ["v7", ("PHRASE", ("v2", "v3"), 0)], FIELDS, {"title": 2.0},
        0.2, 2, 10),
}


@pytest.mark.parametrize("case", list(FIELDED))
def test_dismax_executors_equal_pivot_reference(spark, fielded, monkeypatch,
                                                case):
    want = _rows(FIELDED[case](_searcher(spark, fielded, 0, monkeypatch),
                               _Pivot))
    assert want
    s = _searcher(spark, fielded, UNBOUNDED, monkeypatch)
    assert _rows(FIELDED[case](s)) == want
    s = _searcher(spark, fielded, 0, monkeypatch)
    for n in PARTITIONS:
        with _partitions(spark, n):
            assert _rows(FIELDED[case](s)) == want, n


def _jobs(spark, fn):
    """(fn's result, number of Spark jobs it ran)."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_small_queries_run_no_spark_job(spark, view, monkeypatch):
    calls = {
        "search": lambda s: s.search(["alpha", "beta"], "OR", k=10),
        "search_wand": lambda s: s.search_wand(["alpha", "beta"], k=3,
                                               stats={}),
        "phrase_search": lambda s: phrase_search(s, ["w10", "w11"], k=10),
    }
    for name, call in calls.items():
        s = _searcher(spark, view, UNBOUNDED, monkeypatch)
        rows, n = _jobs(spark, lambda: call(s).collect())
        assert rows and n == 0, (name, n)
        s = _searcher(spark, view, 0, monkeypatch)
        rows, n = _jobs(spark, lambda: call(s).collect())
        assert rows and n > 0, name


def test_small_dismax_queries_run_no_spark_job(spark, fielded, monkeypatch):
    for name, call in FIELDED.items():
        s = _searcher(spark, fielded, UNBOUNDED, monkeypatch)
        rows, n = _jobs(spark, lambda: call(s).collect())
        assert rows and n == 0, (name, n)
        s = _searcher(spark, fielded, 0, monkeypatch)
        rows, n = _jobs(spark, lambda: call(s).collect())
        assert rows and n > 0, name


def test_nrt_snapshot_runs_no_job_and_matches_aggregation(
        spark, view, monkeypatch):
    terms = ["alpha", "beta", "w10", "pad", "zzabsent"]
    s, n = _jobs(spark, lambda: _searcher(spark, view, UNBOUNDED,
                                          monkeypatch))
    st, n_stats = _jobs(spark, lambda: s.term_stats(terms))
    assert n == 0 and n_stats == 0
    # the per-call Spark aggregation over the multi-segment view
    exp = (nrt_postings(spark, view).filter(F.col("term").isin(terms))
           .groupBy("term").agg(F.sum("df").alias("df"),
                                F.sum("ttf").alias("ttf"),
                                F.max("max_tf").alias("max_tf"))
           .toPandas().set_index("term").sort_index())
    got = st.set_index("term").sort_index()[["df", "ttf", "max_tf"]]
    assert got.astype(np.int64).equals(exp.astype(np.int64))
    base = IndexSearcher(spark, view)
    nrt_docs = spark.read.parquet(os.path.join(view, "nrt", "docs")).count()
    nrt_ttf = (nrt_postings(spark, view).filter(F.col("bucket") == -1)
               .agg(F.sum("ttf")).first()[0])
    assert s.max_doc == base.max_doc + nrt_docs
    assert s.sum_ttf == base.sum_ttf + nrt_ttf


def test_live_docs_computed_once_per_searcher(spark, view, monkeypatch):
    tombs = os.path.join(view, "tombstones")
    for budget in (0, UNBOUNDED):
        s = _searcher(spark, view, budget, monkeypatch)
        reads = []
        orig = IndexSearcher._read_table

        def spy(self, path, *a, **kw):
            reads.append(path)
            return orig(self, path, *a, **kw)

        monkeypatch.setattr(IndexSearcher, "_read_table", spy)
        first = _rows(s.search(["alpha", "beta"], "OR", k=10))
        again = _rows(s.search(["alpha", "beta"], "OR", k=10))
        wand = _rows(s.search_wand(["alpha", "beta"], k=10, stats={}))
        monkeypatch.setattr(IndexSearcher, "_read_table", orig)
        assert reads.count(tombs) == 1, reads
        assert first == again == wand
        # no updated base copy is a hit: each updated url's live copy
        # is its newest one
        dead = set(s._excluded_docids().tolist())
        assert dead and not dead & {d for d, _, _ in first}


def test_absent_term_is_a_local_table_scan(spark, view):
    s = IndexSearcher(spark, view, include_nrt=True)
    df = s.search(["zzabsent"], "OR", k=10)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "Scan ExistingRDD" not in plan, plan
    rows, n = _jobs(spark, df.collect)
    assert rows == [] and n == 0
    assert df.columns == ["docid", "score", "rank"]


def test_local_frame_keeps_rows_after_an_empty_chunk(spark):
    """The in-process scan's table has one chunk per postings batch, and
    the leading ones are empty when every doc they held is deleted."""
    import pyarrow as pa

    from lucene_solr_1_spark.search.engine import local_frame
    schema = pa.schema([("docid", pa.int64())])
    table = pa.Table.from_batches(
        [pa.RecordBatch.from_pydict({"docid": []}, schema=schema),
         pa.RecordBatch.from_pydict({"docid": [1, 2, 3]}, schema=schema)])
    assert local_frame(spark, "docid long", table).count() == 3


def _combine_dense(docid, clause, score, nclauses, k, dtype=np.float32,
                   must=(), should=(), msm=0, coord=False, exclude=None,
                   after=None):
    """Reference: the per-doc combine over a dense docs x clauses score
    matrix and hit matrix, clause columns added left to right."""
    docs, row = np.unique(np.asarray(docid, np.int64), return_inverse=True)
    mat = np.zeros((len(docs), nclauses), dtype)
    hit = np.zeros((len(docs), nclauses), bool)
    mat[row, clause] = np.asarray(score, dtype)
    hit[row, clause] = True
    total = mat[:, 0].copy() if nclauses else np.zeros(len(docs), dtype)
    for i in range(1, nclauses):
        total = total + mat[:, i]
    keep = np.ones(len(docs), bool)
    for i in must:
        keep &= hit[:, i]
    if coord:
        c = hit.sum(axis=1) / np.float64(dtype(nclauses))
        total = (total * c.astype(dtype)).astype(dtype)
    if len(should) and msm:
        keep &= hit[:, list(should)].sum(axis=1) >= msm
    if exclude is not None:
        keep &= ~np.isin(docs, exclude)
    if after is not None:
        s64 = total.astype(np.float64)
        keep &= (s64 < after[0]) | ((s64 == after[0]) & (docs > after[1]))
    docs, total = docs[keep], total[keep]
    top = np.lexsort((docs, -total))[:k]
    return docs[top], total[top]


def _random_hits(rng, n_docs, nclauses, per_clause):
    """One row per (doc, clause), rows shuffled across clauses."""
    doc, cl = [], []
    for c in range(nclauses):
        d = rng.choice(n_docs, size=min(per_clause, n_docs), replace=False)
        doc.append(d * 7 + 3)
        cl.append(np.full(len(d), c))
    doc, cl = np.concatenate(doc), np.concatenate(cl)
    perm = rng.permutation(len(doc))
    score = rng.random(len(doc), np.float32) * 10
    return doc[perm].astype(np.int64), cl[perm], score[perm]


@pytest.mark.parametrize("seed", range(12))
def test_combine_topk_equals_dense_reference(seed):
    from lucene_solr_1_spark.search.engine import combine_topk
    rng = np.random.default_rng(seed)
    nclauses = int(rng.integers(1, 9))
    docid, clause, score = _random_hits(rng, 300, nclauses, 120)
    dtype = np.float32 if seed % 4 else np.float64
    must = tuple(rng.choice(nclauses, size=int(rng.integers(0, 2)),
                            replace=False).tolist())
    should = tuple(c for c in range(nclauses) if c not in must)
    kw = dict(must=must, should=should,
              msm=int(rng.integers(0, 3)) if should else 0,
              coord=bool(seed % 2),
              exclude=np.unique(docid)[::17] if seed % 3 == 0 else None)
    want_d, want_s = _combine_dense(docid, clause, score, nclauses, 10**6,
                                    dtype, **kw)
    if seed % 3 == 1 and len(want_d) > 5:
        kw["after"] = (float(want_s[4]), int(want_d[4]))
        want_d, want_s = _combine_dense(docid, clause, score, nclauses, 20,
                                        dtype, **kw)
    got = combine_topk(docid, clause, score, nclauses,
                       20 if "after" in kw else 10**6, dtype, **kw)
    assert np.array_equal(got["docid"], want_d)
    assert got["score"].dtype == want_s.dtype
    assert got["score"].tobytes() == want_s.tobytes()
    assert got["rank"].tolist() == list(range(1, len(want_d) + 1))


def test_combine_topk_memory_follows_rows():
    """512 clauses over 50k docs: the dense docs x clauses matrices would
    take ~128 MB; the combine's peak stays a small multiple of its input."""
    import tracemalloc

    from lucene_solr_1_spark.search.engine import combine_topk
    rng = np.random.default_rng(3)
    docid, clause, score = _random_hits(rng, 50_000, 512, 200)
    inputs = docid.nbytes + clause.nbytes + score.nbytes
    tracemalloc.start()
    try:
        got = combine_topk(docid, clause, score, 512, 10, coord=True,
                           should=tuple(range(512)), msm=2, must=(0,))
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert len(got["docid"]) == 10
    assert peak < 6 * inputs, (peak, inputs)
