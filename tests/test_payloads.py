"""Payload postings (.pay analog) + PayloadTermQuery vs a brute-force
NumPy oracle (ref: search/payloads/PayloadTermQuery.java:54,
DelimitedPayloadTokenFilter.java:33)."""

import os

import numpy as np
import pandas as pd
import pytest

from lucene_solr_1_spark.index.build import build_index
from lucene_solr_1_spark.index.payloads import (
    build_payload_index, payload_term_topk, strip_payload_text)
from lucene_solr_1_spark.search.engine import IndexSearcher


def _mk_corpus(n=40, seed=5):
    rng = np.random.RandomState(seed)
    vocab = ["rain", "falls", "mainly", "plain", "storm", "wind"]
    rows = []
    for i in range(n):
        toks = []
        for _ in range(rng.randint(4, 12)):
            w = vocab[rng.randint(len(vocab))]
            if rng.rand() < 0.7:
                toks.append(f"{w}|{round(float(rng.rand()), 3)}")
            else:
                toks.append(w)              # no payload -> 1.0
        rows.append((f"u{i:03d}", " ".join(toks)))
    return pd.DataFrame(rows, columns=["url", "text"])


@pytest.fixture(scope="module")
def built(spark, tmp_root):
    pdf = _mk_corpus()
    delim = spark.createDataFrame(pdf)
    stripped = delim.select("url", strip_payload_text("text").alias("text"))
    root = os.path.join(tmp_root, "idx_pay")
    paths = build_index(spark, stripped, root, num_segments=2,
                        out_partitions=2, positions=True)
    searcher = IndexSearcher(spark, paths.root)
    # docids come from the engine's routing: join the docs table by url
    docs_tbl = spark.read.parquet(paths.docs).select("docid", "url")
    with_ids = delim.join(docs_tbl, "url")
    ppath = os.path.join(tmp_root, "idx_pay_payloads")
    build_payload_index(spark, with_ids, ppath, out_partitions=2)
    return pdf, searcher, ppath


def _oracle_payloads(pdf, url2docid, term):
    out = {}
    for _, r in pdf.iterrows():
        ps = []
        for tok in r["text"].split():
            t, _, p = tok.partition("|")
            if t.lower() == term:
                ps.append(float(p) if p else 1.0)
        if ps:
            out[url2docid[r["url"]]] = np.array(ps, dtype=np.float32)
    return out


def test_strip_payload_text(spark):
    df = spark.createDataFrame([("a|0.5 b c|1.25",)], "text string")
    assert df.select(strip_payload_text("text").alias("t")) \
        .collect()[0]["t"] == "a b c"


def test_payload_functions_vs_oracle(spark, built):
    pdf, searcher, ppath = built
    docs_tbl = spark.read.parquet(searcher.paths.docs).toPandas()
    url2docid = dict(zip(docs_tbl["url"], docs_tbl["docid"]))
    term = "rain"
    oracle = _oracle_payloads(pdf, url2docid, term)
    span = searcher.search([term], "OR", k=10**6).toPandas() \
        .set_index("docid")["score"]
    for fn, red in [("max", np.max), ("min", np.min), ("avg", np.mean)]:
        got = payload_term_topk(searcher, ppath, term, payload_fn=fn,
                                k=10**6).toPandas()
        assert set(got["docid"]) == set(oracle)
        for _, r in got.iterrows():
            ps = oracle[r["docid"]]
            if fn == "avg":
                exp = np.float32(np.float64(ps.sum()) / len(ps))
            else:
                exp = np.float32(red(ps))
            exp = np.float32(np.float32(span.loc[r["docid"]]) * exp)
            assert np.isclose(np.float32(r["score"]), exp, rtol=1e-6), \
                (fn, r["docid"], r["score"], exp)
    # payload-only scoring (includeSpanScore=False)
    got = payload_term_topk(searcher, ppath, term, payload_fn="max",
                            include_span_score=False, k=10**6).toPandas()
    for _, r in got.iterrows():
        assert np.float32(r["score"]) == np.float32(oracle[r["docid"]].max())


def test_payload_probe_is_pushed_down(spark, built):
    _, searcher, ppath = built
    from pyspark.sql import functions as F
    df = (spark.read.parquet(ppath).filter(F.col("term") == "storm")
          .select("docid", "payloads"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(term), EqualTo(term,storm)" in plan, \
        plan[:800]


def test_payload_span_path_no_full_hit_set_rank(spark, built):
    """VERDICT r3 #5: the span-score branch must not rank the full hit
    set (it used search(k=2**31-1), whose topk_with_rank funnels every
    posting through one coalesce(1) sort task). Span scores now join
    UNRANKED; only the k output rows are ranked."""
    _, searcher, ppath = built
    res = payload_term_topk(searcher, ppath, "rain", k=5)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "2147483647" not in plan, plan[:2000]
    got = res.toPandas()
    assert list(got["rank"]) == list(range(1, len(got) + 1))
    assert list(got["score"]) == sorted(got["score"], reverse=True)


def test_payload_terms_align_with_standard_analyzer(spark, tmp_root):
    """ADVICE r3: side-table terms must go through the SAME analysis
    chain as the main index build — punctuated bare text splits into
    subtokens (each keeping the token's payload), apostrophes join,
    stopwords drop, and non-numeric payload text falls back to 1.0."""
    from pyspark.sql import functions as F

    pdf = pd.DataFrame(
        {"url": ["u0"],
         "text": ["Rain,Fall|0.5 STORM'S|0.25 the|0.9 wind plain|x2"]})
    delim = spark.createDataFrame(pdf)
    stripped = delim.select("url", strip_payload_text("text").alias("text"))
    root = os.path.join(tmp_root, "idx_pay_align")
    paths = build_index(spark, stripped, root, num_segments=1,
                        out_partitions=1)
    docs_tbl = spark.read.parquet(paths.docs).select("docid", "url")
    ppath = os.path.join(tmp_root, "idx_pay_align_payloads")
    build_payload_index(spark, delim.join(docs_tbl, "url"), ppath,
                        out_partitions=1)
    side = {r["term"]: list(r["payloads"])
            for r in spark.read.parquet(ppath).collect()}
    assert side == {"rain": [0.5], "fall": [0.5], "storm's": [0.25],
                    "wind": [1.0], "plain": [1.0]}, side
    # every side-table term resolves in the main index's dictionary
    searcher = IndexSearcher(spark, paths.root)
    for term in side:
        hits = payload_term_topk(searcher, ppath, term, k=5).toPandas()
        assert len(hits) == 1, term


def test_payload_near_vs_brute_force(spark, built):
    """PayloadNearQuery: score must equal the strict span-near score
    times the payload aggregate computed brute-force from the raw
    delimited text (witnesses re-derived independently per the
    NearSpansOrdered contract: greedy smallest-next, total slop
    = p_n - p_0 - (n-1))."""
    from lucene_solr_1_spark.index.payloads import payload_near_topk
    from lucene_solr_1_spark.search.phrase import multi_phrase_search

    pdf, searcher, ppath = built
    docs_tbl = spark.read.parquet(searcher.paths.docs) \
        .select("docid", "url").toPandas()
    url2docid = dict(zip(docs_tbl["url"], docs_tbl["docid"]))
    terms, slop = ["rain", "falls"], 2

    # independent witness oracle over the raw text
    def doc_matches(text):
        toks = [t.partition("|") for t in text.split()]
        pos = {t: [] for t in terms}
        pay = {t: [] for t in terms}
        for i, (w, _, p) in enumerate(toks):
            w = w.lower()
            if w in pos:
                pos[w].append(i)
                pay[w].append(float(p) if p else 1.0)
        vals = []
        for ai, a in enumerate(pos[terms[0]]):
            prev, picks, ok = a, [ai], True
            for t in terms[1:]:
                nxt = [j for j, q in enumerate(pos[t]) if q > prev]
                if not nxt:
                    ok = False
                    break
                picks.append(nxt[0])
                prev = pos[t][nxt[0]]
            if ok and prev - a - (len(terms) - 1) <= slop:
                for t, j in zip(terms, picks):
                    vals.append(pay[t][j])
        return vals

    expect_pay = {}
    for _, r in pdf.iterrows():
        vals = doc_matches(r["text"])
        if vals:
            expect_pay[url2docid[r["url"]]] = vals

    span = multi_phrase_search(searcher, [[t] for t in terms], slop=slop,
                               ordered=True, strict=True,
                               k=10**6).toPandas().set_index("docid")
    for fn, agg in (("avg", lambda v: sum(v) / len(v)),
                    ("min", min), ("max", max)):
        got = payload_near_topk(searcher, ppath, terms, slop=slop,
                                payload_fn=fn, k=10**6).toPandas()
        assert set(got["docid"]) == set(expect_pay), fn
        for _, r in got.iterrows():
            d = int(r["docid"])
            exp = np.float32(np.float32(span.loc[d, "score"])
                             * np.float32(agg(expect_pay[d])))
            assert np.isclose(np.float32(r["score"]), exp,
                              rtol=1e-5), (fn, d, r["score"], exp)


def test_payload_near_empty_and_missing_term(spark, built):
    from lucene_solr_1_spark.index.payloads import payload_near_topk
    _, searcher, ppath = built
    assert payload_near_topk(searcher, ppath,
                             ["rain", "nosuchterm"], k=5).count() == 0


def test_payload_near_absent_term_schema_is_the_search_schema(spark, built):
    from lucene_solr_1_spark.index.payloads import payload_near_topk
    _, searcher, ppath = built
    got = payload_near_topk(searcher, ppath, ["rain", "nosuchterm"], k=5)
    assert got.schema == searcher.search(["nosuchterm"], k=5).schema
    assert "LocalTableScan" in (
        got._jdf.queryExecution().executedPlan().toString())


@pytest.mark.parametrize("fn", ["avg", "min", "max"])
def test_payload_near_executors_bitwise_equal(spark, built, monkeypatch, fn):
    """The positions kernel with the side table's rows runs in the driver
    (unbounded budget) and per docid partition on Spark (budget 0):
    same (docid, float32 score, rank)."""
    from lucene_solr_1_spark.index.payloads import payload_near_topk
    _, searcher, ppath = built
    got = {}
    for budget in (0, 1 << 62):
        monkeypatch.setattr(IndexSearcher, "LOCAL_POSTINGS", budget)
        for ordered in (True, False):
            got[budget, ordered] = [
                (r["docid"], np.float32(r["score"]).tobytes(), r["rank"])
                for r in payload_near_topk(
                    searcher, ppath, ["rain", "falls"], slop=2,
                    ordered=ordered, payload_fn=fn, k=20).collect()]
    for ordered in (True, False):
        assert got[0, ordered] and got[0, ordered] == got[1 << 62, ordered]
