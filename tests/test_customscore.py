# CustomScoreQuery / BoostingQuery engine twins: parity vs a NumPy
# oracle over the packed-postings engine (queries/CustomScoreQuery.java,
# queries/BoostingQuery.java). The SQL-level contract entries
# custom_score_topk / boosting_query_topk check the same arithmetic
# against DuckDB at sf0.01.
import os

import numpy as np
import pytest

from lucene_solr_1_spark.fixtures.webtext import gen_docs
from lucene_solr_1_spark.index.build import build_index
from oracle import build_oracle_index, oracle_search
from lucene_solr_1_spark.search.customscore import (boosting_search,
                                                    custom_score_search)
from lucene_solr_1_spark.search.engine import IndexSearcher

N_DOCS = 800


@pytest.fixture(scope="module")
def built(spark, tmp_root):
    docs_pdf = gen_docs(N_DOCS)
    oracle = build_oracle_index(docs_pdf["url"].to_numpy(),
                                docs_pdf["text"].to_numpy(),
                                num_segments=4)
    docs = spark.createDataFrame(docs_pdf)
    root = os.path.join(tmp_root, "idx_custom")
    paths = build_index(spark, docs, root, num_segments=4)
    searcher = IndexSearcher(spark, paths.root)
    return docs_pdf, oracle, searcher


def _oracle_scores(oracle, terms):
    """docid -> float32 OR-sum score from the brute-force oracle."""
    df = oracle_search(oracle, list(terms), op="OR", k=oracle.max_doc)
    return dict(zip(df["docid"].tolist(), df["score"].tolist()))


def test_custom_score_matches_oracle(spark, built):
    docs_pdf, oracle, searcher = built
    terms = [docs_pdf["text"][0].split()[0]]
    base = _oracle_scores(oracle, terms)
    # ValueSource: a deterministic per-doc value (docid-derived)
    vals = {d: 0.5 + (d % 7) * 0.25 for d in base}
    expect = sorted(((np.float32(s) * np.float32(vals[d]), d)
                     for d, s in base.items()),
                    key=lambda x: (-x[0], x[1]))[:10]

    from pyspark.sql import functions as F
    all_docids = sorted(base)
    vdf = spark.createDataFrame(
        [(int(d), float(vals[d])) for d in all_docids], "docid long, val double")
    got = custom_score_search(searcher, terms, vdf, k=10).collect()
    assert [r.docid for r in got] == [d for _s, d in expect]
    np.testing.assert_allclose([r.score for r in got],
                               [s for s, _d in expect], rtol=1e-5)


def test_custom_score_missing_value_defaults_to_1(spark, built):
    docs_pdf, oracle, searcher = built
    terms = [docs_pdf["text"][0].split()[0]]
    empty = spark.createDataFrame([], "docid long, val double")
    got = custom_score_search(searcher, terms, empty, k=10).collect()
    plain = searcher.search(terms, "OR", k=10).collect()
    assert [r.docid for r in got] == [r.docid for r in plain]
    np.testing.assert_allclose([r.score for r in got],
                               [r.score for r in plain], rtol=1e-6)


def test_boosting_demotes_context_matches(spark, built):
    docs_pdf, oracle, searcher = built
    match = [docs_pdf["text"][0].split()[0]]
    context = [docs_pdf["text"][1].split()[2]]
    base = _oracle_scores(oracle, match)
    ctx = set(_oracle_scores(oracle, context))
    boost = 0.2
    expect = sorted(
        ((np.float32(s) * np.float32(boost) if d in ctx else np.float32(s),
          d) for d, s in base.items()),
        key=lambda x: (-x[0], x[1]))[:10]
    got = boosting_search(searcher, match, context, boost, k=10).collect()
    assert [r.docid for r in got] == [d for _s, d in expect]
    np.testing.assert_allclose([r.score for r in got],
                               [s for s, _d in expect], rtol=1e-5)
    # every returned doc matches the match query (context never adds)
    assert set(r.docid for r in got) <= set(base)
