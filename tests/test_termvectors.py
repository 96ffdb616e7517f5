"""Term vectors (index/termvectors.py): forward-index round-trip,
MLT-from-vectors == MLT-by-reanalysis, FastVectorHighlighter offsets."""

import os

import numpy as np
import pandas as pd
import pytest

from lucene_solr_1_spark.analysis.standard import (analyze_with_offsets,
                                                   analyze_with_positions)
from lucene_solr_1_spark.fixtures.webtext import gen_docs
from lucene_solr_1_spark.index.build import build_index
from lucene_solr_1_spark.index.termvectors import (build_term_vectors,
                                                   fast_vector_highlight,
                                                   get_term_vector,
                                                   mlt_terms_from_vector)
from oracle import build_oracle_index
from lucene_solr_1_spark.search.engine import IndexSearcher

N_DOCS = 500


@pytest.fixture(scope="module")
def built(spark, tmp_root):
    docs_pdf = gen_docs(N_DOCS)
    oracle = build_oracle_index(docs_pdf["url"].to_numpy(),
                                docs_pdf["text"].to_numpy(), num_segments=4)
    root = os.path.join(tmp_root, "idx_tv")
    paths = build_index(spark, spark.createDataFrame(docs_pdf), root,
                        num_segments=4)
    searcher = IndexSearcher(spark, paths.root)
    tv_path = os.path.join(tmp_root, "tv")
    docs = spark.read.parquet(paths.docs)
    build_term_vectors(spark, docs, tv_path, out_partitions=4)
    return docs_pdf, oracle, searcher, tv_path


def test_offsets_consistent_with_positions():
    """analyze_with_offsets agrees with analyze_with_positions on
    tokens+positions, and every [start, end) slice lowercases to the
    emitted token."""
    texts = ["The quick brown fox, the LAZY dog. And x" + "y" * 300,
             "Café au lait; wi-fi 802.11n works", ""]
    for text in texts:
        toks_p, poss_p = analyze_with_positions(text)
        toks, poss, starts, ends = analyze_with_offsets(text)
        assert toks == toks_p and poss == poss_p
        for t, s, e in zip(toks, starts, ends):
            assert text[s:e].lower() == t


def test_vector_roundtrip_matches_bruteforce(spark, built):
    docs_pdf, oracle, searcher, tv_path = built
    docs = spark.read.parquet(searcher.paths.docs) \
        .select("docid", "text").collect()
    by_id = {r["docid"]: r["text"] for r in docs}
    for docid in list(by_id)[:5]:
        tv = get_term_vector(spark, tv_path, docid)
        toks, poss, starts, ends = analyze_with_offsets(by_id[docid])
        exp: dict = {}
        for t, p, s, e in zip(toks, poss, starts, ends):
            exp.setdefault(t, [[], [], []])
            exp[t][0].append(p)
            exp[t][1].append(s)
            exp[t][2].append(e)
        assert tv["term"].tolist() == sorted(exp)
        for _, r in tv.iterrows():
            assert r["positions"] == exp[r["term"]][0]
            assert r["starts"] == exp[r["term"]][1]
            assert r["ends"] == exp[r["term"]][2]
            assert r["tf"] == len(exp[r["term"]][0])


def test_mlt_from_vectors_equals_reanalysis(spark, built):
    from lucene_solr_1_spark.solr.mlt import more_like_this
    _, oracle, searcher, tv_path = built
    docid = int(spark.read.parquet(searcher.paths.docs)
                .select("docid").first()["docid"])
    q, _ = more_like_this(searcher, docid=docid, min_doc_freq=2)
    got = mlt_terms_from_vector(searcher, tv_path, docid, min_df=2)
    assert sorted(got) == sorted(q.should)


def test_fast_vector_highlight_offset_exact(spark, built):
    """Snippets come from stored offsets: every <em>-wrapped slice is a
    query term at its exact original offsets, and stripping the tags
    yields a contiguous substring of the original text."""
    _, oracle, searcher, tv_path = built
    heads = oracle.term_stats.nlargest(2, "df")["term"].tolist()
    topk = searcher.search(heads, "OR", 8)
    with_text = searcher.fetch_fields(topk, cols=("url", "text"))
    hl = fast_vector_highlight(spark, tv_path, with_text, heads,
                               frag_size=120).toPandas()
    assert len(hl) == 8
    texts = {r["docid"]: r["text"] for _, r in hl.iterrows()}
    import re
    for _, r in hl.iterrows():
        snip = r["snippet"]
        assert snip != ""
        marked = re.findall(r"<em>(.*?)</em>", snip)
        assert marked and all(m.lower() in heads for m in marked)
        plain = snip.replace("<em>", "").replace("</em>", "")
        assert plain in texts[r["docid"]]
        assert len(plain) <= 120
