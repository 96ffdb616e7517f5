"""explain_hits / DebugComponent: the per-(hit, term) BM25 decomposition
must reproduce the engine's own scores bitwise (contrib per term equals
the single-term search score; components recombine to the total)."""

import os

import numpy as np
import pytest

from lucene_solr_1_spark.fixtures.webtext import VOCAB, gen_docs
from lucene_solr_1_spark.index.build import build_index
from lucene_solr_1_spark.search.bm25 import K1
from lucene_solr_1_spark.search.engine import IndexSearcher


@pytest.fixture(scope="module")
def searcher(spark, tmp_root):
    docs = spark.createDataFrame(gen_docs(800))
    paths = build_index(spark, docs, os.path.join(tmp_root, "exp_idx"),
                        num_segments=4, out_partitions=4)
    return IndexSearcher(spark, paths.root)


def test_contrib_matches_single_term_search(spark, searcher):
    terms = [VOCAB[0], VOCAB[4]]
    exp = searcher.explain_hits(terms, op="OR", k=10)
    rows = exp.collect()
    assert rows, "explain produced no rows"
    for t in terms:
        single = {r["docid"]: r["score"]
                  for r in searcher.search([t], op="OR", k=1 << 20).collect()}
        for r in rows:
            if r["term"] == t:
                assert r["contrib"] == single[r["docid"]], (t, r)


def test_components_recombine(spark, searcher):
    """weight_value * freq / (freq + norm_cache) == contrib, float32."""
    for r in searcher.explain_hits([VOCAB[0], VOCAB[100]], k=10).collect():
        wv = np.float32(r["weight_value"])
        tf = np.float32(r["freq"])
        c = np.float32(r["norm_cache"])
        assert np.float32((wv * tf) / (tf + c)) == np.float32(r["contrib"])
        # idf * (k1+1) == weight_value in float32
        assert np.float32(np.float32(r["idf"]) *
                          np.float32(np.float32(K1) + np.float32(1.0))) \
            == np.float32(r["weight_value"])


def test_totals_match_search(spark, searcher):
    import pandas as pd
    exp = searcher.explain_hits([VOCAB[0], VOCAB[4]], op="OR", k=10).toPandas()
    top = {r["docid"]: (r["score"], r["rank"])
           for r in searcher.search([VOCAB[0], VOCAB[4]], k=10).collect()}
    assert set(exp["docid"]) == set(top)
    for did, grp in exp.groupby("docid"):
        total, rank = top[did]
        assert (grp["total_score"] == total).all()
        assert (grp["rank"] == rank).all()
        # float32 sum in either association order lands within 1 ulp
        assert np.isclose(np.float32(grp["contrib"].astype(np.float32).sum()),
                          total, rtol=1e-6)


def test_debug_component(spark, searcher):
    from lucene_solr_1_spark.solr.components import default_handler
    resp = default_handler().handle(
        searcher, {"q": f"{VOCAB[0]} {VOCAB[4]}", "rows": 5, "debugQuery": True})
    dbg = resp["debug"]
    assert dbg["querystring"] == f"{VOCAB[0]} {VOCAB[4]}"
    assert dbg["parsedquery"] == [VOCAB[0], VOCAB[4]]
    assert dbg["explain"].count() > 0
    assert set(dbg["explain"].columns) >= {
        "docid", "rank", "total_score", "term", "freq", "df", "idf",
        "weight_value", "norm_byte", "norm_cache", "contrib"}


def test_explain_reads_the_searchers_view(spark, tmp_root):
    """explain() on IndexSearcher(include_nrt=True) finds a doc that only
    an NRT generation holds, scores it as search() does, and reports the
    avgdl that score used."""
    import pandas as pd

    from lucene_solr_1_spark.streaming.ingest import StreamingIndexWriter
    root = os.path.join(tmp_root, "exp_nrt_idx")
    build_index(spark, spark.createDataFrame(gen_docs(100)), root,
                num_segments=2, out_partitions=2)
    batch = pd.DataFrame({"url": ["https://nrt.example/0"],
                          "text": [f"{VOCAB[0]} {VOCAB[0]} novelterm"]})
    StreamingIndexWriter(root).process_batch(spark.createDataFrame(batch), 0)
    s = IndexSearcher(spark, root, include_nrt=True)
    did = spark.read.parquet(os.path.join(root, "nrt", "docs")).first()["docid"]
    for term in (VOCAB[0], "novelterm"):
        e = s.explain(term, did)
        assert e["match"], e
        hits = {r["docid"]: r["score"]
                for r in s.search([term], "OR", 1 << 20).collect()}
        assert np.float32(e["score"]) == np.float32(hits[did])
        assert e["details"]["avgdl"] == float(s._avgdl_for(term))
