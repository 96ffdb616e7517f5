"""Every query reads postings through the searcher's one postings scan,
which reads the searcher's view (base + NRT generations) and drops
deleted docs itself. A positional base where doc 0 ends in
"zeta zeta zeta omega"; one micro-batch adds 5 new "zeta omega" docs and
updates doc 0 back to its original text. The deleted copy is the best
"zeta omega" match by far, so any query that skips live docs returns it,
and a WAND θ0 taken over it would prune the live docs' blocks."""

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from lucene_solr_1_spark.fixtures.webtext import gen_docs
from lucene_solr_1_spark.index.build import IndexPaths, build_index
from lucene_solr_1_spark.search.customscore import (boosting_search,
                                                    custom_score_search)
from lucene_solr_1_spark.search.engine import IndexSearcher
from lucene_solr_1_spark.streaming.ingest import (StreamingIndexWriter,
                                                  tiered_compact)

QUERY = ["zeta", "omega"]


@pytest.fixture(scope="module", params=["nrt_view", "after_tiered_compact"])
def view(request, spark, tmp_root):
    """(searcher, deleted base docid, the 5 new docids)."""
    base = gen_docs(50)[["url", "text"]].copy()
    orig_text = base.loc[0, "text"]
    base.loc[0, "text"] = orig_text + " zeta zeta zeta omega"
    root = os.path.join(tmp_root, f"live_docs_{request.param}")
    paths = build_index(spark, spark.createDataFrame(base), root,
                        num_segments=2, positions=True)
    deleted = (spark.read.parquet(paths.docs)
               .filter(F.col("url") == base.loc[0, "url"]).first()["docid"])
    new_urls = [f"https://zeta.example/{i}" for i in range(5)]
    batch = pd.DataFrame({
        "url": new_urls + [base.loc[0, "url"]],
        "text": [f"intro words zeta omega tail {i}" for i in range(5)]
        + [orig_text]})
    StreamingIndexWriter(root).process_batch(spark.createDataFrame(batch), 0)
    new = {r["docid"] for r in
           spark.read.parquet(os.path.join(root, "nrt", "docs"))
           .filter(F.col("url").isin(new_urls)).collect()}
    assert len(new) == 5
    if request.param == "after_tiered_compact":
        assert tiered_compact(spark, root)["folded"] == [0]
        assert os.path.exists(os.path.join(IndexPaths(root).root,
                                           "tombstones"))
    return IndexSearcher(spark, root, include_nrt=True), deleted, new


@pytest.mark.parametrize("k", [1, 3, 10])
def test_wand_equals_exhaustive_search(view, k):
    s, deleted, new = view
    got = s.search_wand(QUERY, k=k, stats={}).toPandas()
    exp = s.search(QUERY, "OR", k).toPandas()
    assert got["docid"].tolist() == exp["docid"].tolist()
    assert np.array_equal(got["score"].to_numpy(np.float32),
                          exp["score"].to_numpy(np.float32))
    assert deleted not in set(got["docid"])
    assert set(got["docid"]) <= new and len(got) == min(k, 5)


def test_no_query_sees_the_deleted_copy(spark, view):
    s, deleted, new = view

    def ids(df):
        return {r["docid"] for r in df.select("docid").collect()}

    assert ids(s.search(["zeta"], "OR", 10)) == new
    vals = spark.createDataFrame([(deleted, 100.0)], "docid long, val double")
    assert ids(custom_score_search(s, ["zeta"], vals, k=10)) == new
    assert ids(boosting_search(s, ["zeta"], ["omega"], 0.5, k=10)) == new
    assert s.count(["zeta"]) == 5
    assert s.count(QUERY, "AND") == 5
    assert ids(s.explain_hits(QUERY, k=10)) == new
