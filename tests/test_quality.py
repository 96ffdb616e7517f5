"""benchmark/quality twin (sources/quality.py).

Scalar QualityStats quirks are pinned by hand vectors; the end-to-end
test replays the reference's own TestQualityRun.java over its shipped
fixtures (trecTopics.txt / trecQRels.txt / reuters.578.lines.txt.bz2)
through the REAL engine with the classic (4.4 default) similarity and
asserts the same i%8 property matrix the reference asserts.
"""

from __future__ import annotations

import bz2
import os

import numpy as np
import pytest

from conftest import reference_path
from lucene_solr_1_spark.sources.quality import (
    MAX_POINTS, QualityQuery, QualityStats, TrecJudge, quality_benchmark,
    quality_stats_df, read_trec_topics)

REF_Q = "lucene/benchmark/src/test/org/apache/lucene/benchmark/quality"


# ------------------------------------------------------------------ scalars


def test_quality_stats_hand_vector():
    # 4 results, relevant at ranks 1 and 3; 5 judged relevant overall
    st = QualityStats(max_good_points=5)
    for n, rel in [(1, True), (2, False), (3, True), (4, False)]:
        st.add_result(n, rel)
    assert st.num_points == 4 and st.num_good_points == 2
    assert st.get_recall() == pytest.approx(2 / 5)
    # avp = (1/1 + 2/3) / maxGood
    assert st.get_avp() == pytest.approx((1.0 + 2 / 3) / 5)
    assert st.get_mrr() == 1.0
    assert st.get_precision_at(1) == 1.0
    assert st.get_precision_at(3) == pytest.approx(2 / 3)
    # beyond numPoints: relevant count / n (QualityStats.java:112-114)
    assert st.get_precision_at(10) == pytest.approx(2 / 10)
    with pytest.raises(ValueError):
        st.get_precision_at(MAX_POINTS + 1)


def test_mrr_only_counts_top5():
    st = QualityStats(max_good_points=1)
    for n in range(1, 7):
        st.add_result(n, n == 6)  # first relevant at rank 6
    assert st.get_mrr() == 0.0
    st2 = QualityStats(max_good_points=1)
    for n in range(1, 6):
        st2.add_result(n, n == 5)
    assert st2.get_mrr() == pytest.approx(1 / 5)


def test_add_result_requires_dense_ranks():
    st = QualityStats(max_good_points=1)
    st.add_result(1, False)
    with pytest.raises(ValueError):
        st.add_result(3, True)


def test_average_skips_zero_judgment_queries():
    a = QualityStats(max_good_points=2)
    a.add_result(1, True)
    a.add_result(2, True)
    b = QualityStats(max_good_points=0)  # no judgments: excluded
    b.add_result(1, False)
    avg = QualityStats.average([a, b])
    assert avg.num_good_points == 2.0  # divided by m=1, not 2
    assert avg.get_avp() == pytest.approx(a.get_avp())
    assert avg.get_mrr() == 1.0


def test_trec_judge_parsing_and_validate():
    lines = ["# comment", "", "0 \t 0 \t docA \t 1", "0 \t 0 \t docB \t 0",
             "1 \t 0 \t docC \t 1"]
    j = TrecJudge(lines)
    q0, q1 = QualityQuery("0", {}), QualityQuery("1", {})
    assert j.is_relevant("docA", q0) and not j.is_relevant("docB", q0)
    assert j.max_recall(q0) == 1 and j.max_recall(q1) == 1
    assert j.validate_data([q0, q1])
    assert not j.validate_data([q0])
    with pytest.raises(ValueError):
        TrecJudge(["0 1 doc 1"])  # second column must be '0'


def test_read_trec_topics_reference_fixture():
    with open(reference_path(f"{REF_Q}/trecTopics.txt"), encoding="utf-8") as f:
        qqs = read_trec_topics(f.read())
    assert len(qqs) == 20
    assert qqs[0].query_id == "0"
    assert qqs[0].get_value("title") == "statement months  total 1987"
    assert "Topic 0 Description" in qqs[0].get_value("description")


# -------------------------------------------------------------- distributed


def test_quality_stats_df_matches_scalar(spark):
    rng = np.random.RandomState(7)
    rows, jrows = [], []
    expected = {}
    for qid in range(6):
        n = int(rng.randint(3, 30))
        rel_flags = rng.rand(n) < 0.4
        judged_extra = int(rng.randint(0, 4))
        max_good = int(rel_flags.sum()) + judged_extra
        st = QualityStats(max_good_points=max_good)
        for r in range(1, n + 1):
            rows.append((str(qid), r, f"d{qid}_{r}"))
            if rel_flags[r - 1]:
                jrows.append((str(qid), f"d{qid}_{r}"))
            st.add_result(r, bool(rel_flags[r - 1]))
        for e in range(judged_extra):
            jrows.append((str(qid), f"extra{qid}_{e}"))
        expected[str(qid)] = st
    res = spark.createDataFrame(rows, "query_id string, rank int, doc_name string")
    jud = spark.createDataFrame(jrows, "query_id string, doc_name string")
    got = {r["query_id"]: r
           for r in quality_stats_df(res, jud).collect()}
    assert set(got) == set(expected)
    for qid, st in expected.items():
        g = got[qid]
        assert g["num_points"] == st.num_points
        assert g["num_good_points"] == st.num_good_points
        assert g["max_good_points"] == st.max_good_points
        assert g["recall"] == pytest.approx(st.get_recall())
        assert g["avp"] == pytest.approx(st.get_avp())
        assert g["mrr"] == pytest.approx(st.get_mrr())
        for n in (5, 10, 20):
            assert g[f"p_at_{n}"] == pytest.approx(st.get_precision_at(n)), \
                (qid, n)


# -------------------------------------------------- reference end-to-end


@pytest.fixture(scope="module")
def reuters_stats(spark, tmp_path_factory):
    """TestQualityRun.java replayed through the real engine: index the
    578-line Reuters fixture, run the 20 TREC topics (title as OR query
    over the body, SimpleQQParser), judge with trecQRels."""
    from lucene_solr_1_spark.index.build import build_index
    from lucene_solr_1_spark.search.engine import IndexSearcher
    from lucene_solr_1_spark.sources.readers import read_line_docs

    lines = reference_path(f"{REF_Q}/reuters.578.lines.txt.bz2")
    root = str(tmp_path_factory.mktemp("qidx"))
    docs = read_line_docs(spark, lines)

    # the reference indexes with ClassicAnalyzer
    # (TestQualityRun.java:182 "analyzer=...ClassicAnalyzer"); plug the
    # classic chain into the pluggable-analyzer surface
    from pyspark.sql import functions as F
    from pyspark.sql.functions import PandasUDFType
    from lucene_solr_1_spark.analysis.classic import classic_analyze

    @F.pandas_udf("array<string>", PandasUDFType.SCALAR)
    def classic_tokens(s):
        return s.map(lambda t: classic_analyze(t or ""))

    paths = build_index(spark, docs.select("url", "text"),
                        os.path.join(root, "idx"), num_segments=4,
                        out_partitions=4,
                        analyzers={"text": classic_tokens})
    searcher = IndexSearcher(spark, paths.root)
    with open(reference_path(f"{REF_Q}/trecTopics.txt"), encoding="utf-8") as f:
        qqs = read_trec_topics(f.read())
    with open(reference_path(f"{REF_Q}/trecQRels.txt"), encoding="utf-8") as f:
        judge = TrecJudge(f)
    assert judge.validate_data(qqs)
    stats = quality_benchmark(searcher, qqs, judge, max_results=1000,
                              similarity="classic")
    return stats


def test_trec_quality_run_property_matrix(reuters_stats):
    """The reference's own assertion matrix (TestQualityRun.java:94-131):
    qrels were altered per i%8 — 0: fake relevant docs added (avp+recall
    hurt, p@n perfect), 1: relevant docs unmarked (p@n+avp hurt, recall
    perfect), 2: both, >=3: perfect."""
    for i, s in enumerate(reuters_stats):
        m = i % 8
        if m == 0:
            assert s.get_avp() < 1.0 and s.get_recall() < 1.0, i
            for j in range(1, MAX_POINTS + 1):
                assert s.get_precision_at(j) == pytest.approx(1.0, abs=1e-2), (i, j)
        elif m == 1:
            assert s.get_avp() < 1.0, i
            assert s.get_recall() == pytest.approx(1.0, abs=1e-2), i
            for j in range(1, MAX_POINTS + 1):
                assert s.get_precision_at(j) < 1.0, (i, j)
        elif m == 2:
            assert s.get_avp() < 1.0 and s.get_recall() < 1.0, i
            for j in range(1, MAX_POINTS + 1):
                assert s.get_precision_at(j) < 1.0, (i, j)
        else:
            assert s.get_avp() == pytest.approx(1.0, abs=1e-2), i
            assert s.get_recall() == pytest.approx(1.0, abs=1e-2), i
            for j in range(1, MAX_POINTS + 1):
                assert s.get_precision_at(j) == pytest.approx(1.0, abs=1e-2), (i, j)


def test_trec_quality_run_average(reuters_stats):
    """TestQualityRun also averages: with 20 topics all having positive
    judgments, the average is over all of them and lands strictly
    between the hurt and perfect extremes."""
    avg = QualityStats.average(reuters_stats)
    assert 0.0 < avg.get_avp() < 1.0
    assert 0.0 < avg.get_recall() <= 1.0
    assert avg.num_points > 0
