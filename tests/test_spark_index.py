"""End-to-end Spark tests: distributed build == oracle, rank-identical
BM25 top-k on the full fixture query set, resumability no-op.

This is the TestBoolean2 pattern (dual-implementation equivalence,
ref: lucene/core/src/test/org/apache/lucene/search/TestBoolean2.java)
with the NumPy oracle as the in-order twin.
"""

import json
import os

import numpy as np
import pandas as pd
import pytest

from lucene_solr_1_spark.fixtures.webtext import gen_docs, gen_queries
from lucene_solr_1_spark.index.build import IndexPaths, build_index
from lucene_solr_1_spark.index.codec import unpack_postings
from oracle import build_oracle_index, oracle_search
from lucene_solr_1_spark.search.engine import BooleanQuery, IndexSearcher

N_DOCS = 2000
N_SEGMENTS = 7


@pytest.fixture(scope="module")
def built(spark, tmp_root):
    docs_pdf = gen_docs(N_DOCS)
    oracle = build_oracle_index(docs_pdf["url"].to_numpy(), docs_pdf["text"].to_numpy(),
                                num_segments=N_SEGMENTS)
    docs = spark.createDataFrame(docs_pdf)
    root = os.path.join(tmp_root, "idx1")
    paths = build_index(spark, docs, root, num_segments=N_SEGMENTS)
    return docs_pdf, oracle, paths


def test_stats_match_oracle(spark, built):
    _, oracle, paths = built
    stats = json.load(open(paths.stats))
    assert stats["max_doc"] == oracle.max_doc
    assert stats["sum_total_term_freq"] == oracle.sum_ttf
    assert stats["n_terms"] == len(oracle.postings)


def test_docids_match_oracle_hash_router(spark, built):
    docs_pdf, oracle, paths = built
    got = spark.read.parquet(paths.docs).select("docid", "url").toPandas() \
        .sort_values("docid").reset_index(drop=True)
    assert got["docid"].tolist() == oracle.docids.tolist()
    assert np.array_equal(got["url"].to_numpy(), oracle.urls)


def test_termstats_match_oracle(spark, built):
    _, oracle, paths = built
    got = spark.read.parquet(paths.termstats).toPandas() \
        .sort_values("term").reset_index(drop=True)
    exp = oracle.term_stats.sort_values("term").reset_index(drop=True)
    assert got["term"].tolist() == exp["term"].tolist()
    assert got["df"].tolist() == exp["df"].tolist()
    assert got["ttf"].tolist() == exp["ttf"].tolist()
    assert got["max_tf"].tolist() == exp["max_tf"].tolist()


def test_postings_roundtrip_vs_oracle(spark, built):
    """CheckIndex analog: decode every merged posting list, compare with
    the oracle's (docids, tfs, norms) exactly; verify block metadata."""
    _, oracle, paths = built
    rows = spark.read.parquet(paths.postings).collect()
    seen: dict[str, list] = {}
    for r in rows:
        d, tf, nb = unpack_postings(
            np.frombuffer(r["blob"], np.uint8),
            np.asarray(r["block_offset"], np.int64),
            np.asarray(r["block_first_docid"], np.int64),
            np.asarray(r["block_n"], np.int64))
        assert np.all(np.diff(d) > 0)
        assert np.all(tf >= 1)
        assert len(d) == r["df"]
        assert int(tf.sum()) == r["ttf"]
        seen.setdefault(r["term"], []).append((r["bucket"], d, tf, nb))
    assert set(seen) == set(oracle.postings)
    for term, parts in seen.items():
        parts.sort(key=lambda p: p[0])
        d = np.concatenate([p[1] for p in parts])
        tf = np.concatenate([p[2] for p in parts])
        nb = np.concatenate([p[3] for p in parts])
        od, otf, onb = oracle.postings[term]
        assert np.array_equal(d, od), term
        assert np.array_equal(tf, otf), term
        assert np.array_equal(nb, onb), term


def test_checkpoint_manifests(spark, built):
    _, _, paths = built
    from lucene_solr_1_spark.index.build import list_doc_files
    files = sorted(os.listdir(paths.checkpoints))
    assert len(files) == len(list_doc_files(paths))  # one manifest per docs file
    total_docs = 0
    for fn in files:
        m = json.load(open(os.path.join(paths.checkpoints, fn)))
        assert m["docs_per_sec"] is None or m["docs_per_sec"] > 0
        assert "lineage" in m
        assert m["n_postings"] > 0 or m["n_docs"] == 0
        total_docs += m["n_docs"]
    assert total_docs == N_DOCS


def test_rebuild_is_noop(spark, built):
    """Resumability: complete checkpoints => stage 1 skipped entirely."""
    docs_pdf, _, paths = built
    before = {f: os.path.getmtime(os.path.join(paths.checkpoints, f))
              for f in os.listdir(paths.checkpoints)}
    from lucene_solr_1_spark.index.build import build_segments
    build_segments(spark, paths, N_SEGMENTS)
    after = {f: os.path.getmtime(os.path.join(paths.checkpoints, f))
             for f in os.listdir(paths.checkpoints)}
    assert before == after


def test_topk_rank_identical_to_oracle(spark, built):
    """The headline gate: every fixture query, float32 scores bitwise
    equal, docids identical, tie-break (score desc, docid asc)."""
    _, oracle, paths = built
    searcher = IndexSearcher(spark, paths.root)
    queries = gen_queries()
    checked_nonempty = 0
    for _, q in queries.iterrows():
        exp = oracle_search(oracle, q["clauses"], q["op"], q["k"])
        got = searcher.search(q["clauses"], q["op"], q["k"]).toPandas()
        assert len(got) == len(exp), f"qid={q['qid']}"
        if len(exp):
            assert got["docid"].tolist() == exp["docid"].tolist(), f"qid={q['qid']}"
            assert np.array_equal(got["score"].to_numpy(np.float32),
                                  exp["score"].to_numpy(np.float32)), f"qid={q['qid']}"
            checked_nonempty += 1
    assert checked_nonempty >= 20


def test_must_not_and_fetch_fields(spark, built):
    _, oracle, paths = built
    searcher = IndexSearcher(spark, paths.root)
    heads = oracle.term_stats.nlargest(3, "df")["term"].tolist()
    q = BooleanQuery(should=[heads[0]], must_not=[heads[1]], min_should_match=1, k=10)
    got = searcher.search(q).toPandas()
    ex_docs = set(oracle.postings[heads[1]][0].tolist())
    assert all(d not in ex_docs for d in got["docid"])
    with_fields = searcher.fetch_fields(searcher.search(q)).toPandas()
    assert with_fields["url"].notna().all()
    # urls agree with oracle docid->url mapping
    for _, r in with_fields.iterrows():
        assert oracle.url_of(r["docid"]) == r["url"]


def test_jvm_analyzer_parity_with_python(spark):
    """The JVM regexp analyzer (indexing fast path) must emit the exact
    token streams of the Python spec analyzer (the oracle's), including
    the golden edge docs (unicode, apostrophes, 255-cap, stopwords)."""
    from pyspark.sql import functions as F
    from lucene_solr_1_spark.analysis.standard import analyze_expr, analyze_series

    docs_pdf = gen_docs(300)
    extra = pd.DataFrame({"url": [f"x{i}" for i in range(4)],
                          "warc_ts": [None] * 4, "html": [None] * 4,
                          "text": ["Foo-Bar, baz's QUUX. mp3 4k x86_64 3.14",
                                   "Café naïve 日本語 中文搜索",
                                   "x" * 256 + " keep " + "y" * 255,
                                   ""],
                          "lang": ["en"] * 4})
    pdf = pd.concat([docs_pdf, extra], ignore_index=True)
    sdf = spark.createDataFrame(pdf[["url", "text"]])
    jvm = (sdf.select("url", analyze_expr("text").alias("toks"))
           .toPandas().set_index("url")["toks"])
    py = analyze_series(pdf["text"])
    for i, u in enumerate(pdf["url"]):
        assert list(jvm[u]) == py.iloc[i], f"url={u}"


def test_pluggable_similarities_rank_identical(spark, built):
    """DefaultSimilarity (classic TF-IDF, the 4.4 default — coord +
    queryNorm active) and LMDirichlet: distributed engine == NumPy
    oracle, float32-bitwise, on a slice of the fixture query set."""
    _, oracle, paths = built
    searcher = IndexSearcher(spark, paths.root)
    queries = gen_queries()
    for sim in ["classic", "lm_dirichlet", "lm_jm", "dfr", "dfr_gl2",
                "ib_spl", "ib_ll", "sweetspot"]:
        checked = 0
        for _, q in queries.iterrows():
            if checked >= 8:
                break
            exp = oracle_search(oracle, q["clauses"], q["op"], q["k"],
                                similarity=sim)
            got = searcher.search(q["clauses"], q["op"], q["k"],
                                  similarity=sim).toPandas()
            assert len(got) == len(exp), f"{sim} qid={q['qid']}"
            if len(exp):
                assert got["docid"].tolist() == exp["docid"].tolist(), \
                    f"{sim} qid={q['qid']}"
                assert np.array_equal(got["score"].to_numpy(np.float32),
                                      exp["score"].to_numpy(np.float32)), \
                    f"{sim} qid={q['qid']}"
                checked += 1
        assert checked >= 8


def test_classic_similarity_formula_spotcheck(spark, built):
    """One hand-computed DefaultSimilarity score against the engine:
    tf=sqrt(freq), idf=ln(N/(df+1))+1, queryNorm=1/sqrt(idf²),
    norm=byte315ToFloat, coord=1 for a matched single-term query."""
    _, oracle, paths = built
    searcher = IndexSearcher(spark, paths.root)
    term = oracle.term_stats.nlargest(5, "df")["term"].iloc[2]
    d, tf, nb = oracle.postings[term]
    got = searcher.search([term], "OR", 5, similarity="classic").toPandas()
    from lucene_solr_1_spark.index.smallfloat import byte315_to_float
    df_t = len(d)
    idf = np.float32(np.log(oracle.max_doc / np.float64(df_t + 1)) + 1.0)
    qnorm = np.float32(1.0 / np.sqrt(np.float64(np.float32(idf * idf))))
    value = np.float32(np.float32(idf * qnorm) * idf)
    scores = (np.sqrt(tf.astype(np.float32)).astype(np.float32) * value
              ).astype(np.float32) * byte315_to_float(nb)
    scores = scores.astype(np.float32)
    order = np.lexsort((oracle.pos_of(d), -scores))[:5]
    assert got["docid"].tolist() == d[order].tolist()
    assert np.array_equal(got["score"].to_numpy(np.float32), scores[order])


def test_lm_jm_formula_spotcheck(spark, built):
    """Hand-computed LM Jelinek-Mercer score vs the engine (λ=0.7,
    p=(ttf+1)/(Σttf+1), docLen=NORM_TABLE[normByte])."""
    _, oracle, paths = built
    searcher = IndexSearcher(spark, paths.root)
    term = oracle.term_stats.nlargest(5, "df")["term"].iloc[1]
    d, tf, nb = oracle.postings[term]
    got = searcher.search([term], "OR", 5, similarity="lm_jm").toPandas()
    from lucene_solr_1_spark.index.smallfloat import NORM_INV_TABLE
    ttf = int(tf.sum())
    p32 = np.float32(np.float32(ttf + 1.0) / np.float32(oracle.sum_ttf + 1.0))
    dl = NORM_INV_TABLE.astype(np.float32)[nb]
    lam, one_m = np.float32(0.7), np.float32(0.3)
    scores = np.log1p((one_m * tf.astype(np.float32) / dl)
                      / (lam * p32)).astype(np.float32)
    order = np.lexsort((oracle.pos_of(d), -scores))[:5]
    assert got["docid"].tolist() == d[order].tolist()
    assert np.array_equal(got["score"].to_numpy(np.float32), scores[order])


def test_dfr_inl2_formula_spotcheck(spark, built):
    """Hand-computed DFR InL2 score vs the engine:
    tfn = tf*log2(1+avgdl/dl); s = tfn*log2((N+1)/(df+.5))/(1+tfn)."""
    _, oracle, paths = built
    searcher = IndexSearcher(spark, paths.root)
    term = oracle.term_stats.nlargest(5, "df")["term"].iloc[3]
    d, tf, nb = oracle.postings[term]
    got = searcher.search([term], "OR", 5, similarity="dfr").toPandas()
    from lucene_solr_1_spark.index.smallfloat import NORM_INV_TABLE
    from lucene_solr_1_spark.search.bm25 import avg_field_length
    avgdl = avg_field_length(oracle.sum_ttf, oracle.max_doc)
    dl = NORM_INV_TABLE.astype(np.float32)[nb]
    ln2 = np.float32(np.log(2.0))
    ic = np.float32(np.log2((oracle.max_doc + 1.0) / (len(d) + 0.5)))
    tfn = (tf.astype(np.float32)
           * (np.log1p(np.float32(1.0) * avgdl / dl) / ln2)).astype(np.float32)
    scores = (tfn * ic / (np.float32(1.0) + tfn)).astype(np.float32)
    order = np.lexsort((oracle.pos_of(d), -scores))[:5]
    assert got["docid"].tolist() == d[order].tolist()
    assert np.array_equal(got["score"].to_numpy(np.float32), scores[order])


def test_dfr_gl2_formula_spotcheck(spark, built):
    """Hand-computed DFR GL2 score vs the engine: λ=(F+1)/(N+F+1),
    tfn = tf*log2(1+avgdl/dl);
    s = (log2(λ+1) + tfn*log2((1+λ)/λ)) / (1+tfn)  (BasicModelG.java:34-41)."""
    _, oracle, paths = built
    searcher = IndexSearcher(spark, paths.root)
    term = oracle.term_stats.nlargest(5, "df")["term"].iloc[3]
    d, tf, nb = oracle.postings[term]
    got = searcher.search([term], "OR", 5, similarity="dfr_gl2").toPandas()
    from lucene_solr_1_spark.index.smallfloat import NORM_INV_TABLE
    from lucene_solr_1_spark.search.bm25 import avg_field_length
    avgdl = avg_field_length(oracle.sum_ttf, oracle.max_doc)
    dl = NORM_INV_TABLE.astype(np.float32)[nb]
    ln2 = np.float32(np.log(2.0))
    ttf = int(tf.sum())
    lam = (ttf + 1.0) / (oracle.max_doc + ttf + 1.0)
    a = np.float64(np.log2(lam + 1.0))
    b = np.float64(np.log2((1.0 + lam) / lam))
    tfn = (tf.astype(np.float32)
           * (np.log1p(np.float32(1.0) * avgdl / dl) / ln2)).astype(np.float64)
    scores = ((a + tfn * b) / (1.0 + tfn)).astype(np.float32)
    order = np.lexsort((oracle.pos_of(d), -scores))[:5]
    assert got["docid"].tolist() == d[order].tolist()
    assert np.array_equal(got["score"].to_numpy(np.float32), scores[order])


def test_ib_spl_formula_spotcheck(spark, built):
    """Hand-computed IB SPL-D-H2 score vs the engine: λ=(df+1)/(N+1),
    tfn = tf*log2(1+avgdl/dl), s = -log2((λ^(tfn/(tfn+1))-λ)/(1-λ))."""
    _, oracle, paths = built
    searcher = IndexSearcher(spark, paths.root)
    term = oracle.term_stats.nlargest(5, "df")["term"].iloc[4]
    d, tf, nb = oracle.postings[term]
    got = searcher.search([term], "OR", 5, similarity="ib_spl").toPandas()
    from lucene_solr_1_spark.index.smallfloat import NORM_INV_TABLE
    from lucene_solr_1_spark.search.bm25 import avg_field_length
    avgdl = avg_field_length(oracle.sum_ttf, oracle.max_doc)
    dl = NORM_INV_TABLE.astype(np.float32)[nb]
    ln2 = np.float32(np.log(2.0))
    lam = np.float32(np.float32(len(d) + 1.0) / np.float32(oracle.max_doc + 1.0))
    tfn = (tf.astype(np.float32)
           * (np.log1p(np.float32(1.0) * avgdl / dl) / ln2)).astype(np.float32)
    t64, l64 = tfn.astype(np.float64), np.float64(lam)
    scores = (-np.log((np.power(l64, t64 / (t64 + 1.0)) - l64) / (1.0 - l64))
              / np.log(2.0)).astype(np.float32)
    order = np.lexsort((oracle.pos_of(d), -scores))[:5]
    assert got["docid"].tolist() == d[order].tolist()
    assert np.array_equal(got["score"].to_numpy(np.float32), scores[order])


def test_search_after_paging(spark, built):
    """searchAfter: page 2 via cursor == rows 11-20 of a k=20 search."""
    _, oracle, paths = built
    searcher = IndexSearcher(spark, paths.root)
    heads = oracle.term_stats.nlargest(4, "df")["term"].tolist()
    full = searcher.search(heads, "OR", 20).toPandas()
    assert len(full) == 20
    cursor = (float(full["score"].iloc[9]), int(full["docid"].iloc[9]))
    page2 = searcher.search(heads, "OR", 10, after=cursor).toPandas()
    assert page2["docid"].tolist() == full["docid"].iloc[10:].tolist()
    assert np.array_equal(page2["score"].to_numpy(np.float32),
                          full["score"].iloc[10:].to_numpy(np.float32))


def test_vint_postings_format_end_to_end(spark, tmp_root):
    """Pluggable PostingsFormat: an index built with the 'vint' format
    (pure varint blocks) returns bitwise-identical search results to the
    default lucene41 index — exact path and WAND path (per-field codec
    swap, ref: codecs/Codec.java:122, codecs/perfield/)."""
    import json as _json
    import os as _os

    from lucene_solr_1_spark.fixtures.webtext import gen_docs
    docs_pdf = gen_docs(800)
    sdf = spark.createDataFrame(docs_pdf)
    p_ref = build_index(spark, sdf, _os.path.join(tmp_root, "fmt_ref"),
                        num_segments=4)
    p_vint = build_index(spark, sdf, _os.path.join(tmp_root, "fmt_vint"),
                         num_segments=4, postings_format="vint")
    assert _json.load(open(p_vint.stats))["postings_format"] == "vint"
    s_ref = IndexSearcher(spark, p_ref.root)
    s_vint = IndexSearcher(spark, p_vint.root)
    from pyspark.sql import functions as F
    heads = (spark.read.parquet(p_ref.termstats)
             .orderBy(F.desc("df")).limit(4).toPandas()["term"].tolist())
    for op in ("OR", "AND", "MSM2"):
        a = s_ref.search(heads[:3], op, 20).toPandas()
        b = s_vint.search(heads[:3], op, 20).toPandas()
        assert a["docid"].tolist() == b["docid"].tolist(), op
        assert np.array_equal(a["score"].to_numpy(np.float32),
                              b["score"].to_numpy(np.float32)), op
    # WAND over vint blocks (block metadata drives skipping identically)
    from lucene_solr_1_spark.search.wand import search_wand
    w = search_wand(s_vint, heads[:3], k=10).toPandas()
    e = s_ref.search(heads[:3], "OR", 10).toPandas()
    assert w["docid"].tolist() == e["docid"].tolist()
    assert np.array_equal(w["score"].to_numpy(np.float32),
                          e["score"].to_numpy(np.float32))


def test_sweetspot_formula_spotcheck(spark, built):
    """Hand-computed SweetSpotSimilarity score vs the engine
    (SweetSpotSimilarity.java: baselineTf with tf_base=0/tf_min=0 =
    sqrt(freq); computeLengthNorm with ln_min=ln_max=1, steep=0.5 =
    1/sqrt(0.5*2*|L-1| + 1); norm run through the SmallFloat-315
    byte roundtrip; idf/queryNorm from DefaultSimilarity)."""
    _, oracle, paths = built
    searcher = IndexSearcher(spark, paths.root)
    term = oracle.term_stats.nlargest(5, "df")["term"].iloc[3]
    d, tf, nb = oracle.postings[term]
    got = searcher.search([term], "OR", 5,
                          similarity="sweetspot").toPandas()
    from lucene_solr_1_spark.index.smallfloat import (
        NORM_INV_TABLE, byte315_to_float, float_to_byte315)
    df_t = len(d)
    idf = np.float32(np.log(oracle.max_doc / np.float64(df_t + 1)) + 1.0)
    qnorm = np.float32(1.0 / np.sqrt(np.float64(np.float32(idf * idf))))
    value = np.float32(np.float32(idf * qnorm) * idf)
    dl = np.rint(NORM_INV_TABLE.astype(np.float64))[nb]
    ln = (1.0 / np.sqrt(0.5 * (np.abs(dl - 1) + np.abs(dl - 1)) + 1.0)
          ).astype(np.float32)
    norm = byte315_to_float(float_to_byte315(ln)).astype(np.float32)
    scores = (np.sqrt(tf.astype(np.float32)).astype(np.float32)
              * value).astype(np.float32) * norm
    scores = scores.astype(np.float32)
    order = np.lexsort((oracle.pos_of(d), -scores))[:5]
    assert got["docid"].tolist() == d[order].tolist()
    assert np.array_equal(got["score"].to_numpy(np.float32), scores[order])
    # plateau semantics: ln_min..ln_max scores lengths equally
    from lucene_solr_1_spark.search.similarities import SweetSpot
    ss = SweetSpot(ln_min=3, ln_max=8, steepness=0.5)
    plateau = ss.compute_length_norm(np.arange(3, 9))
    assert np.all(plateau == np.float32(1.0))
    assert ss.compute_length_norm(np.array([20]))[0] < 1.0
    assert ss.baseline_tf(np.array([0.0]))[0] == 0.0
    ss2 = SweetSpot(tf_base=1.5, tf_min=5)
    assert np.all(ss2.baseline_tf(np.array([1.0, 5.0]))
                  == np.float32(1.5))
    assert abs(float(ss2.baseline_tf(np.array([6.0]))[0])
               - np.sqrt(6 + 1.5 * 1.5 - 5)) < 1e-6
