"""Tests for query parser, facets, stats, grouping, MoreLikeThis."""

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from lucene_solr_1_spark.fixtures.webtext import gen_docs
from lucene_solr_1_spark.index.build import build_index
from oracle import build_oracle_index
from lucene_solr_1_spark.search.engine import IndexSearcher
from lucene_solr_1_spark.search.queryparser import parse_clauses, parse_query
from lucene_solr_1_spark.solr.facets import (drill_sideways, facet_field,
                                             facet_pivot, facet_query,
                                             facet_range, facet_rollup)
from lucene_solr_1_spark.solr.grouping import group_distinct_count, grouped_topk
from lucene_solr_1_spark.solr.mlt import more_like_this
from lucene_solr_1_spark.solr.stats import stats, stats_facet

N_DOCS = 1200


@pytest.fixture(scope="module")
def built(spark, tmp_root):
    docs_pdf = gen_docs(N_DOCS)
    oracle = build_oracle_index(docs_pdf["url"].to_numpy(), docs_pdf["text"].to_numpy(),
                                num_segments=4)
    root = os.path.join(tmp_root, "idx_comp")
    paths = build_index(spark, spark.createDataFrame(docs_pdf), root, num_segments=4)
    return docs_pdf, oracle, IndexSearcher(spark, paths.root)


# ------------------------------------------------------------ queryparser

def test_parse_clauses_syntax():
    cls = parse_clauses('+alpha -beta gamma AND delta "a b c" eps~1 pre* f:gone^2')
    by_text = {c.text: c for c in cls}
    assert by_text["alpha"].occur == "MUST"
    assert by_text["beta"].occur == "MUST_NOT"
    # gamma AND delta: AND promotes both sides to MUST
    assert by_text["gamma"].occur == "MUST" and by_text["delta"].occur == "MUST"
    assert by_text["a b c"].kind == "phrase"
    assert by_text["eps"].kind == "fuzzy" and by_text["eps"].fuzzy_edits == 1
    assert by_text["pre"].kind == "prefix"
    assert by_text["gone"].boost == 2.0


def test_duplicate_clause_boost_accumulation():
    """Lucene sums per-clause contributions for duplicated terms
    (BooleanQuery scores every clause): `foo foo` == weight 2.0,
    `foo^2 foo^3` == 5.0; single unboosted occurrences stay implicit;
    MUST_NOT clauses carry no scoring weight (VERDICT r2 #10)."""
    assert parse_query("foo foo").boosts == {"foo": 2.0}
    assert parse_query("foo^2 foo^3").boosts == {"foo": 5.0}
    assert parse_query("foo bar").boosts == {}
    q = parse_query("bar -foo")
    assert "foo" not in q.boosts
    # a MUST + SHOULD duplicate scores both clauses
    assert parse_query("+foo foo").boosts == {"foo": 2.0}


def test_parse_query_execution(spark, built):
    _, oracle, searcher = built
    heads = oracle.term_stats.nlargest(4, "df")["term"].tolist()
    q = parse_query(f"{heads[0]} {heads[1]} -{heads[2]}", searcher)
    assert heads[0] in q.should and heads[1] in q.should
    assert heads[2] in q.must_not
    res = searcher.search(q).toPandas()
    assert len(res) > 0
    ex = set(oracle.postings[heads[2]][0].tolist())
    assert all(d not in ex for d in res["docid"])


def test_parse_query_prefix_and_fuzzy_rewrite(spark, built):
    _, oracle, searcher = built
    term = oracle.term_stats.nlargest(1, "df")["term"].iloc[0]
    q = parse_query(f"{term[:4]}*", searcher)
    assert term in q.should and len(q.should) >= 1
    q2 = parse_query(f"{term}~1", searcher)
    assert term in q2.should  # distance 0 <= 1


def test_stopword_only_query(spark, built):
    _, _, searcher = built
    q = parse_query("the and of", searcher)
    assert q.should == [] and q.must == []
    assert searcher.search(q).count() == 0


# ----------------------------------------------------------------- facets

@pytest.fixture(scope="module")
def attrs(spark, built):
    docs_pdf, oracle, searcher = built
    # attribute table keyed by docid: lang + n_chars
    pos = {u: i for i, u in enumerate(oracle.urls)}
    pdf = pd.DataFrame({
        "docid": [int(oracle.docids[pos[u]]) for u in docs_pdf["url"]],
        "lang": docs_pdf["lang"],
        "n_chars": docs_pdf["text"].str.len(),
        "site": docs_pdf["url"].str.extract(r"site(\d+)")[0].astype(int),
    })
    return spark.createDataFrame(pdf)


def test_facet_field_counts(spark, built, attrs):
    _, oracle, searcher = built
    term = oracle.term_stats.nlargest(1, "df")["term"].iloc[0]
    hits = searcher.search([term], "OR", k=10**9).select("docid")
    # oracle expected counts
    docids = set(oracle.postings[term][0].tolist())
    # facet over ALL matching docs, not just top-k: use count-style search
    from lucene_solr_1_spark.search.engine import BooleanQuery
    cands = searcher._scored_candidates([term]).select("docid").distinct()
    got = facet_field(attrs, cands, "lang").toPandas()
    exp = (attrs.toPandas().query("docid in @docids").groupby("lang").size()
           .sort_values(ascending=False))
    assert dict(zip(got["lang"], got["count"])) == exp.to_dict()


def test_facet_query_range_pivot_rollup(spark, attrs):
    fq = facet_query(attrs, {"short": F.col("n_chars") < 500,
                             "long": F.col("n_chars") >= 500}).collect()[0]
    assert fq["short"] + fq["long"] == N_DOCS
    fr = facet_range(attrs, "n_chars", 0, 20000, 1000).toPandas()
    assert fr["count"].sum() == N_DOCS
    assert fr["bucket_start"].is_monotonic_increasing
    pv = facet_pivot(attrs, ["lang", "site"]).toPandas()
    assert pv["count"].sum() == N_DOCS
    ru = facet_rollup(attrs, ["lang"]).toPandas()
    total_row = ru[ru["lang"].isna()]
    assert total_row["count"].iloc[0] == N_DOCS


def test_drill_sideways(spark, built, attrs):
    _, oracle, searcher = built
    term = oracle.term_stats.nlargest(1, "df")["term"].iloc[0]
    base = searcher._scored_candidates([term]).select("docid").distinct()
    en = attrs.filter(F.col("lang") == "en").select("docid")
    site_lo = attrs.filter(F.col("site") < 50).select("docid")
    out = drill_sideways(attrs, {"lang": en, "site": site_lo}, base)
    langs = out["lang"].toPandas()   # lang facet ignores the lang filter
    assert set(langs["lang"]) <= {"en", "de", "fr"}
    assert len(langs) >= 1


# ------------------------------------------------------------ stats/group

def test_stats_component(spark, attrs):
    got = stats(attrs, "n_chars").collect()[0]
    pdf = attrs.toPandas()["n_chars"]
    assert got["count"] == N_DOCS and got["missing"] == 0
    assert got["min"] == pdf.min() and got["max"] == pdf.max()
    assert abs(got["mean"] - pdf.mean()) < 1e-6
    assert abs(got["stddev"] - pdf.std(ddof=1)) < 1e-6
    per = stats_facet(attrs, "n_chars", "lang").toPandas()
    assert per["count"].sum() == N_DOCS


def test_grouped_topk(spark, built, attrs):
    _, oracle, searcher = built
    term = oracle.term_stats.nlargest(1, "df")["term"].iloc[0]
    scored = searcher._scored_candidates([term]).join(attrs, "docid")
    out = grouped_topk(scored, "lang", [F.desc("score"), F.asc("docid")],
                       n_groups=3, k_per_group=2).toPandas()
    assert out.groupby("lang").size().max() <= 2
    assert out["group_rank"].max() <= 3
    gc = group_distinct_count(scored, "lang").collect()[0]
    assert gc["ngroups"] <= 3


# ------------------------------------------------------------------- mlt

def test_more_like_this(spark, built):
    _, oracle, searcher = built
    seed = int(oracle.docids[0])
    q, topk = more_like_this(searcher, docid=seed, min_term_freq=1, k=5)
    res = topk.toPandas()
    assert len(q.should) > 0
    assert seed not in res["docid"].tolist()
    assert len(res) > 0


# ------------------------------------------------- highlight / suggest

def test_highlighter(spark, built):
    _, oracle, searcher = built
    term = oracle.term_stats.nlargest(1, "df")["term"].iloc[0]
    from lucene_solr_1_spark.solr.highlight import highlight, best_fragment
    topk = searcher.fetch_fields(searcher.search([term], "OR", 5))
    docs = spark.read.parquet(searcher.paths.docs).select("docid", "text")
    with_text = topk.join(docs, "docid")
    out = highlight(with_text, [term]).toPandas()
    assert all(f"<em>{term}</em>" in s for s in out["snippet"])
    assert best_fragment("", {term}) == ""
    assert "<em>" not in best_fragment("no match here", {term})


def test_suggest_and_spellcheck(spark, built):
    _, oracle, searcher = built
    from lucene_solr_1_spark.solr.suggest import spellcheck, suggest
    term = oracle.term_stats.nlargest(1, "df")["term"].iloc[0]
    sug = suggest(searcher, term[:3], n=5).toPandas()
    assert term in sug["term"].tolist()
    assert sug["df"].is_monotonic_decreasing
    # typo: swap last char
    typo = term[:-1] + ("x" if term[-1] != "x" else "y")
    sc = spellcheck(searcher, typo, max_edits=2).toPandas()
    assert term in sc["term"].tolist()
    exact = spellcheck(searcher, term).toPandas()
    assert exact["term"].iloc[0] == term and exact["distance"].iloc[0] == 0


# --------------------------------------------------------- function query

def test_function_query_sources(spark, built, attrs):
    from lucene_solr_1_spark.search.function_query import boost_by, fn, scale
    _, oracle, searcher = built
    term = oracle.term_stats.nlargest(1, "df")["term"].iloc[0]
    scored = searcher._scored_candidates([term]).join(attrs, "docid")
    out = (scored.withColumn("f", fn("sum", fn("ln", F.col("n_chars") + 1),
                                     fn("recip", F.col("site"), 1, 10, 10)))
           .select("docid", "f").toPandas())
    import math
    r0 = attrs.toPandas().set_index("docid")
    for _, row in out.head(20).iterrows():
        exp = math.log(r0.loc[row["docid"], "n_chars"] + 1) + 10 / (r0.loc[row["docid"], "site"] + 10)
        assert abs(row["f"] - exp) < 1e-9
    sc = attrs.withColumn("s", scale(attrs, F.col("n_chars"), 0.0, 1.0)).toPandas()
    assert sc["s"].min() >= 0 and sc["s"].max() <= 1.0 + 1e-12
    boosted = boost_by(scored, fn("ln", F.col("n_chars") + 1)).toPandas()
    assert (boosted["score"] != 0).any()


def test_head_term_fanout_buckets(spark, tmp_root):
    """Head-term skew salting: with a tiny TARGET_ROW_POSTINGS a frequent
    term must be split across multiple bucket rows with disjoint ranges."""
    from lucene_solr_1_spark.index import build as B
    docs_pdf = gen_docs(600)
    old = B.TARGET_ROW_POSTINGS
    B.TARGET_ROW_POSTINGS = 64
    try:
        root = os.path.join(tmp_root, "idx_salt")
        paths = B.build_index(spark, spark.createDataFrame(docs_pdf), root,
                              num_segments=4)
    finally:
        B.TARGET_ROW_POSTINGS = old
    post = spark.read.parquet(paths.postings)
    per_term = post.groupBy("term").count().toPandas()
    assert per_term["count"].max() > 1          # head terms actually split
    # the full invariant scan must hold ON THE SALTED LAYOUT — incl.
    # per-term bucket docid ranges disjoint and ordered (this caught a
    # real bug: seg-run buckets interleave docid ranges, because files
    # are hash-partitioned by route bucket, not docid-ordered)
    from lucene_solr_1_spark.index.checkindex import check_index
    assert check_index(spark, paths.root)["ok"]
    # and the split index still answers queries identically to the oracle
    oracle = build_oracle_index(docs_pdf["url"].to_numpy(),
                                docs_pdf["text"].to_numpy(), num_segments=4)
    from oracle import oracle_search
    searcher = IndexSearcher(spark, paths.root)
    head = oracle.term_stats.nlargest(1, "df")["term"].iloc[0]
    exp = oracle_search(oracle, [head], "OR", 10)
    got = searcher.search([head], "OR", 10).toPandas()
    assert got["docid"].tolist() == exp["docid"].tolist()
    assert np.array_equal(got["score"].to_numpy(np.float32),
                          exp["score"].to_numpy(np.float32))


# ---------------------------------------------- count/filters/terms/explain

def test_count_and_matching_docids(spark, built):
    _, oracle, searcher = built
    t1, t2 = oracle.term_stats.nlargest(2, "df")["term"].tolist()
    d1 = set(oracle.postings[t1][0].tolist())
    d2 = set(oracle.postings[t2][0].tolist())
    assert searcher.count([t1], "OR") == len(d1)
    assert searcher.count([t1, t2], "AND") == len(d1 & d2)
    assert searcher.count([t1, t2], "OR") == len(d1 | d2)
    from lucene_solr_1_spark.search.engine import BooleanQuery
    q = BooleanQuery(should=[t1], must_not=[t2], min_should_match=1)
    assert searcher.count(q) == len(d1 - d2)
    # filter cache returns the same persisted set
    f1 = searcher.cached_filter([t1], "OR")
    f2 = searcher.cached_filter([t1], "OR")
    assert f1 is f2 and f1.count() == len(d1)


def test_terms_component(spark, built):
    _, oracle, searcher = built
    head = oracle.term_stats.nlargest(1, "df")["term"].iloc[0]
    out = searcher.terms(prefix=head[:2], limit=50).toPandas()
    assert head in out["term"].tolist()
    assert out["df"].is_monotonic_decreasing
    rx = searcher.terms(regex="^" + head[:3] + ".*", sort_by_df=False).toPandas()
    assert rx["term"].is_monotonic_increasing


def test_explain(spark, built):
    _, oracle, searcher = built
    head = oracle.term_stats.nlargest(1, "df")["term"].iloc[0]
    docid = int(oracle.postings[head][0][0])
    ex = searcher.explain(head, docid)
    assert ex["match"] and ex["details"]["freq"] >= 1
    # explanation score equals the search-path score contribution
    from oracle import oracle_search
    got = oracle_search(oracle, [head], "OR", k=10**6)
    row = got[got["docid"] == docid]
    assert np.float32(ex["score"]) == row["score"].iloc[0]
    assert not searcher.explain(head, 2**60)["match"]
    assert not searcher.explain("zzzznotaterm", docid)["match"]


# -------------------------------------------- extra analysis + wildcard

def test_extra_analysis_stages(spark):
    from lucene_solr_1_spark.analysis.extra import (
        ascii_fold_expr, edge_ngrams_expr, shingles_expr)
    from analysis_twins import (
        ascii_fold_py, edge_ngrams_py, ngrams_py, shingles_py)
    assert ascii_fold_py("café naïve") == "cafe naive"
    assert shingles_py(["a", "b", "c"], 2) == ["a b", "b c"]
    assert ngrams_py("spark", 3) == ["spa", "par", "ark"]
    assert edge_ngrams_py("spark", 1, 3) == ["s", "sp", "spa"]
    df = spark.createDataFrame([("café naïve", ["a", "b", "c"], "spark")],
                               "t string, arr array<string>, w string")
    row = df.select(ascii_fold_expr("t").alias("f"),
                    shingles_expr(F.col("arr"), 2).alias("sh"),
                    edge_ngrams_expr(F.col("w"), 1, 3).alias("eg")).collect()[0]
    assert row["f"] == "cafe naive"
    assert row["sh"] == ["a b", "b c"]
    assert row["eg"] == ["s", "sp", "spa"]


def test_wildcard_query_rewrite(spark, built):
    _, oracle, searcher = built
    term = oracle.term_stats.nlargest(1, "df")["term"].iloc[0]
    pat = term[0] + "*" + term[-1]
    q = parse_query(pat, searcher)
    assert term in q.should
    for t in q.should:
        assert t.startswith(term[0]) and t.endswith(term[-1])


def test_word_delimiter_parity(spark):
    import pandas as pd
    from pyspark.sql import functions as F
    from lucene_solr_1_spark.analysis.extra import word_delimiter_expr
    from analysis_twins import word_delimiter_py
    toks = ["PowerShot", "wi-fi", "x86_64", "SD500", "foo", "O.K",
            "camelCaseWord", "3dsMax9"]
    assert word_delimiter_py("PowerShot") == ["Power", "Shot"]
    assert word_delimiter_py("wi-fi") == ["wi", "fi"]
    assert word_delimiter_py("wi-fi", catenate=True) == ["wi", "fi", "wifi"]
    assert word_delimiter_py("SD500") == ["SD", "500"]
    assert word_delimiter_py("foo") == ["foo"]
    assert word_delimiter_py("wi-fi", preserve_original=True) == \
        ["wi-fi", "wi", "fi"]
    df = spark.createDataFrame(pd.DataFrame({"t": toks}))
    for cat in (False, True):
        got = df.select(word_delimiter_expr(F.col("t"), catenate=cat)
                        .alias("o")).toPandas()["o"]
        exp = [word_delimiter_py(t, catenate=cat) for t in toks]
        assert [list(x) for x in got] == exp


def test_cjk_bigrams_parity(spark):
    import pandas as pd
    from pyspark.sql import functions as F
    from lucene_solr_1_spark.analysis.extra import cjk_bigrams_expr
    from analysis_twins import cjk_bigrams_py
    rows = [["hello", "日本語", "中"], [], ["中文搜索", "x86"]]
    assert cjk_bigrams_py(["日本語"]) == ["日本", "本語"]
    assert cjk_bigrams_py(["中"]) == ["中"]
    df = spark.createDataFrame(pd.DataFrame({"toks": rows}))
    got = df.select(cjk_bigrams_expr(F.col("toks")).alias("o")).toPandas()["o"]
    exp = [cjk_bigrams_py(r) for r in rows]
    assert [list(x) for x in got] == exp


def test_parse_range_and_phrase_slop():
    cls = parse_clauses('[aa TO dz] {m TO p} "hash join"~2 plain')
    assert cls[0].kind == "range"
    assert cls[0].range_bounds == ("aa", "dz", True, True)
    assert cls[1].kind == "range"
    assert cls[1].range_bounds == ("m", "p", False, False)
    assert cls[2].kind == "phrase" and cls[2].slop == 2
    assert cls[2].text == "hash join"
    assert cls[3].kind == "term"


def test_parse_range_expansion(spark, built):
    _, oracle, searcher = built
    terms = sorted(oracle.postings)
    lo, hi = terms[1], terms[min(6, len(terms) - 1)]
    q = parse_query(f"[{lo} TO {hi}]", searcher, max_expansions=1000)
    exp = {t for t in terms if lo <= t <= hi}
    assert set(q.should) == exp
    q2 = parse_query("{%s TO %s}" % (lo, hi), searcher, max_expansions=1000)
    exp2 = {t for t in terms if lo < t < hi}
    assert set(q2.should) == exp2


def test_time_limiting_collector(spark, built):
    """TimeLimitingCollector analog: a slow job is cancelled and raises
    TimeExceededException; a fast one returns its rows."""
    import time as _t

    import pandas as pd
    import pytest as _pytest

    from lucene_solr_1_spark.search.engine import (TimeExceededException,
                                                   collect_time_limited)
    _, oracle, searcher = built
    head = oracle.term_stats.nlargest(1, "df")["term"].iloc[0]
    fast = searcher.search([head], k=5)
    rows = collect_time_limited(spark, fast, timeout_ms=120_000)
    assert len(rows) == 5

    def slow(batches):
        for pdf in batches:
            _t.sleep(30)
            yield pdf

    slow_df = spark.range(8).repartition(8).mapInPandas(
        slow, schema="id long")
    t0 = _t.time()
    with _pytest.raises(TimeExceededException):
        collect_time_limited(spark, slow_df, timeout_ms=1500)
    assert _t.time() - t0 < 25   # cancelled, not run to completion


def test_filtered_query_numeric_range_composes_with_scoring(spark, built):
    """FilteredQuery / NumericRangeFilter composition (FilteredQuery.java
    :44): a docs-table predicate restricts hits, scores unchanged —
    numeric range + BM25 term scoring in ONE query."""
    import numpy as np

    docs_pdf, oracle, searcher = built
    head = oracle.term_stats.nlargest(1, "df")["term"].iloc[0]
    pred = "length(text) BETWEEN 200 AND 520"
    got = searcher.search([head], k=15, doc_filter=pred).toPandas()
    allowed = {oracle.docids[i] for i, t in enumerate(
        [docs_pdf.set_index("url")["text"][u] for u in oracle.urls])
        if 200 <= len(t) <= 520}
    base = searcher.search([head], k=3000).toPandas()
    exp = base[base["docid"].isin(allowed)].head(15)
    assert got["docid"].tolist() == exp["docid"].tolist()
    assert np.array_equal(got["score"].to_numpy(np.float32),
                          exp["score"].to_numpy(np.float32))
    assert got["rank"].tolist() == list(range(1, len(got) + 1))


def test_pattern_and_mapping_factories(spark):
    """MappingCharFilter / PatternTokenizer / PatternReplace / Length /
    Trim / Keyword factory analogs: Python form = reference semantics
    (longest-match, non-rescanning), JVM expr form parity-checked."""
    from lucene_solr_1_spark.analysis.extra import (
        keyword_tokenize_expr, length_filter_expr, mapping_charfilter_expr,
        pattern_replace_expr, pattern_tokenize_expr, trim_filter_expr)
    from analysis_twins import (
        keyword_tokenize_py, length_filter_py, mapping_charfilter_py,
        pattern_replace_py, pattern_tokenize_py, trim_filter_py)
    # longest match wins at each position (NormalizeCharMap FST semantics)
    assert mapping_charfilter_py("aaa", {"a": "b", "aa": "c"}) == "cb"
    # replacement output is not rescanned
    assert mapping_charfilter_py("aab", {"ab": "ba"}) == "aba"
    fold = {"œ": "oe", "æ": "ae", "ß": "ss", "ﬁ": "fi"}
    assert mapping_charfilter_py("œuvre straße ﬁn", fold) == \
        "oeuvre strasse fin"
    assert pattern_tokenize_py("a-b--c", r"-+") == ["a", "b", "c"]
    assert pattern_tokenize_py("x=1; y=22", r"(\w+)=(\d+)", group=2) == \
        ["1", "22"]
    assert pattern_replace_py(["foo123", "bar"], r"\d+", "#") == ["foo#", "bar"]
    assert length_filter_py(["a", "ab", "abc", "abcd"], 2, 3) == ["ab", "abc"]
    assert trim_filter_py(["  a ", "b"]) == ["a", "b"]
    assert keyword_tokenize_py("as is") == ["as is"]
    assert keyword_tokenize_py("") == []
    # JVM expr parity on a realistic batch (fold map: replacements
    # contain no mapping source, the documented expr-parity condition)
    texts = ["œuvre straße", "plain text", "ﬁne ﬁt æon", ""]
    df = spark.createDataFrame(pd.DataFrame({"t": texts}))
    got = df.select(mapping_charfilter_expr("t", fold).alias("o")
                    ).toPandas()["o"].tolist()
    assert got == [mapping_charfilter_py(t, fold) for t in texts]
    toks = [["  a ", "foo123", "x", "abcd"], [], ["ab", "no9no"]]
    tdf = spark.createDataFrame(pd.DataFrame({"toks": toks}))
    got2 = tdf.select(
        pattern_replace_expr(F.col("toks"), r"\d+", "#").alias("pr"),
        length_filter_expr(F.col("toks"), 2, 4).alias("lf"),
        trim_filter_expr(F.col("toks")).alias("tr")).toPandas()
    assert [list(x) for x in got2["pr"]] == \
        [pattern_replace_py(t, r"\d+", "#") for t in toks]
    assert [list(x) for x in got2["lf"]] == \
        [length_filter_py(t, 2, 4) for t in toks]
    assert [list(x) for x in got2["tr"]] == [trim_filter_py(t) for t in toks]
    sdf = spark.createDataFrame(pd.DataFrame({"t": ["a-b--c", "", "x=1 y=2"]}))
    got3 = sdf.select(
        pattern_tokenize_expr("t", r"-+").alias("sp"),
        pattern_tokenize_expr("t", r"(\w+)=(\d+)", group=2).alias("gx"),
        keyword_tokenize_expr("t").alias("kw")).toPandas()
    assert [list(x) for x in got3["sp"]] == \
        [pattern_tokenize_py(t, r"-+") for t in ["a-b--c", "", "x=1 y=2"]]
    assert [list(x) for x in got3["gx"]] == \
        [pattern_tokenize_py(t, r"(\w+)=(\d+)", 2) for t in ["a-b--c", "", "x=1 y=2"]]
    assert [list(x) for x in got3["kw"]] == \
        [keyword_tokenize_py(t) for t in ["a-b--c", "", "x=1 y=2"]]


def test_qparser_registry_and_search_handler(spark, built):
    """QParserPlugin registry + SearchComponent chain: the default
    handler returns hits identical to a direct engine search, facet
    counts over the hit set, and a highlight per hit."""
    from lucene_solr_1_spark.solr.components import (UpdateProcessorChain,
                                                     default_handler,
                                                     get_qparser)
    docs_pdf, oracle, searcher = built
    head = oracle.term_stats.nlargest(1, "df")["term"].iloc[0]
    # registry resolves the standard names; unknown name raises
    for name in ("lucene", "dismax", "edismax", "term", "prefix"):
        assert callable(get_qparser(name))
    import pytest as _pt
    with _pt.raises(KeyError):
        get_qparser("nope")
    handler = default_handler()
    resp = handler.handle(searcher, {"q": head, "rows": 5,
                                     "facet.field": "url", "hl": True})
    hits = resp["hits"].toPandas()
    direct = searcher.search([head], "OR", 5).toPandas()
    assert hits["docid"].tolist() == direct["docid"].tolist()
    facets = resp["facets"].toPandas()
    assert facets["count"].sum() == 5 and set(facets.columns) == {"url",
                                                                  "count"}
    hl = resp["highlighting"].toPandas()
    assert len(hl) == 5
    # term parser: raw term, no analysis
    bq = get_qparser("term")(head, searcher)
    assert bq.should == [head]
    # update processor chain composes left-to-right
    from pyspark.sql import functions as SF
    chain = (UpdateProcessorChain()
             .then(lambda df: df.filter(SF.length("text") > 100))
             .then(lambda df: df.withColumn("n", SF.length("text"))))
    out = chain.process(spark.createDataFrame(docs_pdf[["url", "text"]]))
    assert "n" in out.columns
    assert out.count() == int((docs_pdf["text"].str.len() > 100).sum())


def test_multi_collector_and_caching_collector(spark, built):
    """MultiCollector: one materialized match set feeds several
    aggregations; CachingCollector: replay without re-search."""
    from lucene_solr_1_spark.search.engine import (CachingCollector,
                                                   multi_collect)
    _, oracle, searcher = built
    head = oracle.term_stats.nlargest(1, "df")["term"].iloc[0]
    matches = searcher.search([head], "OR", k=10**6)
    out = multi_collect(matches, {
        "count": [F.count("*").alias("n")],
        "stats": [F.min("score").alias("mn"), F.max("score").alias("mx")]})
    n_exp = len(oracle.postings[head][0])
    assert out["count"]["n"].iloc[0] == n_exp
    assert out["stats"]["mn"].iloc[0] <= out["stats"]["mx"].iloc[0]
    cc = CachingCollector(searcher.search([head], "OR", k=10**6))
    try:
        a = cc.replay().count()
        b = cc.replay().agg(F.count("*")).collect()[0][0]
        assert a == b == n_exp
    finally:
        cc.release()


def test_searcher_value_sources(spark, built):
    """Stat-backed ValueSources (idf/docfreq/maxdoc/ttf) equal the
    oracle stats; query(...) source joins per-doc scores with defVal=0."""
    import numpy as np

    from lucene_solr_1_spark.search.bm25 import idf as bm25_idf
    from lucene_solr_1_spark.search.function_query import (query_source,
                                                           searcher_sources)
    _, oracle, searcher = built
    head = oracle.term_stats.nlargest(1, "df")["term"].iloc[0]
    src = searcher_sources(searcher)
    row = spark.range(1).select(
        src["maxdoc"]().alias("n"), src["docfreq"](head).alias("df"),
        src["totaltermfreq"](head).alias("ttf"),
        src["idf"](head).alias("idf")).collect()[0]
    d, tf, _ = oracle.postings[head]
    assert row["n"] == oracle.max_doc
    assert row["df"] == len(d)
    assert row["ttf"] == int(tf.sum())
    assert np.float32(row["idf"]) == bm25_idf(len(d), oracle.max_doc)
    qs = query_source(searcher, [head]).toPandas()
    assert set(qs["docid"]) == set(d.tolist())
    # norm(field): (docid, norm) DataFrame == decoded stored norm bytes
    from lucene_solr_1_spark.index.smallfloat import byte315_to_float
    nb = oracle.postings[head][2]
    norms = src["norm"]().toPandas().set_index("docid")["norm"]
    got = norms.loc[list(d)].to_numpy(np.float32)
    assert np.array_equal(got, byte315_to_float(nb))


def test_common_grams_and_protection_filters():
    """CommonGramsFilter/-QueryFilter javadoc examples; KeywordMarker +
    StemmerOverride protection in stem_vocab; KeepWord/TypeToken."""
    from lucene_solr_1_spark.analysis.extra import (common_grams,
                                                    common_grams_query,
                                                    keep_words,
                                                    type_token_filter)
    from lucene_solr_1_spark.analysis.stemmer import stem_vocab
    toks = "the quick brown fox".split()
    assert common_grams(toks, {"the"}) == \
        ["the", "the_quick", "quick", "brown", "fox"]
    q = "the rain in spain falls mainly".split()
    assert common_grams_query(q, {"the", "in"}) == \
        ["the_rain", "rain_in", "in_spain", "falls", "mainly"]
    v = stem_vocab(["running", "maxwell", "flies"],
                   protected={"maxwell"}, overrides={"flies": "fly"})
    assert v == {"running": "run", "maxwell": "maxwell", "flies": "fly"}
    assert keep_words(["a", "b", "c"], {"b"}) == ["b"]
    assert type_token_filter(["x", "42"], ["ALPHANUM", "NUM"], {"NUM"}) \
        == ["42"]
    assert type_token_filter(["x", "42"], ["ALPHANUM", "NUM"], {"NUM"},
                             use_white_list=False) == ["x"]


def test_analyzing_and_fuzzy_suggester(spark, tmp_root):
    """AnalyzingSuggester: analyzed-prefix match (stopwords removed,
    lowercased) returning surface forms by weight; FuzzySuggester
    tolerates edits in the analyzed prefix."""
    import os as _os

    from lucene_solr_1_spark.solr.suggest import (analyzing_suggest,
                                                  build_suggester)
    titles = pd.DataFrame({
        "title": ["The Ghost Writer", "Ghost Busters", "Ghost",
                  "Ghastly Tales", "Gone Girl"],
        "weight": [50, 90, 10, 5, 70]})
    path = _os.path.join(tmp_root, "suggester")
    build_suggester(spark, spark.createDataFrame(titles), "title",
                    "weight", path, out_partitions=2)
    got = analyzing_suggest(spark, path, "Gho").toPandas()
    # "The Ghost Writer" analyzes to "ghost writer" (stopword dropped),
    # so it matches the analyzed prefix; ranked by weight desc
    assert got["surface"].tolist() == \
        ["Ghost Busters", "The Ghost Writer", "Ghost"]
    fz = analyzing_suggest(spark, path, "Gha", fuzzy_edits=1).toPandas()
    assert "Ghastly Tales" in set(fz["surface"])
    assert "Ghost Busters" in set(fz["surface"])   # 1 edit in prefix


def test_func_frange_boost_field_raw_parsers(spark, built):
    """QParser registry depth (VERDICT r2 #7): func/frange execute over
    the ValueSource surface; boost multiplies engine scores by a
    function; field analyzes to term-or-phrase; raw skips analysis."""
    import numpy as np
    from pyspark.sql import functions as SF
    from lucene_solr_1_spark.search.function_query import parse_func_expr
    from lucene_solr_1_spark.solr.components import get_qparser
    docs_pdf, oracle, searcher = built

    # parse_func_expr: literals, nesting, field refs, unknown name
    col = parse_func_expr("product(sum(docid,1),2)")
    row = spark.range(3).withColumnRenamed("id", "docid") \
        .select(col.alias("v")).collect()
    assert [r["v"] for r in row] == [2.0, 4.0, 6.0]
    import pytest as _pt
    with _pt.raises(KeyError):
        parse_func_expr("nosuchfn(1)")
    # ADVICE r4: join-style sources (norm -> DataFrame) must fail loud,
    # not crash deep inside Catalyst with an AttributeError
    from lucene_solr_1_spark.search.function_query import searcher_sources
    with _pt.raises(ValueError, match="norm"):
        parse_func_expr("norm()", sources=searcher_sources(searcher))
    with _pt.raises(ValueError, match="norm"):
        parse_func_expr("product(norm(),2)",
                        sources=searcher_sources(searcher))

    # func: every doc matches, score = expression; here div(docid, 2).
    # expected ordering replicates the engine's float32 score discipline
    # (large docids collapse in float32; docid asc breaks ties)
    res = get_qparser("func")("div(docid,2)", searcher, k=5).toPandas()
    docs = spark.read.parquet(searcher.paths.docs).toPandas()
    docs["f"] = (docs["docid"] / 2.0).astype(np.float32)
    top = docs.sort_values(["f", "docid"],
                           ascending=[False, True])["docid"].head(5)
    assert res["docid"].tolist() == top.tolist()
    assert np.allclose(res["score"], docs.set_index("docid")
                       .loc[res["docid"], "f"], rtol=1e-6)

    # frange: constant-score filter l <= f(doc) <= u
    lo, hi = docs["docid"].quantile([0.25, 0.75]).tolist()
    fr = get_qparser("frange")("div(docid,1)", searcher,
                               l=lo, u=hi).toPandas()
    exp = docs[(docs["docid"] >= lo) & (docs["docid"] <= hi)]["docid"]
    assert set(fr["docid"]) == set(exp) and (fr["score"] == 1.0).all()

    # boost: scores multiplied by the function value
    head = oracle.term_stats.nlargest(1, "df")["term"].iloc[0]
    plain = searcher.search([head], "OR", k=10**6).toPandas() \
        .set_index("docid")["score"]
    boosted = get_qparser("boost")(head, searcher, b="2", k=10).toPandas()
    for _, r in boosted.iterrows():
        assert np.float32(r["score"]) == np.float32(
            np.float32(plain.loc[r["docid"]]) * np.float32(2.0))

    # raw: exact term, no analysis ('The' stays 'The' and misses)
    bq = get_qparser("raw")("The", searcher)
    assert bq.should == ["The"]
    # field: single token -> term; multi-token -> exact phrase
    f1 = get_qparser("field")(head, searcher)
    assert f1.should == [head]
    f2 = get_qparser("field")(f"{head} {head}", searcher)
    assert len(f2.phrases) == 1 and f2.phrases[0].terms == (head, head)


def test_elision_filter(spark):
    """ElisionFilter (util/ElisionFilter.java:33): leading article +
    apostrophe stripped; Python == JVM expr."""
    from pyspark.sql import functions as SF

    from lucene_solr_1_spark.analysis.extra import elision_expr
    from analysis_twins import elision_py
    toks = ["l'avion", "qu'il", "plane", "aujourd'hui", "d'art",
            "L'Homme", "j’aime"]
    exp = ["avion", "il", "plane", "aujourd'hui", "art", "Homme", "aime"]
    assert elision_py(toks) == exp
    df = spark.createDataFrame([(toks,)], "toks array<string>")
    got = list(df.select(elision_expr(SF.col("toks")).alias("o"))
               .collect()[0]["o"])
    assert got == exp


def test_switch_nested_parsers():
    """SwitchQParserPlugin param dispatch; NestedQParserPlugin
    delegation (registered as 'query', like Solr)."""
    from lucene_solr_1_spark.solr.components import get_qparser
    sw = get_qparser("switch")
    bq = sw("x", None, **{"case.x": "foo bar", "default": "baz"})
    assert bq.should == ["foo", "bar"]
    assert sw("zz", None, **{"case.x": "foo", "default": "baz"}).should \
        == ["baz"]
    import pytest as _pt
    with _pt.raises(KeyError):
        sw("zz", None, **{"case.x": "foo"})
    nested = get_qparser("query")
    assert nested("ignored", None, defType="lucene", v="hello").should \
        == ["hello"]


def test_join_qparser(spark, built):
    """JoinQParserPlugin: {!join from=site to=site}subquery — docs
    whose site matches a site containing subquery hits (the classic
    same-core self-join). Oracle: set algebra over the attrs table."""
    from pyspark.sql import functions as SF

    from lucene_solr_1_spark.solr.components import get_qparser
    docs_pdf, oracle, searcher = built
    import pandas as pd
    pos = {u: i for i, u in enumerate(oracle.urls)}
    attrs = spark.createDataFrame(pd.DataFrame({
        "docid": [int(oracle.docids[pos[u]]) for u in docs_pdf["url"]],
        "site": docs_pdf["url"].str.extract(r"site(\d+)")[0].astype(int),
    }))
    head = oracle.term_stats.nlargest(1, "df")["term"].iloc[0]
    got = get_qparser("join")(head, searcher, attrs=attrs,
                              **{"from": "site", "to": "site"}).toPandas()
    # oracle: sites of matching docs -> all docs on those sites
    match_ids = set(oracle.postings[head][0].tolist())
    ap = attrs.toPandas()
    sites = set(ap[ap["docid"].isin(match_ids)]["site"])
    exp = set(ap[ap["site"].isin(sites)]["docid"])
    assert set(got["docid"]) == exp
    assert (got["score"] == 1.0).all()


def test_geofilt_bbox_maxscore_parsers(spark, built, tmp_path):
    """Registry completion: geofilt/bbox over the quad index;
    maxscore combines SHOULD with max + tie."""
    import numpy as np
    from pyspark.sql import functions as SF

    from lucene_solr_1_spark.search.spatial import (build_spatial_index,
                                                    haversine_km_expr)
    from lucene_solr_1_spark.solr.components import get_qparser
    docs_pdf, oracle, searcher = built
    rng = np.random.RandomState(4)
    pts = spark.createDataFrame(pd.DataFrame({
        "docid": np.arange(500),
        "lat": rng.uniform(-60, 60, 500),
        "lon": rng.uniform(-170, 170, 500)}))
    path = str(tmp_path / "sp_idx")
    build_spatial_index(spark, pts, "lat", "lon", path, level=9,
                        out_partitions=2)
    got = get_qparser("geofilt")("", searcher, spatial_index=path,
                                 pt="10.0,20.0", d=2500.0).toPandas()
    exp = pts.withColumn("dk", haversine_km_expr(
        SF.col("lat"), SF.col("lon"), 10.0, 20.0)) \
        .filter(SF.col("dk") <= 2500.0).toPandas()
    assert set(got["docid"]) == set(exp["docid"])
    bb = get_qparser("bbox")("", searcher, spatial_index=path,
                             pt="10.0,20.0", d=2500.0).toPandas()
    assert set(exp["docid"]) <= set(bb["docid"])   # bbox relaxation

    heads = oracle.term_stats.nlargest(2, "df")["term"].tolist()
    ms = get_qparser("maxscore")(f"{heads[0]} {heads[1]}", searcher,
                                 k=15).toPandas()
    a = searcher.search([heads[0]], k=10**6).toPandas() \
        .set_index("docid")["score"]
    b = searcher.search([heads[1]], k=10**6).toPandas() \
        .set_index("docid")["score"]
    exp_scores = {}
    for d in set(a.index) | set(b.index):
        exp_scores[d] = np.float32(max(np.float32(a.get(d, 0.0)),
                                       np.float32(b.get(d, 0.0))))
    top = sorted(exp_scores.items(), key=lambda kv: (-kv[1], kv[0]))[:15]
    assert ms["docid"].tolist() == [d for d, _ in top]


def test_misc_token_filters_r4():
    """r4 factory batch: ReverseString, Capitalization,
    RemoveDuplicates, Apostrophe, HyphenatedWords, LimitTokenCount —
    javadoc-example semantics."""
    from analysis_twins import (
        apostrophe_py, capitalization_py, hyphenated_words_py,
        limit_token_count_py, remove_duplicates_py, reverse_string_py)
    assert reverse_string_py(["Do", "have", "a", "nice", "day"]) == \
        ["oD", "evah", "a", "ecin", "yad"]
    assert capitalization_py(["kiTTEN"]) == ["Kitten"]
    assert capitalization_py(["and"], keep={"and"}) == ["And"]
    assert capitalization_py(["hello thEre my Name is ryan"],
                             only_first_word=True) == \
        ["Hello there my name is ryan"]
    assert remove_duplicates_py(
        ["blue", "sky", "sky", "above"]) == ["blue", "sky", "above"]
    assert remove_duplicates_py(
        ["blue", "blue", "sky", "sky"], [1, 0, 1, 1]) == \
        ["blue", "sky", "sky"]
    assert apostrophe_py(["Türkiye'de", "2003'te", "plain"]) == \
        ["Türkiye", "2003", "plain"]
    assert hyphenated_words_py(
        ["ecologi-", "cal", "said"]) == ["ecological", "said"]
    assert hyphenated_words_py(["trailing-"]) == ["trailing"]
    assert limit_token_count_py(list("abcdef"), 3) == ["a", "b", "c"]


def test_misc_filter_exprs_r4(spark):
    from pyspark.sql import functions as SF

    from lucene_solr_1_spark.analysis.extra import (limit_token_count_expr,
                                                    reverse_string_expr)
    df = spark.createDataFrame([(["abc", "xy"],)], "toks array<string>")
    row = df.select(
        reverse_string_expr(SF.col("toks")).alias("r"),
        limit_token_count_expr(SF.col("toks"), 1).alias("l")).collect()[0]
    assert list(row["r"]) == ["cba", "yx"]
    assert list(row["l"]) == ["abc"]


def test_value_source_registry_breadth_r4(spark):
    """ValueSourceParser math/bool/geo block (ValueSourceParser.java
    static init): each name folds to one Catalyst expression and
    evaluates to the reference semantics."""
    import math

    from lucene_solr_1_spark.search.function_query import parse_func_expr

    df = spark.range(1).select(
        F.lit(2.0).alias("x"), F.lit(0.5).alias("y"),
        F.lit(3.0).alias("z"))

    def ev(expr):
        return df.select(parse_func_expr(expr).alias("v")).collect()[0]["v"]

    assert abs(ev("sin(y)") - math.sin(0.5)) < 1e-12
    assert abs(ev("atan2(x,z)") - math.atan2(2, 3)) < 1e-12
    assert abs(ev("hypot(z,x)") - math.hypot(3, 2)) < 1e-12
    assert ev("ceil(y)") == 1 and ev("floor(y)") == 0
    assert abs(ev("cbrt(sum(x,6))") - 2.0) < 1e-12
    assert abs(ev("deg(pi())") - 180.0) < 1e-9
    assert abs(ev("rad(180)") - math.pi) < 1e-12
    assert abs(ev("e()") - math.e) < 1e-12
    assert ev("mod(z,x)") == 1.0
    assert ev("if(true(),x,z)") == 2.0
    assert ev("if(not(true()),x,z)") == 3.0
    assert ev("and(true(),false())") is False
    assert ev("or(true(),false())") is True
    assert ev("xor(true(),true())") is False
    # map(x,min,max,target): in-range replaced, out-of-range kept
    assert ev("map(x,0,10,5)") == 5.0
    assert ev("map(z,0,1,5)") == 3.0
    # sqedist / dist (p-norm) / hsin great-circle
    assert ev("sqedist(0,0,z,4)") == 25.0
    assert abs(ev("dist(2,0,0,z,4)") - 5.0) < 1e-12
    assert abs(ev("dist(1,0,0,z,4)") - 7.0) < 1e-12
    km = ev("hsin(6371.0088,48.85,2.35,48.85,2.35)")
    assert abs(km) < 1e-9
    # strdist: the reference's full measure set (ValueSourceParser
    # .java:351-375) — edit / jw / ngram(n), reference-exact values
    assert abs(ev("strdist('kitten','sitting','edit')")
               - (1 - 3 / 7)) < 1e-12
    from lucene_solr_1_spark.solr.spelldist import (jaro_winkler,
                                                    ngram_distance)
    assert abs(ev("strdist('martha','marhta','jw')")
               - jaro_winkler("martha", "marhta")) < 1e-9
    assert abs(ev("strdist('martha','marhta','ngram')")
               - ngram_distance("martha", "marhta", 2)) < 1e-9
    assert abs(ev("strdist('martha','marhta','ngram',3)")
               - ngram_distance("martha", "marhta", 3)) < 1e-9
    assert ev("exists(field(x))") is True


def test_english_possessive_and_norwegian_minimal_r4(spark):
    from pyspark.sql import functions as SF

    from lucene_solr_1_spark.analysis.extra import english_possessive_expr
    from analysis_twins import english_possessive_py
    from lucene_solr_1_spark.analysis.stemmer import stem_vocab
    toks = ["O'Reilly's", "dog’s", "cats", "parens'S"]
    exp = ["O'Reilly", "dog", "cats", "parens"]
    assert english_possessive_py(toks) == exp
    df = spark.createDataFrame([(toks,)], "toks array<string>")
    got = list(df.select(english_possessive_expr(SF.col("toks"))
                         .alias("o")).collect()[0]["o"])
    assert got == exp
    # NorwegianMinimalStemFilter javadoc cases (bokmaal)
    for w, s in (("husene", "hus"), ("gutter", "gutt"),
                 ("kaker", "kak"), ("kake", "kak"), ("hus", "hus")):
        assert stem_vocab([w], algorithm="norwegian_minimal") == {w: s}


def test_spellcheck_collation(spark, built):
    _, oracle, searcher = built
    from lucene_solr_1_spark.solr.suggest import collate
    t1, t2 = oracle.term_stats.nlargest(2, "df")["term"].tolist()
    typo = t1[:-1] + ("x" if t1[-1] != "x" else "y")
    out = collate(searcher, f"{typo} {t2}")
    assert out["collation"] == f"{t1} {t2}"
    assert out["hits"] > 0
    # the reported hits is the TRUE conjunction count, not top-1-capped
    # (ADVICE r4: SpellCheckCollator reports actual hits)
    assert out["hits"] == searcher.count([t1, t2], op="AND")
    assert typo in out["corrections"]
    # all-known query needs no collation work
    clean = collate(searcher, f"{t1} {t2}")
    assert clean["corrections"] == {} and clean["collation"] == f"{t1} {t2}"
    # hopeless garble yields no verified collation
    none = collate(searcher, "zzzqqqxxx")
    assert none["collation"] is None and none["hits"] == 0
