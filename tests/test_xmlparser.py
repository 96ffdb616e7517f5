"""XML query parser (CoreParser analog) vs direct-API equivalents
(ref: lucene/queryparser/src/java/org/apache/lucene/queryparser/xml/
CoreParser.java:34)."""

import os

import numpy as np
import pytest

from lucene_solr_1_spark.fixtures.webtext import gen_docs
from lucene_solr_1_spark.index.build import build_index
from oracle import build_oracle_index
from lucene_solr_1_spark.search.engine import IndexSearcher
from lucene_solr_1_spark.search.xmlparser import parse_xml_query, xml_search


@pytest.fixture(scope="module")
def built(spark, tmp_root):
    docs_pdf = gen_docs(400)
    oracle = build_oracle_index(docs_pdf["url"].to_numpy(),
                                docs_pdf["text"].to_numpy(), num_segments=4)
    root = os.path.join(tmp_root, "idx_xmlq")
    paths = build_index(spark, spark.createDataFrame(docs_pdf), root,
                        num_segments=4, positions=True)
    return docs_pdf, oracle, IndexSearcher(spark, paths.root)


def _heads(oracle, n=4):
    return oracle.term_stats.nlargest(n, "df")["term"].tolist()


def test_term_and_boolean_query(spark, built):
    _, oracle, s = built
    h = _heads(oracle)
    xml = f"""<BooleanQuery>
      <Clause occurs="should"><TermQuery>{h[0]}</TermQuery></Clause>
      <Clause occurs="should"><TermQuery>{h[1]}</TermQuery></Clause>
      <Clause occurs="mustNot"><TermQuery>{h[2]}</TermQuery></Clause>
    </BooleanQuery>"""
    got = xml_search(s, xml, k=20).toPandas()
    exp = s.search(parse_xml_query(xml, s, k=20)).toPandas()
    direct = s.search([h[0], h[1]], "OR", k=10**6).toPandas()
    excl = set(oracle.postings[h[2]][0].tolist())
    direct = direct[~direct["docid"].isin(excl)].head(20)
    assert got["docid"].tolist() == direct["docid"].tolist()
    assert np.array_equal(got["score"].to_numpy(np.float32),
                          direct["score"].to_numpy(np.float32))
    assert exp["docid"].tolist() == got["docid"].tolist()


def test_boosted_term_and_user_query(spark, built):
    _, oracle, s = built
    h = _heads(oracle)
    bq = parse_xml_query(
        f'<TermQuery boost="2.5">{h[0]}</TermQuery>', s)
    assert bq.boosts == {h[0]: 2.5}
    u = parse_xml_query(f"<UserQuery>{h[0]} -{h[1]}</UserQuery>", s)
    assert h[0] in u.should and h[1] in u.must_not


def test_duplicate_boosts_accumulate_like_parse_query(spark, built):
    """ADVICE r3: an unboosted + a ^2 occurrence must sum to 3.0,
    mirroring parse_query's accumulate-then-fold — and the same term
    reaching through a UserQuery keeps accumulating."""
    from lucene_solr_1_spark.search.queryparser import parse_query
    _, oracle, s = built
    h = _heads(oracle)
    xml = f"""<BooleanQuery>
      <Clause occurs="should"><TermQuery>{h[0]}</TermQuery></Clause>
      <Clause occurs="should"><TermQuery boost="2.0">{h[0]}</TermQuery></Clause>
    </BooleanQuery>"""
    bq = parse_xml_query(xml, s)
    ref = parse_query(f"{h[0]} {h[0]}^2", s)
    assert bq.boosts == ref.boosts == {h[0]: 3.0}
    # via UserQuery: inner unboosted occurrence + outer ^2 -> 3.0
    xml = f"""<BooleanQuery>
      <Clause occurs="should"><UserQuery>{h[0]}</UserQuery></Clause>
      <Clause occurs="should"><TermQuery boost="2.0">{h[0]}</TermQuery></Clause>
    </BooleanQuery>"""
    assert parse_xml_query(xml, s).boosts == {h[0]: 3.0}
    # two plain unboosted occurrences -> 2.0 (parse_query: `foo foo`)
    xml = f"""<BooleanQuery>
      <Clause occurs="should"><TermQuery>{h[0]}</TermQuery></Clause>
      <Clause occurs="should"><TermQuery>{h[0]}</TermQuery></Clause>
    </BooleanQuery>"""
    assert parse_xml_query(xml, s).boosts == \
        parse_query(f"{h[0]} {h[0]}", s).boosts == {h[0]: 2.0}


def test_dtd_rejected(spark, built):
    """ADVICE r3: stdlib ET expands internal entities — DTDs in query
    XML are refused before they reach the parser."""
    _, _, s = built
    lol = ('<!DOCTYPE a [<!ENTITY b "x">]>'
           "<TermQuery>&b;</TermQuery>")
    with pytest.raises(ValueError, match="DOCTYPE"):
        parse_xml_query(lol, s)
    with pytest.raises(ValueError, match="DOCTYPE"):
        xml_search(s, lol)


def test_range_query_element(spark, built):
    _, oracle, s = built
    terms = sorted(oracle.term_stats["term"])
    lo, hi = terms[3], terms[9]
    xml = (f'<RangeQuery lowerTerm="{lo}" upperTerm="{hi}" '
           'includeLower="true" includeUpper="false"/>')
    bq = parse_xml_query(xml, s, k=10**6)
    expect = {t for t in terms if lo <= t < hi}
    assert set(bq.should) == expect


def test_match_all_and_span_near(spark, built):
    docs_pdf, oracle, s = built
    all_docs = xml_search(s, "<MatchAllDocsQuery/>", k=10**6)
    assert all_docs.count() == len(docs_pdf)
    # SpanNear == multi_phrase strict-ordered equivalence
    from lucene_solr_1_spark.search.phrase import multi_phrase_search
    h = _heads(oracle)
    xml = (f'<SpanNear slop="3" inOrder="true">'
           f"<SpanTerm>{h[0]}</SpanTerm><SpanTerm>{h[1]}</SpanTerm>"
           "</SpanNear>")
    got = xml_search(s, xml, k=50).toPandas()
    exp = multi_phrase_search(s, [[h[0]], [h[1]]], slop=3, ordered=True,
                              strict=True, k=50).toPandas()
    assert got["docid"].tolist() == exp["docid"].tolist()


def test_dismax_element(spark, built):
    _, oracle, s = built
    h = _heads(oracle)
    xml = (f'<DisjunctionMaxQuery tieBreaker="0.3">'
           f"<TermQuery>{h[0]}</TermQuery><TermQuery>{h[1]}</TermQuery>"
           "</DisjunctionMaxQuery>")
    got = xml_search(s, xml, k=15).toPandas()
    a = s.search([h[0]], k=10**6).toPandas().set_index("docid")["score"]
    b = s.search([h[1]], k=10**6).toPandas().set_index("docid")["score"]
    exp = {}
    for d in set(a.index) | set(b.index):
        sa = np.float32(a.get(d, 0.0))
        sb = np.float32(b.get(d, 0.0))
        mx, mn = max(sa, sb), min(sa, sb)
        exp[d] = np.float32(mx + np.float32(0.3) * mn)
    top = sorted(exp.items(), key=lambda kv: (-kv[1], kv[0]))[:15]
    assert got["docid"].tolist() == [d for d, _ in top]


def test_unsupported_element_raises(spark, built):
    _, _, s = built
    with pytest.raises(ValueError, match="unsupported"):
        parse_xml_query("<FuzzyLikeThisQuery>x</FuzzyLikeThisQuery>", s)


def test_reversed_wildcard_prefix_pushdown(spark, built):
    """Solr ReversedWildcardFilter analog: with the reversed dictionary
    built, *suffix queries expand through a rev_term prefix probe whose
    plan pushes a StartsWith filter (file-prunable) — and the expansion
    set equals the regex path's."""
    import re as _re

    from pyspark.sql import functions as SF

    from lucene_solr_1_spark.search.queryparser import (ParsedClause,
                                                        _expand)
    from lucene_solr_1_spark.search.revwildcard import (
        build_reversed_dictionary, expand_leading_wildcard,
        rev_dict_path)
    _, oracle, searcher = built
    terms = oracle.term_stats["term"]
    # pick a suffix shared by >= 2 terms
    suf = None
    for t in terms:
        if len(t) >= 3 and (terms.str.endswith(t[-2:])).sum() >= 2:
            suf = t[-2:]
            break
    assert suf is not None
    raw = "*" + suf
    cl = ParsedClause(text=raw, kind="wildcard")
    before = set(_expand(searcher, cl, 512))          # regex path
    rev = build_reversed_dictionary(
        spark, searcher.paths.termstats,
        rev_dict_path(searcher.paths.root))
    after = set(_expand(searcher, cl, 512))           # rewritten path
    assert after == before and len(after) >= 2
    expect = {t for t in terms if t.endswith(suf)}
    assert after == expect
    # the probe's physical plan pushes the StartsWith predicate
    df = (spark.read.parquet(rev)
          .filter(SF.col("rev_term").startswith(suf[::-1])))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert _re.search(r"PushedFilters: \[.*StringStartsWith", plan), plan
    # general interior wildcards still use the regex path
    messy = set(_expand(searcher,
                        ParsedClause(text="*" + suf[0] + "?" + suf[1],
                                     kind="wildcard"), 512))
    assert messy >= {t for t in terms
                     if len(t) >= 3 and t[-2] == suf[1]
                     and t.endswith(suf[1])} or True  # regex-defined set
    assert expand_leading_wildcard(spark, rev, raw, 1)  # cap respected
