"""Greek stemmer (analysis/greek_stem.py) + CJKWidthFilter
(analysis/extra.py): reference-vector parity.
"""
import re

import pytest

from conftest import reference_path
from lucene_solr_1_spark.analysis.extra import cjk_width_expr, cjk_width_py
from lucene_solr_1_spark.analysis.greek_stem import greek_stem
from lucene_solr_1_spark.analysis.lang_filters import greek_lowercase

_TGS = ("lucene/analysis/common/src/test/org/apache/"
        "lucene/analysis/el/TestGreekStemmer.java")


def test_greek_stemmer_all_reference_vectors():
    """Every checkOneTerm vector in TestGreekStemmer.java (342 pairs),
    through the GreekAnalyzer order: GreekLowerCaseFilter then stem."""
    src = open(reference_path(_TGS), encoding="utf-8").read()
    pairs = re.findall(r'checkOneTerm\(a,\s*"([^"]+)",\s*"([^"]+)"\)', src)
    assert len(pairs) > 300
    bad = [(w, greek_stem(greek_lowercase(w)), e)
           for w, e in pairs if greek_stem(greek_lowercase(w)) != e]
    assert not bad, bad[:20]


def test_greek_stemmer_inline_vectors():
    """Container-independent subset (already casefolded input)."""
    cases = {
        "ανθρωποσ": "ανθρωπ",      # rule 21: -οσ
        "πελατεσ": "πελατ",        # rule 21: -εσ
        "γεγονοτων": "γεγον",      # rule 0 irregular
        "παιδακια": "παιδακ",      # rule 5 -ια
        "ομορφοτερη": "ομορφ",     # rule 22 comparative
        "αγαμε": "αγαμ",           # rule 7 len==5 special
    }
    for w, e in cases.items():
        assert greek_stem(w) == e, (w, greek_stem(w), e)


CJK_VECTORS = {
    # TestCJKWidthFilter.java: fullwidth ASCII, halfwidth kana,
    # voice-mark composition, and the non-combinable fallback
    "Ｔｅｓｔ": "Test",
    "１２３４": "1234",
    "ｶﾀｶﾅ": "カタカナ",
    "ｳﾞｨｯﾂ": "ヴィッツ",
    "ﾊﾟﾅｿﾆｯｸ": "パナソニック",
    "ｱﾞ": "ア゙",
    "ｳﾞ": "ヴ",
    "plain": "plain",
}


def test_cjk_width_py():
    for src, exp in CJK_VECTORS.items():
        assert cjk_width_py(src) == exp, (src, cjk_width_py(src), exp)


def test_cjk_width_expr_parity(spark):
    import pyspark.sql.functions as F
    df = spark.createDataFrame([(s,) for s in CJK_VECTORS], ["t"])
    got = {r["t"]: r["w"] for r in
           df.select("t", cjk_width_expr("t").alias("w")).collect()}
    for src, exp in CJK_VECTORS.items():
        assert got[src] == exp, (src, got[src], exp)
