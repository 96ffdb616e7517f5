"""Brazilian stemmer vs the reference's own 86 check() vectors
(TestBrazilianStemmer.java), extracted verbatim from the test source."""

import re

from conftest import reference_path
from lucene_solr_1_spark.analysis.brazilian import brazilian_stem
from lucene_solr_1_spark.analysis.stemmer import stem_vocab

_TEST_SRC = ("lucene/analysis/common/src/test/org/apache/"
             "lucene/analysis/br/TestBrazilianStemmer.java")


def test_all_reference_vectors():
    src = open(reference_path(_TEST_SRC), encoding="utf-8").read()
    pairs = re.findall(r'check\("([^"]*)",\s*"([^"]*)"\)', src)
    assert len(pairs) > 80
    bad = [(w, e, brazilian_stem(w)) for w, e in pairs
           if brazilian_stem(w) != e]
    assert not bad, f"{len(bad)} mismatches, first: {bad[:5]}"


def test_quirks_pinned():
    # accent folding differs from Snowball portuguese (bôas -> boas)
    assert brazilian_stem("bôas") == "boas"
    # too-short / too-long terms pass through unstemmed
    assert brazilian_stem("ab") == "ab"
    assert brazilian_stem("x" * 30) == "x" * 30
    # non-letter terms come back folded but unstemmed
    assert brazilian_stem("r2d2") == "r2d2"


def test_registered():
    m = stem_vocab(["bôas", "quintessências"], algorithm="brazilian")
    assert m["bôas"] == "boas"
