"""RSLP stemmer family vs the reference's own test vocabularies.

Mirrors TestPortugueseStemFilter / TestPortugueseMinimalStemFilter /
TestGalicianStemFilter (each runs VocabularyAssert over the zipped
word->stem tables the original authors published)."""

import zipfile

import pytest

from conftest import reference_path
from lucene_solr_1_spark.analysis.rslp import (
    galician_minimal_stem, galician_stem, portuguese_minimal_stem,
    portuguese_rslp_stem)
from lucene_solr_1_spark.analysis.stemmer import stem_vocab

_BASE = "lucene/analysis/common/src/test/org/apache/lucene/analysis/"


def _pairs(zip_rel, inner):
    with zipfile.ZipFile(reference_path(_BASE + zip_rel)) as z:
        text = z.read(inner).decode("utf-8")
    return [line.split("\t") for line in text.splitlines() if line]


@pytest.mark.parametrize("zip_rel,inner,fn", [
    ("pt/ptrslptestdata.zip", "ptrslp.txt", portuguese_rslp_stem),
    ("pt/ptminimaltestdata.zip", "ptminimal.txt", portuguese_minimal_stem),
    ("gl/gltestdata.zip", "gl.txt", galician_stem),
])
def test_full_vocabulary(zip_rel, inner, fn):
    pairs = _pairs(zip_rel, inner)
    assert len(pairs) > 9000
    bad = [(w, e, fn(w)) for w, e in pairs if fn(w) != e]
    assert not bad, f"{len(bad)} mismatches, first: {bad[:5]}"


def test_galician_minimal_vectors():
    # TestGalicianMinimalStemFilter.java:38-49 (incl. exception words)
    for w, e in [("elefantes", "elefante"), ("elefante", "elefante"),
                 ("kalóres", "kalór"), ("kalór", "kalór"),
                 ("mas", "mas"), ("barcelonês", "barcelonês")]:
        assert galician_minimal_stem(w) == e


def test_portuguese_rslp_inline():
    # TestPortugueseStemFilter.java: quilométricas -> quilometr etc.
    assert portuguese_rslp_stem("quilométricas") == "quilometr"
    assert portuguese_rslp_stem("quilométricos") == "quilometr"


def test_registered_in_stem_vocab():
    m = stem_vocab(["elefantes", "bons"], algorithm="portuguese_minimal")
    assert m == {"elefantes": "elefante", "bons": "bom"}
    m = stem_vocab(["elefantes"], algorithm="galician_minimal")
    assert m["elefantes"] == "elefante"
    assert stem_vocab(["quilométricas"],
                      algorithm="portuguese_rslp")["quilométricas"] == "quilometr"
    assert stem_vocab(["corremos"], algorithm="galician")
