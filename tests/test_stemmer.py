"""Porter stemmer + synonym filter stages (analysis/stemmer.py).

Golden pairs from M. Porter's published algorithm/vocabulary; JVM
synonym expression parity with the Python twin.
"""

import pandas as pd
import pytest

from conftest import reference_path
from lucene_solr_1_spark.analysis.stemmer import (
    porter_stem, stem_token_lists, stem_vocab, synonym_expr, synonyms_py)

GOLDEN = {
    "caresses": "caress", "ponies": "poni", "ties": "ti",
    "caress": "caress", "cats": "cat", "feed": "feed", "agreed": "agre",
    "plastered": "plaster", "motoring": "motor", "sing": "sing",
    "conflated": "conflat", "troubled": "troubl", "sized": "size",
    "hopping": "hop", "tanned": "tan", "falling": "fall",
    "hissing": "hiss", "fizzed": "fizz", "failing": "fail",
    "filing": "file", "happy": "happi", "sky": "sky",
    "relational": "relat", "rational": "ration",
    "oscillators": "oscil", "generalization": "gener",
    "dependent": "depend", "effective": "effect", "formative": "form",
    "be": "be", "is": "is",
}


def test_porter_golden_pairs():
    for w, s in GOLDEN.items():
        assert porter_stem(w) == s, f"{w} -> {porter_stem(w)} != {s}"


def test_vocab_trick_equals_per_token():
    lists = pd.Series([["caresses", "ponies", "motoring"],
                       [], ["happy", "caresses"], ["sky"]])
    got = stem_token_lists(lists)
    exp = lists.apply(lambda ts: [porter_stem(t) for t in ts])
    assert got.tolist() == exp.tolist()
    vocab = stem_vocab(["caresses", "happy"])
    assert vocab == {"caresses": "caress", "happy": "happi"}


def test_synonyms_python_modes():
    m = {"fast": "quick", "big": "large"}
    assert synonyms_py(["fast", "dog"], m) == ["quick", "dog"]
    assert synonyms_py(["fast", "dog"], m, expand=True) == \
        ["fast", "quick", "dog"]


def test_synonym_expr_parity(spark):
    from pyspark.sql import functions as F
    m = {"fast": "quick", "big": "large"}
    df = spark.createDataFrame(
        pd.DataFrame({"toks": [["fast", "dog", "big"], [], ["slow"]]}))
    rep = df.select(synonym_expr(F.col("toks"), m).alias("o")).toPandas()["o"]
    exp = df.select(synonym_expr(F.col("toks"), m, expand=True)
                    .alias("o")).toPandas()["o"]
    pdf = df.toPandas()["toks"]
    assert [list(x) for x in rep] == [synonyms_py(list(t), m) for t in pdf]
    assert [list(x) for x in exp] == \
        [synonyms_py(list(t), m, expand=True) for t in pdf]


def test_stemmed_index_pipeline(spark):
    """Index-time stemming via the vocabulary trick on the term column:
    stem the postings terms, re-aggregate stats — no re-tokenization."""
    from pyspark.sql import functions as F
    docs = spark.createDataFrame(pd.DataFrame({
        "doc": [0, 1, 2],
        "text": [["motoring", "cats"], ["motor", "cat"], ["sing"]]}))
    tf = (docs.select("doc", F.explode("text").alias("term"))
          .groupBy("doc", "term").count())
    terms = [r["term"] for r in tf.select("term").distinct().collect()]
    mapping = stem_vocab(terms)
    me = F.create_map(*[F.lit(x) for kv in mapping.items() for x in kv])
    stemmed = (tf.withColumn("term", me[F.col("term")])
               .groupBy("term").agg(F.countDistinct("doc").alias("df")))
    got = {r["term"]: r["df"] for r in stemmed.collect()}
    assert got == {"motor": 2, "cat": 2, "sing": 1}


def test_english_minimal_stem_rules_and_parity(spark):
    """EnglishMinimalStemmer (Harman S-stemmer) rule table: Python ==
    JVM expr == the shared SQL template on Spark and DuckDB."""
    import duckdb
    import pandas as pd
    from pyspark.sql import functions as F
    from lucene_solr_1_spark.analysis.stemmer import (
        ENGLISH_MINIMAL_STEM_SQL, english_minimal_stem,
        english_minimal_stem_expr)
    words = ["cats", "caress", "bus", "ties", "ponies", "goes", "dies",
             "as", "tables", "queries", "days", "news", "ies", "aes",
             "oes", "ues", "axes", "x", "ss", "its", "gas", "miss",
             "alias", "indices", "jazzes"]
    expected = {"cats": "cat", "caress": "caress", "bus": "bus",
                "ties": "ty", "ponies": "pony", "goes": "goes",
                "dies": "dy", "as": "as", "tables": "table",
                "queries": "query", "days": "day", "news": "new",
                "ies": "ies", "aes": "aes", "oes": "oes", "ues": "ues",
                "axes": "axe", "x": "x", "ss": "ss", "its": "it",
                "gas": "ga", "miss": "miss", "alias": "alia",
                "indices": "indice", "jazzes": "jazze"}
    py = [english_minimal_stem(w) for w in words]
    assert py == [expected[w] for w in words]
    df = spark.createDataFrame(pd.DataFrame({"toks": [words]}))
    jvm = list(df.select(english_minimal_stem_expr(F.col("toks"))
                         .alias("o")).collect()[0]["o"])
    assert jvm == py
    spark_sql = (spark.createDataFrame(pd.DataFrame({"w": words}))
                 .selectExpr(ENGLISH_MINIMAL_STEM_SQL.format(t="w") + " AS s")
                 .toPandas()["s"].tolist())
    assert spark_sql == py
    duck = [r[0] for r in duckdb.sql(
        "SELECT " + ENGLISH_MINIMAL_STEM_SQL.format(t="w") +
        " AS s FROM (SELECT unnest(" + str(words) + ") AS w)").fetchall()]
    assert duck == py


def test_porter2_full_snowball_vocabulary():
    """Porter2 (Snowball English) vs the official snowball vocabulary
    shipped in the reference's test data (TestSnowballVocab.java uses the
    same zip): every word must stem identically."""
    import io
    import zipfile

    from lucene_solr_1_spark.analysis.stemmer import porter2_stem

    zpath = reference_path(
        "lucene/analysis/common/src/test/org/apache/"
        "lucene/analysis/snowball/TestSnowballVocabData.zip")
    with zipfile.ZipFile(zpath) as z:
        voc = io.TextIOWrapper(z.open("english/voc.txt")).read().split()
        out = io.TextIOWrapper(z.open("english/output.txt")).read().split()
    assert len(voc) == len(out) and len(voc) > 20000
    bad = [(v, porter2_stem(v), o)
           for v, o in zip(voc, out) if porter2_stem(v) != o]
    assert not bad, bad[:20]


def test_porter2_inline_vectors():
    """Container-independent golden subset (spec-traced)."""
    from lucene_solr_1_spark.analysis.stemmer import porter2_stem as p
    cases = {
        "consigned": "consign", "caresses": "caress", "ponies": "poni",
        "ties": "tie", "cats": "cat", "feed": "feed", "agreed": "agre",
        "plastered": "plaster", "motoring": "motor", "conflated": "conflat",
        "sized": "size", "hopping": "hop", "tanned": "tan",
        "filing": "file", "happy": "happi", "relational": "relat",
        "vietnamization": "vietnam", "predication": "predic",
        "operator": "oper", "feudalism": "feudal", "decisiveness": "decis",
        "hopefulness": "hope", "formative": "format",
        "generalizations": "general", "dying": "die", "lying": "lie",
        "news": "news", "skies": "sky", "communism": "communism",
        "yes": "yes", "sky": "sky", "crying": "cri", "by": "by",
        "say": "say",
    }
    for w, e in cases.items():
        assert p(w) == e, (w, p(w), e)
    # stem_vocab / stem_token_lists expose the porter2 algorithm
    from lucene_solr_1_spark.analysis.stemmer import (stem_token_lists,
                                                      stem_vocab)
    import pandas as pd
    assert stem_vocab(["running"], algorithm="porter2") == {"running": "run"}
    got = stem_token_lists(pd.Series([["generalizations", "dying"]]),
                           algorithm="porter2").iloc[0]
    assert got == ["general", "die"]


def test_light_stemmers_de_es():
    """UniNE light stemmers, vectors hand-traced through the reference
    rules (GermanLightStemmer.java:56-139, SpanishLightStemmer.java:
    62-108)."""
    from lucene_solr_1_spark.analysis.stemmer import (german_light_stem,
                                                      spanish_light_stem,
                                                      stem_vocab)
    de = {"häuser": "haus", "katzen": "katz", "kindern": "kind",
          "schönes": "schon", "tages": "tag", "haus": "haus",
          "blume": "blum", "ärmsten": "arm", "die": "die"}
    for w, s in de.items():
        assert german_light_stem(w) == s, w
    es = {"casas": "cas", "ciudades": "ciudad", "veces": "vez",
          "riquezas": "riquez", "grande": "grand", "sol": "sol",
          "años": "años", "buenas": "buen", "intereses": "interes"}
    for w, s in es.items():
        assert spanish_light_stem(w) == s, w
    # registry dispatch
    v = stem_vocab(["häuser", "katzen"], algorithm="german_light")
    assert v == {"häuser": "haus", "katzen": "katz"}


def test_finnish_light_stemmer():
    """FinnishLightStemmer vectors hand-traced through the reference
    rules (FinnishLightStemmer.java:66-259): clitic recursion, case
    endings, hde->ksi, k/p/t run collapse."""
    from lucene_solr_1_spark.analysis.stemmer import (finnish_light_stem,
                                                      stem_vocab)
    fi = {
        "taloissa": "talo",        # -ssa, then norm trailing i
        "talossakin": "talo",      # clitic -kin then -ssa
        "presidentti": "president",
        "kukka": "kukk",           # -a strip; len==4 blocks kk collapse
        "yhteiskunnallinen": "yhteiskunnall",
        "kahden": "kahd",          # len==6 blocks -den; vowel+n strip
        "tie": "tie",              # < 4 chars unchanged
        "kirkkoja": "kirko",       # -ja strip then kk run collapse
    }
    for w, s in fi.items():
        assert finnish_light_stem(w) == s, (w, finnish_light_stem(w))
    assert stem_vocab(["taloissa"], algorithm="finnish_light") == \
        {"taloissa": "talo"}


def test_french_light_stemmer():
    """FrenchLightStemmer vectors hand-traced through the reference
    rules (FrenchLightStemmer.java:66-266): aux->al, the agent-noun
    cascade, norm's fold + duplicate collapse + r/e stripping."""
    from lucene_solr_1_spark.analysis.stemmer import (french_light_stem,
                                                      stem_vocab)
    fr = {
        "chevaux": "cheval",          # aux -> al
        "journaux": "journal",
        "chanteuse": "chant",         # -teuse -> -ter, norm strips r,e
        "chanter": "chant",
        "directrice": "direct",       # -trice -> -teur -> -ter
        "modificatrice": "modifi",    # -ficatrice -> -fier
        "vieillissement": "vieili",   # -issement -> -ir, ll collapsed
        "attentivement": "atentif",   # -ivement -> -if, tt collapsed
        "normalisation": "normal",
        "actualisation": "actuel",    # -isation + ual -> uel
        "boulangère": "boulang",      # -ère -> -er, norm strips r,e
        "complète": "complet",        # -ète -> -et
        "créatrice": "crer",          # -atrice -> -er, é fold + ee collapse
        "tables": "tabl",
    }
    for w, s in fr.items():
        assert french_light_stem(w) == s, (w, french_light_stem(w))
    assert stem_vocab(["chevaux"], algorithm="french_light") == \
        {"chevaux": "cheval"}


def test_portuguese_and_hungarian_light_stemmers():
    """Portuguese + Hungarian UniNE light stemmers, vectors hand-traced
    through the reference rules (PortugueseLightStemmer.java:66-205,
    HungarianLightStemmer.java:65-230)."""
    from lucene_solr_1_spark.analysis.stemmer import (hungarian_light_stem,
                                                      portuguese_light_stem,
                                                      stem_vocab)
    pt = {
        "corações": "coraca",      # -ões -> -ão, strip -o, fold
        "papéis": "papel",         # -éis -> -el
        "animais": "animal",       # -ais -> -al
        "lençóis": "lencol",       # -óis -> -ol
        "homens": "homem",         # -ns -> -m
        "rapidamente": "rapid",    # -mente, strip -a
        "chinesa": "chines",       # -esa -> -ês, fold
        "professora": "professor", # -ora -> -or
        "casas": "casa",           # plural s; len guard keeps final a
    }
    for w, s in pt.items():
        assert portuguese_light_stem(w) == s, (w, portuguese_light_stem(w))
    hu = {
        "házakban": "haz",         # -ban case, -ak plural
        "emberek": "ember",
        "városoknak": "varos",     # -nak case, -ok plural
        "könyvekkel": "konyv",     # doubled-consonant -kel -> strip 3
        "magyarként": "magyar",    # -kent
        "házam": "haz",            # possessive -am after consonant
        "barátaink": "barat",      # possessive -ink, final vowel norm
    }
    for w, s in hu.items():
        assert hungarian_light_stem(w) == s, (w, hungarian_light_stem(w))
    assert stem_vocab(["papéis"], algorithm="portuguese_light") == \
        {"papéis": "papel"}
    assert stem_vocab(["házakban"], algorithm="hungarian_light") == \
        {"házakban": "haz"}


def test_swedish_light_stemmer():
    """SwedishLightStemmer vectors hand-traced through the reference
    rules (SwedishLightStemmer.java:66-108)."""
    from lucene_solr_1_spark.analysis.stemmer import (stem_vocab,
                                                      swedish_light_stem)
    sv = {
        "bilarnas": "bilarn",     # -s, then final -a (no -arna in the table)
        "pojkarne": "pojk",       # -arne
        "flickorna": "flick",     # -orna
        "starkaste": "stark",     # -aste
        "rörelser": "rör",        # -elser
        "friheten": "fri",        # -heten
        "lärare": "lär",          # -are
        "huset": "hus",           # -et
        "bilen": "bil",           # -en
        "gata": "gat",            # final -a
    }
    for w, s in sv.items():
        assert swedish_light_stem(w) == s, (w, swedish_light_stem(w))
    assert stem_vocab(["flickorna"], algorithm="swedish_light") == \
        {"flickorna": "flick"}


def test_german_full_snowball_vocabulary():
    """Full Snowball German vs the official vocabulary the reference's
    TestSnowballVocab.java reads (german/voc.txt -> output.txt in
    TestSnowballVocabData.zip): every word must stem identically."""
    import io
    import zipfile

    from lucene_solr_1_spark.analysis.snowball import german_stem

    zpath = reference_path(
        "lucene/analysis/common/src/test/org/apache/"
        "lucene/analysis/snowball/TestSnowballVocabData.zip")
    with zipfile.ZipFile(zpath) as z:
        voc = io.TextIOWrapper(z.open("german/voc.txt"),
                               encoding="utf-8").read().split()
        out = io.TextIOWrapper(z.open("german/output.txt"),
                               encoding="utf-8").read().split()
    assert len(voc) == len(out) and len(voc) > 30000
    bad = [(v, german_stem(v), o)
           for v, o in zip(voc, out) if german_stem(v) != o]
    assert not bad, bad[:20]


def test_german_inline_vectors():
    """Container-independent golden subset (spec-traced): umlaut strip,
    ß->ss, R1 floor at 3, step-2 st rule, step-3 d-suffixes."""
    from lucene_solr_1_spark.analysis.snowball import german_stem as g
    cases = {
        "aufeinander": "aufeinand", "kategorie": "kategori",
        "äckern": "ack", "armes": "arm",
        "bedürfnissen": "bedurfniss",
        "straße": "strass", "schönheit": "schonheit",
        "wirkungen": "wirkung", "reinigung": "reinig",
        "freundlichkeit": "freundlich", "einigkeit": "einig",
        "verhältnisses": "verhaltniss",
        "hoffnungslos": "hoffnungslos",
    }
    for w, s in cases.items():
        assert g(w) == s, (w, g(w), s)


def test_german_stemmed_index_query(spark, tmp_path):
    """Stemmed-index query: build an index whose terms are Snowball-
    German stems (via the vocabulary trick) and retrieve docs by any
    inflected form, VERDICT r2 #5's stemmed-index gate."""
    import pandas as pd

    from lucene_solr_1_spark.analysis.stemmer import stem_vocab
    from lucene_solr_1_spark.index.build import build_index
    from lucene_solr_1_spark.search.engine import IndexSearcher

    docs = pd.DataFrame({
        "url": [f"d{i}" for i in range(4)],
        "text": ["die wirkungen der reinigung",
                 "eine wirkung ohne reinigungen",
                 "freundlichkeit und schoenheit",
                 "ganz andere worte hier"],
    })
    # index-time stemming via the vocabulary trick on the raw tokens
    vocab = sorted({t for txt in docs["text"] for t in txt.split()})
    mapping = stem_vocab(vocab, algorithm="snowball_german")
    docs["text"] = docs["text"].map(
        lambda s: " ".join(mapping[t] for t in s.split()))
    paths = build_index(spark, spark.createDataFrame(docs),
                        str(tmp_path / "gidx"), num_segments=2,
                        out_partitions=2)
    s = IndexSearcher(spark, paths.root)
    from lucene_solr_1_spark.analysis.snowball import german_stem
    # query-time: stem the user's inflected form the same way
    for q, expect in [("wirkungen", {0, 1}), ("reinigungen", {0, 1}),
                      ("freundlichkeiten", {2})]:
        flds = s.fetch_fields(s.search([german_stem(q)], k=10), ["url"])
        urls = {r["url"] for _, r in flds.iterrows()} \
            if hasattr(flds, "iterrows") else {r["url"] for r in flds.collect()}
        assert urls == {f"d{i}" for i in expect}, (q, urls)


def test_kstem_full_oracle_vocabulary():
    """KStem vs the reference's own 12,130-pair oracle
    (kstemTestData.zip, generated from the original kstemmer —
    TestKStemmer.java testVocabulary): every word must stem
    identically."""
    import io
    import zipfile

    from lucene_solr_1_spark.analysis.kstem import kstem

    zpath = reference_path(
        "lucene/analysis/common/src/test/org/apache/"
        "lucene/analysis/en/kstemTestData.zip")
    with zipfile.ZipFile(zpath) as z:
        lines = io.TextIOWrapper(z.open("kstem_examples.txt")).read()
    pairs = [ln.split("\t") for ln in lines.splitlines() if ln.strip()]
    assert len(pairs) > 12000
    bad = [(a, kstem(a), b) for a, b in pairs if kstem(a) != b]
    assert not bad, bad[:20]


def test_kstem_inline_vectors_and_registry():
    """Container-independent subset + stem_vocab('kstem') wiring:
    dictionary words pass through, inflections strip via the lexicon,
    direct conflations map, non-alpha input is untouched."""
    from lucene_solr_1_spark.analysis.kstem import kstem
    cases = {
        # head words (incl. inflections the lexicon lists) pass through
        "abandoned": "abandoned", "abilities": "abilities",
        "running": "running", "definition": "definition",
        "happiness": "happiness",
        # rule-pipeline stems and direct conflations
        "carried": "carry", "dying": "die", "fled": "flee",
        "aging": "age", "italian": "italy", "brazilian": "brazil",
        "amplification": "amplify",
        # guards: non-alpha / too short
        "R2D2": "R2D2", "ab": "ab",
    }
    for w, e in cases.items():
        assert kstem(w) == e, (w, kstem(w), e)
    assert stem_vocab(["carried"], algorithm="kstem") == {"carried": "carry"}


@pytest.mark.parametrize("lang,algo", [
    ("swedish", "snowball_swedish"), ("danish", "snowball_danish"),
    ("norwegian", "snowball_norwegian"), ("french", "snowball_french"),
    ("spanish", "snowball_spanish"), ("italian", "snowball_italian"),
    ("portuguese", "snowball_portuguese"),
    ("russian", "snowball_russian"),
    ("dutch", "snowball_dutch"),
    ("german2", "snowball_german2"),
    ("romanian", "snowball_romanian"),
    ("finnish", "snowball_finnish"),
    ("hungarian", "snowball_hungarian"),
    ("turkish", "snowball_turkish"),
    ("kraaij_pohlmann", "snowball_kp"),
    ("lovins", "snowball_lovins")])
def test_scandinavian_full_snowball_vocabularies(lang, algo):
    """Full Snowball Swedish/Danish/Norwegian vs the official
    vocabularies in the reference's TestSnowballVocabData.zip: every
    word must stem identically (595,726 words across the sixteen).
    Line-aligned read: Turkish stems some words to "" (e.g. ları), so
    output.txt has empty lines that whitespace-split would drop."""
    import zipfile

    from lucene_solr_1_spark.analysis.stemmer import _stem_fn

    zpath = reference_path(
        "lucene/analysis/common/src/test/org/apache/"
        "lucene/analysis/snowball/TestSnowballVocabData.zip")
    fn = _stem_fn(algo)
    with zipfile.ZipFile(zpath) as z:
        voc = z.read(f"{lang}/voc.txt").decode("utf-8").splitlines()
        out = z.read(f"{lang}/output.txt").decode("utf-8").splitlines()
    while voc and not voc[-1]:
        voc.pop()
    while len(out) > len(voc) and not out[-1]:
        out.pop()
    assert len(voc) == len(out) and len(voc) > 20000
    bad = [(v, fn(v), o) for v, o in zip(voc, out) if fn(v) != o]
    assert not bad, bad[:20]


def test_turkish_lowercase_filter_vectors():
    """The reference's TestTurkishLowerCaseFilter vectors (composed,
    decomposed, extra combining marks, bare I+dot, empty)."""
    from lucene_solr_1_spark.analysis.extra import turkish_lowercase_py
    cases = [
        ("İSTANBUL", "istanbul"), ("İZMİR", "izmir"),
        ("ISPARTA", "ısparta"),
        ("İSTANBUL", "istanbul"),
        ("İZMİR", "izmir"),
        ("İ̖STANBUL", "i̖stanbul"),
        ("I̖SPARTA", "ı̖sparta"),
        ("İ", "i"), ("", ""),
        # simple (not full/contextual) lowercase outside the I family
        ("İ", "i"), ("ΣAΣ", "σaσ"),
    ]
    for inp, exp in cases:
        assert turkish_lowercase_py(inp) == exp, (inp,)


def test_turkish_lowercase_expr_parity(spark):
    """JVM expression twin matches the Python filter char-for-char."""
    from pyspark.sql import functions as SF

    from lucene_solr_1_spark.analysis.extra import (turkish_lowercase_expr,
                                                    turkish_lowercase_py)
    toks = ["İSTANBUL", "ISPARTA", "İZMİR",
            "İ̖STANBUL", "I̖SPARTA", "İ",
            "TÜRKİYE'NİN", "DOĞU", "Iıİ",
            "ΣAΣ", "QUICK", ""]
    df = spark.createDataFrame([(t,) for t in toks], "tok string")
    got = [r["o"] for r in
           df.select(turkish_lowercase_expr(SF.col("tok")).alias("o"))
           .collect()]
    assert got == [turkish_lowercase_py(t) for t in toks]


def test_turkish_stem_inline_vectors():
    """Container-independent subset traced through the spec: harmony
    gating, chained noun suffixes, -ki chains, d/g postlude."""
    from lucene_solr_1_spark.analysis.snowball import turkish_stem
    cases = {
        "kitaplar": "kitap",          # lAr (verb branch, flag unset)
        "kitabı": "kitap",       # sU possessive + b->p
        "kitapları": "kitap",    # lArI
        "günün": "gü",        # nUn + linking-n strip
        "ajitasyona": "ajitasyo",     # yA
        "soyadı": "soyad",       # reserved word skips d->t
        "ad": "ad",                   # single syllable + reserved
        "ev": "ev",                   # single syllable: untouched
        "dölar": "dölar",   # harmony blocks -lar
    }
    for w, e in cases.items():
        assert turkish_stem(w) == e, (w, turkish_stem(w), e)


_UNINE_VOCAB = [
    # (algorithm, zip-or-txt path under the reference analysis test tree,
    #  member inside the zip, or None for a plain txt file)
    ("french_minimal", "fr/frminimaltestdata.zip", "frminimal.txt"),
    ("german_minimal", "de/deminimaltestdata.zip", "deminimal.txt"),
    ("italian_light", "it/itlighttestdata.zip", "itlight.txt"),
    ("russian_light", "ru/rulighttestdata.zip", "rulight.txt"),
    ("norwegian_light", "no/nb_light.txt", None),
    ("nynorsk_light", "no/nn_light.txt", None),
]


@pytest.mark.parametrize("algo,rel,member", _UNINE_VOCAB)
def test_unine_light_minimal_vocabularies(algo, rel, member):
    """UniNE light/minimal stemmers vs the reference's own vocabulary
    data files (TestFrenchMinimalStemFilter.java etc. each run
    assertVocabulary over these semicolon/tab pair files): every word
    must stem identically."""
    import io
    import zipfile

    from lucene_solr_1_spark.analysis.stemmer import _LIGHT_STEMMERS

    path = reference_path("lucene/analysis/common/src/test/org/apache/"
                          "lucene/analysis/" + rel)
    if member is not None:
        with zipfile.ZipFile(path) as z:
            text = io.TextIOWrapper(z.open(member), encoding="utf-8").read()
    else:
        with open(path, encoding="utf-8") as f:
            text = f.read()
    fn = _LIGHT_STEMMERS[algo]
    bad, total = [], 0
    for line in text.splitlines():
        line = line.strip()
        if not line or line.startswith("#"):
            continue
        parts = line.split("\t") if "\t" in line else line.split(";")
        if len(parts) < 2:
            continue
        w, exp = parts[0].strip(), parts[1].strip()
        total += 1
        if fn(w) != exp:
            bad.append((w, fn(w), exp))
    assert total > 50
    assert not bad, bad[:20]


def test_unine_light_minimal_inline_vectors():
    """Container-independent golden subset, hand-traced through the
    reference rules (FrenchMinimalStemmer.java:56, GermanMinimalStemmer
    .java:56, NorwegianLightStemmer.java:75, ItalianLightStemmer.java:56,
    RussianLightStemmer.java:60)."""
    from lucene_solr_1_spark.analysis.stemmer import _LIGHT_STEMMERS
    cases = {
        "french_minimal": {
            "chevaux": "cheval",     # -aux -> -al
            "baux": "baux",          # < 6 chars untouched
            "peureuse": "peureus",   # cascade strips -e only (s not final)
            "hommes": "hom",         # -s, -e, then doubled-m collapse
        },
        "german_minimal": {
            "bilder": "bild",        # -er pair
            "häuser": "haus",        # umlaut fold + -er
            "studentinnen": "studentin",  # -nen
            "hauses": "haus",        # -es
        },
        "norwegian_light": {
            "avgiftene": "avgift",   # -ene
            "dyrest": "dyr",         # -est (bokmaal)
            "friheten": "fri",       # -heten
        },
        "nynorsk_light": {
            "høgskulane": "høgskul",   # -ane (nynorsk)
            "fridomen": "fridom",      # -en pair
        },
        "italian_light": {
            "ragazzo": "ragazz",     # -o
            "poliziotti": "poliziott",  # -i (prev t)
            "vecchie": "vecch",      # -ie -> strip 2
        },
        "russian_light": {
            "красивый": "красив",    # -ый
            "красивая": "красив",    # -ая
        },
    }
    for algo, vecs in cases.items():
        fn = _LIGHT_STEMMERS[algo]
        for w, e in vecs.items():
            assert fn(w) == e, (algo, w, fn(w), e)
