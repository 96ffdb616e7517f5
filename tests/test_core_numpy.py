"""Off-Spark unit tests: smallfloat codec, tokenizer, HTML strip,
postings codec round-trip, BM25 formulas, oracle invariants.

Mirrors the reference's test strategy (SURVEY.md §5): golden token
streams (BaseTokenStreamTestCase.assertAnalyzesTo style), randomized
postings round-trips (BasePostingsFormatTestCase.testRandom style),
CheckIndex-style invariants.
"""

import numpy as np
import pandas as pd
import pytest

from lucene_solr_1_spark.analysis.htmlstrip import extract_text
from lucene_solr_1_spark.analysis.standard import (
    ENGLISH_STOP_WORDS, analyze_text, tokenize_series,
)
from lucene_solr_1_spark.fixtures.webtext import gen_docs, gen_queries
from lucene_solr_1_spark.index.codec import (
    pack_postings, unpack_postings, varint_decode, varint_encode,
    pack_bits, unpack_bits,
)
from lucene_solr_1_spark.index.smallfloat import (
    byte315_to_float, decode_norm_len, encode_norm, float_to_byte315,
)
from oracle import build_oracle_index, oracle_search
from lucene_solr_1_spark.search.bm25 import idf, make_weight, score_postings


# ------------------------------------------------------------- smallfloat

def test_smallfloat_roundtrip_monotone():
    # decode(encode(f)) stable: encoding the decode of a byte returns the byte
    bs = np.arange(1, 256, dtype=np.uint8)
    fs = byte315_to_float(bs)
    assert np.array_equal(float_to_byte315(fs), bs)
    # monotone: larger byte -> larger float
    assert np.all(np.diff(fs) > 0)


def test_smallfloat_known_values():
    # 1/sqrt(1) = 1.0 -> byte 124 (Java floatToByte315(1.0f) == 124)
    assert encode_norm(np.array([1]))[0] == 124
    # zero-length field: inf -> clamp 255
    assert encode_norm(np.array([0]))[0] == 255
    # decode table behaves like ~field length
    lens = np.array([1, 2, 10, 100, 1000, 2000])
    dec = decode_norm_len(encode_norm(lens))
    assert np.all(dec >= 0.5 * lens) and np.all(dec <= 2.1 * lens)


# -------------------------------------------------------------- analysis

GOLDEN_TOKENS = [
    # (input, expected) — TestStandardAnalyzer.java:59-70 golden style
    ("Foo-Bar, baz's QUUX.", ["foo", "bar", "baz's", "quux"]),
    ("mp3 4k x86_64 3.14 2,000", ["mp3", "4k", "x86_64", "3.14", "2,000"]),
    ("The quick AND the dead", ["quick", "dead"]),
    ("", []),
    ("the and of to", []),
    ("Café naïve 日本語", ["café", "naïve", "日", "本", "語"]),
    ("don’t stop", ["don’t", "stop"]),
    ("B2B 2B", ["b2b", "2b"]),
]


@pytest.mark.parametrize("text,expected", GOLDEN_TOKENS)
def test_analyzer_golden(text, expected):
    assert analyze_text(text) == expected


def test_analyzer_max_token_length():
    toks = analyze_text("x" * 256 + " keep " + "y" * 255)
    assert "x" * 256 not in toks
    assert "keep" in toks and "y" * 255 in toks


def test_stopword_list_is_33():
    assert len(ENGLISH_STOP_WORDS) == 33


def test_tokenize_nulls():
    out = tokenize_series(pd.Series([None, "a b"]))
    assert out.iloc[0] == [] and out.iloc[1] == ["a", "b"]


def test_html_extract_byte_identical_on_fixture():
    docs = gen_docs(64)
    for _, row in docs.iterrows():
        assert extract_text(row["html"]) == row["text"]


# ----------------------------------------------------------------- codec

def test_varint_roundtrip():
    rng = np.random.default_rng(0)
    vals = rng.integers(0, 2**63 - 1, 1000, dtype=np.int64).astype(np.uint64)
    vals[:10] = [0, 1, 127, 128, 16383, 16384, 2**21 - 1, 2**21, 2**35, 2**62]
    buf = varint_encode(vals)
    out, used = varint_decode(buf, len(vals))
    assert used == len(buf)
    assert np.array_equal(out, vals)


@pytest.mark.parametrize("width", [1, 2, 3, 5, 8, 13, 17, 24, 31, 40])
def test_pack_bits_roundtrip(width):
    rng = np.random.default_rng(width)
    vals = rng.integers(0, 2**width, 128, dtype=np.uint64)
    assert np.array_equal(unpack_bits(pack_bits(vals, width), 128, width), vals)


@pytest.mark.parametrize("n", [1, 2, 127, 128, 129, 255, 256, 1000, 4096])
def test_postings_roundtrip(n):
    rng = np.random.default_rng(n)
    docids = np.cumsum(rng.integers(1, 50, n, dtype=np.int64)) - 1
    tfs = rng.integers(1, 300, n).astype(np.int32)
    norms = rng.integers(0, 256, n).astype(np.uint8)
    tp = pack_postings(docids, tfs, norms)
    d, t, nb = unpack_postings(np.frombuffer(tp.blob, np.uint8), tp.block_offset,
                               tp.block_first_docid, tp.block_n)
    assert np.array_equal(d, docids)
    assert np.array_equal(t, tfs)
    assert np.array_equal(nb, norms)
    # block metadata is true
    assert tp.block_first_docid[0] == docids[0]
    assert tp.block_n.sum() == n


def test_postings_all_equal_block_fastpath():
    n = 256
    docids = np.arange(0, 2 * n, 2, dtype=np.int64)  # all gaps == 2
    tfs = np.full(n, 7, np.int32)
    norms = np.full(n, 124, np.uint8)
    tp = pack_postings(docids, tfs, norms)
    # 2 full blocks, each: (1B w=0 + 1B varint)*2 + 128 norms = 260 bytes
    assert len(tp.blob) <= 2 * 261
    d, t, nb = unpack_postings(np.frombuffer(tp.blob, np.uint8), tp.block_offset,
                               tp.block_first_docid, tp.block_n)
    assert np.array_equal(d, docids) and np.array_equal(t, tfs)


# ------------------------------------------------------------------ bm25

def test_idf_formula():
    # hand check: N=100, df=10 -> ln(1 + 90.5/10.5)
    expected = np.float32(np.log(1 + 90.5 / 10.5))
    assert idf(10, 100) == expected


def test_score_monotone_tf_and_length():
    tw = make_weight("t", 10, 1000, np.float32(100.0))
    n1 = encode_norm(np.array([50]))
    s = score_postings(tw, np.array([1, 2, 5, 100]), np.repeat(n1, 4))
    assert np.all(np.diff(s) > 0)  # more tf -> higher
    short = score_postings(tw, np.array([2]), encode_norm(np.array([10])))
    long_ = score_postings(tw, np.array([2]), encode_norm(np.array([1000])))
    assert short[0] > long_[0]     # shorter doc -> higher


# ---------------------------------------------------------------- oracle

@pytest.fixture(scope="module")
def tiny_index():
    docs = gen_docs(200)
    return docs, build_oracle_index(docs["url"].to_numpy(), docs["text"].to_numpy())


def test_oracle_invariants(tiny_index):
    docs, idx = tiny_index
    assert idx.max_doc == 200
    assert idx.sum_ttf == int(idx.lengths.sum())
    for term, (d, t, nb) in idx.postings.items():
        assert np.all(np.diff(d) > 0), term          # strictly increasing
        assert np.all(t >= 1)
        assert np.array_equal(nb, idx.norms[idx.pos_of(d)])
    st = idx.term_stats.set_index("term")
    some = list(idx.postings)[:50]
    for term in some:
        d, t, _ = idx.postings[term]
        assert st.loc[term, "df"] == len(d)
        assert st.loc[term, "ttf"] == int(t.sum())
    assert st["ttf"].sum() == idx.sum_ttf


def test_oracle_tfs_edge_doc(tiny_index):
    docs, idx = tiny_index
    for term, tf in [("tfonce", 1), ("tftwo", 2), ("tfmid", 127),
                     ("tfblock", 128), ("tfover", 129), ("tfbig", 300)]:
        d, t, _ = idx.postings[term]
        assert len(d) == 1 and t[0] == tf, term


def test_oracle_tie_break(tiny_index):
    docs, idx = tiny_index
    res = oracle_search(idx, ["tieterm"], "OR", k=10)
    assert len(res) == 2
    # identical scores, lower docid first
    assert res["score"].iloc[0] == res["score"].iloc[1]
    assert res["docid"].iloc[0] < res["docid"].iloc[1]


def test_oracle_query_ops(tiny_index):
    docs, idx = tiny_index
    queries = gen_queries()
    nonempty = 0
    for _, q in queries.iterrows():
        res = oracle_search(idx, q["clauses"], q["op"], q["k"])
        assert len(res) <= q["k"]
        assert res["score"].is_monotonic_decreasing
        if q["op"] == "AND" and len(res):
            for did in res["docid"]:
                assert all(did in idx.postings.get(t, (np.array([]),))[0]
                           for t in q["clauses"])
        nonempty += len(res) > 0
    assert nonempty > 20


def test_oracle_stopword_query_empty(tiny_index):
    _, idx = tiny_index
    terms = [t for t in ["the", "and", "of"]]
    res = oracle_search(idx, [t for t in terms if t in idx.postings], "OR")
    assert len(res) == 0


# -------------------------------------------------------------- generator

def test_generator_subset_determinism():
    # any subset of indices yields the same rows as a full-range generation
    full = gen_docs(300)
    sub = gen_docs(5, start=140)
    merged = full.iloc[140:145].reset_index(drop=True)
    pd.testing.assert_frame_equal(sub, merged)


def test_generator_urls_unique():
    docs = gen_docs(500)
    assert docs["url"].is_unique
    assert docs["warc_ts"].is_unique
    assert set(docs["lang"].unique()) <= {"en", "de", "fr"}


@pytest.mark.parametrize("n", [0, 1, 2, 126, 127, 128, 129, 255, 1000, 4096])
def test_vint_postings_format_roundtrip(n):
    """'vint' PostingsFormat: blocks <=127, decoded by the SAME block
    reader (decode_block's varint branch) — format pluggability without
    reader dispatch (Codec.java:122 registry analog)."""
    from lucene_solr_1_spark.index.codec import (POSTINGS_FORMATS,
                                                 pack_postings_batch_vint)
    rng = np.random.default_rng(n + 7)
    docids = np.cumsum(rng.integers(1, 50, n, dtype=np.int64)) - 1
    tfs = rng.integers(1, 300, n).astype(np.int64)
    norms = rng.integers(0, 256, n).astype(np.uint8)
    bounds = np.array([0, n], dtype=np.int64)
    (tp,) = pack_postings_batch_vint(bounds, docids, tfs, norms)
    assert (tp.block_n <= 127).all()
    d, t, nb = unpack_postings(np.frombuffer(tp.blob, np.uint8).tobytes(),
                               tp.block_offset, tp.block_first_docid, tp.block_n)
    assert np.array_equal(d, docids)
    assert np.array_equal(t, tfs.astype(np.int32))
    assert np.array_equal(nb, norms)
    if n:
        assert tp.block_first_docid[0] == docids[0]
        assert tp.block_n.sum() == n
        # WAND metadata is true per block
        assert tp.block_max_tf.max() == tfs.max()
    assert POSTINGS_FORMATS["vint"] is pack_postings_batch_vint


def test_vint_postings_format_multi_term_batch():
    from lucene_solr_1_spark.index.codec import (pack_postings_batch,
                                                 pack_postings_batch_vint)
    rng = np.random.default_rng(42)
    lens = [3, 400, 127, 1]
    bounds = np.concatenate(([0], np.cumsum(lens))).astype(np.int64)
    docids = np.concatenate(
        [np.cumsum(rng.integers(1, 9, L, dtype=np.int64)) for L in lens])
    tfs = rng.integers(1, 9, int(bounds[-1])).astype(np.int64)
    norms = rng.integers(0, 256, int(bounds[-1])).astype(np.uint8)
    vint = pack_postings_batch_vint(bounds, docids, tfs, norms)
    ref = pack_postings_batch(bounds, docids, tfs, norms)
    for tv, tr in zip(vint, ref):
        dv, ttv, nbv = unpack_postings(
            np.frombuffer(tv.blob, np.uint8).tobytes(), tv.block_offset,
            tv.block_first_docid, tv.block_n)
        dr, ttr, nbr = unpack_postings(
            np.frombuffer(tr.blob, np.uint8).tobytes(), tr.block_offset,
            tr.block_first_docid, tr.block_n)
        assert np.array_equal(dv, dr)
        assert np.array_equal(ttv, ttr)
        assert np.array_equal(nbv, nbr)
