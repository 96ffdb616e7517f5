"""Tests of the benchmark's own reference and checks; no Spark needed.

    python3 -m pytest perfbench/test_checks.py -q

Each check is fed the reference's own answer (it must pass) and then a
perturbed answer (it must fail): a changed score, a dropped hit, swapped
ranks, an off-by-one df.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

import corpus
import reference as ref
import spans
import workloads


@pytest.fixture(scope="module")
def index():
    vocab = corpus.make_vocab()
    docs = corpus.webtext(5, 1500, vocab)
    r = ref.RefIndex(positions=True)
    r.add(docs)
    return vocab, docs, r


def _query(vocab, r):
    want = r.search([str(vocab[3]), str(vocab[200])], "OR")
    assert len(want) >= 10
    return want


def test_topk_accepts_reference(index):
    vocab, _, r = index
    want = _query(vocab, r)
    ref.check_topk(want[:10], want, 10, "self")


def test_topk_changed_score_fails(index):
    vocab, _, r = index
    want = _query(vocab, r)
    got = list(want[:10])
    u, s = got[4]
    got[4] = (u, np.nextafter(np.float32(s), np.float32(0)))   # one ulp lower
    with pytest.raises(ref.CheckFailed):
        ref.check_topk(got, want, 10, "changed score")


def test_topk_dropped_hit_fails(index):
    vocab, _, r = index
    want = _query(vocab, r)
    with pytest.raises(ref.CheckFailed):
        ref.check_topk(want[:9], want, 10, "dropped hit")
    replaced = want[:9] + [("https://elsewhere.example/x", want[9][1])]
    with pytest.raises(ref.CheckFailed):
        ref.check_topk(replaced, want, 10, "hit replaced")


def test_topk_swapped_ranks_fail(index):
    vocab, _, r = index
    want = _query(vocab, r)
    i = next(j for j in range(9) if want[j][1] != want[j + 1][1])
    got = list(want[:10])
    got[i], got[i + 1] = got[i + 1], got[i]
    with pytest.raises(ref.CheckFailed):
        ref.check_topk(got, want, 10, "swapped ranks")


def test_topk_ties_compare_as_sets():
    want = [("a", np.float32(2)), ("b", np.float32(1)), ("c", np.float32(1)),
            ("d", np.float32(1))]
    ref.check_topk([("a", 2.0), ("c", 1.0), ("b", 1.0)], want, 3, "tie order")
    ref.check_topk([("a", 2.0), ("d", 1.0), ("c", 1.0)], want, 3, "cut tie group")
    with pytest.raises(ref.CheckFailed):
        ref.check_topk([("a", 2.0), ("b", 1.0), ("b", 1.0)], want, 3, "duplicate")
    with pytest.raises(ref.CheckFailed):
        ref.check_topk([("a", 2.0), ("b", 1.0), ("e", 1.0)], want, 3, "stranger in tie")


def test_off_by_one_df_fails(index):
    vocab, _, r = index
    t = str(vocab[40])
    df, ttf, mtf = r.term_stats(t)
    ref.check_equal((df, ttf, mtf), r.term_stats(t), "self")
    with pytest.raises(ref.CheckFailed):
        ref.check_equal((df + 1, ttf, mtf), r.term_stats(t), "df + 1")
    with pytest.raises(ref.CheckFailed):
        ref.check_equal(df - 1, r.term_stats(t)[0], "count - 1")


def test_failed_check_makes_run_incorrect(index):
    vocab, _, r = index
    want = _query(vocab, r)
    run = workloads.Run(None, spans.Tracer(), "", 0, 1, False)
    run.check(ref.check_topk, want[:10], want, 10, "good")
    assert run.failures == []
    run.check(ref.check_topk, want[1:10], want, 10, "bad")
    assert len(run.failures) == 1


# ------------------------------------------------------------ the reference

def test_tokenizer_pinned_edge_docs():
    toks = ref.tokenize(corpus.EDGE_BODIES[13])
    assert toks == ["foo", "bar", "baz's", "quux", "mp3", "4k", "x86_64", "3.14", "2,000"]
    assert ref.tokenize(corpus.EDGE_BODIES[15]) == [
        "café", "naïve", "coöperate", "résumé", "日", "本", "語", "中", "文", "搜", "索"]
    assert ref.tokenize(corpus.EDGE_BODIES[12]) == ["normaltoken", "y" * 255]


def test_smallfloat_known_values():
    assert ref.float_to_byte315(np.float32(1.0)) == 124
    assert ref.norm_byte(np.array([1, 4, 0])).tolist() == [124, 120, 255]
    assert ref.byte315_to_float(np.array([124]))[0] == np.float32(1.0)


def test_stopword_keeps_position_gap():
    r = ref.RefIndex(positions=True)
    r.add(pd.DataFrame({"url": ["u1", "u2"],
                        "text": ["alpha the beta", "alpha beta alpha beta"]}))
    docs, freq = r.phrase_freq(["alpha", "beta"])
    assert docs.tolist() == [1] and freq.tolist() == [2]
    assert r.term_stats("the") == (0, 0, 0)


def test_update_keeps_deleted_copy_in_stats():
    r = ref.RefIndex()
    r.add(pd.DataFrame({"url": ["u1", "u2"], "text": ["alpha beta", "alpha"]}))
    r.add(pd.DataFrame({"url": ["u1"], "text": ["gamma"]}))
    assert r.max_doc == 3 and r.term_stats("alpha")[0] == 2
    assert [u for u, _ in r.search(["alpha"])] == ["u2"]
    assert r.search(["beta"]) == []


def test_bm25_single_doc_value():
    """One doc of 1 token, one term: idf = ln(1 + 0.5/1.5), avgdl 1,
    cache[124] = k1, score = idf * 2.2 * 1 / (1 + 1.2)."""
    r = ref.RefIndex()
    r.add(pd.DataFrame({"url": ["u"], "text": ["alpha"]}))
    (_, s), = r.search(["alpha"])
    idf = np.float32(np.log(1 + 0.5 / 1.5))
    assert s == np.float32(np.float32(idf * np.float32(2.2)) / np.float32(2.2))


def test_inputs_repeat_per_seed():
    v = corpus.make_vocab()
    a, b = corpus.webtext(9, 50, v), corpus.webtext(9, 50, v)
    assert a.equals(b)
    assert not a.equals(corpus.webtext(10, 50, v))
    g1, g2 = (corpus.nrt_batches(9, v, a["url"].tolist(), 20) for _ in range(2))
    assert next(g1).equals(next(g2))


def test_hub_urls_sort_first_by_hash():
    import hashlib
    for u in workloads.hub_urls(5):
        assert int(hashlib.md5(u.encode()).hexdigest()[:15], 16) < (1 << 58)


def test_corpus_counts_agree_with_reference(index):
    _, docs, r = index
    df, phrases = ref.corpus_counts(docs["text"].tolist(), np.random.default_rng(0), 20)
    assert len(df) == r.n_terms()
    assert all(df[t] == r.term_stats(t)[0] for t in df)
    for p in phrases:
        assert r.phrase_search(p), p
