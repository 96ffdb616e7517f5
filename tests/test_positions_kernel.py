"""The positions kernel (search/phrase.py) against its scalar one-doc
twins (tests/positions_reference.py) on random position lists: every
mode of near_matches (exact, sloppy ordered, unordered, strict), slop
0-3, repeated terms, multi-phrase slot unions, empty lists and
max_position; span-not; the witnesses payloads read; and the one-doc
_phrase_freq. No Spark: the kernel is plain NumPy over an Arrow table."""

import numpy as np
import pyarrow as pa
import pytest

from lucene_solr_1_spark.index.payloads import PayloadNear
from lucene_solr_1_spark.search.phrase import (DOC_SHIFT, Near, Occurrences,
                                               SpanNot, SpanOr, _phrase_freq,
                                               near_matches)
from positions_reference import (near_witnesses_reference,
                                 phrase_freq_reference, span_not_reference)

NTERMS = 3


def _docs(rng, n_docs=60, width=24):
    """Per doc, per term a sorted position list (often empty)."""
    docs = []
    for _ in range(n_docs):
        lists = []
        for _ in range(NTERMS):
            n = int(rng.integers(0, 7)) if rng.random() > 0.15 else 0
            lists.append(np.sort(rng.choice(width, size=n, replace=False))
                         .astype(np.int64))
        docs.append(lists)
    return docs


def _rows(rng, docs):
    """The scan rows of ``docs``: one per (doc, term with positions), in
    a shuffled order, docids sparse and unsorted."""
    docid = rng.permutation(len(docs) * 5)[:len(docs)] * 7 + 11
    rows = [(int(docid[d]), t, int(d % 50), lists[t].tolist())
            for d, lists in enumerate(docs) for t in range(NTERMS)
            if len(lists[t])]
    rows = [rows[i] for i in rng.permutation(len(rows))]
    return docid, pa.table({
        "docid": pa.array([r[0] for r in rows], pa.int64()),
        "tidx": pa.array([r[1] for r in rows], pa.int32()),
        "norm": pa.array([r[2] for r in rows], pa.int32()),
        "positions": pa.array([r[3] for r in rows], pa.list_(pa.int32()))})


def _slot_lists(lists, slots, max_position=None):
    out = []
    for slot in slots:
        parts = [lists[t] for t in slot]
        u = parts[0] if len(set(slot)) == 1 else np.unique(np.concatenate(parts))
        out.append(u if max_position is None else u[u <= max_position])
    return out


SLOTS = [((0,), (1,)), ((0,), (1,), (2,)), ((0,), (0,)),
         ((1,), (0,), (1,)), ((0, 1), (2,)), ((2,), (0, 1), (0,)), ((1,),)]
MODES = [(True, False), (False, False), (True, True)]   # (ordered, strict)


def _by_doc(occ, docid, freq):
    got = dict(zip(occ.docs.tolist(), freq.tolist()))
    return [got.get(int(d), 0) for d in docid]


@pytest.mark.parametrize("seed", range(6))
@pytest.mark.parametrize("slots", SLOTS, ids=str)
def test_near_freq_equals_reference(seed, slots):
    rng = np.random.default_rng(seed)
    docs = _docs(rng)
    docid, rows = _rows(rng, docs)
    occ = Occurrences(rows)
    for slop in range(4):
        for ordered, strict in MODES:
            for max_position in (None, 9):
                spec = Near(slots, slop, ordered, strict, max_position)
                got = _by_doc(occ, docid, spec.freq(occ))
                want = [phrase_freq_reference(
                    _slot_lists(lists, slots, max_position), slop, ordered,
                    strict) for lists in docs]
                assert got == want, (slop, ordered, strict, max_position)


@pytest.mark.parametrize("seed", range(6))
def test_one_doc_phrase_freq_equals_reference(seed):
    rng = np.random.default_rng(100 + seed)
    for lists in _docs(rng, n_docs=200, width=12):
        for slots in SLOTS:
            pls = _slot_lists(lists, slots)
            for slop in range(4):
                for ordered, strict in MODES:
                    assert _phrase_freq(pls, slop, ordered, strict) == \
                        phrase_freq_reference(pls, slop, ordered, strict)


def _witnesses(keys, anchors, picks):
    """Per doc row, the matches' occurrence-index tuples."""
    doc = keys[0][anchors] >> DOC_SHIFT
    occ_idx = [p - np.searchsorted(k, doc << DOC_SHIFT)
               for k, p in zip(keys, [anchors] + picks)]
    out = {}
    for i, d in enumerate(doc.tolist()):
        out.setdefault(d, []).append(tuple(int(o[i]) for o in occ_idx))
    return out


@pytest.mark.parametrize("seed", range(6))
@pytest.mark.parametrize("slots", [((0,), (1,)), ((0,), (1,), (2,)),
                                   ((0,), (0,)), ((2,), (0,), (2,))], ids=str)
def test_witnesses_equal_reference(seed, slots):
    rng = np.random.default_rng(200 + seed)
    docs = _docs(rng)
    docid, rows = _rows(rng, docs)
    occ = Occurrences(rows)
    row_of = {int(d): r for r, d in enumerate(occ.docs)}
    for slop in range(4):
        for ordered in (True, False):
            keys, anchors, picks = Near(slots, slop, ordered,
                                        strict=True).matches(occ)
            got = _witnesses(keys, anchors, picks)
            for d, lists in zip(docid, docs):
                want = near_witnesses_reference(
                    _slot_lists(lists, slots), slop, ordered)
                assert got.get(row_of.get(int(d)), []) == want, \
                    (slop, ordered)


@pytest.mark.parametrize("seed", range(6))
def test_span_not_and_span_or_equal_reference(seed):
    rng = np.random.default_rng(300 + seed)
    docs = _docs(rng)
    docid, rows = _rows(rng, docs)
    occ = Occurrences(rows)
    for pre, post in ((0, 0), (1, 1), (2, 0), (0, 3), (5, 2)):
        for exclude in (1, None):
            got = _by_doc(occ, docid, SpanNot(0, exclude, pre, post)
                          .freq(occ))
            want = [span_not_reference(
                lists[0], None if exclude is None else lists[1], pre, post)
                for lists in docs]
            assert got == want, (pre, post, exclude)
    spans = (((0,), (1,)), ((2,), (0,)))
    for slop in range(3):
        got = _by_doc(occ, docid, SpanOr(tuple(
            Near(s, slop) for s in spans)).freq(occ))
        want = [sum(phrase_freq_reference(_slot_lists(lists, s), slop, True)
                    for s in spans) for lists in docs]
        assert got == want, slop


@pytest.mark.parametrize("fn", ["avg", "min", "max"])
@pytest.mark.parametrize("ordered", [True, False])
def test_payload_factor_equals_witness_reference(fn, ordered):
    """PayloadNear: freq = #witnesses and the per-doc payload aggregate
    of the witnesses' payloads, bitwise (a missing payload counts 1.0)."""
    rng = np.random.default_rng(7)
    docs = _docs(rng)
    docid, rows = _rows(rng, docs)
    pay = {}
    for d, lists in zip(docid, docs):
        for t in range(2):
            if len(lists[t]) and rng.random() > 0.2:
                # sometimes shorter than the position list
                n = len(lists[t]) - int(rng.random() < 0.2)
                pay[(int(d), t)] = rng.random(n).astype(np.float32)
    side = pa.table({
        "docid": pa.array([d for d, _ in pay], pa.int64()),
        "tidx": pa.array([t for _, t in pay], pa.int32()),
        "payloads": pa.array([v.tolist() for v in pay.values()],
                             pa.list_(pa.float32()))})
    both = pa.concat_tables([rows, side], promote_options="default")
    occ = Occurrences(both)
    spec = PayloadNear(Near(((0,), (1,)), 2, ordered, strict=True), fn)
    freq, factor = spec.evaluate(occ, both)
    agg = {"avg": lambda v: sum(v) / len(v), "min": min, "max": max}[fn]
    for d, lists in zip(docid, docs):
        wits = near_witnesses_reference(lists[:2], 2, ordered)
        r = np.searchsorted(occ.docs, d)
        if not wits:
            assert r == len(occ.docs) or occ.docs[r] != d or freq[r] == 0
            continue
        vals = []
        for wit in wits:
            for t, o in enumerate(wit):
                arr = pay.get((int(d), t))
                vals.append(float(arr[o]) if arr is not None and o < len(arr)
                            else 1.0)
        assert freq[r] == len(wits)
        assert np.float32(factor[r]) == np.float32(agg(vals)), d


def test_empty_slot_matches_nothing():
    empty = np.empty(0, np.int64)
    anchors, picks = near_matches([np.array([1, 2]), empty], 2)
    assert len(anchors) == 0 and len(picks) == 1 and len(picks[0]) == 0
