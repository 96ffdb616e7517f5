"""Scalar, one-doc reference twins of the positions kernel
(search/phrase.py::near_matches): the per-anchor loops the engine ran
per document before the kernel became one vectorized pass over all
docs. tests/test_positions_kernel.py holds the kernel to them on random
position lists; they also serve as independent oracles elsewhere."""

from __future__ import annotations

import numpy as np


def phrase_freq_reference(pos_lists: list[np.ndarray], slop: int,
                          ordered: bool, strict: bool = False) -> int:
    """#occurrences: positions p_i of term i with consecutive/windowed
    alignment. Exact phrase (slop=0, ordered): p_i == p_0 + i.

    strict=True (with ordered) is the SpanNearQuery(ordered) contract
    (ref: lucene/core/.../search/spans/NearSpansOrdered.java:49):
    positions strictly increasing, slop consumed = p_n - p_0 - (n-1);
    the default ordered mode is the sloppy-phrase offset-window kernel
    (SloppyPhraseScorer), which tolerates small back-steps."""
    if any(len(p) == 0 for p in pos_lists):
        return 0
    if strict and ordered:
        n = len(pos_lists)
        count = 0
        for anchor in pos_lists[0]:
            prev, ok = int(anchor), True
            for p in pos_lists[1:]:
                # greedy smallest-next minimizes the total span, so it
                # finds a witness iff any ordered alignment fits slop
                j = int(np.searchsorted(p, prev + 1))
                if j >= len(p):
                    ok = False
                    break
                prev = int(p[j])
            if ok and prev - int(anchor) - (n - 1) <= slop:
                count += 1
        return count
    if slop == 0 and ordered:
        base = pos_lists[0]
        for i, p in enumerate(pos_lists[1:], start=1):
            base = base[np.isin(base + i, p)]
            if not len(base):
                return 0
        return len(base)
    # windowed: offset-adjusted positions q_i = p_i - i (ordered) or raw
    adj = [p - i if ordered else p for i, p in enumerate(pos_lists)]
    count = 0
    for anchor in adj[0]:
        ok = True
        lo, hi = anchor, anchor
        for q in adj[1:]:
            # nearest element to anchor within slop
            j = np.searchsorted(q, anchor)
            best = None
            for cand in (j - 1, j):
                if 0 <= cand < len(q) and abs(int(q[cand]) - int(anchor)) <= slop:
                    best = int(q[cand]) if best is None else min(best, int(q[cand]),
                                                                 key=lambda x: abs(x - anchor))
            if best is None:
                ok = False
                break
            lo, hi = min(lo, best), max(hi, best)
            if hi - lo > slop:
                ok = False
                break
        count += int(ok)
    return count


def near_witnesses_reference(pos_lists, slop: int, ordered: bool = True):
    """Occurrence-index tuples, one per span match (the payload hooks of
    NearSpansOrdered/Unordered.getPayload): for each anchor occurrence
    of the first term, the greedy smallest-next witness (ordered,
    NearSpansOrdered.java:49 — positions strictly increasing, slop
    consumed = p_n - p_0 - (n-1)) or the nearest-in-window picks
    (unordered), mirroring phrase_freq_reference's counting so
    len(witnesses) == the span kernel's freq."""
    n = len(pos_lists)
    out = []
    if any(len(p) == 0 for p in pos_lists):
        return out
    if ordered:
        for ai, anchor in enumerate(pos_lists[0]):
            prev, idxs, ok = int(anchor), [ai], True
            for p in pos_lists[1:]:
                j = int(np.searchsorted(p, prev + 1))
                if j >= len(p):
                    ok = False
                    break
                prev = int(p[j])
                idxs.append(j)
            if ok and prev - int(anchor) - (n - 1) <= slop:
                out.append(tuple(idxs))
        return out
    for ai, anchor in enumerate(pos_lists[0]):
        anchor = int(anchor)
        idxs, ok, lo, hi = [ai], True, anchor, anchor
        for q in pos_lists[1:]:
            j = int(np.searchsorted(q, anchor))
            best = bj = None
            for cand in (j - 1, j):
                if 0 <= cand < len(q) \
                        and abs(int(q[cand]) - anchor) <= slop:
                    v = int(q[cand])
                    if best is None or abs(v - anchor) < abs(best - anchor):
                        best, bj = v, cand
            if best is None:
                ok = False
                break
            lo, hi = min(lo, best), max(hi, best)
            if hi - lo > slop:
                ok = False
                break
            idxs.append(bj)
        if ok:
            out.append(tuple(idxs))
    return out


def span_not_reference(inc: np.ndarray, exc: np.ndarray | None, pre: int,
                       post: int) -> int:
    """Include positions p with no exclude q in [p - pre, p + post]."""
    if exc is None or not len(exc):
        return len(inc)
    lo = np.searchsorted(exc, inc - pre)    # first q >= p - pre
    bad = (lo < len(exc)) & (exc[np.minimum(lo, len(exc) - 1)] <= inc + post)
    return int((~bad).sum())
