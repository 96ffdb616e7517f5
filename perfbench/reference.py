"""Reference model of what the engine must compute, written from
Lucene 4.x's definitions and never from the engine's code: analysis,
inversion, SmallFloat norm bytes, BM25, exact-phrase frequency and
top-k. It also holds the checks that compare engine output to it.

Analysis is StandardAnalyzer's: a UAX#29 word-break subset, lower case,
tokens over 255 chars dropped, then the 33-word English stop set. Stop
words keep their positions (position increments), so a phrase never
matches across a removed stop word. The subset covers what the
generator emits: letter/digit runs, MidLetter (' . :) between letters,
MidNum (, . ;) between digits, ExtendNumLet (_) and one token per CJK
ideograph.

Collection statistics follow Lucene's NRT reader: maxDoc, df and ttf
count deleted copies of updated documents until a merge purges them;
deleted documents only drop out of the hits.
"""

from __future__ import annotations

import math
import re
from collections import Counter
from dataclasses import dataclass

import numpy as np
import pandas as pd

STOP = frozenset(
    "a an and are as at be but by for if in into is it no not of on or such "
    "that the their then there these they this to was will with".split())
MAX_TOKEN_LENGTH = 255
K1, B = np.float32(1.2), np.float32(0.75)

_IDEO = r"[㐀-䶿一-鿿豈-﫿]"
_LET = r"[^\W\d_㐀-䶿一-鿿豈-﫿]"
_SEG = rf"(?:{_LET}|\d)+"
_JOIN = rf"(?:_+|(?<={_LET})['.:](?={_LET})|(?<=\d)[.,;](?=\d))"
TOKEN_RE = re.compile(rf"_*{_SEG}(?:{_JOIN}{_SEG})*_*|{_IDEO}")
_PLAIN = re.compile(r"[A-Za-z\s.,]*")   # generated webtext: no joiners possible
_ASCII_TOKEN = re.compile(r"[a-z]+")


def tokenize(text: str) -> list[str]:
    """Tokenizer + LowerCaseFilter + max length: every emitted token, so
    the list index is the token's position."""
    if _PLAIN.fullmatch(text):
        toks = _ASCII_TOKEN.findall(text.lower())
    else:
        toks = [t.lower() for t in TOKEN_RE.findall(text)]
    return [t for t in toks if len(t) <= MAX_TOKEN_LENGTH]


def corpus_counts(texts: list[str], rng: np.random.Generator,
                  n_phrases: int) -> tuple[dict[str, int], list[list[str]]]:
    """What a query mix is chosen from: the document frequency of every
    kept term, and n_phrases distinct 2-3-term phrases of adjacent,
    distinct, non-stop tokens drawn from texts. One tokenizing pass and
    no inversion, so it is cheap enough to run before the index exists."""
    df: Counter = Counter()
    toks = []
    for text in texts:
        t = tokenize(text)
        toks.append(t)
        df.update(set(t) - STOP)
    ends = np.cumsum([len(t) for t in toks])
    out, seen = [], set()
    while len(out) < n_phrases:
        j = int(rng.integers(0, ends[-1]))
        d = int(np.searchsorted(ends, j, side="right"))
        at = j - int(ends[d]) + len(toks[d])
        size = int(rng.integers(2, 4))
        ts = toks[d][at:at + size]
        if (len(ts) == size and not STOP.intersection(ts) and len(set(ts)) == size
                and tuple(ts) not in seen):
            seen.add(tuple(ts))
            out.append(ts)
    return dict(df), out


# ---------------------------------------------------------------- SmallFloat

def float_to_byte315(f: np.ndarray) -> np.ndarray:
    """SmallFloat.floatToByte315 (3 mantissa bits, zero exponent 15)."""
    bits = np.asarray(f, np.float32).view(np.int32).astype(np.int64)
    small = bits >> 21
    zero = (63 - 15) << 3
    out = small - zero
    out = np.where(small <= zero, np.where(bits <= 0, 0, 1), out)
    out = np.where(small >= zero + 0x100, 255, out)
    return out.astype(np.uint8)


def byte315_to_float(b: np.ndarray) -> np.ndarray:
    b = np.asarray(b, np.int64) & 0xFF
    bits = ((b << 21) + ((63 - 15) << 24)).astype(np.int32)
    return np.where(b == 0, np.float32(0), bits.view(np.float32)).astype(np.float32)


def norm_byte(length: np.ndarray) -> np.ndarray:
    """BM25Similarity.computeNorm: floatToByte315(1f / (float)sqrt(len))."""
    sq = np.sqrt(np.asarray(length, np.float64)).astype(np.float32)
    with np.errstate(divide="ignore"):
        return float_to_byte315(np.float32(1) / sq)


with np.errstate(divide="ignore"):
    _F = byte315_to_float(np.arange(256))
    NORM_TABLE = (np.float32(1) / (_F * _F)).astype(np.float32)


def idf(df: int, max_doc: int) -> np.float32:
    return np.float32(math.log(1 + (max_doc - df + 0.5) / (df + 0.5)))


def norm_cache(sum_ttf: int, max_doc: int) -> np.ndarray:
    avgdl = np.float32(sum_ttf / max_doc) if sum_ttf > 0 else np.float32(1)
    return (K1 * ((np.float32(1) - B) + B * NORM_TABLE / avgdl)).astype(np.float32)


# ----------------------------------------------------------------- the index

@dataclass
class Postings:
    docs: np.ndarray     # doc ordinals, ascending
    tfs: np.ndarray      # int64


class RefIndex:
    """Inverted index over (url, text) rows, added in generations. A url
    added again deletes its earlier copy (updateDocument)."""

    def __init__(self, positions: bool = False):
        self.positions = positions
        self.urls: list[str] = []
        self.live = np.zeros(0, bool)
        self.lengths = np.zeros(0, np.int64)
        self._by_url: dict[str, int] = {}
        self._chunks: list[pd.DataFrame] = []   # (term, doc, pos) rows
        self._post: dict[str, Postings] | None = None
        self._pos: pd.DataFrame | None = None

    def add(self, docs: pd.DataFrame) -> None:
        base = len(self.urls)
        terms, doc_ix, pos, lengths = [], [], [], []
        for i, text in enumerate(docs["text"].tolist()):
            toks = tokenize(text)
            kept = [(t, p) for p, t in enumerate(toks) if t not in STOP]
            lengths.append(len(kept))
            terms.extend(t for t, _ in kept)
            pos.extend(p for _, p in kept)
            doc_ix.extend([base + i] * len(kept))
        live = np.ones(len(docs), bool)
        for i, u in enumerate(docs["url"].tolist()):
            old = self._by_url.get(u)
            if old is not None:
                if old >= base:
                    live[old - base] = False
                else:
                    self.live[old] = False
            self._by_url[u] = base + i
        self.urls.extend(docs["url"].tolist())
        self.live = np.concatenate([self.live, live])
        self.lengths = np.concatenate([self.lengths, np.asarray(lengths, np.int64)])
        self._chunks.append(pd.DataFrame({
            "term": pd.Series(terms, dtype=object),
            "doc": np.asarray(doc_ix, np.int64),
            "pos": np.asarray(pos, np.int64)}))
        self._post = None

    def _invert(self) -> None:
        if self._post is not None:
            return
        rows = pd.concat(self._chunks, ignore_index=True)
        self._chunks = [rows]
        if self.positions:
            self._pos = rows
        tf = rows.groupby(["term", "doc"], sort=True).size()
        terms = tf.index.get_level_values(0).to_numpy()
        docs = tf.index.get_level_values(1).to_numpy()
        tfs = tf.to_numpy().astype(np.int64)
        bounds = np.flatnonzero(np.r_[True, terms[1:] != terms[:-1], True])
        self._post = {terms[a]: Postings(docs[a:b], tfs[a:b])
                      for a, b in zip(bounds[:-1], bounds[1:])}

    # ------------------------------------------------------------ statistics
    @property
    def max_doc(self) -> int:
        return len(self.urls)

    @property
    def sum_ttf(self) -> int:
        return int(self.lengths.sum())

    def n_terms(self) -> int:
        self._invert()
        return len(self._post)

    def term_stats(self, term: str) -> tuple[int, int, int]:
        """(df, ttf, max_tf), deleted copies included; (0, 0, 0) if absent."""
        self._invert()
        p = self._post.get(term)
        if p is None:
            return 0, 0, 0
        return len(p.docs), int(p.tfs.sum()), int(p.tfs.max())

    def n_postings(self) -> int:
        self._invert()
        return sum(len(p.docs) for p in self._post.values())

    def norms(self) -> np.ndarray:
        return norm_byte(self.lengths)

    # --------------------------------------------------------------- queries
    def term_scores(self, term: str, cache: np.ndarray, norms: np.ndarray):
        """(docs, float32 scores) of one term clause."""
        df, _, _ = self.term_stats(term)
        if df == 0:
            return None
        p = self._post[term]
        wv = np.float32(idf(df, self.max_doc) * (K1 + np.float32(1)))
        tf = p.tfs.astype(np.float32)
        return p.docs, ((wv * tf) / (tf + cache[norms[p.docs]])).astype(np.float32)

    def search(self, terms: list[str], op: str = "OR", k: int = 10):
        """Top-k [(url, float32 score)] for OR / AND / MSM<n> over terms,
        clause scores summed left to right in float32."""
        cache, norms = norm_cache(self.sum_ttf, self.max_doc), self.norms()
        total = np.zeros(self.max_doc, np.float32)
        nmatch = np.zeros(self.max_doc, np.int64)
        for t in terms:
            hit = self.term_scores(t, cache, norms)
            if hit is None:
                continue
            d, s = hit
            total[d] = (total[d] + s).astype(np.float32)
            nmatch[d] += 1
        need = {"OR": 1, "AND": len(terms)}.get(op) or int(op[3:])
        return self._topk(total, (nmatch >= need) & self.live, k)

    def phrase_freq(self, terms: list[str]) -> tuple[np.ndarray, np.ndarray]:
        """(docs, freq) of the exact phrase: positions p with terms[i] at p+i."""
        self._invert()
        if self._pos is None:
            raise ValueError("reference index built without positions")
        rows = self._pos[self._pos["term"].isin(terms)]
        key = None
        for i, t in enumerate(terms):
            r = rows[rows["term"] == t]
            k_i = pd.MultiIndex.from_arrays([r["doc"].to_numpy(),
                                             r["pos"].to_numpy() - i])
            key = k_i if key is None else key.intersection(k_i)
        starts = key.get_level_values(0).to_numpy()
        docs, freq = np.unique(starts, return_counts=True)
        return docs.astype(np.int64), freq.astype(np.int64)

    def phrase_search(self, terms: list[str], k: int = 10):
        """PhraseQuery under BM25: idf summed over the terms, freq = exact
        phrase count."""
        cache, norms = norm_cache(self.sum_ttf, self.max_doc), self.norms()
        total = np.zeros(self.max_doc, np.float32)
        if all(self.term_stats(t)[0] for t in terms):
            sum_idf = np.float32(0)
            for t in terms:
                sum_idf = np.float32(sum_idf + idf(self.term_stats(t)[0], self.max_doc))
            wv = np.float32(sum_idf * (K1 + np.float32(1)))
            d, f = self.phrase_freq(terms)
            tf = f.astype(np.float32)
            total[d] = ((wv * tf) / (tf + cache[norms[d]])).astype(np.float32)
        return self._topk(total, (total > 0) & self.live, k)

    def _topk(self, score: np.ndarray, ok: np.ndarray, k: int):
        d = np.flatnonzero(ok)
        s = score[d]
        order = np.lexsort((d, -s.astype(np.float64)))[:k]
        # extend through the whole tie group at the k-th score
        if len(order) == k:
            kth = s[order[-1]]
            ties = np.flatnonzero(s == kth)
            extra = [int(i) for i in ties if i not in set(order.tolist())]
            order = np.r_[order, np.asarray(extra, np.int64)]
        return [(self.urls[int(d[i])], np.float32(s[i])) for i in order]


# -------------------------------------------------------------------- checks

class CheckFailed(AssertionError):
    pass


def check_topk(got: list[tuple[str, float]], want: list[tuple[str, float]],
               k: int, what: str) -> None:
    """got: the engine's hits in rank order as (url, score). want: the
    reference's top-k in score order, extended through the tie group at
    the k-th score. Scores must match bit for bit as float32; urls are
    compared as sets within each group of tied scores."""
    n = min(k, len(want))
    if len(got) != n:
        raise CheckFailed(f"{what}: {len(got)} hits, reference has {n}")
    if len({u for u, _ in got}) != len(got):
        raise CheckFailed(f"{what}: a url is returned twice")
    gs = np.asarray([s for _, s in got], np.float32)
    ws = np.asarray([s for _, s in want[:n]], np.float32)
    if not np.array_equal(gs.view(np.int32), ws.view(np.int32)):
        i = int(np.flatnonzero(gs.view(np.int32) != ws.view(np.int32))[0])
        raise CheckFailed(f"{what}: rank {i + 1} score {gs[i]!r} != reference {ws[i]!r}")
    groups: dict[int, set] = {}
    for u, s in want:
        groups.setdefault(int(np.float32(s).view(np.int32)), set()).add(u)
    seen: dict[int, set] = {}
    for u, s in got:
        key = int(np.float32(s).view(np.int32))
        if u not in groups.get(key, ()):
            raise CheckFailed(f"{what}: hit {u} at score {s!r} not in reference tie group")
        seen.setdefault(key, set()).add(u)
    for key, us in seen.items():
        full = groups[key]
        if len(us) != len(full) and key != int(ws[-1].view(np.int32)):
            raise CheckFailed(f"{what}: tie group at {np.int32(key).view(np.float32)!r} "
                              f"has {len(us)} of {len(full)} urls")


def check_equal(got, want, what: str) -> None:
    if got != want:
        raise CheckFailed(f"{what}: engine {got!r} != reference {want!r}")
