"""Thai word segmentation + ThaiAnalyzer twin.

The reference's Thai support (analysis/common/src/java/org/apache/lucene/
analysis/th/) is a thin wrapper over the JRE:

* ThaiWordFilter (ThaiWordFilter.java:52-59) clones
  ``BreakIterator.getWordInstance(new Locale("th"))`` — a
  sun.text.DictionaryBasedBreakIterator — and re-breaks every token whose
  FIRST char is in the Thai Unicode block (ThaiWordFilter.java:105) into
  one token per dictionary word, offsets rebased onto the original token
  (ThaiWordFilter.java:86-96).
* ThaiAnalyzer (ThaiAnalyzer.java:111-120) = StandardTokenizer ->
  StandardFilter -> LowerCaseFilter -> ThaiWordFilter -> StopFilter
  (th/stopwords.txt, vendored at analysis/data/th_stopwords.txt).

So byte-exact parity means twinning the JRE iterator, not Lucene code.
This module reimplements, from the published OpenJDK data formats:

* sun.text.RuleBasedBreakIterator.handleNext — the forward rule DFA
  (20 states x 24 categories for the _th word data), including lookahead
  states and the CharacterIterator quirk that getNext() does NOT advance
  the index past the last character (it returns DONE and leaves
  getIndex() at the final char — which is load-bearing: it keeps
  `farthestEndPoint` from reaching endPos, selecting the bestBreak
  fallback in the divide step below).
* sun.text.DictionaryBasedBreakIterator.divideUpDictionaryRange — the
  backtracking trie parse over the 31,992-word Thai dictionary:
  greedy longest-match, a stack of possible break positions, a
  "wrong break" memo, best-so-far breaks for unparseable ranges, and the
  exact (bug-compatible) state carry-over after backtracking.
* sun.text.BreakDictionary — column-compressed trie lookup
  (populated-cell bitmaps, row shifts, flat state table).

Tables ship in analysis/data/thai_break.json.gz, decoded from the local
JDK's public locale data by tools/gen_thai_break.py (the dictionary
itself derives from the ICU Thai dictionary).  Parity: exact on 44k
fuzz strings vs the live JVM iterator (0 mismatches; a 2k-case sample +
goldens is committed at tests/data/thai_fuzz.json.gz) and on the
reference's own TestThaiAnalyzer vectors (TestThaiAnalyzer.java:50-132).

Scale shape: segmentation is a per-token pure function used inside the
same Arrow-batched pandas stages as the stemmers — the JVM-expression
tokenizer still emits <SOUTHEAST_ASIAN> runs; Thai re-breaking happens
in the pandas twin only where Thai text is present (dict-char probe is a
single numpy isin over the block).
"""
from __future__ import annotations

import gzip
import json
import os
from bisect import bisect_right
from functools import lru_cache

from .standard import MAX_TOKEN_LENGTH, TOKEN_RE

__all__ = [
    "thai_breaks", "thai_segments", "thai_word_tokens",
    "thai_analyze", "THAI_STOP_WORDS", "is_thai_token",
]

_DATA = os.path.join(os.path.dirname(__file__), "data", "thai_break.json.gz")
_STOP = os.path.join(os.path.dirname(__file__), "data", "th_stopwords.txt")

_DONE = 0xFFFF  # CharacterIterator.DONE


def _load_stop() -> frozenset:
    out = set()
    with open(_STOP, encoding="utf-8") as f:
        for line in f:
            line = line.split("#", 1)[0].strip()
            if line:
                out.add(line)
    return frozenset(out)


THAI_STOP_WORDS = _load_stop()


class _Tables:
    def __init__(self) -> None:
        with gzip.open(_DATA, "rt", encoding="utf-8") as f:
            raw = json.load(f)
        r = raw["rules"]
        self.ncat = r["num_categories"]
        self.state_table = r["state_table"]
        self.end_states = r["end_states"]
        self.lookahead_states = r["lookahead_states"]
        self.cat_index = r["cat_index"]
        self.cat_values = r["cat_values"]
        self.supp_cps = [e[0] for e in r["supp"]]
        self.supp_cats = [e[1] for e in r["supp"]]
        self.dict_flags = r["dict_flags"]
        d = raw["dictionary"]
        self.d_col_index = d["col_index"]
        self.d_col_values = d["col_values"]
        self.d_num_cols = d["num_cols"]
        self.d_row_index = d["row_index"]
        self.d_rif_index = d["rif_index"]
        self.d_rif = d["rif"]
        self.d_row_shifts = d["row_shifts"]
        self.d_table = d["table"]

    def category(self, cp: int) -> int:
        """RuleBasedBreakIterator.lookupCategory: signed byte, -1=ignore."""
        if cp < 0x10000:
            v = self.cat_values[self.cat_index[cp >> 7] + (cp & 0x7F)]
        else:
            i = bisect_right(self.supp_cps, cp) - 1
            v = self.supp_cats[i] if i >= 0 else 0xFF
        return v - 256 if v >= 128 else v

    def dcol(self, cp: int) -> int:
        return (self.d_col_values[self.d_col_index[cp >> 7] + (cp & 0x7F)]
                if cp < 0x10000 else 0)

    def dnext(self, state: int, col: int) -> int:
        """BreakDictionary.getNextState: 0=error, -1=word-complete."""
        f = self.d_rif_index[state]
        if f < 0:
            if col != -f:
                return 0
        elif not ((self.d_rif[f + (col >> 5)] >> (col & 31)) & 1):
            return 0
        return self.d_table[self.d_row_index[state] * self.d_num_cols
                            + col + self.d_row_shifts[state]]


@lru_cache(maxsize=1)
def _t() -> _Tables:
    return _Tables()


def _rule_next(text: str, pos: int, t: _Tables) -> tuple[int, int]:
    """RuleBasedBreakIterator.handleNext twin (BMP inputs): returns
    (next boundary, dictionaryCharCount seen during the scan)."""
    n = len(text)
    result = pos + 1
    lookahead_result = 0
    state = 1
    i = pos
    dcount = 0
    st = t.state_table
    ncat = t.ncat
    while i < n and state != 0:
        cat = t.category(ord(text[i]))
        if cat != -1:
            if t.dict_flags[cat]:
                dcount += 1
            state = st[state * ncat + cat]
        if t.lookahead_states[state]:
            if t.end_states[state]:
                result = lookahead_result
            else:
                lookahead_result = i + 1
        elif t.end_states[state]:
            result = i + 1
        i += 1
    if i >= n and state != 0 and lookahead_result == n:
        result = lookahead_result
    return result, dcount


def _divide(text: str, start_pos: int, end_pos: int, t: _Tables) -> list[int]:
    """DictionaryBasedBreakIterator.divideUpDictionaryRange twin —
    exact transliteration of the compiled control flow, including the
    no-advance-at-last-char getNext() semantics (see module docstring).
    Returns the cached break positions [start_pos, ..., end_pos]."""
    n = len(text)

    def cur(i: int) -> int:
        return ord(text[i]) if i < n else _DONE

    # seek to the first dictionary character
    i = start_pos
    while True:
        cat = t.category(cur(i))
        if cat != -1 and t.dict_flags[cat]:
            break
        if i >= n - 1:          # getNext() would return DONE; caller
            break               # guarantees a dict char exists (dcount>1)
        i += 1

    current: list[int] = []     # confirmed breaks (stack)
    possible: list[int] = []    # candidate word-end positions (stack)
    wrong: list[int] = []       # positions proven not to parse
    state = 0
    farthest = i
    best: list[int] | None = None
    c = cur(i)
    dnext = t.dnext
    dcol = t.dcol
    while True:
        if dnext(state, 0) == -1:
            possible.append(i)
        state = dnext(state, dcol(c))
        if state == -1:         # char completed a word with no continuation
            current.append(i)
            break
        if state != 0 and i < end_pos:
            # c = getNext(): does NOT advance past the last char
            if i < n - 1:
                i += 1
                c = cur(i)
            else:
                c = _DONE
            continue
        # error state, or scanned to end_pos
        if i > farthest:
            farthest = i
            best = list(current)
        while possible and possible[-1] in wrong:
            possible.pop()
        if not possible:
            if best is not None:
                current = best
                if farthest >= end_pos:
                    break
                i = farthest + 1
            else:
                if (not current or current[-1] != i) and i != start_pos:
                    current.append(i)
                if i < n - 1:   # getNext() advance (same quirk)
                    i += 1
                current.append(i)
        else:
            temp = possible.pop()
            while current and temp < current[-1]:
                wrong.append(current.pop())
            current.append(temp)
            i = temp
        c = cur(i)
        if i >= end_pos:
            break
    if current:
        current.pop()
    current.append(end_pos)
    return [start_pos] + current


def thai_breaks(text: str) -> list[int]:
    """All boundaries of BreakIterator.getWordInstance(th) over `text`,
    including 0 and len(text) (DictionaryBasedBreakIterator.handleNext)."""
    t = _t()
    bounds = [0]
    pos = 0
    n = len(text)
    while pos < n:
        res, dcount = _rule_next(text, pos, t)
        if dcount > 1 and res - pos > 1:
            bounds.extend(_divide(text, pos, res, t)[1:])
        else:
            bounds.append(res)
        pos = res
    out = sorted(set(bounds))
    return out


def thai_segments(text: str) -> list[str]:
    """`text` split at every word-iterator boundary."""
    b = thai_breaks(text)
    return [text[s:e] for s, e in zip(b, b[1:])]


def is_thai_token(token: str) -> bool:
    """ThaiWordFilter gate: first char in UnicodeBlock.THAI
    (ThaiWordFilter.java:105)."""
    return bool(token) and 0x0E00 <= ord(token[0]) <= 0x0E7F


def thai_word_tokens(tokens: list[str]) -> list[str]:
    """ThaiWordFilter over a token stream: tokens that start with a Thai
    char are re-broken at every word-iterator boundary; everything else
    passes through unchanged (ThaiWordFilter.java:83-138)."""
    out: list[str] = []
    for tok in tokens:
        if is_thai_token(tok):
            out.extend(thai_segments(tok))
        else:
            out.append(tok)
    return out


def thai_analyze(text: str, stopwords: frozenset | None = THAI_STOP_WORDS
                 ) -> list[str]:
    """ThaiAnalyzer chain (ThaiAnalyzer.java:111-120): StandardTokenizer
    -> StandardFilter -> LowerCase -> ThaiWordFilter -> StopFilter(th).
    Pass stopwords=None (or frozenset()) for the empty-stop-set variant
    the reference tests use."""
    raw = [m.group(0) for m in TOKEN_RE.finditer(text or "")
           if len(m.group(0)) <= MAX_TOKEN_LENGTH]
    toks = thai_word_tokens([tk.lower() for tk in raw])
    if stopwords:
        toks = [tk for tk in toks if tk not in stopwords]
    return toks
