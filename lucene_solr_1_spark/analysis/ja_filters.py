"""Algorithmic Japanese token/char filters (no dictionary data needed).

- ``katakana_stem``: JapaneseKatakanaStemFilter.java:45-95 — drop a
  trailing prolonged-sound mark (U+30FC) from all-katakana tokens of
  length >= 4 (common recall normalization: コンピューター ==
  コンピュータ).
- ``iteration_mark_normalize``: JapaneseIterationMarkCharFilter.java —
  expand kanji/kana iteration marks (々 ゝ ゞ ヽ ヾ) to the source
  characters they repeat, with the reference's exact span semantics:
  marks repeat the same-length character span preceding them
  (ところゞゝゝ -> ところどころ), voiced marks apply dakuten
  (こゝ -> ここ but こゞ -> こご), unvoiced marks strip dakuten,
  a span starting where the previous span ended is illegal and passes
  through unchanged, and surrogates / full stops reset span state.

Both are exact twins validated against the reference's own test
vectors in tests/test_ja_filters.py.
"""
from __future__ import annotations

KANJI_ITERATION_MARK = "々"            # 々
HIRAGANA_ITERATION_MARK = "ゝ"         # ゝ
HIRAGANA_VOICED_ITERATION_MARK = "ゞ"  # ゞ
KATAKANA_ITERATION_MARK = "ヽ"         # ヽ
KATAKANA_VOICED_ITERATION_MARK = "ヾ"  # ヾ
FULL_STOP = "。"                       # 。
PROLONGED_SOUND_MARK = "ー"            # ー

# Hiragana dakuten map indexed from か (U+304B), 50 entries
# (JapaneseIterationMarkCharFilter.java:85-141); identity slots are the
# characters with no dakuten pairing in the contiguous range.
_H2D = [0] * 50


def _fill_h2d() -> None:
    pairs = {  # index (c - 0x304B) -> dakuten char
        0: 0x304C, 1: 0x304C, 2: 0x304E, 3: 0x304E, 4: 0x3050, 5: 0x3050,
        6: 0x3052, 7: 0x3052, 8: 0x3054, 9: 0x3054, 10: 0x3056, 11: 0x3056,
        12: 0x3058, 13: 0x3058, 14: 0x305A, 15: 0x305A, 16: 0x305C,
        17: 0x305C, 18: 0x305E, 19: 0x305E, 20: 0x3060, 21: 0x3060,
        22: 0x3062, 23: 0x3062, 24: 0x3063, 25: 0x3065, 26: 0x3065,
        27: 0x3067, 28: 0x3067, 29: 0x3069, 30: 0x3069, 31: 0x306A,
        32: 0x306B, 33: 0x306C, 34: 0x306D, 35: 0x306E, 36: 0x3070,
        37: 0x3070, 38: 0x3071, 39: 0x3073, 40: 0x3073, 41: 0x3074,
        42: 0x3076, 43: 0x3076, 44: 0x3077, 45: 0x3079, 46: 0x3079,
        47: 0x307A, 48: 0x307C, 49: 0x307C,
    }
    for i in range(50):
        _H2D[i] = pairs[i]


_fill_h2d()
_KATA_DELTA = 0x30AB - 0x304B  # カ - か


def _lookup_dakuten(c: str, base: int) -> str:
    i = ord(c) - base
    if 0 <= i < 50:
        d = _H2D[i] + (base - 0x304B)
        return chr(d)
    return c


def _is_dakuten(c: str, base: int) -> bool:
    i = ord(c) - base
    return 0 <= i < 50 and c == _lookup_dakuten(c, base)


def katakana_stem(term: str, minimum_length: int = 4) -> str:
    """JapaneseKatakanaStemFilter.stem (java:72-95)."""
    if len(term) < minimum_length:
        return term
    # full-width KATAKANA block only (java comment: half-width excluded)
    if not all(0x30A0 <= ord(c) <= 0x30FF for c in term):
        return term
    if term[-1] == PROLONGED_SOUND_MARK:
        return term[:-1]
    return term


def iteration_mark_normalize(text: str, normalize_kanji: bool = True,
                             normalize_kana: bool = True) -> str:
    """JapaneseIterationMarkCharFilter.read/normalizeIterationMark
    (java:191-265), operating on UTF-16 code-unit positions."""
    units = text.encode("utf-16-le", "surrogatepass")
    cus = [units[i:i + 2].decode("utf-16-le", "surrogatepass")
           for i in range(0, len(units), 2)]

    def is_hira_mark(c: str) -> bool:
        return normalize_kana and c in (HIRAGANA_ITERATION_MARK,
                                        HIRAGANA_VOICED_ITERATION_MARK)

    def is_kata_mark(c: str) -> bool:
        return normalize_kana and c in (KATAKANA_ITERATION_MARK,
                                        KATAKANA_VOICED_ITERATION_MARK)

    def is_mark(c: str) -> bool:
        return ((normalize_kanji and c == KANJI_ITERATION_MARK)
                or is_hira_mark(c) or is_kata_mark(c))

    def norm(src: str, m: str) -> str:
        if is_hira_mark(m):
            if m == HIRAGANA_ITERATION_MARK:
                return chr(ord(src) - 1) if _is_dakuten(src, 0x304B) else src
            return _lookup_dakuten(src, 0x304B)
        if is_kata_mark(m):
            if m == KATAKANA_ITERATION_MARK:
                return chr(ord(src) - 1) if _is_dakuten(src, 0x30AB) else src
            return _lookup_dakuten(src, 0x30AB)
        return src  # kanji mark: repeat source verbatim

    out: list[str] = []
    span_end = 0        # iterationMarkSpanEndPosition
    span_size = 0       # iterationMarksSpanSize
    n = len(cus)
    for pos in range(n):
        c = cus[pos]
        cp = ord(c)
        if 0xD800 <= cp <= 0xDFFF:          # surrogate: span barrier
            span_end = pos + 1
            out.append(c)
            continue
        if c == FULL_STOP:                   # buffer free point: barrier
            span_end = pos + 1
            out.append(c)
            continue
        if is_mark(c):
            if pos < span_end:
                # inside current span: repeat corresponding source char
                out.append(norm(cus[pos - span_size], c))
                continue
            if pos == span_end:
                # new span starting at the previous span's end (or at
                # stream start — Java's field initializes to 0): illegal,
                # pass the mark through (java:238-244)
                span_end += 1
                out.append(c)
                continue
            # new span
            size = 0
            i = pos
            while i < n and is_mark(cus[i]):
                size += 1
                i += 1
            if pos - size < span_end:
                size = pos - span_end
            span_size = size
            span_end = pos + size
            out.append(norm(cus[pos - span_size], c))
            continue
        out.append(c)
    return "".join(out)
