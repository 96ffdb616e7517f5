"""FastVectorHighlighter twin: phrase-aware fragment highlighting.

Mirrors lucene/highlighter/src/java/org/apache/lucene/search/
vectorhighlight/ — the term-vector highlighter whose distinctive
behavior is PHRASE awareness: a PhraseQuery only highlights where its
terms appear contiguously (position gap <= slop), and contiguous
matched terms merge into ONE tag pair ("<b>Internet Explorer</b>").

Pieces twinned (reference file:line in each docstring):
  * FieldQuery (FieldQuery.java) as a term trie (QueryPhraseMap):
    flattened term/phrase entries with boost + slop, longest-match
    walk with push-back shortening (FieldPhraseList.java:59-105).
  * WeightedPhraseInfo offset merging — position-adjacent terms fuse
    their offsets (FieldPhraseList.java:185-195) — and the
    overlap-drop rule (addIfNoOverlap:108-119).
  * BaseFragListBuilder.createFieldFragList (BaseFragListBuilder.java:
    48-97): margin-6 windows, accept-phrase rule, centered re-margin.
  * SimpleBoundaryScanner (SimpleBoundaryScanner.java:28-90):
    {.,!? \\t\\n} within maxScan=20.
  * BaseFragmentsBuilder.makeFragment + getFragmentSourceMSO
    (BaseFragmentsBuilder.java:169-204), with
    ScoreOrderFragmentsBuilder's boost-desc fragment ordering and
    SimpleFragmentsBuilder's source order both available.

The reference reads (term, position, offset) from stored term
vectors (FieldTermStack.java); this twin re-derives the same stream
by tokenizing the stored content with offsets — identical data for
the same analyzer.
"""

from __future__ import annotations

import re

BOUNDARY_CHARS = set(".,!? \t\n")
MAX_SCAN = 20
MARGIN = 6


# --- FieldQuery / QueryPhraseMap ----------------------------------------

class FieldQuery:
    """Term trie over flattened query clauses.

    `queries` items: ("term", text, boost) or
    ("phrase", [texts...], slop, boost).  phrase_highlight=False
    registers each phrase term individually too (the reference's
    flatten-with-phraseHighlight-off behavior)."""

    def __init__(self, queries, phrase_highlight: bool = True):
        self.root: dict = {}
        self._seq = 0
        for q in queries:
            if q[0] == "term":
                self._add([q[1]], 0, q[2] if len(q) > 2 else 1.0)
            elif q[0] == "phrase":
                terms = list(q[1])
                slop = q[2] if len(q) > 2 else 0
                boost = q[3] if len(q) > 3 else 1.0
                self._add(terms, slop, boost)
                if not phrase_highlight:
                    for t in terms:
                        self._add([t], 0, boost)
            else:
                raise ValueError(f"unknown query kind {q[0]!r}")

    def _add(self, terms: list[str], slop: int, boost: float) -> None:
        node: dict | None = None
        sub = self.root
        for t in terms:
            node = sub.setdefault(t, {"sub": {}, "terminal": False,
                                      "slop": 0, "boost": 1.0, "seq": 0})
            sub = node["sub"]
        node["terminal"] = True
        node["slop"] = slop
        node["boost"] = boost
        node["seq"] = self._seq
        self._seq += 1

    def get_field_term_map(self, term: str):
        return self.root.get(term)

    def search_phrase(self, candidate: list) -> dict | None:
        """QueryPhraseMap.searchPhrase (FieldQuery.java:422-429): the
        shortened candidate must ALSO pass the slop validity check."""
        node: dict | None = None
        sub = self.root
        for ti in candidate:
            node = sub.get(ti[0])
            if node is None:
                return None
            sub = node["sub"]
        if node is None or not is_valid_term_or_phrase(node, candidate):
            return None
        return node


def is_valid_term_or_phrase(node: dict, candidate: list) -> bool:
    """QueryPhraseMap.isValidTermOrPhrase (FieldQuery.java:431-447)."""
    if not node["terminal"]:
        return False
    if len(candidate) == 1:
        return True
    pos = candidate[0][3]
    for ti in candidate[1:]:
        if abs(ti[3] - pos - 1) > node["slop"]:
            return False
        pos = ti[3]
    return True


# --- FieldPhraseList ------------------------------------------------------

class WeightedPhraseInfo:
    """FieldPhraseList.java:161-215: merged term offsets + boost."""

    __slots__ = ("toffs", "boost", "seq")

    def __init__(self, terms: list, boost: float, seq: int):
        self.boost = boost
        self.seq = seq
        t0 = terms[0]
        self.toffs: list[list[int]] = [[t0[1], t0[2]]]
        pos = t0[3]
        for ti in terms[1:]:
            if ti[3] - pos == 1:
                self.toffs[-1][1] = ti[2]
            else:
                self.toffs.append([ti[1], ti[2]])
            pos = ti[3]

    @property
    def start(self) -> int:
        return self.toffs[0][0]

    @property
    def end(self) -> int:
        return self.toffs[-1][1]

    def overlaps(self, other: "WeightedPhraseInfo") -> bool:
        so, eo, oso, oeo = self.start, self.end, other.start, other.end
        return (so <= oso < eo) or (so < oeo <= eo) \
            or (oso <= so < oeo) or (oso < eo <= oeo)


def field_phrase_list(term_stack: list, fq: FieldQuery
                      ) -> list[WeightedPhraseInfo]:
    """FieldPhraseList ctor (FieldPhraseList.java:59-105): longest
    trie match with push-back shortening.  term_stack items:
    (term, startOffset, endOffset, position), position-ascending."""
    phrases: list[WeightedPhraseInfo] = []
    stack = list(reversed(term_stack))  # pop() = next in position order

    def add_if_no_overlap(wpi: WeightedPhraseInfo) -> None:
        for exist in phrases:
            if exist.overlaps(wpi):
                return
        phrases.append(wpi)

    while stack:
        ti = stack.pop()
        node = fq.get_field_term_map(ti[0])
        if node is None:
            continue
        candidate = [ti]
        while True:
            ti = stack.pop() if stack else None
            nxt = node["sub"].get(ti[0]) if ti is not None else None
            if ti is None or nxt is None:
                if ti is not None:
                    stack.append(ti)
                if is_valid_term_or_phrase(node, candidate):
                    add_if_no_overlap(WeightedPhraseInfo(
                        candidate, node["boost"], node["seq"]))
                else:
                    while len(candidate) > 1:
                        stack.append(candidate.pop())
                        node2 = fq.search_phrase(candidate)
                        if node2 is not None:
                            add_if_no_overlap(WeightedPhraseInfo(
                                candidate, node2["boost"], node2["seq"]))
                            break
                break
            candidate.append(ti)
            node = nxt
    return phrases


# --- frag list + fragments builder ---------------------------------------

class FragInfo:
    __slots__ = ("start", "end", "phrases", "total_boost")

    def __init__(self, start, end, phrases):
        self.start = start
        self.end = end
        self.phrases = phrases
        self.total_boost = sum(p.boost for p in phrases)


def create_frag_list(phrases: list[WeightedPhraseInfo],
                     frag_char_size: int,
                     margin: int = MARGIN) -> list[FragInfo]:
    """BaseFragListBuilder.createFieldFragList (:48-97)."""
    min_frag = max(1, margin * 3)
    if frag_char_size < min_frag:
        raise ValueError(f"fragCharSize({frag_char_size}) is too small")
    frags: list[FragInfo] = []
    queue = list(reversed(phrases))
    start_offset = 0
    while queue:
        phrase = queue[-1]
        if phrase.start < start_offset:
            queue.pop()
            continue
        wpil = []
        cur_start = phrase.start
        cur_end = phrase.end
        span_start = max(cur_start - margin, start_offset)
        span_end = max(cur_end, span_start + frag_char_size)
        queue.pop()
        if len(phrase.toffs) <= 1 or cur_end - cur_start <= frag_char_size:
            wpil.append(phrase)
        while queue:
            phrase = queue[-1]
            if phrase.end <= span_end:
                cur_end = phrase.end
                queue.pop()
                if len(phrase.toffs) <= 1 \
                        or cur_end - cur_start <= frag_char_size:
                    wpil.append(phrase)
            else:
                break
        if not wpil:
            continue
        match_len = cur_end - cur_start
        new_margin = max(0, (frag_char_size - match_len) // 2)
        span_start = cur_start - new_margin
        if span_start < start_offset:
            span_start = start_offset
        span_end = span_start + max(match_len, frag_char_size)
        start_offset = span_end
        frags.append(FragInfo(span_start, span_end, wpil))
    return frags


def _find_start_boundary(content: str, start: int) -> int:
    if start > len(content) or start < 1:
        return start
    offset = start
    for _ in range(MAX_SCAN):
        if offset <= 0:
            break
        if content[offset - 1] in BOUNDARY_CHARS:
            return offset
        offset -= 1
    return 0 if offset == 0 else start


def _find_end_boundary(content: str, start: int) -> int:
    if start > len(content) or start < 0:
        return start
    offset = start
    for _ in range(MAX_SCAN):
        if offset >= len(content):
            # the reference buffer carries a trailing multi-value
            # separator (getFragmentSourceMSO appends one even for a
            # single value), which scans as a boundary — so reaching
            # the end of content within maxScan IS a boundary
            return len(content)
        if content[offset] in BOUNDARY_CHARS:
            return offset
        offset += 1
    return start


def make_fragment(content: str, frag: FragInfo, pre: str = "<b>",
                  post: str = "</b>") -> str:
    """BaseFragmentsBuilder.makeFragment + getFragmentSourceMSO
    (:169-204) over a single stored value."""
    n = len(content)
    eo = n if n < frag.end else _find_end_boundary(content, frag.end)
    mso = _find_start_boundary(content, frag.start)
    src = content[mso:eo]
    out = []
    idx = 0
    for phrase in frag.phrases:
        for s, e in phrase.toffs:
            out.append(src[idx:s - mso])
            out.append(pre)
            out.append(src[max(idx, s - mso):e - mso])
            out.append(post)
            idx = e - mso
    out.append(src[idx:])
    return "".join(out)


# --- tokenizers (term-vector stand-ins) ----------------------------------

_WS_RE = re.compile(r"\S+")


def whitespace_positions(content: str):
    """(term, start, end, position) like a whitespace-analyzed term
    vector (MockAnalyzer default), lowercased."""
    return [(m.group().lower(), m.start(), m.end(), i)
            for i, m in enumerate(_WS_RE.finditer(content))]


def fvh_highlight(content: str, queries, frag_char_size: int = 100,
                  max_num_fragments: int = 1,
                  tokenizer=whitespace_positions,
                  phrase_highlight: bool = True,
                  score_order: bool = True,
                  pre: str = "<b>", post: str = "</b>") -> list[str]:
    """FastVectorHighlighter.getBestFragments
    (FastVectorHighlighter.java:113-135): term stack -> phrase list ->
    frag list -> formatted fragments.  score_order=True is the default
    ScoreOrderFragmentsBuilder (totalBoost desc); False keeps source
    order (SimpleFragmentsBuilder)."""
    fq = FieldQuery(queries, phrase_highlight=phrase_highlight)
    query_terms = set()

    def walk(node_map):
        for t, node in node_map.items():
            query_terms.add(t)
            walk(node["sub"])
    walk(fq.root)
    stack = [ti for ti in tokenizer(content) if ti[0] in query_terms]
    phrases = field_phrase_list(stack, fq)
    frags = create_frag_list(phrases, frag_char_size)
    if score_order:
        frags.sort(key=lambda f: (-f.total_boost, f.start))
    return [make_fragment(content, f, pre, post)
            for f in frags[:max_num_fragments]]
