"""From-scratch RBBI (Rule-Based Break Iterator) engine.

Compiles ICU break-rule SOURCE files — the reference ships them at
lucene/analysis/icu/src/data/uax29/{Default,Hebrew,Khmer,Lao,
Myanmar}.rbbi plus three test tailorings under src/test/.../
segmentation/*.rbbi — into a DFA and iterates boundaries with ICU
RuleBasedBreakIterator semantics (reference behavior spec:
com.ibm.icu.text.RuleBasedBreakIterator as consumed by
lucene/analysis/icu/src/java/.../segmentation/ICUTokenizer.java):

  * forward rules are alternated into one position automaton via the
    classic Aho–Sethi–Ullman firstpos/lastpos/followpos construction,
    one end-marker per rule carrying the rule's {status} tag;
  * `!!chain;` links a leaf that can END a rule to the followers of
    any rule-STARTING leaf with the same character class, so e.g.
    `$ALetterEx $ALetterEx {200}` extends over arbitrarily long letter
    runs while the single-leaf `$IdeographicEx {400}` stays a
    one-ideograph match (the chained leaf re-uses the last matched
    char as the first char of the next rule application);
  * next() is longest-match: the last accepting position wins; if no
    rule accepts, the boundary advances one code point with status 0;
  * when several rules accept at the same boundary the numerically
    largest status applies (ICU getRuleStatus(), relied on by
    Default.rbbi's "{300}/{400} override rule 5" comment).

This is an independent implementation from the published ICU rule
syntax and the shipped rule/test files — not a translation of ICU's
C++/Java rule builder.
"""

from __future__ import annotations

import bisect
import os
import unicodedata
from functools import lru_cache

from . import uniprops as up

DONE = -1


def _is_ranges(val) -> bool:
    """Distinguish a stored range set (tuple of (lo, hi) int pairs,
    possibly empty) from a stored sub-AST (tagged tuple ('seq', ...))."""
    return isinstance(val, tuple) and (
        not val or (isinstance(val[0], tuple) and len(val[0]) == 2))


# ---------------------------------------------------------------------------
# UnicodeSet parsing (the subset of ICU set syntax the rule files use)
# ---------------------------------------------------------------------------

class _Scanner:
    def __init__(self, s: str, variables: dict):
        self.s = s
        self.i = 0
        self.vars = variables

    def peek(self) -> str:
        return self.s[self.i] if self.i < len(self.s) else ""

    def skip_ws(self) -> None:
        while self.i < len(self.s) and self.s[self.i] in " \t\r\n":
            self.i += 1

    def error(self, msg: str) -> Exception:
        ctx = self.s[max(0, self.i - 20):self.i + 20]
        return ValueError(f"{msg} at {self.i} near {ctx!r}")


def _parse_escape(sc: _Scanner) -> int:
    """After the backslash: one escaped code point."""
    c = sc.s[sc.i]
    sc.i += 1
    if c == "u":
        h = sc.s[sc.i:sc.i + 4]
        sc.i += 4
        return int(h, 16)
    if c == "U":
        h = sc.s[sc.i:sc.i + 8]
        sc.i += 8
        return int(h, 16)
    if c == "N":  # \N{UNICODE NAME}
        if sc.peek() != "{":
            raise sc.error("expected { after \\N")
        j = sc.s.index("}", sc.i)
        name = sc.s[sc.i + 1:j]
        sc.i = j + 1
        return ord(unicodedata.lookup(name))
    simple = {"t": 9, "n": 10, "r": 13, "f": 12, "v": 11, "a": 7, "b": 8,
              "0": 0}
    if c in simple:
        return simple[c]
    return ord(c)


def _parse_prop_query(sc: _Scanner, negated: bool) -> tuple:
    """\\p{...} (after p{) or [:...:] (after [:) body up to the closer."""
    if sc.s[sc.i - 1] == ":":       # [: ... :]
        j = sc.s.index(":]", sc.i)
        body = sc.s[sc.i:j]
        sc.i = j + 2
    else:                            # \p{ ... }
        j = sc.s.index("}", sc.i)
        body = sc.s[sc.i:j]
        sc.i = j + 1
    if body.startswith("^"):
        negated = not negated
        body = body[1:]
    if "=" in body:
        name, _, val = body.partition("=")
        ranges = list(up.resolve_property(name, val))
    else:
        ranges = list(up.resolve_property(body.strip(), None))
    return tuple(up.negate(ranges)) if negated else tuple(ranges)


def parse_set(sc: _Scanner) -> tuple:
    """Parse a set term: [..], \\p{..}, \\P{..}, [:..:], or $var."""
    sc.skip_ws()
    c = sc.peek()
    if c == "\\":
        nxt = sc.s[sc.i + 1]
        if nxt in "pP":
            sc.i += 2
            if sc.peek() != "{":
                raise sc.error("expected { after \\p")
            sc.i += 1
            return _parse_prop_query(sc, negated=(nxt == "P"))
        sc.i += 1
        cp = _parse_escape(sc)
        return ((cp, cp),)
    if c == "$":
        name = _read_var_name(sc)
        val = sc.vars[name]
        if not _is_ranges(val):
            raise sc.error(f"variable ${name} is not a set")
        return val
    if c != "[":
        raise sc.error("expected a set")
    sc.i += 1
    if sc.peek() == ":":
        sc.i += 1
        return _parse_prop_query(sc, negated=False)
    negated = False
    if sc.peek() == "^":
        negated = True
        sc.i += 1
    acc: list = []
    pending_op = ""
    while True:
        sc.skip_ws()
        c = sc.peek()
        if c == "":
            raise sc.error("unterminated set")
        if c == "]":
            sc.i += 1
            break
        if c in "&":
            pending_op = "&"
            sc.i += 1
            continue
        if c == "-" and acc and sc.s[sc.i + 1] in "[$\\" or (
                c == "-" and sc.s[sc.i + 1:sc.i + 2] == "]"):
            # '-' before a set term = difference; before ']' = literal
            if sc.s[sc.i + 1:sc.i + 2] == "]":
                acc = up.union(acc, [(ord("-"), ord("-"))])
                sc.i += 1
                continue
            pending_op = "-"
            sc.i += 1
            continue
        # an item: nested set / prop / var / literal (maybe a range)
        if c in "[$" or (c == "\\" and sc.s[sc.i + 1] in "pP"):
            item = list(parse_set(sc))
        else:
            if c == "\\":
                sc.i += 1
                lo = _parse_escape(sc)
            else:
                lo = ord(c)
                sc.i += 1
            hi = lo
            if sc.peek() == "-" and sc.s[sc.i + 1:sc.i + 2] not in ("]", ""):
                nxt = sc.s[sc.i + 1]
                if nxt not in "[$&":
                    sc.i += 1
                    if sc.peek() == "\\":
                        sc.i += 1
                        hi = _parse_escape(sc)
                    else:
                        hi = ord(sc.peek())
                        sc.i += 1
            item = [(lo, hi)]
        if pending_op == "&":
            acc = up.intersect(acc, item)
        elif pending_op == "-":
            acc = up.difference(acc, item)
        else:
            acc = up.union(acc, item)
        pending_op = ""
    return tuple(up.negate(acc) if negated else acc)


def _read_var_name(sc: _Scanner) -> str:
    assert sc.peek() == "$"
    j = sc.i + 1
    while j < len(sc.s) and (sc.s[j].isalnum() or sc.s[j] == "_"):
        j += 1
    name = sc.s[sc.i + 1:j]
    sc.i = j
    return name


# ---------------------------------------------------------------------------
# rule expression parsing -> AST
# ---------------------------------------------------------------------------
# AST nodes: ("set", ranges) | ("seq", [..]) | ("alt", [..]) |
#            ("star", x) | ("plus", x) | ("opt", x)

_ALL = ((0, up.MAX_CP),)


def _parse_alt(sc: _Scanner):
    parts = [_parse_seq(sc)]
    while True:
        sc.skip_ws()
        if sc.peek() == "|":
            sc.i += 1
            parts.append(_parse_seq(sc))
        else:
            break
    return parts[0] if len(parts) == 1 else ("alt", parts)


def _parse_seq(sc: _Scanner):
    items = []
    while True:
        sc.skip_ws()
        c = sc.peek()
        if c in ("", ")", "|", ";", "{"):
            break
        items.append(_parse_postfix(sc))
    if not items:
        raise sc.error("empty sequence")
    return items[0] if len(items) == 1 else ("seq", items)


def _parse_postfix(sc: _Scanner):
    node = _parse_primary(sc)
    while True:
        sc.skip_ws()
        c = sc.peek()
        if c == "*":
            node = ("star", node)
        elif c == "+":
            node = ("plus", node)
        elif c == "?":
            node = ("opt", node)
        else:
            break
        sc.i += 1
    return node


def _parse_primary(sc: _Scanner):
    sc.skip_ws()
    c = sc.peek()
    if c == "(":
        sc.i += 1
        node = _parse_alt(sc)
        sc.skip_ws()
        if sc.peek() != ")":
            raise sc.error("expected )")
        sc.i += 1
        return node
    if c == ".":
        sc.i += 1
        return ("set", _ALL)
    if c == "$":
        name = _read_var_name(sc)
        val = sc.vars[name]
        if _is_ranges(val):
            return ("set", val)
        return val  # sub-AST (deep-shared; compiler assigns fresh ids)
    return ("set", parse_set(sc))


# ---------------------------------------------------------------------------
# rule file parsing
# ---------------------------------------------------------------------------

def _strip_comments(text: str) -> str:
    out = []
    for line in text.splitlines():
        j = line.find("#")
        out.append(line if j < 0 else line[:j])
    return "\n".join(out)


def parse_rules(text: str) -> tuple[list, bool]:
    """-> ([(ast, status_tag)], chain_enabled) for the !!forward set."""
    text = _strip_comments(text)
    variables: dict = {}
    rules: list = []
    chain = False
    section = "forward"  # statements before !!forward are definitions
    sc = _Scanner(text, variables)
    while True:
        sc.skip_ws()
        if sc.i >= len(sc.s):
            break
        if sc.s.startswith("!!", sc.i):
            j = sc.s.index(";", sc.i)
            directive = sc.s[sc.i + 2:j].strip()
            sc.i = j + 1
            if directive == "chain":
                chain = True
            elif directive in ("forward", "reverse", "safe_forward",
                               "safe_reverse"):
                section = directive
            continue
        if sc.peek() == "$":
            save = sc.i
            name = _read_var_name(sc)
            sc.skip_ws()
            if sc.peek() == "=":
                sc.i += 1
                sc.skip_ws()
                # value: full expression up to ';' — store ranges when
                # it reduces to a single set, else the AST
                node = _parse_alt(sc)
                sc.skip_ws()
                if sc.peek() != ";":
                    raise sc.error("expected ; after definition")
                sc.i += 1
                variables[name] = (node[1] if node[0] == "set" else node)
                continue
            sc.i = save  # a rule starting with a variable reference
        node = _parse_alt(sc)
        sc.skip_ws()
        tag = 0
        if sc.peek() == "{":
            j = sc.s.index("}", sc.i)
            tag = int(sc.s[sc.i + 1:j].strip())
            sc.i = j + 1
            sc.skip_ws()
        if sc.peek() != ";":
            raise sc.error("expected ; after rule")
        sc.i += 1
        if section == "forward":
            rules.append((node, tag))
    return rules, chain


# ---------------------------------------------------------------------------
# compilation: positions -> followpos -> chained -> DFA
# ---------------------------------------------------------------------------

class _Pos:
    __slots__ = ("id", "ranges", "tag", "follow", "cats")

    def __init__(self, pid: int, ranges, tag=None):
        self.id = pid
        self.ranges = ranges          # None for end markers
        self.tag = tag                # status for end markers
        self.follow: set = set()
        self.cats: frozenset = frozenset()


class BreakRules:
    """Compiled rules: category map + DFA tables."""

    def __init__(self, source: str):
        rules, chain = parse_rules(source)
        if not rules:
            raise ValueError("no forward rules")
        positions: list[_Pos] = []

        def new_pos(ranges, tag=None) -> _Pos:
            if ranges is not None:
                # canonical hashable form: chaining + the alphabet
                # partition compare leaf sets by value
                ranges = tuple(up.normalize(list(ranges)))
            p = _Pos(len(positions), ranges, tag)
            positions.append(p)
            return p

        # firstpos/lastpos/nullable over the AST, materializing leaves
        def build(node):
            kind = node[0]
            if kind == "set":
                p = new_pos(node[1])
                return {p}, {p}, False
            if kind == "seq":
                first: set = set()
                last: set = set()
                nullable = True
                for child in node[1]:
                    f, l, n = build(child)
                    for q in last:
                        q.follow |= f
                    if nullable:
                        first |= f
                    if n:
                        last |= l
                    else:
                        last = l
                    nullable = nullable and n
                return first, last, nullable
            if kind == "alt":
                first, last, nullable = set(), set(), False
                for child in node[1]:
                    f, l, n = build(child)
                    first |= f
                    last |= l
                    nullable = nullable or n
                return first, last, nullable
            if kind in ("star", "plus", "opt"):
                f, l, n = build(node[1])
                if kind != "opt":
                    for q in l:
                        q.follow |= f
                return f, l, (kind != "plus") or n
            raise AssertionError(kind)

        root_first: set = set()
        end_markers: list[_Pos] = []
        for ast, tag in rules:
            f, l, nullable = build(ast)
            end = new_pos(None, tag)
            end_markers.append(end)
            for q in l:
                q.follow.add(end)
            if nullable:
                root_first.add(end)
            root_first |= f

        if chain:
            # ICU rule chaining: a leaf that can end a rule gains the
            # followers of every rule-starting leaf with the SAME
            # character class (the shared char is both last-of-one and
            # first-of-next match).
            ends = [p for p in positions
                    if p.ranges is not None
                    and any(q.ranges is None for q in p.follow)]
            starts = [p for p in root_first if p.ranges is not None]
            snapshot = {p.id: frozenset(p.follow) for p in positions}
            for e in ends:
                for s in starts:
                    if s.ranges == e.ranges:
                        e.follow |= snapshot[s.id]

        # alphabet partition: distinct boundaries over all leaf sets
        leaf_sets = {p.ranges for p in positions if p.ranges is not None}
        points = {0, up.MAX_CP + 1}
        for rs in leaf_sets:
            for lo, hi in rs:
                points.add(lo)
                points.add(hi + 1)
        starts_sorted = sorted(points)
        intervals = [(starts_sorted[i], starts_sorted[i + 1] - 1)
                     for i in range(len(starts_sorted) - 1)]
        sigs: dict[frozenset, int] = {}
        cat_of_interval: list[int] = []
        set_list = sorted(leaf_sets)
        for lo, hi in intervals:
            sig = frozenset(i for i, rs in enumerate(set_list)
                            if up.contains(rs, lo))
            cat = sigs.setdefault(sig, len(sigs))
            cat_of_interval.append(cat)
        self.n_cats = len(sigs)
        # merge adjacent equal-cat intervals into the lookup arrays
        self._cat_lows: list[int] = []
        self._cats: list[int] = []
        for (lo, hi), cat in zip(intervals, cat_of_interval):
            if self._cats and self._cats[-1] == cat:
                continue
            self._cat_lows.append(lo)
            self._cats.append(cat)
        set_cats: dict[int, frozenset] = {}
        for i, rs in enumerate(set_list):
            cats = {cat for (lo, hi), cat in zip(intervals, cat_of_interval)
                    if up.contains(rs, lo)}
            set_cats[i] = frozenset(cats)
        set_index = {rs: i for i, rs in enumerate(set_list)}
        for p in positions:
            if p.ranges is not None:
                p.cats = set_cats[set_index[p.ranges]]

        # subset construction
        def state_key(pos_set) -> frozenset:
            return frozenset(p.id for p in pos_set)

        start = frozenset(p.id for p in root_first)
        pos_by_id = {p.id: p for p in positions}
        states: dict[frozenset, int] = {start: 0}
        order = [start]
        trans: list[list[int]] = []
        status: list[int] = []
        qi = 0
        while qi < len(order):
            cur = order[qi]
            qi += 1
            tags = sorted({pos_by_id[i].tag for i in cur
                           if pos_by_id[i].ranges is None})
            status.append(tags[-1] if tags else -1)
            row = [-1] * self.n_cats
            by_cat: dict[int, set] = {}
            for pid in cur:
                p = pos_by_id[pid]
                if p.ranges is None:
                    continue
                for c in p.cats:
                    by_cat.setdefault(c, set()).update(
                        q.id for q in p.follow)
            for c, nxt in by_cat.items():
                key = frozenset(nxt)
                if key not in states:
                    states[key] = len(order)
                    order.append(key)
                row[c] = states[key]
            trans.append(row)
        self.trans = trans
        self.status = status  # -1 = non-accepting, else max rule tag

    def category(self, cp: int) -> int:
        i = bisect.bisect_right(self._cat_lows, cp) - 1
        return self._cats[i]


@lru_cache(maxsize=64)
def compile_rules(source: str) -> BreakRules:
    """Compile with an on-disk DFA cache (r6, guide §4.5): the
    Default/Latin rule sets cost ~0.6 s each to compile and EVERY Python
    worker process pays it on its first batch. The compiled BreakRules
    is a pure-data object (transition table + category map) derived only
    from the static rule SOURCE text, so it is cached in this user's
    private artifact directory (fsio.cached_artifact) keyed by a hash of
    that source — a compiler artifact cache like CPython's .pyc, not a
    result cache (nothing about input data or queries is stored)."""
    import hashlib

    from .. import fsio
    h = hashlib.md5(source.encode("utf-8")).hexdigest()[:20]
    return fsio.cached_artifact("rbbi_dfa", h, lambda: BreakRules(source))


# ---------------------------------------------------------------------------
# the iterator
# ---------------------------------------------------------------------------

class RuleBasedBreakIterator:
    """Forward-only break iterator over a code-point sequence.

    Positions are CODE POINT indices into the supplied sequence;
    callers that need UTF-16 offsets (the tokenizer layer) convert at
    the edge.  previous() supports exactly the one-step undo the
    reference's LaoBreakIterator performs after its lookahead."""

    def __init__(self, rules: BreakRules):
        self.rules = rules
        self.cps: list[int] = []
        self._history: list[tuple[int, int]] = [(0, 0)]  # (boundary, status)

    def clone(self) -> "RuleBasedBreakIterator":
        other = RuleBasedBreakIterator(self.rules)
        other.cps = self.cps
        other._history = list(self._history)
        return other

    def set_text(self, cps) -> None:
        self.cps = cps
        self._history = [(0, 0)]

    def first(self) -> int:
        self._history = [(0, 0)]
        return 0

    def current(self) -> int:
        return self._history[-1][0]

    def get_rule_status(self) -> int:
        return self._history[-1][1]

    def next(self) -> int:
        pos = self._history[-1][0]
        n = len(self.cps)
        if pos >= n:
            return DONE
        r = self.rules
        state = 0
        i = pos
        last_accept = -1
        last_status = 0
        while i < n:
            nxt = r.trans[state][r.category(self.cps[i])]
            if nxt < 0:
                break
            state = nxt
            i += 1
            st = r.status[state]
            if st >= 0:
                last_accept = i
                last_status = st
        if last_accept < 0:
            boundary, status = pos + 1, 0
        else:
            boundary, status = last_accept, last_status
        self._history.append((boundary, status))
        return boundary

    def previous(self) -> int:
        if len(self._history) > 1:
            self._history.pop()
        return self._history[-1][0]
