"""Unicode property sets + script lookup for the ICU segmentation twin.

Backs the RBBI rule compiler (analysis/rbbi.py) and the script-run
iterator (analysis/icuseg.py), twinning the property queries the
reference's break rules make (reference: lucene/analysis/icu/src/data/
uax29/*.rbbi and .../segmentation/ScriptIterator.java):

  - Script ranges come from analysis/data/uscript_ranges.json.gz
    (generated by tools/gen_uscript.py from the public `regex`
    package's bundled UCD).
  - Word_Break classes reuse the probed, reference-exact Unicode-6.1
    tables in analysis/wbclasses.py (the same classes the jflex
    StandardTokenizer grammar was generated from — Default.rbbi and
    that grammar share their UAX#29 tailorings).
  - Everything else (White_Space, categories, names) comes from
    CPython's unicodedata.

All sets are represented as sorted, disjoint (lo, hi) inclusive
codepoint ranges; the small algebra here (union/intersect/difference/
negate) is what the RBBI UnicodeSet parser computes with.
"""

from __future__ import annotations

import bisect
import gzip
import json
import os
import unicodedata
from functools import lru_cache

MAX_CP = 0x10FFFF

Ranges = list  # list[tuple[int, int]], sorted + disjoint


# ---------------------------------------------------------------------------
# range-set algebra
# ---------------------------------------------------------------------------

def normalize(pairs) -> Ranges:
    """Sort + merge overlapping/adjacent (lo, hi) pairs."""
    out: list[tuple[int, int]] = []
    for lo, hi in sorted(pairs):
        if out and lo <= out[-1][1] + 1:
            if hi > out[-1][1]:
                out[-1] = (out[-1][0], hi)
        else:
            out.append((lo, hi))
    return out


def union(a: Ranges, b: Ranges) -> Ranges:
    return normalize(list(a) + list(b))


def negate(a: Ranges) -> Ranges:
    out, prev = [], 0
    for lo, hi in a:
        if lo > prev:
            out.append((prev, lo - 1))
        prev = hi + 1
    if prev <= MAX_CP:
        out.append((prev, MAX_CP))
    return out


def intersect(a: Ranges, b: Ranges) -> Ranges:
    out, i, j = [], 0, 0
    while i < len(a) and j < len(b):
        lo = max(a[i][0], b[j][0])
        hi = min(a[i][1], b[j][1])
        if lo <= hi:
            out.append((lo, hi))
        if a[i][1] < b[j][1]:
            i += 1
        else:
            j += 1
    return out


def difference(a: Ranges, b: Ranges) -> Ranges:
    return intersect(a, negate(list(b)))


def contains(a: Ranges, cp: int) -> bool:
    i = bisect.bisect_right(a, (cp, MAX_CP + 1)) - 1
    return i >= 0 and a[i][0] <= cp <= a[i][1]


def from_category(prefixes: tuple[str, ...]) -> Ranges:
    """Ranges of all assigned codepoints whose general category starts
    with any of `prefixes` (e.g. ('L',) for \\p{Letter})."""
    pairs, lo = [], None
    for cp in range(MAX_CP + 1):
        ok = unicodedata.category(chr(cp)).startswith(prefixes)
        if ok and lo is None:
            lo = cp
        elif not ok and lo is not None:
            pairs.append((lo, cp - 1))
            lo = None
    if lo is not None:
        pairs.append((lo, MAX_CP))
    return pairs


# ---------------------------------------------------------------------------
# script property (ICU UScript twin)
# ---------------------------------------------------------------------------

_DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data",
                     "uscript_ranges.json.gz")


class _Scripts:
    """Loaded script table remapped to the ICU id convention the
    ScriptIterator merge test needs: COMMON=0 < INHERITED=1 < rest."""

    def __init__(self) -> None:
        with gzip.open(_DATA, "rt", encoding="ascii") as f:
            d = json.load(f)
        raw_names = d["scripts"]  # index = raw id; [long, short]
        raw_common = next(i for i, p in enumerate(raw_names)
                          if p[0] == "Common")
        raw_inh = next(i for i, p in enumerate(raw_names)
                       if p[0] == "Inherited")
        remap = {}
        self.names: list[tuple[str, str]] = []

        def add(raw_id: int) -> int:
            nid = len(self.names)
            remap[raw_id] = nid
            self.names.append(tuple(raw_names[raw_id]))
            return nid

        add(raw_common)        # -> 0
        add(raw_inh)           # -> 1
        for i in range(len(raw_names)):
            if i not in (raw_common, raw_inh):
                add(i)
        self.unknown = next(i for i, p in enumerate(self.names)
                            if p[0] == "Unknown")
        self.lows: list[int] = []
        self.highs: list[int] = []
        self.ids: list[int] = []
        for lo, hi, raw_id in d["ranges"]:
            nid = remap[raw_id]
            if nid == self.unknown:
                continue
            self.lows.append(lo)
            self.highs.append(hi)
            self.ids.append(nid)
        self.by_long = {p[0]: i for i, p in enumerate(self.names)}
        self.by_short = {p[1]: i for i, p in enumerate(self.names)}

    def script_of(self, cp: int) -> int:
        i = bisect.bisect_right(self.lows, cp) - 1
        if i >= 0 and cp <= self.highs[i]:
            return self.ids[i]
        return self.unknown

    @lru_cache(maxsize=None)
    def ranges_of(self, script_id: int) -> tuple:
        return tuple((lo, hi) for lo, hi, sid in
                     zip(self.lows, self.highs, self.ids)
                     if sid == script_id)


_scripts: _Scripts | None = None


def scripts() -> _Scripts:
    global _scripts
    if _scripts is None:
        _scripts = _Scripts()
    return _scripts


SCRIPT_COMMON = 0
SCRIPT_INHERITED = 1


def script_of(cp: int) -> int:
    return scripts().script_of(cp)


def script_short_name(script_id: int) -> str:
    return scripts().names[script_id][1]


def script_id(name: str) -> int:
    s = scripts()
    if name in s.by_short:
        return s.by_short[name]
    if name in s.by_long:
        return s.by_long[name]
    raise KeyError(f"unknown script {name!r}")


# ---------------------------------------------------------------------------
# property resolution for RBBI UnicodeSets
# ---------------------------------------------------------------------------

# Unicode 6.1 White_Space (PropList.txt; 180E was White_Space until 6.3,
# matching the ICU 49 the reference builds against).
WHITE_SPACE: Ranges = [
    (0x0009, 0x000D), (0x0020, 0x0020), (0x0085, 0x0085), (0x00A0, 0x00A0),
    (0x1680, 0x1680), (0x180E, 0x180E), (0x2000, 0x200A), (0x2028, 0x2029),
    (0x202F, 0x202F), (0x205F, 0x205F), (0x3000, 0x3000),
]

# UAX#29 Word_Break singleton classes (Unicode 6.1).
WB_CR: Ranges = [(0x0D, 0x0D)]
WB_LF: Ranges = [(0x0A, 0x0A)]
WB_NEWLINE: Ranges = [(0x0B, 0x0C), (0x85, 0x85), (0x2028, 0x2029)]

# MidNumLet (6.1) = chars that join both letter and digit runs; the
# probed jflex classes store the unions MIDL = MidLetter|MidNumLet and
# MIDN = MidNum|MidNumLet, so MidNumLet is exactly their intersection.
_wb = None


def _wbmod():
    global _wb
    if _wb is None:
        from . import wbclasses
        _wb = wbclasses
    return _wb


# Line_Break=Word_Joiner (6.1): WORD JOINER + ZWNBSP.
LB_WORD_JOINER: Ranges = [(0x2060, 0x2060), (0xFEFF, 0xFEFF)]


@lru_cache(maxsize=None)
def resolve_property(name: str, value: str | None) -> tuple:
    """Resolve a \\p{name=value} / [:name=value:] query to ranges.

    Covers exactly the properties the reference's shipped .rbbi
    grammars use (uax29/*.rbbi and the three test tailorings)."""
    wb = _wbmod()
    key = name.strip().lower().replace("_", "").replace(" ", "")
    val = (value or "").strip().lower().replace("_", "").replace(" ", "")
    if key in ("wordbreak", "wb"):
        midl = normalize(wb.MIDL_RANGES)
        midn = normalize(wb.MIDN_RANGES)
        table = {
            "cr": WB_CR, "lf": WB_LF, "newline": WB_NEWLINE,
            # Extend/Format appear only unioned in the shipped rules;
            # EXT_RANGES is the probed union of the two.
            "extend": normalize(wb.EXT_RANGES),
            "format": [],
            "katakana": normalize(wb.KATAKANA_RANGES),
            "aletter": normalize(wb.LETTER_RANGES),
            "midnumlet": intersect(midl, midn),
            "midletter": difference(midl, intersect(midl, midn)),
            "midnum": difference(midn, intersect(midl, midn)),
            "numeric": difference(normalize(wb.DIGIT_RANGES),
                                  [(0xFF10, 0xFF19)]),
            "extendnumlet": normalize(wb.ENL_RANGES),
        }
        if val in table:
            return tuple(table[val])
        raise ValueError(f"unsupported Word_Break value {value!r}")
    if key in ("linebreak", "lb"):
        if val in ("complexcontext", "sa"):
            return tuple(normalize(wb.SEA_RANGES))
        if val in ("wordjoiner", "wj"):
            return tuple(LB_WORD_JOINER)
        raise ValueError(f"unsupported Line_Break value {value!r}")
    if key in ("graphemeclusterbreak", "gcb"):
        if val in ("control", "cn"):
            # Only ever subtracted from the Complex_Context set; the
            # UAX#29 definition (Zl Zp Cc Cf Cs minus CR LF ZWNJ ZWJ).
            base = from_category(("Zl", "Zp", "Cc", "Cf", "Cs"))
            return tuple(difference(base, [(0x0A, 0x0A), (0x0D, 0x0D),
                                           (0x200C, 0x200D)]))
        raise ValueError(f"unsupported GCB value {value!r}")
    if key in ("script", "sc"):
        title = (value or "").strip().title().replace(" ", "")
        if title == "Hiragana":
            # probed reference-exact class
            return tuple(normalize(wb.HIRAGANA_RANGES))
        return scripts().ranges_of(script_id(title))
    if key in ("generalcategory", "gc"):
        long_names = {
            "lowercaseletter": "Ll", "uppercaseletter": "Lu",
            "titlecaseletter": "Lt", "modifierletter": "Lm",
            "otherletter": "Lo", "letter": "L",
            "nonspacingmark": "Mn", "spacingmark": "Mc",
            "enclosingmark": "Me", "mark": "M",
            "decimalnumber": "Nd", "letternumber": "Nl",
            "othernumber": "No", "number": "N",
            "spaceseparator": "Zs", "lineseparator": "Zl",
            "paragraphseparator": "Zp", "separator": "Z",
            "control": "Cc", "format": "Cf", "surrogate": "Cs",
            "privateuse": "Co", "unassigned": "Cn",
        }
        cat = long_names.get(val, value.strip())
        return tuple(from_category((cat,)))
    if key in ("decompositiontype", "dt"):
        if val == "wide":
            pairs, lo = [], None
            for cp in range(MAX_CP + 1):
                ok = unicodedata.decomposition(chr(cp)).startswith("<wide>")
                if ok and lo is None:
                    lo = cp
                elif not ok and lo is not None:
                    pairs.append((lo, cp - 1))
                    lo = None
            return tuple(pairs)
        raise ValueError(f"unsupported Decomposition_Type {value!r}")
    if value is None:
        # bare [:Name:] / \p{Name}: binary property, category (short or
        # long general-category name), or script
        long_gc = {
            "nonspacingmark": "Mn", "spacingmark": "Mc",
            "enclosingmark": "Me", "mark": "M",
            "decimalnumber": "Nd", "letternumber": "Nl",
            "uppercaseletter": "Lu", "lowercaseletter": "Ll",
            "titlecaseletter": "Lt", "modifierletter": "Lm",
        }
        if key in long_gc:
            return tuple(from_category((long_gc[key],)))
        if key == "whitespace":
            return tuple(WHITE_SPACE)
        if key == "ideographic":
            return tuple(normalize(wb.CJK_RANGES))
        if key == "letter":
            return tuple(from_category(("L",)))
        if key == "number":
            return tuple(from_category(("N",)))
        if key == "otherletter":
            return tuple(from_category(("Lo",)))
        cat = name.strip()
        if len(cat) <= 2 and (cat[:1].isupper() or len(cat) == 1):
            return tuple(from_category((cat,)))
        try:
            return resolve_property("script", name)
        except KeyError:
            pass
    raise ValueError(f"unsupported property {name!r}={value!r}")
