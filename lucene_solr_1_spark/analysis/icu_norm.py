"""ICU Normalizer2 twin evaluated from the reference's gennorm2 sources.

The reference's ICU module ships ``utr30.nrm``, compiled by the ICU
``gennorm2`` tool from eight TEXT source files which the reference also
ships (``lucene/analysis/icu/src/data/utr30/``, wired in
``build.xml:61-84``).  Rather than parse the ICU binary, this module
re-implements the Normalizer2 ALGORITHM (UAX #15 canonical
decompose/reorder/compose with gennorm2 merge semantics) directly over
those text sources (vendored by tools/gen_icu_data.py):

- ``cp..cp:ccc`` lines set canonical combining classes;
- ``cp>seq`` one-way mappings (decompose only; composition-excluded) —
  an empty ``seq`` deletes the character (how the folding files remove
  diacritics and default ignorables);
- ``cp=seq`` two-way mappings (decompose AND recompose pair);
- later files override earlier per code point (gennorm2 -s merge
  order: nfc, nfkc, nfkc_cf, BasicFoldings, DiacriticFolding,
  DingbatFolding, HanRadicalFolding, NativeDigitFolding);
- Hangul LV/LVT decomposition + composition is algorithmic (gennorm2
  never lists syllables).

IMPORTANT data nuance: the shipped ``nfc.txt``/``nfkc.txt`` are the
utr30-CUSTOMIZED variants produced by ``ant gen-utr30-data-files`` —
diacritic compositions are converted to one-way (``0118>0045 0328
# one-way: diacritic``), because utr30 removes the diacritics anyway.
They are therefore the exact inputs for the FOLDING pipeline but NOT
stock ICU nfc/nfkc data.  Accordingly:

- ``utr30_normalizer()`` — all eight files, compose mode — the exact
  recipe of ``ICUFoldingFilter.java:59-64``'s utr30.nrm (headline
  deliverable; every TestICUFoldingFilter.java golden passes).
- ``icu_normalize(s, "nfc"/"nfkc")`` — delegates to Python's
  ``unicodedata`` (exact per Unicode's normalization-stability policy:
  canonical/compatibility mappings of assigned chars never change).
- ``icu_normalize(s, "nfkc_cf")`` — ICU's NFKC_CaseFold emulated as a
  fixpoint of (strip 6.1 default-ignorable deletions from nfkc_cf.txt
  -> str.casefold -> NFKC); every TestICUNormalizer2Filter.java golden
  passes.  Chars whose casefold/ignorable status changed after
  Unicode 6.1 may differ from the reference — documented residual.

Spark surface: ``icu_fold_df`` / ``icu_normalize_df`` — Arrow-batched
pandas UDFs (per-char table walk is Python; tables build once per
executor via the cached factories).
"""
from __future__ import annotations

import gzip
import pathlib
from functools import lru_cache

_DATA = pathlib.Path(__file__).resolve().parent / "data"

_SRC_ORDER = ["nfc.txt", "nfkc.txt", "nfkc_cf.txt", "BasicFoldings.txt",
              "DiacriticFolding.txt", "DingbatFolding.txt",
              "HanRadicalFolding.txt", "NativeDigitFolding.txt"]

# Hangul constants (UAX #15 / Unicode ch. 3.12)
_SBASE, _LBASE, _VBASE, _TBASE = 0xAC00, 0x1100, 0x1161, 0x11A7
_LCOUNT, _VCOUNT, _TCOUNT = 19, 21, 28
_NCOUNT = _VCOUNT * _TCOUNT
_SCOUNT = _LCOUNT * _NCOUNT


@lru_cache(maxsize=1)
def _sources() -> dict[str, str]:
    with gzip.open(_DATA / "icu_utr30_sources.txt.gz", "rt",
                   encoding="utf-8") as f:
        raw = f.read()
    out: dict[str, str] = {}
    name = None
    buf: list[str] = []
    for line in raw.split("\n"):
        if line.startswith("@@FILE "):
            if name is not None:
                out[name] = "\n".join(buf)
            name = line[len("@@FILE "):]
            buf = []
        else:
            buf.append(line)
    if name is not None:
        out[name] = "\n".join(buf)
    return out


def _parse_into(text: str, ccc: dict[int, int],
                mappings: dict[int, tuple[bool, tuple[int, ...]]]) -> None:
    """Parse one gennorm2 source; later lines override earlier entries
    (two_way flag True for '=' lines)."""
    for line in text.split("\n"):
        line = line.split("#", 1)[0].strip()
        if not line or line.startswith("*"):
            continue
        if ":" in line and ">" not in line and "=" not in line:
            rng, cc = line.split(":")
            cc = int(cc)
            if ".." in rng:
                lo, hi = rng.split("..")
                for cp in range(int(lo, 16), int(hi, 16) + 1):
                    ccc[cp] = cc
            else:
                ccc[int(rng, 16)] = cc
            continue
        two_way = "=" in line and (">" not in line or line.index("=") < line.index(">"))
        sep = "=" if two_way else ">"
        lhs, rhs = line.split(sep, 1)
        seq = tuple(int(t, 16) for t in rhs.split()) if rhs.strip() else ()
        lhs = lhs.strip()
        if ".." in lhs:
            lo, hi = lhs.split("..")
            for cp in range(int(lo, 16), int(hi, 16) + 1):
                mappings[cp] = (two_way, seq)
        else:
            mappings[int(lhs, 16)] = (two_way, seq)


class Normalizer2:
    """Compose-mode normalizer per UAX #15 over merged gennorm2 data."""

    def __init__(self, file_names: list[str], compose: bool = True):
        srcs = _sources()
        self.ccc: dict[int, int] = {}
        self.mappings: dict[int, tuple[bool, tuple[int, ...]]] = {}
        for name in file_names:
            _parse_into(srcs[name], self.ccc, self.mappings)
        # composition pairs from surviving two-way mappings (len-2 seqs)
        self.pairs: dict[tuple[int, int], int] = {}
        for cp, (two_way, seq) in self.mappings.items():
            if two_way and len(seq) == 2:
                self.pairs[seq] = cp
        self.compose_mode = compose
        self._decomp_cache: dict[int, tuple[int, ...]] = {}

    def _decompose_cp(self, cp: int) -> tuple[int, ...]:
        cached = self._decomp_cache.get(cp)
        if cached is not None:
            return cached
        # Hangul syllable: algorithmic canonical decomposition
        if _SBASE <= cp < _SBASE + _SCOUNT:
            s = cp - _SBASE
            l = _LBASE + s // _NCOUNT
            v = _VBASE + (s % _NCOUNT) // _TCOUNT
            t = s % _TCOUNT
            out = (l, v, _TBASE + t) if t else (l, v)
            self._decomp_cache[cp] = out
            return out
        m = self.mappings.get(cp)
        if m is None:
            out = (cp,)
        else:
            out = tuple(x for part in m[1] for x in self._decompose_cp(part))
        self._decomp_cache[cp] = out
        return out

    def _reorder(self, cps: list[int]) -> list[int]:
        """Canonical ordering: stable-sort maximal nonzero-ccc runs."""
        i, n = 0, len(cps)
        get = self.ccc.get
        while i < n:
            if get(cps[i], 0) == 0:
                i += 1
                continue
            j = i + 1
            while j < n and get(cps[j], 0) != 0:
                j += 1
            if j - i > 1:
                cps[i:j] = sorted(cps[i:j], key=lambda c: get(c, 0))
            i = j
        return cps

    def _compose(self, cps: list[int]) -> list[int]:
        """UAX #15 canonical composition (pairs + algorithmic Hangul)."""
        result: list[int] = []
        starter = -1
        get = self.ccc.get
        for ch in cps:
            cc = get(ch, 0)
            if starter >= 0 and (len(result) - 1 == starter
                                 or get(result[-1], 0) < cc):
                prev = result[starter]
                comp = self.pairs.get((prev, ch))
                if comp is None:
                    comp = _hangul_compose(prev, ch)
                if comp is not None:
                    result[starter] = comp
                    continue
            result.append(ch)
            if cc == 0:
                starter = len(result) - 1
        return result

    def normalize(self, s: str) -> str:
        cps: list[int] = []
        for ch in s:
            cps.extend(self._decompose_cp(ord(ch)))
        cps = self._reorder(cps)
        if self.compose_mode:
            cps = self._compose(cps)
        return "".join(map(chr, cps))


def _hangul_compose(a: int, b: int) -> int | None:
    if _LBASE <= a < _LBASE + _LCOUNT and _VBASE <= b < _VBASE + _VCOUNT:
        return _SBASE + ((a - _LBASE) * _VCOUNT + (b - _VBASE)) * _TCOUNT
    if (_SBASE <= a < _SBASE + _SCOUNT and (a - _SBASE) % _TCOUNT == 0
            and _TBASE < b < _TBASE + _TCOUNT):
        return a + (b - _TBASE)
    return None


@lru_cache(maxsize=None)
def _instance(key: tuple[str, ...]) -> Normalizer2:
    return Normalizer2(list(key))


def utr30_normalizer() -> Normalizer2:
    return _instance(tuple(_SRC_ORDER))


def icu_fold(s: str) -> str:
    """ICUFoldingFilter semantics: utr30 compose-mode normalize
    (case folding + accent/default-ignorable removal + compatibility
    folding + native-digit folding), applied per token or text."""
    return utr30_normalizer().normalize(s)


@lru_cache(maxsize=1)
def _nfkc_cf_deletions() -> frozenset:
    """Default-ignorable deletion set from nfkc_cf.txt (cp> with empty
    right side) — the exact Unicode 6.1 NFKC_CF removals."""
    ccc: dict[int, int] = {}
    mp: dict[int, tuple[bool, tuple[int, ...]]] = {}
    _parse_into(_sources()["nfkc_cf.txt"], ccc, mp)
    return frozenset(cp for cp, (_, seq) in mp.items() if seq == ())


def icu_normalize(s: str, form: str = "nfkc_cf") -> str:
    """ICUNormalizer2Filter semantics for nfc/nfkc/nfkc_cf (see module
    docstring for the exactness status of each form)."""
    import unicodedata
    if form == "nfc":
        return unicodedata.normalize("NFC", s)
    if form == "nfkc":
        return unicodedata.normalize("NFKC", s)
    if form == "nfkc_cf":
        dels = _nfkc_cf_deletions()
        prev = None
        cur = s
        while cur != prev:
            prev = cur
            cur = "".join(ch for ch in cur if ord(ch) not in dels)
            cur = unicodedata.normalize("NFKC", cur.casefold())
        return cur
    raise ValueError(f"unknown form {form!r}")


def icu_fold_df(df, text_col: str = "text", out_col: str = "folded"):
    """Spark surface: Arrow-batched utr30 folding of a string column."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType

    # no type hints: PEP-563 string annotations break pyspark sniffing
    @F.pandas_udf(StringType())
    def _fold(s):
        return s.map(lambda x: icu_fold(x) if x is not None else None)

    return df.withColumn(out_col, _fold(F.col(text_col)))


def icu_normalize_df(df, text_col: str = "text", form: str = "nfkc_cf",
                     out_col: str = "normalized"):
    """Spark surface: Arrow-batched Normalizer2 over a string column."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType

    @F.pandas_udf(StringType())
    def _norm(s):
        return s.map(lambda x: icu_normalize(x, form) if x is not None else None)

    return df.withColumn(out_col, _norm(F.col(text_col)))
