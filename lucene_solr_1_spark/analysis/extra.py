"""Optional analysis stages beyond the StandardAnalyzer chain — the
engine's TokenFilter extension surface (SURVEY §2.I: swappable stages).

Analogs from lucene/analysis/common:
  ascii_fold         — ASCIIFoldingFilter (accented Latin -> ASCII)
  shingles           — ShingleFilter (word n-grams, used by MinHash dedup)
  ngrams             — NGramTokenFilter (char n-grams)
  edge_ngrams        — EdgeNGramTokenFilter (prefix grams, autocomplete)
  mapping_charfilter — MappingCharFilter (longest-match char rewrites)
  pattern_tokenize   — PatternTokenizer (split / group-extract)
  pattern_replace    — PatternReplaceFilter
  length_filter      — LengthFilter
  trim_filter        — TrimFilter
  keyword_tokenize   — KeywordTokenizer

Each stage listed has a JVM Column form (for indexing pipelines); the
plain-Python twins the tests check them against live in
tests/analysis_twins.py.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


_FOLD_FROM = "àáâãäåçèéêëìíîïñòóôõöùúûüýÿœæ"
_FOLD_TO = "aaaaaaceeeeiiiinooooouuuuyy" + "oa"  # œ->o(e dropped), æ->a


def ascii_fold_expr(col: Column | str) -> Column:
    """translate()-based folding for the common Latin-1 range (the JVM
    fast path, not full NFKD)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.translate(c, _FOLD_FROM, _FOLD_TO)


def shingles_expr(tokens: Column, n: int = 2, sep: str = " ") -> Column:
    """ShingleFilter as a higher-order expression over an array column."""
    return F.when(
        F.size(tokens) >= n,
        F.transform(F.sequence(F.lit(0), F.size(tokens) - n),
                    lambda i: F.concat_ws(sep, F.slice(tokens, i + 1, n)))
    ).otherwise(F.array())


def edge_ngrams_expr(token: Column, min_n: int = 1, max_n: int = 5) -> Column:
    return F.filter(
        F.transform(F.sequence(F.lit(min_n), F.lit(max_n)),
                    lambda k: F.substring(token, 1, k)),
        lambda g: F.length(g) >= min_n)


# ------------------------------------------- word delimiter / CJK bigrams

_WD_SPLITS = [
    (r"([a-z])([A-Z])", r"\1 \2"),          # case transition: camelCase
    (r"([A-Za-z])([0-9])", r"\1 \2"),       # alpha -> digit boundary
    (r"([0-9])([A-Za-z])", r"\1 \2"),       # digit -> alpha boundary
]


def word_delimiter_expr(token: Column, catenate: bool = False) -> Column:
    """JVM Column form: regexp boundary insertion + split (whole-stage
    codegen); returns array<string> of subwords (+ catenation)."""
    s = F.regexp_replace(token, r"[-_.]+", " ")
    for pat, rep in _WD_SPLITS:
        s = F.regexp_replace(s, pat, rep.replace("\\1", "$1").replace("\\2", "$2"))
    parts = F.filter(F.split(s, " "), lambda p: p != F.lit(""))
    if not catenate:
        return parts
    cat = F.regexp_replace(token, r"[-_.]+", "")
    return F.when(F.size(parts) > 1, F.concat(parts, F.array(cat))) \
            .otherwise(parts)


# --------------------------------------------- pattern / mapping factories

def mapping_charfilter_expr(col: Column | str,
                            mappings: dict[str, str]) -> Column:
    """JVM Column form: chained regexp_replace, longest source first.
    Caveat vs the Python/FST form: each later replace DOES see earlier
    replacement output, so exact parity requires that no replacement
    string contains any mapping source (true of fold/normalize maps —
    parity is property-tested on the fixture corpus in
    tests/test_components.py)."""
    import re as _re
    c = F.col(col) if isinstance(col, str) else col
    for s in sorted(mappings, key=len, reverse=True):
        c = F.regexp_replace(c, _re.escape(s),
                             mappings[s].replace("\\", "\\\\").replace("$", r"\$"))
    return c


def pattern_tokenize_expr(col: Column | str, pattern: str,
                          group: int = -1) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    if group < 0:
        return F.filter(F.split(c, pattern), lambda t: t != F.lit(""))
    return F.filter(F.regexp_extract_all(c, F.lit(pattern), F.lit(group)),
                    lambda t: t != F.lit(""))


def pattern_replace_expr(tokens: Column, pattern: str, repl: str) -> Column:
    return F.transform(tokens, lambda t: F.regexp_replace(t, pattern, repl))


def length_filter_expr(tokens: Column, min_len: int, max_len: int) -> Column:
    return F.filter(tokens, lambda t: (F.length(t) >= min_len)
                    & (F.length(t) <= max_len))


def trim_filter_expr(tokens: Column) -> Column:
    return F.transform(tokens, lambda t: F.trim(t))


def keyword_tokenize_expr(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.when(F.length(c) > 0, F.array(c)).otherwise(F.array())


_CJK_RANGE = r"一-鿿㐀-䶿぀-ヿ가-힯"


def cjk_bigrams_expr(tokens: Column) -> Column:
    """JVM form over array<string>."""
    def per_token(t):
        is_cjk = t.rlike(f"^[{_CJK_RANGE}]+$") & (F.length(t) >= 2)
        bigrams = F.transform(F.sequence(F.lit(1), F.length(t) - 1),
                              lambda i: F.substring(t, i, 2))
        return F.when(is_cjk, bigrams).otherwise(F.array(t))
    return F.flatten(F.transform(tokens, per_token))


# --------------------------------------------------------- common grams

def common_grams(tokens: list[str], common: set[str],
                 separator: str = "_") -> list[str]:
    """CommonGramsFilter (ref: lucene/analysis/common/.../commongrams/
    CommonGramsFilter.java:53-126): index-side — emit every unigram, and
    for each adjacent pair where EITHER member is a common word, overlay
    the bigram "prev_current" at the previous token's position
    (posIncrement 0 in the reference; list order here: gram directly
    after its first member). Makes phrase queries over stopword-heavy
    text cheap: the bigram's postings replace a positional intersection
    with the (huge) stopword posting list."""
    out: list[str] = []
    prev: str | None = None
    for t in tokens:
        if prev is not None and (prev in common or t in common):
            out.append(f"{prev}{separator}{t}")
        out.append(t)
        prev = t
    return out


def common_grams_query(tokens: list[str], common: set[str],
                       separator: str = "_") -> list[str]:
    """CommonGramsQueryFilter (ref: commongrams/CommonGramsQueryFilter
    .java:73-84 javadoc example): query-side — output bigrams whenever
    possible; a unigram only when it is a member of no bigram.
    "the rain in spain falls mainly" (common: the, in) ->
    ["the_rain", "rain_in", "in_spain", "falls", "mainly"]."""
    n = len(tokens)
    used = [False] * n
    for i in range(n - 1):
        if tokens[i] in common or tokens[i + 1] in common:
            used[i] = used[i + 1] = True
    out: list[str] = []
    for i in range(n):
        if i < n - 1 and (tokens[i] in common or tokens[i + 1] in common):
            out.append(f"{tokens[i]}{separator}{tokens[i + 1]}")
        if not used[i]:
            out.append(tokens[i])
    return out


def keep_words(tokens: list[str], keep: set[str]) -> list[str]:
    """KeepWordFilter (ref: miscellaneous/KeepWordFilter.java:30):
    inverse of StopFilter — only listed words survive."""
    return [t for t in tokens if t in keep]


def type_token_filter(tokens: list[str], types: list[str],
                      keep_types: set[str], use_white_list: bool = True
                      ) -> list[str]:
    """TypeTokenFilter (ref: core/TypeTokenFilter.java:28): keep (or
    drop) tokens by their lexical type (the StandardTokenizer type
    attribute — ALPHANUM/NUM/CJK...)."""
    if use_white_list:
        return [t for t, ty in zip(tokens, types) if ty in keep_types]
    return [t for t, ty in zip(tokens, types) if ty not in keep_types]


# ------------------------------------------------------------ elision

# FrenchAnalyzer.DEFAULT_ARTICLES (ref: analysis/common/.../fr/
# FrenchAnalyzer.java:68; util/ElisionFilter.java:33)
FRENCH_ARTICLES = frozenset(
    ["l", "m", "t", "qu", "n", "s", "j", "d", "c",
     "jusqu", "quoiqu", "lorsqu", "puisqu"])


def elision_expr(col: Column,
                 articles: frozenset = FRENCH_ARTICLES) -> Column:
    """JVM twin over an array<string> column."""
    pat = "(?i)^(" + "|".join(sorted(articles)) + ")['’]"
    return F.transform(col, lambda t: F.regexp_replace(t, pat, ""))


def turkish_lowercase_expr(col: Column | str) -> Column:
    """Turkish-aware lowercase (ref: analysis/common/.../tr/
    TurkishLowerCaseFilter.java:53) as one Catalyst expression: I ->
    dotless i unless a combining dot above follows (then I -> i and the
    dot goes); other chars take the simple lowercase. Sentinel rewrite: capital I before a (mark-run +) combining dot is
    tagged, the run's dots are deleted through a bounded lookbehind,
    remaining capital I becomes dotless; {I WITH DOT ABOVE} and capital
    sigma are pre-translated to their simple lowercase so the final
    lower() cannot apply the full/contextual mappings."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, "I(?=\\p{Mn}*\u0307)", "\u0000")
    c = F.regexp_replace(c, "(?<=\u0000\\p{Mn}{0,9})\u0307", "")
    c = F.translate(c, "\u0000I\u0130\u03a3", "i\u0131i\u03c3")
    return F.lower(c)


# ------------------------------------------------ misc token filters (r4)

def reverse_string_expr(tokens: Column) -> Column:
    return F.transform(tokens, F.reverse)


def limit_token_count_expr(tokens: Column, max_tokens: int) -> Column:
    return F.slice(tokens, 1, max_tokens)


def english_possessive_expr(tokens: Column) -> Column:
    return F.transform(
        tokens, lambda t: F.regexp_replace(t, "['’＇][sS]$", ""))


# halfwidth kana -> fullwidth (U+FF65-FF9F), with the two voice marks
# kept raw for the combine step (CJKWidthFilter.java:47-55)
_KANA_NORM = [
    0x30fb, 0x30f2, 0x30a1, 0x30a3, 0x30a5, 0x30a7, 0x30a9, 0x30e3,
    0x30e5, 0x30e7, 0x30c3, 0x30fc, 0x30a2, 0x30a4, 0x30a6, 0x30a8,
    0x30aa, 0x30ab, 0x30ad, 0x30af, 0x30b1, 0x30b3, 0x30b5, 0x30b7,
    0x30b9, 0x30bb, 0x30bd, 0x30bf, 0x30c1, 0x30c4, 0x30c6, 0x30c8,
    0x30ca, 0x30cb, 0x30cc, 0x30cd, 0x30ce, 0x30cf, 0x30d2, 0x30d5,
    0x30d8, 0x30db, 0x30de, 0x30df, 0x30e0, 0x30e1, 0x30e2, 0x30e4,
    0x30e6, 0x30e8, 0x30e9, 0x30ea, 0x30eb, 0x30ec, 0x30ed, 0x30ef,
    0x30f3, 0x3099, 0x309a,
]
# combining deltas over U+30A6-30FD (CJKWidthFilter.java:88-103)
_KANA_VOICED = [
    78, 0, 0, 0, 0, 1, 0, 1, 0, 1, 0, 1, 0, 1, 0, 1, 0, 1, 0, 1, 0, 1,
    0, 1, 0, 1, 0, 1, 0, 0, 1, 0, 1, 0, 1, 0, 0, 0, 0, 0, 0, 1, 0, 0,
    1, 0, 0, 1, 0, 0, 1, 0, 0, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    0, 0, 0, 0, 0, 0, 0, 8, 8, 8, 8, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 1,
]
_KANA_HALF_VOICED = [0] * 88
for _i in (41, 44, 47, 50, 53):
    _KANA_HALF_VOICED[_i] = 2


def cjk_width_py(token: str) -> str:
    """CJKWidthFilter (ref: analysis/common/.../cjk/CJKWidthFilter.java:38):
    fold fullwidth ASCII (U+FF01-FF5E) to basic latin, halfwidth
    katakana (U+FF65-FF9F) to fullwidth kana; a halfwidth voice mark
    (U+FF9E/FF9F) combines into the preceding kana when a composed
    form exists, else falls back to the combining mark U+3099/309A."""
    out: list[str] = []
    for ch in token:
        cp = ord(ch)
        if 0xFF01 <= cp <= 0xFF5E:
            out.append(chr(cp - 0xFEE0))
        elif 0xFF65 <= cp <= 0xFF9F:
            if cp in (0xFF9E, 0xFF9F) and out:
                prev = ord(out[-1])
                if 0x30A6 <= prev <= 0x30FD:
                    d = (_KANA_HALF_VOICED if cp == 0xFF9F
                         else _KANA_VOICED)[prev - 0x30A6]
                    if d:
                        out[-1] = chr(prev + d)
                        continue
            out.append(chr(_KANA_NORM[cp - 0xFF65]))
        else:
            out.append(ch)
    return "".join(out)


def cjk_width_expr(col: Column | str) -> Column:
    """JVM twin of cjk_width_py: two translate() passes (fullwidth
    ASCII, plain kana) then composed-voice-mark regexp folds — stays in
    whole-stage codegen, no Python in the scan path."""
    full = "".join(chr(c) for c in range(0xFF01, 0xFF5F))
    half = "".join(chr(c - 0xFEE0) for c in range(0xFF01, 0xFF5F))
    c = F.translate(F.col(col) if isinstance(col, str) else col,
                    full, half)
    # voiced/half-voiced combinations first (two-char -> one composed)
    for src_cp, delta_tab, mark in (
            (0xFF9E, _KANA_VOICED, "ﾞ"),
            (0xFF9F, _KANA_HALF_VOICED, "ﾟ")):
        pairs = [(chr(0x30A6 + i), chr(0x30A6 + i + d))
                 for i, d in enumerate(delta_tab) if d]
        # halfwidth kana must be normalized before the base can
        # combine, so fold single kana first for the pair regex
        src = "".join(p[0] for p in pairs)
        for base, composed in pairs:
            c = F.regexp_replace(
                c, _halfwidth_to_full_regex(base) + mark, composed)
    kana_src = "".join(chr(c_) for c_ in range(0xFF65, 0xFFA0))
    kana_dst = "".join(chr(c_) for c_ in _KANA_NORM)
    return F.translate(c, kana_src, kana_dst)


def _halfwidth_to_full_regex(base_kana: str) -> str:
    """Regex matching the fullwidth kana OR its halfwidth source(s)."""
    alts = [base_kana]
    cp = ord(base_kana)
    for i, norm in enumerate(_KANA_NORM):
        if norm == cp:
            alts.append(chr(0xFF65 + i))
    return "(" + "|".join(alts) + ")"
