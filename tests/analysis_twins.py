"""Plain-Python twins of the JVM Column analysis stages in
lucene_solr_1_spark/analysis/extra.py: the per-token reference forms
that tests/test_components.py and tests/test_stemmer.py check the
Column forms against (and use as oracles on their own)."""

from __future__ import annotations

import unicodedata

from lucene_solr_1_spark.analysis.extra import (FRENCH_ARTICLES, _CJK_RANGE,
                                                _WD_SPLITS)


def ascii_fold_py(token: str) -> str:
    return (unicodedata.normalize("NFKD", token)
            .encode("ascii", "ignore").decode("ascii"))


def shingles_py(tokens: list[str], n: int = 2, sep: str = " ") -> list[str]:
    return [sep.join(tokens[i:i + n]) for i in range(len(tokens) - n + 1)]


def ngrams_py(token: str, n: int = 3) -> list[str]:
    return [token[i:i + n] for i in range(len(token) - n + 1)]


def edge_ngrams_py(token: str, min_n: int = 1, max_n: int = 5) -> list[str]:
    return [token[:k] for k in range(min_n, min(max_n, len(token)) + 1)]


def word_delimiter_py(token: str, catenate: bool = False,
                      preserve_original: bool = False) -> list[str]:
    """WordDelimiterFilter subset (ref: analysis/common/.../miscellaneous/
    WordDelimiterFilter.java): split on intra-word delimiters ([-_.]),
    case transitions and alpha/digit boundaries (generateWordParts +
    generateNumberParts + splitOnCaseChange + splitOnNumerics);
    catenate=True appends the delimiter-free concatenation (catenateAll);
    preserve_original=True keeps the input token first."""
    import re
    s = re.sub(r"[-_.]+", " ", token)
    for pat, rep in _WD_SPLITS:
        s = re.sub(pat, rep, s)
    parts = [p for p in s.split(" ") if p]
    out = ([token] if preserve_original and (len(parts) != 1 or parts[0] != token)
           else [])
    out.extend(parts)
    if catenate and len(parts) > 1:
        out.append("".join(parts))
    return out


def mapping_charfilter_py(text: str, mappings: dict[str, str]) -> str:
    """MappingCharFilter analog (ref: analysis/common/.../charfilter/
    MappingCharFilter.java + NormalizeCharMap.java): greedy
    longest-match-at-position, single left-to-right pass, replacement
    output is NOT rescanned (the FST semantics). Implemented as one
    regex alternation sorted longest-first — Python's re picks the
    first matching alternative at each position, so the sort gives
    leftmost-longest, and re.sub never rescans what it substituted."""
    import re as _re
    if not mappings:
        return text
    srcs = sorted(mappings, key=len, reverse=True)
    rx = _re.compile("|".join(_re.escape(s) for s in srcs))
    return rx.sub(lambda m: mappings[m.group(0)], text)


def pattern_tokenize_py(text: str, pattern: str, group: int = -1) -> list[str]:
    """PatternTokenizer (ref: analysis/common/.../pattern/
    PatternTokenizer.java:43-56): group == -1 -> pattern is the token
    SEPARATOR (split semantics); group >= 0 -> emit that capture group
    of every match."""
    import re as _re
    if group < 0:
        return [t for t in _re.split(pattern, text) if t]
    return [m.group(group) for m in _re.finditer(pattern, text)
            if m.group(group)]


def pattern_replace_py(tokens: list[str], pattern: str, repl: str,
                       replace_all: bool = True) -> list[str]:
    """PatternReplaceFilter (ref: analysis/common/.../pattern/
    PatternReplaceFilter.java:33-44); empty results are kept, as in
    the reference (it never removes tokens)."""
    import re as _re
    rx = _re.compile(pattern)
    return [rx.sub(repl, t, count=0 if replace_all else 1) for t in tokens]


def length_filter_py(tokens: list[str], min_len: int, max_len: int) -> list[str]:
    """LengthFilter (ref: analysis/common/.../miscellaneous/
    LengthFilter.java:30-40): keep tokens with min <= len <= max."""
    return [t for t in tokens if min_len <= len(t) <= max_len]


def trim_filter_py(tokens: list[str]) -> list[str]:
    """TrimFilter (ref: analysis/common/.../miscellaneous/TrimFilter.java)."""
    return [t.strip() for t in tokens]


def keyword_tokenize_py(text: str) -> list[str]:
    """KeywordTokenizer (ref: analysis/core/.../KeywordTokenizer.java):
    the whole input is one token (empty input -> no tokens)."""
    return [text] if text else []


def cjk_bigrams_py(tokens: list[str]) -> list[str]:
    """CJKBigramFilter analog (ref: analysis/common/.../cjk/
    CJKBigramFilter.java): tokens made of CJK codepoints are re-emitted
    as overlapping character bigrams (a lone CJK char stays a unigram);
    non-CJK tokens pass through."""
    import re
    cjk = re.compile(f"^[{_CJK_RANGE}]+$")
    out = []
    for t in tokens:
        if cjk.match(t) and len(t) >= 2:
            out.extend(t[i:i + 2] for i in range(len(t) - 1))
        else:
            out.append(t)
    return out


def elision_py(tokens: list[str],
               articles: frozenset = FRENCH_ARTICLES) -> list[str]:
    """ElisionFilter (ref: util/ElisionFilter.java:33): strip a leading
    article + apostrophe ("l'avion" -> "avion", "qu'il" -> "il"); both
    ASCII ' and U+2019 count. Non-elided tokens pass through."""
    out = []
    for t in tokens:
        for apos in ("'", "’"):
            i = t.find(apos)
            if i > 0 and t[:i].lower() in articles:
                t = t[i + 1:]
                break
        out.append(t)
    return out


def turkish_lowercase_py(token: str) -> str:
    """Turkish-aware lowercase (ref: analysis/common/.../tr/
    TurkishLowerCaseFilter.java:53): I -> {dotless i}, unless a
    combining-dot-above follows (possibly after other combining marks),
    in which case I -> i and every combining dot in that run is
    removed; other chars take the SIMPLE per-codepoint lowercase
    (Character.toLowerCase), so {I WITH DOT ABOVE} -> i (not i + dot)
    and capital sigma never takes the final-sigma form."""
    import unicodedata
    out = []
    i = 0
    n = len(token)
    i_or_after = False
    while i < n:
        ch = token[i]
        i_or_after = (ch == "I"
                      or (i_or_after
                          and unicodedata.category(ch) == "Mn"))
        if i_or_after:
            if ch == "\u0307":          # combining dot above: swallow
                i += 1
                continue
            if ch == "I":
                j = i + 1                # dot after (only) marks?
                before_dot = False
                while j < n and unicodedata.category(token[j]) == "Mn":
                    if token[j] == "\u0307":
                        before_dot = True
                        break
                    j += 1
                if before_dot:
                    out.append("i")
                else:
                    out.append("\u0131")
                    i_or_after = False
                i += 1
                continue
        out.append(_simple_lower(ch))
        i += 1
    return "".join(out)


def _simple_lower(ch: str) -> str:
    # simple (1:1) case mapping: the two chars whose full lowercase
    # diverges from Character.toLowerCase
    if ch == "\u0130":
        return "i"
    low = ch.lower()
    return low if len(low) == 1 else low[0]


def reverse_string_py(tokens: list[str]) -> list[str]:
    """ReverseStringFilter (ref: analysis/common/.../reverse/
    ReverseStringFilter.java:46): reverse each token's characters.
    The indexing half of Solr's ReversedWildcardFilter — see
    search/revwildcard.py for the leading-wildcard query rewrite."""
    return [t[::-1] for t in tokens]


def capitalization_py(tokens: list[str],
                      only_first_word: bool = True,
                      force_first_letter: bool = True,
                      keep: set[str] | None = None,
                      min_word_length: int = 0) -> list[str]:
    """CapitalizationFilter default semantics (miscellaneous/
    CapitalizationFilter.java:87): per space-separated word, keep-list
    words pass through (except a forced first letter on word 1);
    otherwise Title-case words >= min_word_length; with
    only_first_word, words after the first are lowercased."""
    out = []
    for t in tokens:
        words = t.split(" ")
        res = []
        for i, w in enumerate(words):
            if not w:
                res.append(w)
                continue
            if keep and w.lower() in keep:
                if i == 0 and force_first_letter:
                    w = w[0].upper() + w[1:]
                res.append(w)
            elif (i == 0 or not only_first_word) \
                    and len(w) >= min_word_length:
                res.append(w[0].upper() + w[1:].lower())
            else:
                res.append(w.lower())
        out.append(" ".join(res))
    return out


def remove_duplicates_py(tokens: list[str],
                         pos_incs: list[int] | None = None) -> list[str]:
    """RemoveDuplicatesTokenFilter (miscellaneous/RemoveDuplicates
    TokenFilter.java:33): drop a token whose term already occurred AT
    THE SAME POSITION (posInc 0). Without explicit increments, stacked
    synonyms are adjacent in the list model, so equal-adjacent tokens
    are the posInc-0 duplicates."""
    out: list[str] = []
    if pos_incs is not None:
        seen: set[str] = set()
        for t, inc in zip(tokens, pos_incs):
            if inc > 0:
                seen = set()
            if t in seen:
                continue
            seen.add(t)
            out.append(t)
        return out
    for t in tokens:
        if out and out[-1] == t:
            continue
        out.append(t)
    return out


def apostrophe_py(tokens: list[str]) -> list[str]:
    """ApostropheFilter (the Turkish possessive strip that ships with
    later reference lines; factory-compatible): drop the apostrophe and
    everything after it (Turkey'de -> Turkey)."""
    out = []
    for t in tokens:
        i = min((t.find(c) for c in "'’＇" if c in t),
                default=-1)
        out.append(t[:i] if i >= 0 else t)
    return out


def hyphenated_words_py(tokens: list[str]) -> list[str]:
    """HyphenatedWordsFilter (miscellaneous/HyphenatedWordsFilter.java:
    57): a token ending in '-' joins the following token with the
    hyphen removed (line-break de-hyphenation); a trailing unpaired
    hyphenated token keeps its hyphen stripped."""
    out: list[str] = []
    pending: str | None = None
    for t in tokens:
        if pending is not None:
            out.append(pending + t)
            pending = None
            continue
        if t.endswith("-") and len(t) > 1:
            pending = t[:-1]
        else:
            out.append(t)
    if pending is not None:
        out.append(pending)
    return out


def limit_token_count_py(tokens: list[str], max_tokens: int) -> list[str]:
    """LimitTokenCountFilter (miscellaneous/LimitTokenCountFilter.java):
    index only the first max_tokens tokens of a field."""
    return tokens[:max_tokens]


def english_possessive_py(tokens: list[str]) -> list[str]:
    """EnglishPossessiveFilter (en/EnglishPossessiveFilter.java:56):
    strip trailing 's / ’s / ＇s (case-insensitive s)."""
    out = []
    for t in tokens:
        if len(t) >= 2 and t[-2] in "'’＇" and t[-1] in "sS":
            out.append(t[:-2])
        else:
            out.append(t)
    return out
