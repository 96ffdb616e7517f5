"""Positional queries: exact phrase, sloppy phrase, span-near.

Reference semantics:
  * PhraseQuery / ExactPhraseScorer (ref: lucene/core/.../search/
    PhraseQuery.java:48, ExactPhraseScorer.java:26-33): docs where the
    terms occur at consecutive positions; scored like a single term with
    freq = number of phrase occurrences, idf = Σ per-term idf
    (PhraseWeight pulls termStatistics for all terms).
  * Sloppy phrase (SloppyPhraseScorer.java:32): we implement the
    window-based subset — a match is a set of positions p_i for term i
    with max(p_i - i) - min(p_i - i) <= slop; freq contribution 1 per
    distinct anchor (an explicit, tested spec; Lucene's edit-distance
    formulation differs for repeated terms).
  * SpanNearQuery (spans/SpanNearQuery.java:41): unordered within-window
    matching via the same kernel with ordered=False.

Execution shape: the terms' postings come from the searcher's one
postings scan (IndexSearcher._scored_candidates) with norms and
positions requested — its view (NRT generations too), deleted docs
already dropped. One pivot per doc gathers the position arrays, rows
missing a required term drop out (the conjunction), and the
position-intersection kernel runs per doc over Arrow-shipped arrays.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from .bm25 import avg_field_length, idf as bm25_idf, K1, B as B_PARAM


def _phrase_freq(pos_lists: list[np.ndarray], slop: int, ordered: bool,
                 strict: bool = False) -> int:
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


def _positional_piv(searcher, tidx: dict[str, int], required_idx: list[int]):
    """Per-doc pivot of decoded position lists: DataFrame(docid, norm,
    p0..pn array<int>), null where the doc lacks the term; rows missing
    any `required_idx` column are dropped. ``tidx`` numbers its terms in
    order (0, 1, ...). Shared by phrase/span kernels."""
    cands = searcher._scored_candidates(list(tidx),
                                        extra=("norm", "positions"))
    # ignorenulls=True is REQUIRED: each (docid, tidx) has exactly one
    # row, so "the non-null value" is well-defined; plain first() keeps
    # whichever row the partial-aggregate saw first (null for other
    # tidx), silently dropping terms depending on the physical plan.
    piv = (cands.groupBy("docid")
           .agg(F.first("norm", ignorenulls=True).alias("norm"),
                *[F.first(F.when(F.col("tidx") == i, F.col("positions")),
                          ignorenulls=True)
                  .alias(f"p{i}") for i in range(len(tidx))]))
    if required_idx:
        piv = piv.dropna(subset=[f"p{i}" for i in required_idx])
    return piv


def span_first(searcher, term: str, end: int, k: int = 10,
               dtype=np.float32) -> DataFrame:
    """SpanFirstQuery analog (ref: search/spans/SpanFirstQuery.java):
    docs where `term` occurs at a position < `end`, scored with
    freq = number of such occurrences. Requires positions=True."""
    return phrase_search(searcher, [term], slop=0, ordered=True, k=k,
                         dtype=dtype, max_position=end - 1)


def phrase_scores(searcher, terms: list[str], slop: int = 0, ordered: bool = True,
                  dtype=np.float32, max_position: int | None = None,
                  boost: float = 1.0) -> DataFrame:
    """Per-doc phrase scores, pre-top-k: DataFrame(docid, score) with one
    row per doc where the phrase occurs (freq > 0). The building block
    for phrase_search and for phrase clauses inside parsed BooleanQueries
    (PhraseWeight inside BooleanWeight). boost multiplies the weight
    value before scoring (Query.setBoost, float discipline)."""
    spark = searcher.spark
    spark_t = "float" if dtype == np.float32 else "double"
    st = searcher.term_stats(terms)
    if len(st) < len(set(terms)):   # a term is missing: no hits
        return spark.createDataFrame([], f"docid long, score {spark_t}")
    # phrase weight: sum of per-term idfs (PhraseWeight), float discipline
    sum_idf = dtype(0.0)
    for t in terms:
        df_t = int(st.set_index("term").loc[t, "df"])
        sum_idf = dtype(sum_idf + bm25_idf(df_t, searcher.max_doc, dtype=dtype))
    if boost != 1.0:
        sum_idf = dtype(sum_idf * dtype(boost))
    weight_value = dtype(sum_idf * dtype(K1 + 1.0))
    # per-field avgdl on a multi-field index (all phrase terms share the
    # first term's field — PhraseQuery is single-field in Lucene)
    avgdl = searcher._avgdl_for(terms[0], dtype=dtype)
    from ..index.smallfloat import NORM_INV_TABLE
    cache = (dtype(K1) * ((dtype(1.0) - dtype(B_PARAM))
             + (dtype(B_PARAM) * NORM_INV_TABLE.astype(dtype)) / dtype(avgdl))).astype(dtype)
    tidx = {t: i for i, t in enumerate(dict.fromkeys(terms))}
    piv = _positional_piv(searcher, tidx, required_idx=list(range(len(tidx))))

    # term occurrence order in the phrase (duplicate terms share postings)
    order_idx = [tidx[t] for t in terms]

    def score_rows(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            freqs = np.zeros(len(pdf), dtype=np.int64)
            for i in range(len(pdf)):
                pls = [np.asarray(pdf[f"p{j}"].iloc[i], dtype=np.int64)
                       for j in order_idx]
                if max_position is not None:
                    pls = [p[p <= max_position] for p in pls]
                freqs[i] = _phrase_freq(pls, slop, ordered)
            keep = freqs > 0
            if not keep.any():
                continue
            tf = freqs[keep].astype(dtype)
            c = cache[pdf["norm"].to_numpy(np.int64)[keep] & 0xFF]
            score = ((weight_value * tf) / (tf + c)).astype(dtype)
            yield pd.DataFrame({"docid": pdf["docid"].to_numpy()[keep],
                                "score": score})

    return piv.mapInPandas(score_rows, schema=f"docid long, score {spark_t}")


def phrase_search(searcher, terms: list[str], slop: int = 0, ordered: bool = True,
                  k: int = 10, dtype=np.float32,
                  max_position: int | None = None) -> DataFrame:
    """Top-k DataFrame(docid, score, rank) for a positional query.
    Requires an index built with positions=True. max_position restricts
    matches to positions <= max_position (SpanFirst support)."""
    from .engine import topk_with_rank
    scored = phrase_scores(searcher, terms, slop=slop, ordered=ordered,
                           dtype=dtype, max_position=max_position)
    return topk_with_rank(scored, k)


def _bm25_phrase_scorer(searcher, sum_idf, dtype):
    """(weight_value, cache) for a span/phrase treated as one pseudo-term
    with idf = sum_idf (PhraseWeight / SpanWeight stats pull)."""
    from ..index.smallfloat import NORM_INV_TABLE
    weight_value = dtype(sum_idf * dtype(K1 + 1.0))
    avgdl = avg_field_length(searcher.sum_ttf, searcher.max_doc, dtype=dtype)
    cache = (dtype(K1) * ((dtype(1.0) - dtype(B_PARAM))
             + (dtype(B_PARAM) * NORM_INV_TABLE.astype(dtype))
             / dtype(avgdl))).astype(dtype)
    return weight_value, cache


def _span_topk(piv, freq_fn, weight_value, cache, k, dtype, spark_t):
    """Shared tail: per-doc freq via freq_fn(row_positions) -> BM25-style
    score -> global top-k with (score desc, docid asc) ties."""
    ncols = len([c for c in piv.columns if c.startswith("p")])

    def score_rows(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            freqs = np.zeros(len(pdf), dtype=np.int64)
            for i in range(len(pdf)):
                pls = [None if pdf[f"p{j}"].iloc[i] is None
                       else np.asarray(pdf[f"p{j}"].iloc[i], dtype=np.int64)
                       for j in range(ncols)]
                freqs[i] = freq_fn(pls)
            keep = freqs > 0
            if not keep.any():
                continue
            tf = freqs[keep].astype(dtype)
            c = cache[pdf["norm"].to_numpy(np.int64)[keep] & 0xFF]
            score = ((weight_value * tf) / (tf + c)).astype(dtype)
            yield pd.DataFrame({"docid": pdf["docid"].to_numpy()[keep],
                                "score": score})

    from .engine import topk_with_rank
    scored = piv.mapInPandas(
        score_rows, schema=f"docid long, score {spark_t}")
    return topk_with_rank(scored, k)


def multi_phrase_search(searcher, slots: list[list[str]], slop: int = 0,
                        k: int = 10, dtype=np.float32,
                        ordered: bool = True,
                        strict: bool = False) -> DataFrame:
    """MultiPhraseQuery analog (ref: lucene/core/.../search/
    MultiPhraseQuery.java:51; UnionDocsAndPositionsEnum :486-523): a
    phrase where each position matches ANY of a term set — the
    synonym-expanded phrase. slots = [["table","row"], ["hash"]] matches
    "table hash" or "row hash". Matching positions of a slot are the
    UNION of its terms' position lists; freq = number of aligned
    occurrences (slop rules as PhraseQuery); weight idf = Σ idf over all
    terms of all slots (MultiPhraseWeight pulls termStatistics for every
    term). Requires positions=True."""
    spark = searcher.spark
    spark_t = "float" if dtype == np.float32 else "double"
    all_terms = list(dict.fromkeys(t for s in slots for t in s))
    st = searcher.term_stats(all_terms)
    present = set(st["term"]) if len(st) else set()
    # a slot with NO present term can never match (conjunction over slots)
    if any(not any(t in present for t in s) for s in slots):
        return spark.createDataFrame(
            [], f"docid long, score {spark_t}, rank long")
    sidx = st.set_index("term")
    sum_idf = dtype(0.0)
    for t in all_terms:
        if t in present:
            sum_idf = dtype(sum_idf + bm25_idf(int(sidx.loc[t, "df"]),
                                               searcher.max_doc, dtype=dtype))
    weight_value, cache = _bm25_phrase_scorer(searcher, sum_idf, dtype)
    live_terms = [t for t in all_terms if t in present]
    tidx = {t: i for i, t in enumerate(live_terms)}
    piv = _positional_piv(searcher, tidx, required_idx=[])
    slot_idx = [[tidx[t] for t in s if t in present] for s in slots]

    def freq_fn(pls):
        union_lists = []
        for idxs in slot_idx:
            parts = [pls[j] for j in idxs if pls[j] is not None]
            if not parts:
                return 0           # doc lacks every term of this slot
            u = parts[0] if len(parts) == 1 else \
                np.unique(np.concatenate(parts))
            union_lists.append(u)
        return _phrase_freq(union_lists, slop, ordered=ordered,
                            strict=strict)

    return _span_topk(piv, freq_fn, weight_value, cache, k, dtype, spark_t)


def span_or(searcher, phrases: list[list[str]], slop: int = 0,
            ordered: bool = True, k: int = 10, dtype=np.float32) -> DataFrame:
    """SpanOrQuery analog (ref: search/spans/SpanOrQuery.java): docs where
    ANY sub-span (each a term sequence matched like SpanNear) occurs;
    freq = Σ sub-span freqs; weight = Σ idf over the terms of the
    matchable sub-spans (SpanWeight pulls stats for the whole tree)."""
    spark = searcher.spark
    spark_t = "float" if dtype == np.float32 else "double"
    empty = T.StructType([T.StructField("docid", T.LongType()),
                          T.StructField("score", T.FloatType() if dtype == np.float32
                                        else T.DoubleType()),
                          T.StructField("rank", T.LongType())])
    all_terms = list(dict.fromkeys(t for p in phrases for t in p))
    st = searcher.term_stats(all_terms)
    present = set(st["term"]) if len(st) else set()
    live = [p for p in phrases if all(t in present for t in p)]
    if not live:
        return spark.createDataFrame([], empty)
    live_terms = list(dict.fromkeys(t for p in live for t in p))
    sidx = st.set_index("term")
    sum_idf = dtype(0.0)
    for t in live_terms:
        sum_idf = dtype(sum_idf + bm25_idf(int(sidx.loc[t, "df"]),
                                           searcher.max_doc, dtype=dtype))
    weight_value, cache = _bm25_phrase_scorer(searcher, sum_idf, dtype)
    tidx = {t: i for i, t in enumerate(live_terms)}
    piv = _positional_piv(searcher, tidx, required_idx=[])
    orders = [[tidx[t] for t in p] for p in live]

    def freq_fn(pls):
        total = 0
        for order in orders:
            sub = [pls[j] for j in order]
            if any(p is None for p in sub):
                continue
            total += _phrase_freq(sub, slop, ordered)
        return total

    return _span_topk(piv, freq_fn, weight_value, cache, k, dtype, spark_t)


def span_not(searcher, include: str, exclude: str, pre: int = 0,
             post: int = 0, k: int = 10, dtype=np.float32) -> DataFrame:
    """SpanNotQuery analog (ref: search/spans/SpanNotQuery.java): spans of
    `include` with no `exclude` occurrence within `pre` tokens before or
    `post` tokens after — i.e. an include position p is dropped when an
    exclude q lies in [p-pre, p+post], matching the upstream
    SpanNotQuery(include, exclude, pre, post) convention (pre expands the
    window before the include span). Freq = surviving occurrences;
    weight = include's idf (the exclusion clause contributes no stats)."""
    spark = searcher.spark
    spark_t = "float" if dtype == np.float32 else "double"
    empty = T.StructType([T.StructField("docid", T.LongType()),
                          T.StructField("score", T.FloatType() if dtype == np.float32
                                        else T.DoubleType()),
                          T.StructField("rank", T.LongType())])
    st = searcher.term_stats([include, exclude])
    sidx = st.set_index("term") if len(st) else st
    if not len(st) or include not in sidx.index:
        return spark.createDataFrame([], empty)
    sum_idf = bm25_idf(int(sidx.loc[include, "df"]), searcher.max_doc,
                       dtype=dtype)
    weight_value, cache = _bm25_phrase_scorer(searcher, dtype(sum_idf), dtype)
    has_excl = exclude in sidx.index
    tidx = {include: 0} | ({exclude: 1} if has_excl else {})
    piv = _positional_piv(searcher, tidx, required_idx=[0])

    def freq_fn(pls):
        inc = pls[0]
        if inc is None:
            return 0
        if not has_excl or len(pls) < 2 or pls[1] is None:
            return len(inc)
        exc = pls[1]
        # drop include positions p with an exclude q in [p-pre, p+post]
        lo = np.searchsorted(exc, inc - pre)    # first q >= p - pre
        bad = (lo < len(exc)) & (exc[np.minimum(lo, len(exc) - 1)] <= inc + post)
        return int((~bad).sum())

    return _span_topk(piv, freq_fn, weight_value, cache, k, dtype, spark_t)


def field_masking_span(searcher, clauses: list[tuple[str, str]],
                       slop: int = 0, ordered: bool = True, k: int = 10,
                       dtype=np.float32) -> DataFrame:
    """FieldMaskingSpanQuery analog (ref: lucene/core/.../search/spans/
    FieldMaskingSpanQuery.java:33-77): a span-near whose clauses come
    from DIFFERENT fields, their positions compared as if one field —
    meaningful when the fields are parallel token arrays (the javadoc's
    teacher first/last-name example). Each (field, term) resolves to its
    per-field postings key; matching and scoring then follow
    phrase_search's span-near convention (freq = masked span count,
    weight = Σ per-clause idf). Requires a multi-field positional index."""
    keys = [searcher.term_key(f, t) for f, t in clauses]
    return phrase_search(searcher, keys, slop=slop, ordered=ordered, k=k,
                         dtype=dtype)
