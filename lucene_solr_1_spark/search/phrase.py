"""Positional queries: exact phrase, sloppy phrase, span-near, and the
span family built on them (SpanFirst, SpanOr, SpanNot, FieldMaskingSpan,
MultiPhrase; PayloadNear in index/payloads.py).

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

Execution shape: one positions kernel, two executors. A positional query
is planned once (_plan): its scan terms and their term stats, read once;
the PhraseWeight (weight value and BM25 norm cache); and a kernel spec
(Near, SpanOr, SpanNot). The terms' postings come from the searcher's
one postings scan with norms and positions requested — its view (NRT
generations too), deleted docs already dropped. positional_scores reads
the scan's flat columns: each term's positions become one sorted int64
key array doc_row << 32 | position, gathered straight from the
positions list array's offsets, and the spec runs over all docs at
once. Exact and sloppy phrases, strict span-near, unordered, span-not
and multi-phrase slot unions are vectorized np.searchsorted over the
same keys (an exact phrase is the sloppy window at slop 0); np.bincount
gives the per-doc freq, scored like one term. Under the searcher's size
rule (Σ ttf of the scan terms) the kernel runs once over _scan_local's
table;
otherwise it runs on each docid-hash partition under mapInArrow, every
row of a doc in one partition, as combine_frame runs combine_topk.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, functions as F, types as T

from .bm25 import avg_field_length, idf as bm25_idf, K1, B as B_PARAM
from .engine import combine_topk, local_frame, result_schema, topk_with_rank

# a key is doc_row << DOC_SHIFT | position
DOC_SHIFT = 32


def near_matches(keys: list[np.ndarray], slop: int, ordered: bool = True,
                 strict: bool = False):
    """The span-near kernel over every doc at once. ``keys[s]`` holds slot
    s's occurrences as sorted int64 keys doc_row << 32 | position.
    Returns (anchors, picks): the indices into keys[0] of the anchor
    occurrences that match (one match per anchor, in key order) and,
    per slot s >= 1, the indices into keys[s] of the occurrences those
    matches use (the span's witnesses).

    * strict (with ordered) is the SpanNearQuery(ordered) contract
      (ref: lucene/core/.../search/spans/NearSpansOrdered.java:49): the
      greedy smallest-next witness p_s > p_(s-1), which minimizes the
      total span, matching iff slop consumed = p_n - p_0 - (n-1) <= slop;
    * otherwise the sloppy-phrase offset window (SloppyPhraseScorer),
      which tolerates small back-steps: per slot the occurrence nearest
      to the anchor within slop (q = p_s - s when ordered, p_s raw
      when not; the earlier one on a tie), and all of the anchor's picks
      within one window of width slop; at slop 0 (ordered) that is the
      exact phrase, p_s == p_0 + s."""
    idx = np.arange(len(keys[0]))
    if any(len(k) == 0 for k in keys):
        return idx[:0], [idx[:0] for _ in keys[1:]]
    a = keys[0]
    doc = a >> DOC_SHIFT
    prev = lo = hi = a
    picks = []
    for s, q in enumerate(keys[1:], start=1):
        if strict and ordered:
            j = np.searchsorted(q, prev + 1)
            pick = np.minimum(j, len(q) - 1)
            ok = (j < len(q)) & (q[pick] >> DOC_SHIFT == doc)
            prev = q[pick]
        else:
            off = s if ordered else 0
            at = a + off
            j = np.searchsorted(q, at)
            left, right = np.maximum(j - 1, 0), np.minimum(j, len(q) - 1)
            dl, dr = at - q[left], q[right] - at
            lok = (j > 0) & (q[left] >> DOC_SHIFT == doc) & (dl <= slop)
            rok = (j < len(q)) & (q[right] >> DOC_SHIFT == doc) & (dr <= slop)
            pick = np.where(rok & ~(lok & (dl <= dr)), right, left)
            best = q[pick] - off
            lo, hi = np.minimum(lo, best), np.maximum(hi, best)
            ok = (lok | rok) & (hi - lo <= slop)
            lo, hi = lo[ok], hi[ok]
        a, doc, prev, idx = a[ok], doc[ok], prev[ok], idx[ok]
        picks = [p[ok] for p in picks] + [pick[ok]]
    if strict and ordered:
        ok = prev - a - (len(keys) - 1) <= slop
        idx, picks = idx[ok], [p[ok] for p in picks]
    return idx, picks


def _phrase_freq(pos_lists: list[np.ndarray], slop: int, ordered: bool,
                 strict: bool = False) -> int:
    """#occurrences in one doc: near_matches over ``pos_lists``, each
    slot's sorted positions."""
    keys = [np.asarray(p, np.int64) for p in pos_lists]
    return len(near_matches(keys, slop, ordered, strict)[0])


class Occurrences:
    """The positions of a postings scan's rows (docid, tidx, norm,
    positions; rows with null positions are left out) over their
    distinct docs ``docs`` (ascending): per-term key arrays
    doc_row << 32 | position, and each doc's norm — that of its row of
    the lowest tidx, the first phrase term's field on a multi-field
    index."""

    def __init__(self, rows):
        import pyarrow.compute as pc
        if rows.column("positions").null_count:
            rows = rows.filter(pc.is_valid(rows.column("positions")))
        docid = rows.column("docid").to_numpy()
        self.docs, self.row = np.unique(docid, return_inverse=True)
        self.tidx = rows.column("tidx").to_numpy()
        norm = rows.column("norm").to_numpy()
        self.norm = np.zeros(len(self.docs), np.int64)
        for t in np.unique(self.tidx)[::-1]:
            m = self.tidx == t
            self.norm[self.row[m]] = norm[m]
        pos = rows.column("positions").combine_chunks()
        self.off = pos.offsets.to_numpy()
        self.vals = pos.values.to_numpy()
        self._keys: dict = {}

    def keys(self, terms: tuple, max_position: int | None = None):
        """Sorted keys of the occurrences of any term of ``terms`` (one
        term, or a multi-phrase slot's union) at positions <=
        max_position."""
        memo = (terms, max_position)
        if memo not in self._keys:
            r = np.flatnonzero(np.isin(self.tidx, terms))
            start = self.off[r]
            lens = self.off[r + 1] - start
            at = np.arange(lens.sum()) + np.repeat(start - np.cumsum(lens)
                                                   + lens, lens)
            pos = self.vals[at].astype(np.int64)
            keys = np.repeat(self.row[r].astype(np.int64), lens) << DOC_SHIFT
            keys |= pos
            if max_position is not None:
                keys = keys[pos <= max_position]
            self._keys[memo] = (np.unique(keys) if len(set(terms)) > 1
                                else np.sort(keys, kind="stable"))
        return self._keys[memo]

    def doc_start(self, keys, doc):
        """Index in ``keys`` of each ``doc``'s first key: an index minus it
        is the occurrence's index in the doc's list."""
        return np.searchsorted(keys, doc << DOC_SHIFT)


class Spec:
    """A positional query's kernel: evaluate(occ, rows) gives each doc's
    freq and an optional per-doc score factor."""

    def evaluate(self, occ: Occurrences, rows):
        return self.freq(occ), None


@dataclass(frozen=True)
class Near(Spec):
    """A phrase / span-near. ``slots`` holds each slot's term indices:
    one term, or the union a multi-phrase slot matches."""
    slots: tuple
    slop: int = 0
    ordered: bool = True
    strict: bool = False
    max_position: int | None = None

    def matches(self, occ: Occurrences):
        """(slot keys, anchors, picks) of near_matches."""
        keys = [occ.keys(s, self.max_position) for s in self.slots]
        return (keys,) + near_matches(keys, self.slop, self.ordered,
                                      self.strict)

    def freq(self, occ: Occurrences):
        keys, anchors, _ = self.matches(occ)
        return np.bincount(keys[0][anchors] >> DOC_SHIFT,
                           minlength=len(occ.docs))


@dataclass(frozen=True)
class SpanOr(Spec):
    """freq = Σ of the sub-spans' freqs."""
    spans: tuple

    def freq(self, occ: Occurrences):
        return sum(s.freq(occ) for s in self.spans)


@dataclass(frozen=True)
class SpanNot(Spec):
    """Occurrences of ``include`` with no ``exclude`` occurrence q in
    [p - pre, p + post]; exclude None: every include occurrence."""
    include: int
    exclude: int | None
    pre: int = 0
    post: int = 0

    def freq(self, occ: Occurrences):
        inc = occ.keys((self.include,))
        keep = np.ones(len(inc), bool)
        exc = occ.keys((self.exclude,)) if self.exclude is not None else []
        if len(exc):
            doc = inc >> DOC_SHIFT
            # first exclude q >= p - pre of the same doc
            j = np.searchsorted(exc, np.maximum(inc - self.pre,
                                                doc << DOC_SHIFT))
            q = exc[np.minimum(j, len(exc) - 1)]
            keep = ~((j < len(exc)) & (q >> DOC_SHIFT == doc)
                     & (q - inc <= self.post))
        return np.bincount(inc[keep] >> DOC_SHIFT, minlength=len(occ.docs))


def positional_scores(rows, spec: Spec, weight_value, cache,
                      dtype=np.float32) -> dict:
    """The positions kernel: scan rows (an Arrow table of docid, tidx,
    norm, positions) -> columns docid, score of the docs whose freq is
    positive, freq scored like one term with BM25's norm cache (times
    the spec's factor, if any). The body of both executors: the
    in-process one calls it once, the Spark one per docid partition."""
    occ = Occurrences(rows)
    freq, factor = spec.evaluate(occ, rows)
    keep = freq > 0
    tf = freq[keep].astype(dtype)
    c = cache[occ.norm[keep] & 0xFF]
    score = ((weight_value * tf) / (tf + c)).astype(dtype)
    if factor is not None:
        score = (score * factor[keep].astype(dtype)).astype(dtype)
    return {"docid": occ.docs[keep], "score": score}


@dataclass
class _Plan:
    """A positional query planned once: the scan's term weights
    (term -> (tidx, TermWeight)), the postings it reads (Σ ttf), its
    kernel spec and its PhraseWeight (weight value, norm cache)."""
    searcher: object
    weights: dict
    postings: int
    spec: Spec
    weight_value: object
    cache: np.ndarray
    dtype: type


def _plan(searcher, scan_terms: list[str], spec: Spec, idf_terms: list[str],
          stats, dtype=np.float32, boost: float = 1.0,
          avgdl=None) -> _Plan:
    """Plan a positional query from its term stats (``stats``, the
    term_stats rows of at least ``scan_terms``, which are present and
    distinct; a term's tidx is its index there). The weight is the
    PhraseWeight / SpanWeight stats pull: idf = Σ idf over ``idf_terms``
    in float discipline, times ``boost`` (Query.setBoost), with the
    index's avgdl unless ``avgdl`` is given."""
    from ..index.smallfloat import NORM_INV_TABLE
    df = dict(zip(stats["term"], stats["df"]))
    ttf = dict(zip(stats["term"], stats["ttf"]))
    sum_idf = dtype(0.0)
    for t in idf_terms:
        sum_idf = dtype(sum_idf + bm25_idf(int(df[t]), searcher.max_doc,
                                           dtype=dtype))
    if boost != 1.0:
        sum_idf = dtype(sum_idf * dtype(boost))
    if avgdl is None:
        avgdl = avg_field_length(searcher.sum_ttf, searcher.max_doc,
                                 dtype=dtype)
    cache = (dtype(K1) * ((dtype(1.0) - dtype(B_PARAM))
             + (dtype(B_PARAM) * NORM_INV_TABLE.astype(dtype))
             / dtype(avgdl))).astype(dtype)
    return _Plan(searcher,
                 searcher._weights(scan_terms, dtype, stats=stats),
                 sum(int(ttf[t]) for t in scan_terms), spec,
                 dtype(sum_idf * dtype(K1 + 1.0)), cache, dtype)


_ROWS = ["docid", "tidx", "norm", "positions"]


def _side_table(searcher, side):
    """A (term, docid, payloads) side table's rows of the terms of
    ``side`` = (path, term -> tidx), as rows (docid, tidx, payloads)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    path, tidx = side
    tbl = searcher._read_table(path, ["term", "docid", "payloads"],
                               ("term", list(tidx)))
    # tidx numbers the terms in insertion order
    return pa.table({
        "docid": tbl.column("docid"),
        "tidx": pc.index_in(tbl.column("term"), value_set=pa.array(
            list(tidx), tbl.schema.field("term").type)).cast(pa.int32()),
        "payloads": tbl.column("payloads")})


def _table(plan: _Plan, side=None) -> dict:
    """The in-process executor: the kernel once over _scan_local's rows,
    plus the rows of the side table ``side`` (see _side_table)."""
    import pyarrow as pa
    s = plan.searcher
    rows = s._scan_local(plan.weights, plan.dtype,
                         extra=("norm", "positions")).select(_ROWS)
    if side is not None:
        rows = pa.concat_tables([rows, _side_table(s, side)],
                                promote_options="default")
    return positional_scores(rows, plan.spec, plan.weight_value, plan.cache,
                             plan.dtype)


def _frame(plan: _Plan, side=None) -> DataFrame:
    """The Spark executor: the scan rows (plus the side table's rows of
    its terms) hash partitioned on docid, the kernel per partition."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    s = plan.searcher
    schema = T.StructType(result_schema(plan.dtype).fields[:2])
    out_schema = to_arrow_schema(schema)
    rows = s._scan_frame(plan.weights, plan.dtype,
                         extra=("norm", "positions")).select(*_ROWS)
    if side is not None:
        path, tidx = side
        code = F.create_map(*[F.lit(x) for t, i in tidx.items()
                              for x in (t, i)])
        rows = rows.unionByName(
            s.spark.read.parquet(path)
            .filter(F.col("term").isin(list(tidx)))
            .select("docid", code[F.col("term")].cast("int").alias("tidx"),
                    "payloads"), allowMissingColumns=True)
    spec, weight_value, cache = plan.spec, plan.weight_value, plan.cache
    dtype = plan.dtype

    def positions(batches):
        batches = [b for b in batches if b.num_rows]
        if not batches:
            return
        out = positional_scores(pa.Table.from_batches(batches), spec,
                                weight_value, cache, dtype)
        if len(out["docid"]):
            yield pa.RecordBatch.from_arrays(
                [pa.array(out["docid"]), pa.array(out["score"])],
                schema=out_schema)

    return rows.repartition("docid").mapInArrow(positions, schema)


def _scores(searcher, plan: _Plan | None, dtype=np.float32,
            side=None) -> DataFrame:
    """DataFrame(docid, score) of a plan, one row per doc where it
    matches: computed here under the size rule, else the Spark plan.
    A None plan (an absent term) has no rows."""
    schema = T.StructType(result_schema(dtype).fields[:2])
    if plan is None:
        return local_frame(searcher.spark, schema)
    if searcher._runs_local(plan.postings):
        return local_frame(searcher.spark, schema, _table(plan, side))
    return _frame(plan, side)


def _topk(searcher, plan: _Plan | None, k: int, dtype=np.float32,
          side=None) -> DataFrame:
    """Top-k DataFrame(docid, score, rank) of a plan (None: no hits)."""
    if plan is None:
        return local_frame(searcher.spark, result_schema(dtype))
    if searcher._runs_local(plan.postings):
        ph = _table(plan, side)
        return local_frame(searcher.spark, result_schema(dtype), combine_topk(
            ph["docid"], np.zeros(len(ph["docid"]), np.int64), ph["score"],
            1, k, dtype))
    return topk_with_rank(_frame(plan, side), k)


def _phrase_plan(searcher, terms: list[str], slop: int = 0,
                 ordered: bool = True, dtype=np.float32,
                 max_position: int | None = None,
                 boost: float = 1.0) -> _Plan | None:
    """The plan of a phrase over ``terms`` (repeats allowed), or None when
    a phrase term is absent (no hits). Its avgdl is the first term's
    field's (PhraseQuery is single-field in Lucene)."""
    st = searcher.term_stats(terms)
    if len(st) < len(set(terms)):
        return None
    scan = list(dict.fromkeys(terms))
    tidx = {t: i for i, t in enumerate(scan)}
    spec = Near(tuple((tidx[t],) for t in terms), slop, ordered,
                max_position=max_position)
    return _plan(searcher, scan, spec, terms, st, dtype, boost,
                 searcher._avgdl_for(terms[0], dtype=dtype))


def phrase_scores(searcher, terms: list[str], slop: int = 0, ordered: bool = True,
                  dtype=np.float32, max_position: int | None = None,
                  boost: float = 1.0) -> DataFrame:
    """Per-doc phrase scores, pre-top-k: DataFrame(docid, score) with one
    row per doc where the phrase occurs (freq > 0). The building block
    for phrase_search and for phrase clauses inside parsed BooleanQueries
    (PhraseWeight inside BooleanWeight). boost multiplies the weight
    value before scoring (Query.setBoost, float discipline). Under the
    searcher's size rule (Σ ttf) the scores are computed here."""
    return _scores(searcher, _phrase_plan(searcher, terms, slop, ordered,
                                          dtype, max_position, boost), dtype)


def phrase_search(searcher, terms: list[str], slop: int = 0, ordered: bool = True,
                  k: int = 10, dtype=np.float32,
                  max_position: int | None = None) -> DataFrame:
    """Top-k DataFrame(docid, score, rank) for a positional query.
    Requires an index built with positions=True. max_position restricts
    matches to positions <= max_position (SpanFirst support)."""
    return _topk(searcher, _phrase_plan(searcher, terms, slop, ordered,
                                        dtype, max_position), k, dtype)


def span_first(searcher, term: str, end: int, k: int = 10,
               dtype=np.float32) -> DataFrame:
    """SpanFirstQuery analog (ref: search/spans/SpanFirstQuery.java):
    docs where `term` occurs at a position < `end`, scored with
    freq = number of such occurrences. Requires positions=True."""
    return phrase_search(searcher, [term], slop=0, ordered=True, k=k,
                         dtype=dtype, max_position=end - 1)


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
    all_terms = list(dict.fromkeys(t for s in slots for t in s))
    st = searcher.term_stats(all_terms)
    present = set(st["term"]) if len(st) else set()
    # a slot with NO present term can never match (conjunction over slots)
    if any(not any(t in present for t in s) for s in slots):
        return _topk(searcher, None, k, dtype)
    live = [t for t in all_terms if t in present]
    tidx = {t: i for i, t in enumerate(live)}
    spec = Near(tuple(tuple(tidx[t] for t in s if t in present)
                      for s in slots), slop, ordered, strict)
    return _topk(searcher, _plan(searcher, live, spec, live, st, dtype), k,
                 dtype)


def span_or(searcher, phrases: list[list[str]], slop: int = 0,
            ordered: bool = True, k: int = 10, dtype=np.float32) -> DataFrame:
    """SpanOrQuery analog (ref: search/spans/SpanOrQuery.java): docs where
    ANY sub-span (each a term sequence matched like SpanNear) occurs;
    freq = Σ sub-span freqs; weight = Σ idf over the terms of the
    matchable sub-spans (SpanWeight pulls stats for the whole tree)."""
    all_terms = list(dict.fromkeys(t for p in phrases for t in p))
    st = searcher.term_stats(all_terms)
    present = set(st["term"]) if len(st) else set()
    live = [p for p in phrases if all(t in present for t in p)]
    if not live:
        return _topk(searcher, None, k, dtype)
    live_terms = list(dict.fromkeys(t for p in live for t in p))
    tidx = {t: i for i, t in enumerate(live_terms)}
    spec = SpanOr(tuple(Near(tuple((tidx[t],) for t in p), slop, ordered)
                        for p in live))
    return _topk(searcher, _plan(searcher, live_terms, spec, live_terms, st,
                                 dtype), k, dtype)


def span_not(searcher, include: str, exclude: str, pre: int = 0,
             post: int = 0, k: int = 10, dtype=np.float32) -> DataFrame:
    """SpanNotQuery analog (ref: search/spans/SpanNotQuery.java): spans of
    `include` with no `exclude` occurrence within `pre` tokens before or
    `post` tokens after — i.e. an include position p is dropped when an
    exclude q lies in [p-pre, p+post], matching the upstream
    SpanNotQuery(include, exclude, pre, post) convention (pre expands the
    window before the include span). Freq = surviving occurrences;
    weight = include's idf (the exclusion clause contributes no stats)."""
    st = searcher.term_stats([include, exclude])
    present = set(st["term"]) if len(st) else set()
    if include not in present:
        return _topk(searcher, None, k, dtype)
    scan = list(dict.fromkeys([include]
                              + ([exclude] if exclude in present else [])))
    spec = SpanNot(0, scan.index(exclude) if exclude in present else None,
                   pre, post)
    return _topk(searcher, _plan(searcher, scan, spec, [include], st, dtype),
                 k, dtype)


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
