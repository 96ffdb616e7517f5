"""MemoryIndex twin + distributed percolation (prospective search).

Reference: ``lucene/memory/src/java/org/apache/lucene/index/memory/
MemoryIndex.java`` — a single-document in-memory index whose
``search(query)`` returns the relevance score of that one document
under the searcher's similarity (DefaultSimilarity in 4.4).  The class
javadoc (MemoryIndex.java:76-132) names its primary use: *prospective
search* — matching a stream of documents against a registry of
standing queries (percolation).

Faithful single-doc semantics re-derived from the reference:

* ``addField`` tokenizes through the analyzer, counting only the
  tokens actually emitted (``numTokens``; stopwords contribute
  position increments, never counts — MemoryIndex.java:399-447).
  Repeated ``addField`` on the same field appends at
  ``lastPosition + positionIncrementGap`` (MemoryIndex.java:407-411).
* the norm is computed lazily from
  ``sim.computeNorm(FieldInvertState(numTokens, numOverlapTokens,
  boost))`` (MemoryIndex.java:1159-1180) — i.e. SmallFloat byte315 of
  ``boost / sqrt(numTokens - numOverlapTokens)`` exactly like a
  regular on-disk index.
* ``search(query)`` runs a collector over the one-doc reader and
  returns the scorer's float (MemoryIndex.java:499-531); 0.0 = no
  match.  With maxDoc == 1 every *present* term has docFreq 1
  (idf = 1 + ln(1/2)) and every *absent* term docFreq 0 (idf = 1);
  absent scoring clauses still contribute their idf² to
  sumOfSquaredWeights, exactly as TermWeight does when the searcher's
  termStatistics returns docFreq 0.

Query specs are plain dicts (the registry must be broadcastable):

    {"type": "term",   "term": "merge", "boost": 1.0}
    {"type": "bool",   "must": [...], "should": [...],
                       "must_not": [...]}   # clauses: term/phrase specs
    {"type": "phrase", "terms": ["table", "hash"], "slop": 0}

Spark shape — ``percolate(docs, queries)``: the (small) query registry
is broadcast with the serialized task and the corpus flows through ONE
narrow ``mapInArrow`` — zero shuffle, embarrassingly parallel at
10^12 docs; each Arrow batch tokenizes every document once and scores
all registered queries against the per-doc stats.  The legacy
alternative (build a real index per alert query, or join queries ×
docs) shuffles the corpus per query; percolation inverts that:
queries are the small side, documents never move.

Sibling: ``index/memory.py`` is the MATCH-ONLY percolator — a single
JVM-codegen boolean predicate over the analyzed token array, zero
Python in the hot path.  Use it when only the (doc, query) match set
matters; use this module when the reference's ``search()`` SCORES
(alert ranking, threshold percolation) are needed.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame, functions as F, types as T

from ..analysis.standard import (ENGLISH_STOP_WORDS, MAX_TOKEN_LENGTH,
                                 TOKEN_RE, analyze_flat_with_positions)
from ..index.smallfloat import byte315_to_float, float_to_byte315

__all__ = ["MemoryIndex", "percolate", "score_queries_batch",
           "score_queries_batch_fast"]


# --------------------------------------------------------------------------
# single-document index (API twin)


class _Info:
    """Per-field stats mirror of MemoryIndex.Info (MemoryIndex.java:545)."""

    __slots__ = ("positions", "num_tokens", "num_overlap", "last_position",
                 "boost", "sum_total_term_freq")

    def __init__(self) -> None:
        self.positions: dict[str, list[int]] = {}
        self.num_tokens = 0
        self.num_overlap = 0
        self.last_position = -1
        self.boost = 1.0
        self.sum_total_term_freq = 0


def _windowed_freq(plists: list, slop: int) -> int:
    """Sloppy (windowed) phrase freq with DISTINCT token positions.

    The engine's offset-window kernel (search/phrase.py::near_matches)
    may satisfy two slots of a repeated term with the SAME occurrence;
    Lucene's SloppyPhraseScorer repeat groups forbid that.  For the
    short one-doc position lists here, a small backtracking search
    enforces distinctness exactly: one match per anchor position of the
    first term iff distinct positions p_i exist with
    max(p_i - i) - min(p_i - i) <= slop (match-count semantic, the
    repo-wide sloppy convention)."""
    def fit(i: int, used: set, lo: int, hi: int) -> bool:
        if i == len(plists):
            return True
        for p in plists[i]:
            q = int(p) - i
            if int(p) in used:
                continue
            nlo, nhi = min(lo, q), max(hi, q)
            if nhi - nlo > slop:
                continue
            used.add(int(p))
            if fit(i + 1, used, nlo, nhi):
                used.discard(int(p))
                return True
            used.discard(int(p))
        return False

    count = 0
    for anchor in plists[0]:
        a = int(anchor)
        if fit(1, {a}, a, a):
            count += 1
    return count


def _analyze(text: str) -> tuple[list[str], list[int]]:
    """StandardAnalyzer chain with position increments: raw token index
    = Lucene position (StopFilter keeps increments for dropped words)."""
    toks, poss = [], []
    i = 0
    for m in TOKEN_RE.finditer(text or ""):
        t = m.group(0)
        if len(t) > MAX_TOKEN_LENGTH:
            continue
        lt = t.lower()
        if lt not in ENGLISH_STOP_WORDS:
            toks.append(lt)
            poss.append(i)
        i += 1
    return toks, poss


class MemoryIndex:
    """One-document index: add fields, then score arbitrary queries.

    float32 op ordering mirrors the reference scorers (TermScorer /
    BooleanScorer2 under DefaultSimilarity); pass ``dtype=np.float64``
    for the SQL-checkable double variant used by the contract oracle.
    """

    def __init__(self, dtype=np.float32) -> None:
        self._fields: dict[str, _Info] = {}
        self._dtype = dtype

    # -- construction ------------------------------------------------------

    def add_field(self, field: str, text: str, boost: float = 1.0,
                  position_increment_gap: int = 0) -> None:
        if boost <= 0.0:
            raise ValueError("boost factor must be greater than 0.0")
        toks, poss = _analyze(text)
        if not toks:
            return  # numTokens > 0 invariant (MemoryIndex.java:457-459)
        info = self._fields.get(field)
        if info is None:
            info = _Info()
            base = 0
        else:
            # appended stream: first token lands at lastPosition + gap
            # + its own increment (MemoryIndex.java:407-411)
            base = info.last_position + position_increment_gap + 1
        for t, p in zip(toks, poss):
            pos = base + p
            info.positions.setdefault(t, []).append(pos)
            info.num_tokens += 1
            info.sum_total_term_freq += 1
            info.last_position = pos
        info.boost *= boost
        self._fields[field] = info

    # -- stats -------------------------------------------------------------

    def _norm(self, field: str) -> float:
        """Decoded norm byte — sim.computeNorm over the FieldInvertState
        (MemoryIndex.java:1159-1180 + DefaultSimilarity lengthNorm)."""
        info = self._fields.get(field)
        if info is None:
            return 0.0
        n_terms = info.num_tokens - info.num_overlap
        # DefaultSimilarity.lengthNorm: boost * (float)(1.0/sqrt(numTerms))
        # — the sqrt runs in DOUBLE, is cast to float, then scaled
        inv = np.float32(1.0 / math.sqrt(n_terms))
        f = np.float32(np.float32(info.boost) * inv)
        return float(byte315_to_float(float_to_byte315(f)))

    def _tf(self, field: str, term: str) -> int:
        info = self._fields.get(field)
        return len(info.positions.get(term, ())) if info else 0

    def _phrase_freq(self, field: str, terms: list[str],
                     slop: int = 0) -> int:
        """Phrase frequency over stored positions.  slop > 0 uses the
        distinct-position windowed matcher (``_windowed_freq``) —
        freq = match COUNT, the repo-wide sloppy semantic (the
        reference's sum-of-1/(1+matchLength) sloppyFreq weighting is
        not reproduced anywhere in this engine), with Lucene's
        repeat-group rule that one token occurrence cannot satisfy two
        slots of a repeated term."""
        info = self._fields.get(field)
        if info is None:
            return 0
        plists = [info.positions.get(t) for t in terms]
        if any(p is None for p in plists):
            return 0
        if slop > 0:
            return _windowed_freq(
                [np.asarray(p, np.int64) for p in plists], slop)
        first = set(plists[0])
        for off, pl in enumerate(plists[1:], start=1):
            first &= {p - off for p in pl}
            if not first:
                return 0
        return len(first)

    # -- scoring -----------------------------------------------------------

    def _idf(self, field: str, term: str):
        """1 + ln(maxDoc / (docFreq + 1)) with maxDoc == 1."""
        df = 1 if self._tf(field, term) > 0 else 0
        return self._dtype(math.log(1.0 / (df + 1)) + 1.0)

    def search(self, query: dict, field: str = "text") -> float:
        """Score of the single document; 0.0 = no match."""
        dt = self._dtype
        qt = query["type"]
        norm = dt(self._norm(field))

        if qt == "term":
            term = query["term"]
            boost = dt(query.get("boost", 1.0))
            tf = self._tf(field, term)
            if tf == 0:
                return 0.0
            idf = self._idf(field, term)
            # TermWeight: queryWeight = idf*boost; queryNorm =
            # 1/sqrt(queryWeight^2); value = queryWeight*queryNorm*idf
            qw = dt(idf * boost)
            qn = dt(1.0 / np.sqrt(np.float64(dt(qw * qw))))
            value = dt(dt(qw * qn) * idf)
            return float(dt(dt(dt(np.sqrt(dt(tf))) * value) * norm))

        if qt == "phrase":
            terms = list(query["terms"])
            boost = dt(query.get("boost", 1.0))
            ptf = self._phrase_freq(field, terms,
                                    int(query.get("slop", 0)))
            if ptf == 0:
                return 0.0
            # PhraseWeight idf = sum of per-term idfExplain values
            idf = dt(0.0)
            for t in terms:
                idf = dt(idf + self._idf(field, t))
            qw = dt(idf * boost)
            qn = dt(1.0 / np.sqrt(np.float64(dt(qw * qw))))
            value = dt(dt(qw * qn) * idf)
            return float(dt(dt(dt(np.sqrt(dt(ptf))) * value) * norm))

        if qt == "bool":
            must = list(query.get("must", ()))
            should = list(query.get("should", ()))
            must_not = list(query.get("must_not", ()))
            for c in must_not:
                if self._clause_freq(field, c) > 0:
                    return 0.0
            scoring = must + should
            if len(scoring) == 1 and not must_not:
                # single-clause BooleanQuery rewrites to the bare clause
                return self.search(scoring[0], field)
            # sumOfSquaredWeights over ALL scoring clauses (absent ones
            # still contribute their idf), prohibited clauses excluded;
            # clauses may be term or phrase specs (TermWeight /
            # PhraseWeight both feed (idf*boost)^2 into the norm)
            ssw = dt(0.0)
            idfs = []
            for c in scoring:
                idf = self._clause_idf(field, c)
                b = dt(c.get("boost", 1.0))
                idfs.append((c, idf, b))
                w = dt(idf * b)
                ssw = dt(ssw + dt(w * w))
            qn = dt(1.0 / np.sqrt(np.float64(ssw))) if ssw > 0 else dt(1.0)
            overlap = 0
            total = dt(0.0)
            for c, idf, b in idfs:
                freq = self._clause_freq(field, c)
                if freq == 0:
                    continue
                overlap += 1
                value = dt(dt(dt(idf * b) * qn) * idf)
                total = dt(total
                           + dt(dt(dt(np.sqrt(dt(freq))) * value) * norm))
            for c in must:
                if self._clause_freq(field, c) == 0:
                    return 0.0
            if overlap == 0:
                return 0.0
            coord = dt(np.float64(overlap) / np.float64(dt(len(scoring))))
            return float(dt(total * coord))

        raise ValueError(f"unsupported query type: {qt!r}")

    def _clause_idf(self, field: str, c: dict):
        dt = self._dtype
        if c["type"] == "term":
            return self._idf(field, c["term"])
        if c["type"] == "phrase":
            idf = dt(0.0)
            for t in c["terms"]:
                idf = dt(idf + self._idf(field, t))
            return idf
        raise ValueError("bool clauses must be term or phrase specs "
                         f"(got {c['type']!r})")

    def _clause_freq(self, field: str, c: dict) -> int:
        if c["type"] == "term":
            return self._tf(field, c["term"])
        if c["type"] == "phrase":
            return self._phrase_freq(field, list(c["terms"]),
                                     int(c.get("slop", 0)))
        raise ValueError("bool clauses must be term or phrase specs "
                         f"(got {c['type']!r})")


# --------------------------------------------------------------------------
# distributed percolation


def score_queries_batch_fast(doc_ids: np.ndarray, texts: list[str],
                             queries: list[tuple[str, dict]],
                             dtype=np.float32) -> pd.DataFrame:
    """Vectorized twin of ``score_queries_batch`` — bit-identical
    output (each np.float32 array op rounds exactly like the scalar
    np.float32 op sequence), one flat NumPy pass per batch instead of
    a per-document Python loop."""
    n = len(texts)
    doc_ids = np.asarray(doc_ids, np.int64)
    row2, toks2, rawpos2, dl = analyze_flat_with_positions(texts)

    # per-needed-term tf vectors (+ position keysets for phrases);
    # clauses may themselves be term or phrase specs — collect
    # recursively like the scalar kernel evaluates them
    needed_terms: set[str] = set()

    def _collect(spec: dict) -> None:
        st = spec["type"]
        if st == "term":
            needed_terms.add(spec["term"])
        elif st == "phrase":
            needed_terms.update(spec["terms"])
        elif st == "bool":
            for c in (list(spec.get("must", ()))
                      + list(spec.get("should", ()))
                      + list(spec.get("must_not", ()))):
                _collect(c)
        else:
            raise ValueError(f"unsupported query type: {st!r}")

    for _, spec in queries:
        _collect(spec)
    BIG = np.int64(1) << 32
    # one factorize so per-term masks compare int codes, not strings
    codes2, uniq2 = pd.factorize(toks2)
    code_of = {t: i for i, t in enumerate(uniq2)}
    tf: dict[str, np.ndarray] = {}
    poskeys: dict[str, np.ndarray] = {}
    for t in needed_terms:
        ci = code_of.get(t, -1)
        mask = codes2 == ci
        tf[t] = np.bincount(row2[mask], minlength=n)
        poskeys[t] = np.sort(row2[mask] * BIG + rawpos2[mask])

    # one-doc stats, exactly the scalar float discipline
    with np.errstate(divide="ignore"):
        inv = (1.0 / np.sqrt(np.maximum(dl, 1).astype(np.float64))) \
            .astype(np.float32)
    norm = byte315_to_float(float_to_byte315(inv)).astype(dtype)
    c_present = dtype(np.log(0.5) + 1.0)

    def term_idf(t):
        return np.where(tf[t] > 0, c_present, dtype(1.0)).astype(dtype)

    def phrase_freq(terms: list[str], slop: int = 0) -> np.ndarray:
        if slop > 0:
            # windowed alignment: run the distinct-position matcher
            # over the (few) candidate docs that contain every term
            present = np.ones(n, bool)
            for t in terms:
                present &= tf[t] > 0
            out = np.zeros(n, np.int64)
            for d in np.flatnonzero(present):
                lo, hi = d * BIG, (d + 1) * BIG
                plists = []
                for t in terms:
                    k = poskeys[t]
                    a, b = np.searchsorted(k, [lo, hi])
                    plists.append((k[a:b] - lo).astype(np.int64))
                out[d] = _windowed_freq(plists, slop)
            return out
        keys = poskeys[terms[0]]
        for off, t in enumerate(terms[1:], start=1):
            shifted = poskeys[t] - off
            keys = keys[np.isin(keys, shifted, assume_unique=True)]
            if not len(keys):
                break
        return np.bincount((keys >> 32).astype(np.int64), minlength=n)

    def clause_idf(c: dict) -> np.ndarray:
        if c["type"] == "term":
            return term_idf(c["term"])
        if c["type"] == "phrase":
            idf = np.zeros(n, dtype)
            for t in c["terms"]:
                idf = (idf + term_idf(t)).astype(dtype)
            return idf
        raise ValueError("bool clauses must be term or phrase specs "
                         f"(got {c['type']!r})")

    def clause_freq(c: dict) -> np.ndarray:
        if c["type"] == "term":
            return tf[c["term"]]
        if c["type"] == "phrase":
            return phrase_freq(list(c["terms"]),
                               int(c.get("slop", 0)))
        raise ValueError("bool clauses must be term or phrase specs "
                         f"(got {c['type']!r})")

    out_parts = []  # (query_index, doc_idx array, score array)
    for qi, (qid, spec) in enumerate(queries):
        qt = spec["type"]
        # single-scoring-clause BooleanQuery chains rewrite to the bare
        # clause, exactly like the scalar's recursive self.search
        while qt == "bool":
            must = list(spec.get("must", ()))
            should = list(spec.get("should", ()))
            must_not = list(spec.get("must_not", ()))
            scoring = must + should
            if len(scoring) == 1 and not must_not:
                spec, qt = scoring[0], scoring[0]["type"]
            else:
                break
        if qt == "term":
            t = spec["term"]
            boost = dtype(spec.get("boost", 1.0))
            tft = tf[t]
            idf = term_idf(t)
            qw = (idf * boost).astype(dtype)
            qn = (1.0 / np.sqrt((qw * qw).astype(dtype)
                                .astype(np.float64))).astype(dtype)
            value = ((qw * qn).astype(dtype) * idf).astype(dtype)
            s = ((np.sqrt(tft.astype(dtype)).astype(dtype) * value)
                 .astype(dtype) * norm).astype(dtype)
            m = tft > 0
        elif qt == "phrase":
            terms = list(spec["terms"])
            boost = dtype(spec.get("boost", 1.0))
            ptf = phrase_freq(terms, int(spec.get("slop", 0)))
            idf = np.zeros(n, dtype)
            for t in terms:
                idf = (idf + term_idf(t)).astype(dtype)
            qw = (idf * boost).astype(dtype)
            qn = (1.0 / np.sqrt((qw * qw).astype(dtype)
                                .astype(np.float64))).astype(dtype)
            value = ((qw * qn).astype(dtype) * idf).astype(dtype)
            s = ((np.sqrt(ptf.astype(dtype)).astype(dtype) * value)
                 .astype(dtype) * norm).astype(dtype)
            m = ptf > 0
        else:  # bool with >= 2 scoring clauses (or must_not present)
            ssw = np.zeros(n, dtype)
            idfs = []
            for c in scoring:
                idf = clause_idf(c)
                b = dtype(c.get("boost", 1.0))
                idfs.append((c, idf, b))
                w = (idf * b).astype(dtype)
                ssw = (ssw + (w * w).astype(dtype)).astype(dtype)
            qn = np.where(ssw > 0,
                          (1.0 / np.sqrt(ssw.astype(np.float64)))
                          .astype(dtype), dtype(1.0)).astype(dtype)
            overlap = np.zeros(n, np.int64)
            total = np.zeros(n, dtype)
            for c, idf, b in idfs:
                cft = clause_freq(c)
                present = cft > 0
                value = (((idf * b).astype(dtype) * qn).astype(dtype)
                         * idf).astype(dtype)
                contrib = ((np.sqrt(cft.astype(dtype)).astype(dtype)
                            * value).astype(dtype) * norm).astype(dtype)
                total = (total + np.where(present, contrib, dtype(0.0))
                         .astype(dtype)).astype(dtype)
                overlap += present
            m = overlap > 0
            for c in must:
                m &= clause_freq(c) > 0
            for c in must_not:
                m &= clause_freq(c) == 0
            coord = (overlap.astype(np.float64)
                     / np.float64(dtype(len(scoring)))).astype(dtype)
            s = (total * coord).astype(dtype)
        m = m & (s > 0.0)
        docs = np.flatnonzero(m)
        out_parts.append((qi, docs, s[docs]))

    # doc-major, registry-order rows — identical to the scalar loop
    all_docs = np.concatenate([d for _, d, _ in out_parts]) \
        if out_parts else np.empty(0, np.int64)
    all_qi = np.concatenate([np.full(len(d), qi, np.int64)
                             for qi, d, _ in out_parts]) \
        if out_parts else np.empty(0, np.int64)
    all_s = np.concatenate([s for _, _, s in out_parts]) \
        if out_parts else np.empty(0, dtype)
    order = np.lexsort((all_qi, all_docs))
    qids = np.array([q[0] for q in queries], dtype=object)
    return pd.DataFrame({
        "doc_id": doc_ids[all_docs[order]],
        "query_id": pd.array(qids[all_qi[order]], dtype="string"),
        "score": all_s[order].astype(np.float64),
    })


def score_queries_batch(doc_ids: np.ndarray, texts: list[str],
                        queries: list[tuple[str, dict]],
                        dtype=np.float32) -> pd.DataFrame:
    """Score every registered query against every document of a batch.

    Pure-Python/NumPy kernel (runs identically in tests and inside the
    Arrow map): tokenize each document once, then evaluate the whole
    registry against its per-doc stats.  Returns only matches
    (score > 0) as (doc_id, query_id, score) in registry order.
    """
    out_doc, out_qid, out_score = [], [], []
    for did, text in zip(doc_ids, texts):
        mi = MemoryIndex(dtype=dtype)
        mi.add_field("text", text)
        for qid, spec in queries:
            s = mi.search(spec)
            if s > 0.0:
                out_doc.append(did)
                out_qid.append(qid)
                out_score.append(s)
    return pd.DataFrame({
        "doc_id": np.asarray(out_doc, dtype=np.int64),
        "query_id": pd.array(out_qid, dtype="string"),
        "score": np.asarray(out_score, dtype=np.float64),
    })


def percolate(docs: DataFrame, queries: list[tuple[str, dict]],
              id_col: str = "doc_id", text_col: str = "text",
              dtype=np.float32, round_to: int | None = None) -> DataFrame:
    """Match a corpus against a standing-query registry.

    One narrow ``mapInArrow`` over ``docs`` — no shuffle; the registry
    rides along with the serialized task closure (it must be small, the
    reference's percolation use case).  ``round_to`` rounds scores for
    hash-checkable contract output (dtype=float64 + round_to=4 is the
    DOUBLE-and-round convention every scored contract entry uses).
    """
    queries = list(queries)
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("query_id", T.StringType()),
        T.StructField("score", T.DoubleType()),
    ])

    def _percolate(batches):
        for batch in batches:
            tbl = pa.Table.from_batches([batch])
            dids = tbl.column(id_col).to_numpy(zero_copy_only=False)
            texts = tbl.column(text_col).to_pylist()
            pdf = score_queries_batch_fast(np.asarray(dids, np.int64),
                                           texts, queries, dtype=dtype)
            if round_to is not None:
                pdf["score"] = np.round(pdf["score"].to_numpy(), round_to)
            yield pa.RecordBatch.from_pandas(pdf, schema=pa.schema([
                ("doc_id", pa.int64()), ("query_id", pa.string()),
                ("score", pa.float64())]), preserve_index=False)

    sel = docs.select(F.col(id_col).cast("long").alias(id_col),
                      F.col(text_col))
    return sel.mapInArrow(_percolate, schema)
