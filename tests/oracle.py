"""Pure-NumPy reference implementation ("the oracle").

Plays the role of the Java reference inside the sandbox (SURVEY.md §7 P0):
a brute-force, single-process inverted index + BM25 searcher built
strictly from the formulas cited in SURVEY.md §2.G — the analog of
Lucene's in-order BooleanScorer2 twin that TestBoolean2 uses to check
the out-of-order BooleanScorer (ref: lucene/core/src/test/org/apache/
lucene/search/TestBoolean2.java:45,141-175). The distributed engine and
the WAND path must match it rank- and score-identically (float32).

DocID assignment mirrors the engine's hash-range router (the Solr
CompositeIdRouter analog, solrj/.../CompositeIdRouter.java:62-65):
bucket = md5_60(url) mod num_segments, docid = (bucket << 44) | rank
within bucket ordered by (hash, url) — a pure function of the data, so
oracle and distributed build agree with zero coordination.

Scoring: scatter-add per query term, in query-term order, in float32 —
the association order the Spark engine reproduces (see
search/engine.py). Top-k tie-break: (score desc, docid asc), matching
HitQueue.lessThan (ref: lucene/core/src/java/org/apache/lucene/search/
HitQueue.java:22).
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from lucene_solr_1_spark.analysis.standard import analyze_series
from lucene_solr_1_spark.index.build import BUCKET_SHIFT
from lucene_solr_1_spark.index.smallfloat import encode_norm
from lucene_solr_1_spark.search.bm25 import avg_field_length

DEFAULT_SEGMENTS = 16


def url_hash60(urls) -> np.ndarray:
    """First 60 bits (15 hex chars) of md5(url) — matches the engine's
    JVM-side conv(substr(md5(url),1,15),16,10)."""
    return np.array([int(hashlib.md5(u.encode()).hexdigest()[:15], 16)
                     for u in urls], dtype=np.int64)


def oracle_docids(urls: np.ndarray, num_segments: int) -> tuple[np.ndarray, np.ndarray]:
    """Returns (order, docids): `order` permutes the input into docid
    order; `docids[i]` is the docid of input row order[i] (ascending)."""
    h = url_hash60(urls)
    bucket = h % num_segments
    order = np.lexsort((urls, h, bucket))
    b_s = bucket[order]
    starts = np.flatnonzero(np.concatenate(([True], b_s[1:] != b_s[:-1])))
    lens = np.diff(np.append(starts, len(b_s)))
    ranks = np.arange(len(b_s)) - np.repeat(starts, lens)
    docids = (b_s << BUCKET_SHIFT) | ranks
    return order, docids


@dataclass
class OracleIndex:
    urls: np.ndarray                      # in docid order
    docids: np.ndarray                    # ascending, sparse (bucket<<44|rank)
    norms: np.ndarray                     # uint8, positional (docid order)
    lengths: np.ndarray                   # int64, positional
    tokens: list[list[str]]               # analyzed tokens, positional
    postings: dict[str, tuple[np.ndarray, np.ndarray, np.ndarray]]  # term -> (docids, tfs, norms)
    max_doc: int
    sum_ttf: int
    term_stats: pd.DataFrame = field(default=None)  # term, df, ttf, max_tf

    @property
    def avgdl(self):
        return avg_field_length(self.sum_ttf, self.max_doc)

    def pos_of(self, docids: np.ndarray) -> np.ndarray:
        return np.searchsorted(self.docids, docids)

    def url_of(self, docid: int) -> str:
        return self.urls[int(np.searchsorted(self.docids, docid))]


def build_oracle_index(urls, texts, num_segments: int = DEFAULT_SEGMENTS) -> OracleIndex:
    urls = np.asarray(urls, dtype=object)
    texts = pd.Series(np.asarray(texts, dtype=object))
    order, docids = oracle_docids(urls, num_segments)
    urls_sorted = urls[order]
    toks = analyze_series(texts.iloc[order].reset_index(drop=True)).tolist()
    lengths = np.array([len(t) for t in toks], dtype=np.int64)
    norms = encode_norm(lengths)

    n = len(toks)
    flat_terms = (np.concatenate([np.asarray(t, dtype=object) for t in toks])
                  if lengths.sum() else np.empty(0, object))
    flat_docids = np.repeat(docids, lengths)
    flat_norms = np.repeat(norms, lengths)
    postings: dict[str, tuple[np.ndarray, np.ndarray, np.ndarray]] = {}
    stats_rows = []
    if len(flat_terms):
        df_flat = pd.DataFrame({"term": flat_terms, "docid": flat_docids,
                                "norm": flat_norms})
        grouped = (df_flat.groupby(["term", "docid"], sort=True)
                   .agg(tf=("norm", "size"), norm=("norm", "first")).reset_index())
        for term, g in grouped.groupby("term", sort=True):
            d = g["docid"].to_numpy(np.int64)
            t = g["tf"].to_numpy(np.int32)
            postings[term] = (d, t, g["norm"].to_numpy(np.uint8))
            stats_rows.append((term, len(d), int(t.sum(dtype=np.int64)), int(t.max())))
    term_stats = pd.DataFrame(stats_rows, columns=["term", "df", "ttf", "max_tf"])
    return OracleIndex(
        urls=urls_sorted, docids=docids, norms=norms, lengths=lengths, tokens=toks,
        postings=postings, max_doc=n, sum_ttf=int(lengths.sum()),
        term_stats=term_stats,
    )


def oracle_search(idx: OracleIndex, terms: list[str], op: str = "OR",
                  k: int = 10, dtype=np.float32,
                  similarity=None) -> pd.DataFrame:
    """Exact top-k: scatter-add in term order, (score desc, docid asc).

    op: 'OR' | 'AND' | 'MSM<m>' (minimum-should-match).
    similarity: None/'bm25' | 'classic' | 'lm_dirichlet' | Similarity
    (same registry as the engine — search/similarities.py).
    Returns DataFrame(docid, url, score, rank).
    """
    from lucene_solr_1_spark.search.similarities import get_similarity
    sim = get_similarity(similarity)
    msm = 1
    if op == "AND":
        msm = len(terms)
    elif op.startswith("MSM"):
        msm = int(op[3:])
    acc = np.zeros(idx.max_doc, dtype=dtype)       # positional
    nmatch = np.zeros(idx.max_doc, dtype=np.int32)
    weights = sim.make_weights(terms, idx.term_stats, idx.max_doc,
                               idx.sum_ttf, dtype=dtype)
    for t in terms:
        if t not in idx.postings or t not in weights:
            continue
        d, tf, nb = idx.postings[t]
        pos = idx.pos_of(d)
        acc[pos] += weights[t].score(tf, nb)
        nmatch[pos] += 1
    if sim.uses_coord():
        # coord = overlap/(float)maxOverlap, then float multiply — the
        # same two float32 roundings as the engine's cast chain
        coord = (nmatch.astype(dtype) / dtype(len(terms))).astype(dtype)
        acc = (acc * coord).astype(dtype)
    hit = np.flatnonzero(nmatch >= msm)            # positions, ascending
    if len(hit) == 0:
        return pd.DataFrame({"docid": pd.Series(dtype=np.int64),
                             "url": pd.Series(dtype=object),
                             "score": pd.Series(dtype=dtype),
                             "rank": pd.Series(dtype=np.int64)})
    scores = acc[hit]
    # positions ascending == docids ascending, so position tie-break is
    # exactly the docid tie-break
    order = np.lexsort((hit, -scores))[:k]
    sel, ssel = hit[order], scores[order]
    return pd.DataFrame({
        "docid": idx.docids[sel],
        "url": idx.urls[sel],
        "score": ssel,
        "rank": np.arange(1, len(sel) + 1, dtype=np.int64),
    })
