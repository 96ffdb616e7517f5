"""BM25 scoring kernels — Lucene-exact float32 arithmetic, pure NumPy.

Formula parity target (ref: lucene/core/src/java/org/apache/lucene/
search/similarities/BM25Similarity.java):

    idf        = (float) ln(1 + (maxDoc - df + 0.5)/(df + 0.5))   [:59-67]
    avgdl      = (float)(sumTotalTermFreq / (double) maxDoc)      [:82-89]
    cache[b]   = k1 * ((1-b_) + b_ * decodeLen(b)/avgdl)          [:207-211]
    weightValue= weight * (k1+1),  weight = idf (boosts = 1)      [:222,228]
    score      = weightValue * tf / (tf + cache[norm])            [:228,237]
    defaults   k1 = 1.2, b = 0.75; queryNorm = coord = 1
               (Similarity.java:122-124,139-141)

Every stage is Java ``float`` in the reference; we reproduce the same
association order in np.float32 so scores are bit-identical between
the NumPy oracle, the Spark engine, and the WAND path (the rank-identity
requirement in BASELINE.json). A ``dtype`` escape hatch runs the same
kernels in float64 for SQL-oracle-matched query entries.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from ..index.smallfloat import NORM_INV_TABLE

K1 = 1.2
B = 0.75

__all__ = ["K1", "B", "idf", "avg_field_length", "TermWeight", "make_weight", "score_postings"]


def idf(df: int | np.ndarray, max_doc: int, dtype=np.float32) -> np.ndarray:
    """log(1 + (N - df + 0.5)/(df + 0.5)) computed in double, cast to dtype."""
    df64 = np.asarray(df, dtype=np.float64)
    val = np.log(1.0 + (max_doc - df64 + 0.5) / (df64 + 0.5))
    return val.astype(dtype)


def avg_field_length(sum_total_term_freq: int, max_doc: int, dtype=np.float32):
    """sumTotalTermFreq / maxDoc in double, cast (BM25Similarity.java:82-89)."""
    if max_doc == 0:
        return dtype(1.0)
    return dtype(np.float64(sum_total_term_freq) / np.float64(max_doc))


@dataclass
class TermWeight:
    """Per-(term, collection-stats) scoring state = Lucene's BM25Stats +
    the 256-entry norm cache (BM25Similarity.java:207-211), built once on
    the driver and broadcast."""

    term: str
    df: int
    weight_value: np.floating          # idf * (k1+1)
    cache: np.ndarray                  # float dtype[256]
    max_score: np.floating             # upper bound over any posting (WAND)

    def score(self, tfs: np.ndarray, norms: np.ndarray) -> np.ndarray:
        """score_postings in the weight's own dtype: the same call as a
        pluggable similarity's _SimWeight.score."""
        return score_postings(self, tfs, norms, dtype=self.cache.dtype.type)


def make_weight(term: str, df: int, max_doc: int, avgdl, max_tf: int | None = None,
                dtype=np.float32) -> TermWeight:
    one = dtype(1.0)
    k1 = dtype(K1)
    b = dtype(B)
    w = idf(df, max_doc, dtype=dtype)  # weight; boosts and queryNorm are 1
    weight_value = dtype(w * (k1 + one))
    # cache[b] = k1 * ((1-b) + b * decodeLen(b) / avgdl), float ops l-to-r
    dec = NORM_INV_TABLE.astype(dtype)
    cache = (k1 * ((one - b) + (b * dec) / dtype(avgdl))).astype(dtype)
    # score is monotone in tf and in 1/len: bound with max_tf and min cache
    if max_tf is None:
        max_score = dtype(weight_value)  # tf/(tf+c) < 1
    else:
        mtf = dtype(max_tf)
        cmin = cache[255]  # largest norm byte = smallest decoded length = min cache
        max_score = dtype(weight_value * mtf / (mtf + cmin))
    return TermWeight(term, int(df), weight_value, cache, max_score)


def score_postings(tw: TermWeight, tfs: np.ndarray, norms: np.ndarray,
                   dtype=np.float32) -> np.ndarray:
    """Vectorized ExactBM25DocScorer.score (BM25Similarity.java:228-237)."""
    tf = tfs.astype(dtype)
    c = tw.cache[np.asarray(norms, dtype=np.uint8)]
    return ((tw.weight_value * tf) / (tf + c)).astype(dtype)
