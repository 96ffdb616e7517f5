"""Payload postings — the ``.pay`` file analog + the payload query family.

ref: lucene/core/src/java/org/apache/lucene/search/payloads/
     PayloadTermQuery.java:54 (score = payloadFunction over the term's
     per-occurrence payloads, optionally * span score),
     PayloadFunction.java (Min/Max/AveragePayloadFunction),
     lucene/analysis/common/.../payloads/DelimitedPayloadTokenFilter.java:33
     (token "text|payload" -> term text + float payload attribute),
     lucene/core/.../codecs/lucene41/Lucene41PostingsFormat ".pay" file.

Design: the reference stores payloads in a separate posting file (.pay)
parallel to positions; here they live in a SIDE TABLE keyed
(term, docid) with the doc's payload floats in OCCURRENCE ORDER — the
same order the positional blobs store positions — following the
termvectors side-table pattern.  The main index is built over
payload-STRIPPED text (DelimitedPayloadTokenFilter emits the bare term
downstream, so the term dictionary never sees the delimiter).

Scale: extraction is one JVM-side pass (split/transform/explode — no
Python); the side table is written bucketed by term so a
payload_term_topk probe is a pushed-down term filter, exactly like the
postings scan.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F


def strip_payload_text(text_col, delimiter: str = "|"):
    """Column expr: delimited text -> plain text for the MAIN index
    build (the filter's downstream view: "rain|0.7 falls" -> "rain
    falls")."""
    d = delimiter
    return F.array_join(
        F.transform(F.split(text_col, " "),
                    lambda t: F.split_part(t, F.lit(d), F.lit(1))), " ")


def build_payload_index(spark: SparkSession, docs: DataFrame, path: str,
                        delimiter: str = "|", text_col: str = "text",
                        id_col: str = "docid",
                        out_partitions: int = 8) -> str:
    """Extract per-occurrence payloads into the (term, docid, payloads)
    side table. `docs` must already carry the engine docid (join the
    index's docs table by url for that). Tokens without a delimiter get
    payload 1.0 (the reference's filter leaves the payload attribute
    unset; 1.0 is the identity under every PayloadFunction here).

    Payload splitting happens FIRST (whitespace token -> bare text +
    payload, the DelimitedPayloadTokenFilter contract), then the bare
    text goes through the SAME standard analysis chain as the main
    index build (analyze_expr: full tokenizer regex + lowercase +
    length cap + stop drop — ADVICE r3: a plain space-split mis-keyed
    terms containing punctuation/apostrophes/CJK, silently dropping
    docs after the span join). A multi-token bare text ("Rain,fall|0.7")
    contributes every subtoken with that token's payload. Non-numeric
    payload text falls back to 1.0 (try_cast). Payload arrays keep
    within-doc occurrence order (position, subtoken position) — the
    positional blobs' order."""
    from ..analysis.standard import analyze_expr

    d = delimiter
    toks = docs.select(
        F.col(id_col).alias("docid"),
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "tok"))
    parsed = toks.select(
        "docid", "pos",
        F.split_part(F.col("tok"), F.lit(d), F.lit(1)).alias("bare"),
        F.coalesce(
            F.when(F.col("tok").contains(d),
                   F.split_part(F.col("tok"), F.lit(d), F.lit(-1))
                   .try_cast("float")),
            F.lit(1.0).cast("float")).alias("payload"))
    sub = parsed.select(
        "docid", "pos", "payload",
        F.posexplode(analyze_expr(F.col("bare"))).alias("spos", "term"))
    rows = (sub.groupBy("term", "docid")
            .agg(F.array_sort(
                F.collect_list(F.struct("pos", "spos", "payload")))
                 .alias("pp"))
            .select("term", "docid",
                    F.transform("pp", lambda s: s["payload"])
                    .alias("payloads")))
    (rows.repartitionByRange(out_partitions, "term", "docid")
     .sortWithinPartitions("term", "docid")
     .write.mode("overwrite").parquet(path))
    return path


_PAYLOAD_FNS = {
    # (ref: search/payloads/MinPayloadFunction.java, Max~, Average~)
    "min": F.array_min,
    "max": F.array_max,
    "avg": lambda c: (F.aggregate(c, F.lit(0.0),
                                  lambda a, v: a + v.cast("double"))
                      / F.size(c)).cast("float"),
}


def payload_term_topk(searcher, payload_path: str, term: str,
                      payload_fn: str = "avg",
                      include_span_score: bool = True,
                      k: int = 10) -> DataFrame:
    """PayloadTermQuery analog: docs containing `term`, scored by
    payloadFunction(payloads of the term's occurrences), multiplied by
    the BM25 term score when include_span_score (PayloadTermQuery.java:
    154-166 — payloadScore * spanScore vs payloadScore alone).

    The term filter pushes into the side-table scan (term-range
    bucketed files); span scores come from the engine's exact path."""
    spark = searcher.spark
    fn = _PAYLOAD_FNS[payload_fn]
    pay = (spark.read.parquet(payload_path)
           .filter(F.col("term") == term)
           .select("docid", fn("payloads").cast("float").alias("pscore")))
    if include_span_score:
        # UNRANKED per-doc span scores (VERDICT r3 #5: ranking the full
        # hit set funneled every posting through one coalesce(1) task;
        # the join only needs scores). Single term -> docids already
        # unique in the decoded postings.
        span = (searcher._scored_candidates([term])
                .select("docid", "score"))
        scored = (span.join(pay, "docid")
                  .select("docid", (F.col("score") * F.col("pscore"))
                          .cast("float").alias("score")))
    else:
        scored = pay.withColumnRenamed("pscore", "score")
    from ..search.engine import topk_with_rank
    return topk_with_rank(scored, k)


def _near_witnesses(pos_lists, slop: int, ordered: bool = True):
    """Occurrence-index tuples, one per span match (the payload hooks of
    NearSpansOrdered/Unordered.getPayload): for each anchor occurrence
    of the first term, the greedy smallest-next witness (ordered,
    NearSpansOrdered.java:49 — positions strictly increasing, slop
    consumed = p_n - p_0 - (n-1)) or the nearest-in-window picks
    (unordered), mirroring phrase._phrase_freq's counting so
    len(witnesses) == the span kernel's freq."""
    n = len(pos_lists)
    out = []
    if any(len(p) == 0 for p in pos_lists):
        return out
    if ordered:
        for ai, anchor in enumerate(pos_lists[0]):
            prev, idxs, ok = int(anchor), [ai], True
            for p in pos_lists[1:]:
                j = int(np.searchsorted(p, prev + 1))
                if j >= len(p):
                    ok = False
                    break
                prev = int(p[j])
                idxs.append(j)
            if ok and prev - int(anchor) - (n - 1) <= slop:
                out.append(tuple(idxs))
        return out
    for ai, anchor in enumerate(pos_lists[0]):
        anchor = int(anchor)
        idxs, ok, lo, hi = [ai], True, anchor, anchor
        for q in pos_lists[1:]:
            j = int(np.searchsorted(q, anchor))
            best = bj = None
            for cand in (j - 1, j):
                if 0 <= cand < len(q) \
                        and abs(int(q[cand]) - anchor) <= slop:
                    v = int(q[cand])
                    if best is None or abs(v - anchor) < abs(best - anchor):
                        best, bj = v, cand
            if best is None:
                ok = False
                break
            lo, hi = min(lo, best), max(hi, best)
            if hi - lo > slop:
                ok = False
                break
            idxs.append(bj)
        if ok:
            out.append(tuple(idxs))
    return out


def payload_near_topk(searcher, payload_path: str, terms: list[str],
                      slop: int = 0, ordered: bool = True,
                      payload_fn: str = "avg", k: int = 10) -> DataFrame:
    """PayloadNearQuery analog (ref: search/payloads/PayloadNearQuery.
    java:58,264-267: score = spanScore * payloadFunction.docScore over
    the payloads collected at every span match's sub-positions).

    One Arrow-batched pass over the positional pivot joined with the
    per-term payload arrays: witnesses, span freq, and the payload
    aggregate come out of the same kernel — freq is exactly
    len(witnesses), so the span score and the payload set can never
    disagree about what matched. Occurrence order aligns the k-th
    position of a term in a doc with the k-th entry of its payload
    array (both sides are built from the same analysis chain). A doc
    missing its payload row contributes the identity payload 1.0 (the
    build's undelimited-token default)."""
    import pandas as pd

    from ..search.bm25 import idf as bm25_idf
    from ..search.engine import local_frame, result_schema
    from ..search.phrase import _positional_piv
    spark = searcher.spark
    dtype = np.float32
    st = searcher.term_stats(terms)
    if len(st) < len(set(terms)):
        return local_frame(spark, result_schema())
    sum_idf = dtype(0.0)
    for t in terms:
        df_t = int(st.set_index("term").loc[t, "df"])
        sum_idf = dtype(sum_idf
                        + bm25_idf(df_t, searcher.max_doc, dtype=dtype))
    from ..search.phrase import _bm25_phrase_scorer
    weight_value, cache = _bm25_phrase_scorer(searcher, sum_idf, dtype)
    tidx = {t: i for i, t in enumerate(dict.fromkeys(terms))}
    piv = _positional_piv(searcher, tidx, required_idx=list(range(len(tidx))))
    paypiv = (spark.read.parquet(payload_path)
              .filter(F.col("term").isin(list(tidx)))
              .groupBy("docid")
              .agg(*[F.first(F.when(F.col("term") == t, F.col("payloads")),
                             ignorenulls=True).alias(f"pay{i}")
                     for t, i in tidx.items()]))
    joined = piv.join(paypiv, "docid", "left")
    order_idx = [tidx[t] for t in terms]
    mode = payload_fn

    def score_rows(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            rows = []
            for i in range(len(pdf)):
                pls = [np.asarray(pdf[f"p{j}"].iloc[i], dtype=np.int64)
                       for j in order_idx]
                wits = _near_witnesses(pls, slop, ordered)
                if not wits:
                    continue
                pays = [pdf[f"pay{j}"].iloc[i] for j in order_idx]
                vals = []
                for wit in wits:
                    for t_i, occ in enumerate(wit):
                        arr = pays[t_i]
                        vals.append(float(arr[occ])
                                    if arr is not None and occ < len(arr)
                                    else 1.0)
                if mode == "min":
                    ps = min(vals)
                elif mode == "max":
                    ps = max(vals)
                else:
                    ps = sum(vals) / len(vals)
                rows.append((int(pdf["docid"].iloc[i]),
                             int(pdf["norm"].iloc[i]), len(wits), ps))
            if not rows:
                continue
            out = pd.DataFrame(rows,
                               columns=["docid", "norm", "freq", "ps"])
            tf = out["freq"].to_numpy(dtype)
            c = cache[out["norm"].to_numpy(np.int64) & 0xFF]
            span = ((weight_value * tf) / (tf + c)).astype(dtype)
            yield pd.DataFrame({
                "docid": out["docid"],
                "score": (span * out["ps"].to_numpy(dtype)).astype(dtype)})

    scored = joined.mapInPandas(score_rows, schema="docid long, score float")
    from ..search.engine import topk_with_rank
    return topk_with_rank(scored, k)
