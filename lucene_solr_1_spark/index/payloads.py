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

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..search.phrase import DOC_SHIFT, Near, Occurrences, Spec


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


@dataclass(frozen=True)
class PayloadNear(Spec):
    """The positions kernel's spec of PayloadNearQuery: ``near``'s freq,
    and per doc ``fn`` (min / max / avg) over the payloads at every
    match's witnesses — near_matches' picks, so freq is exactly the
    number of witnesses and the span score and the payload set can never
    disagree about what matched. The payload rows (docid, tidx,
    payloads; null positions) come in the kernel's rows: the k-th entry
    of a doc's payload array belongs to its k-th occurrence of the term
    (both sides are built from the same analysis chain). An occurrence
    without one contributes the identity payload 1.0 (the build's
    undelimited-token default)."""
    near: Near
    fn: str = "avg"

    def evaluate(self, occ: Occurrences, rows):
        import pyarrow.compute as pc
        keys, anchors, picks = self.near.matches(occ)
        doc = keys[0][anchors] >> DOC_SHIFT
        freq = np.bincount(doc, minlength=len(occ.docs))
        # per (term, doc row): the doc's payloads as a slice of ``vals``
        pay = rows.filter(pc.is_null(rows.column("positions")))
        arr = pay.column("payloads").combine_chunks()
        vals = arr.values.to_numpy(zero_copy_only=False).astype(np.float64)
        pdoc = pay.column("docid").to_numpy()
        prow = np.minimum(np.searchsorted(occ.docs, pdoc),
                          max(len(occ.docs) - 1, 0))
        found = (occ.docs[prow] == pdoc) if len(occ.docs) else pdoc < 0
        nterms = max(max(s) for s in self.near.slots) + 1
        start = np.zeros((nterms, len(occ.docs)), np.int64)
        size = np.zeros((nterms, len(occ.docs)), np.int64)
        ptix, poff = pay.column("tidx").to_numpy(), arr.offsets.to_numpy()
        start[ptix[found], prow[found]] = poff[:-1][found]
        size[ptix[found], prow[found]] = np.diff(poff)[found]
        # one payload per (match, slot), match-major: a doc's values in
        # witness order
        cols = []
        for (t,), k, pick in zip(self.near.slots, keys, [anchors] + picks):
            j = pick - occ.doc_start(k, doc)
            have = j < size[t, doc]
            at = np.where(have, start[t, doc] + j, 0)
            cols.append(np.where(have, vals[at], 1.0) if len(vals)
                        else np.ones(len(doc)))
        v = np.stack(cols, axis=1).ravel()
        d = np.repeat(doc, len(cols))
        if self.fn in ("min", "max"):
            ufunc = np.minimum if self.fn == "min" else np.maximum
            factor = np.ones(len(occ.docs))
            if len(v):
                first = np.flatnonzero(np.diff(d, prepend=-1))
                factor[d[first]] = ufunc.reduceat(v, first)
        else:
            # bincount adds in input order: the witness-order sum
            factor = np.bincount(d, weights=v, minlength=len(occ.docs))
            factor /= np.maximum(np.bincount(d, minlength=len(occ.docs)), 1)
        return freq, factor


def payload_near_topk(searcher, payload_path: str, terms: list[str],
                      slop: int = 0, ordered: bool = True,
                      payload_fn: str = "avg", k: int = 10) -> DataFrame:
    """PayloadNearQuery analog (ref: search/payloads/PayloadNearQuery.
    java:58,264-267: score = spanScore * payloadFunction.docScore over
    the payloads collected at every span match's sub-positions).

    The span is the strict ordered span-near (NearSpansOrdered) or the
    unordered window; the positions kernel computes its freq, witnesses
    and payload aggregate in one pass (PayloadNear), over the scan rows
    and the side table's rows of the terms, on either executor."""
    from ..search.phrase import _plan, _topk
    st = searcher.term_stats(terms)
    if len(st) < len(set(terms)):
        return _topk(searcher, None, k)
    scan = list(dict.fromkeys(terms))
    tidx = {t: i for i, t in enumerate(scan)}
    spec = PayloadNear(Near(tuple((tidx[t],) for t in terms), slop, ordered,
                            strict=True), payload_fn)
    return _topk(searcher, _plan(searcher, scan, spec, terms, st), k,
                 side=(payload_path, tidx))
