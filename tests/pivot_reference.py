"""The per-doc combine as Catalyst expressions: groupBy(docid).pivot(clause
index) + a coalesce chain, the formulation the engine's search,
search_wand, search_dismax and search_edismax used before they shared
combine_topk. Kept as the arithmetic reference that
tests/test_two_executors.py compares both executors with, as
_combine_dense is kept for combine_topk: Spark float ops add the
clause scores left to right (a missed clause adds 0), dismax groups
are mx + tie * (Σ - mx), coord runs in double and is cast back.

The clause rows come from the engine's own scans (_scored_candidates,
phrase_scores); only the combine differs."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from lucene_solr_1_spark.search.engine import topk_with_rank
from lucene_solr_1_spark.search.phrase import phrase_scores
from lucene_solr_1_spark.search.similarities import get_similarity


def _ftype(dtype) -> str:
    return "float" if dtype == np.float32 else "double"


def _tagged(df, ti):
    return df.select("docid", F.lit(ti).cast("int").alias("tidx"), "score")


def _doc_filtered(s, df, doc_filter, docid_filter):
    if doc_filter is not None:
        df = df.join(s.spark.read.parquet(s.paths.docs).filter(doc_filter)
                     .select("docid"), "docid", "left_semi")
    if docid_filter is not None:
        df = df.join(docid_filter.select("docid"), "docid", "left_semi")
    return df


def pivot_search(s, query, op="OR", k=None, dtype=np.float32, similarity=None,
                 after=None, doc_filter=None, docid_filter=None):
    """IndexSearcher.search's combine as a pivot chain."""
    q = s._coerce(query, op, k)
    pos_terms = q.must + q.should
    nterms = len(pos_terms)
    pos_phr = [p for p in q.phrases if p.occur != "MUST_NOT"]
    neg_phr = [p for p in q.phrases if p.occur == "MUST_NOT"]
    nclauses = nterms + len(pos_phr)
    cands = s._scored_candidates(pos_terms, dtype=dtype,
                                 similarity=similarity, boosts=q.boosts)
    for j, p in enumerate(pos_phr):
        cands = cands.unionByName(_tagged(phrase_scores(
            s, list(p.terms), slop=p.slop, dtype=dtype, boost=p.boost),
            nterms + j))
    ftype = _ftype(dtype)
    pivoted = (cands.groupBy("docid").pivot("tidx", list(range(nclauses)))
               .agg(F.first("score")))
    zero = F.lit(0.0).cast(ftype)
    total = F.coalesce(F.col("0"), zero)
    nmatch = F.col("0").isNotNull().cast("int")
    for i in range(1, nclauses):
        total = total + F.coalesce(F.col(str(i)), zero)
        nmatch = nmatch + F.col(str(i)).isNotNull().cast("int")
    must_idx, should_idx, msm = s._clause_roles(q, pos_phr)
    must_ok = F.lit(True)
    for i in must_idx:
        must_ok = must_ok & F.col(str(i)).isNotNull()
    scored = (pivoted.withColumn("score", total)
              .withColumn("nmatch", nmatch).filter(must_ok))
    if get_similarity(similarity).uses_coord():
        coord = (F.col("nmatch").cast("double")
                 / F.lit(float(dtype(nclauses)))).cast(ftype)
        scored = scored.withColumn("score", (F.col("score") * coord)
                                   .cast(ftype))
    if should_idx and msm:
        smatch = None
        for i in should_idx:
            c = F.col(str(i)).isNotNull().cast("int")
            smatch = c if smatch is None else smatch + c
        scored = scored.filter(smatch >= msm)
    if q.must_not:
        neg = s._scored_candidates(q.must_not, dtype=dtype).select("docid")
        scored = scored.join(neg.distinct(), "docid", "left_anti")
    for p in neg_phr:
        negp = phrase_scores(s, list(p.terms), slop=p.slop, dtype=dtype)
        scored = scored.join(negp.select("docid"), "docid", "left_anti")
    if after is not None:
        a_score, a_docid = after
        scored = scored.filter(
            (F.col("score") < F.lit(float(a_score)))
            | ((F.col("score") == F.lit(float(a_score)))
               & (F.col("docid") > F.lit(int(a_docid)))))
    return topk_with_rank(_doc_filtered(s, scored, doc_filter, docid_filter),
                          q.k)


def _dismax_total(piv, groups, tie, dtype):
    """Σ over groups of mx + tie * (Σ members - mx), in Catalyst float."""
    ftype = _ftype(dtype)
    zero = F.lit(0.0).cast(ftype)
    total = None
    for members in groups:
        cols = [F.coalesce(F.col(str(i)), zero) for i in members]
        mx = F.greatest(*cols) if len(cols) > 1 else cols[0]
        summed = cols[0]
        for c in cols[1:]:
            summed = summed + c
        val = (mx + (F.lit(float(tie)).cast(ftype) * (summed - mx))
               ).cast(ftype)
        total = val if total is None else (total + val).cast(ftype)
    return total


def pivot_dismax(s, terms, fields, tiebreak=0.0, k=10, boosts=None,
                 dtype=np.float32):
    """IndexSearcher.search_dismax's combine as a pivot chain."""
    keys = [s.term_key(f_, t) for t in terms for f_ in fields]
    tboosts = {s.term_key(f_, t): (boosts or {})[f_] for t in terms
               for f_ in fields if (boosts or {}).get(f_, 1.0) != 1.0}
    cands = s._scored_candidates(keys, dtype=dtype, boosts=tboosts)
    piv = (cands.groupBy("docid").pivot("tidx", list(range(len(keys))))
           .agg(F.first("score")))
    nf = len(fields)
    groups = [range(i, i + nf) for i in range(0, len(keys), nf)]
    return topk_with_rank(
        piv.withColumn("score", _dismax_total(piv, groups, tiebreak, dtype)),
        k)


def pivot_edismax(s, should, must, must_not, fields, field_boosts=None,
                  tiebreak=0.0, mm=0, k=10, dtype=np.float32):
    """IndexSearcher.search_edismax's combine as a pivot chain: term
    clauses first (clause, then field order), then the phrase clauses."""
    clauses = list(must) + list(should)
    boost = {f_: (field_boosts or {}).get(f_, 1.0) for f_ in fields}

    def is_phrase(cl):
        return isinstance(cl, tuple) and cl[0] == "PHRASE"

    groups = [[] for _ in clauses]
    term_keys, term_boosts, phrases = [], {}, []
    for ci, cl in enumerate(clauses):
        for f_ in fields if not is_phrase(cl) else ():
            groups[ci].append(len(term_keys))
            term_keys.append(s.term_key(f_, cl))
            if boost[f_] != 1.0:
                term_boosts[term_keys[-1]] = boost[f_]
    for ci, cl in enumerate(clauses):
        for f_ in fields if is_phrase(cl) else ():
            groups[ci].append(len(term_keys) + len(phrases))
            phrases.append(([s.term_key(f_, t) for t in cl[1]], cl[2],
                            boost[f_]))
    cands = s._scored_candidates(term_keys, dtype=dtype, boosts=term_boosts)
    for j, (qterms, slop, b) in enumerate(phrases):
        cands = cands.unionByName(_tagged(phrase_scores(
            s, qterms, slop=slop, dtype=dtype, boost=b), len(term_keys) + j))
    piv = (cands.groupBy("docid")
           .pivot("tidx", list(range(len(term_keys) + len(phrases))))
           .agg(F.first("score")))
    scored = piv.withColumn("score",
                            _dismax_total(piv, groups, tiebreak, dtype))
    hit = []
    for members in groups:
        m = None
        for i in members:
            c = F.col(str(i)).isNotNull()
            m = c if m is None else (m | c)
        hit.append(m)
    for ci in range(len(must)):
        scored = scored.filter(hit[ci])
    if mm and len(clauses) > len(must):
        nmatch = None
        for ci in range(len(must), len(clauses)):
            c = hit[ci].cast("int")
            nmatch = c if nmatch is None else nmatch + c
        scored = scored.filter(nmatch >= mm)
    for cl in must_not:
        for f_ in fields:
            if is_phrase(cl):
                neg = phrase_scores(s, [s.term_key(f_, t) for t in cl[1]],
                                    slop=cl[2], dtype=dtype)
            else:
                neg = s._scored_candidates([s.term_key(f_, cl)], dtype=dtype)
            scored = scored.join(neg.select("docid").distinct(), "docid",
                                 "left_anti")
    return topk_with_rank(scored, k)
