"""Gopher quality/repetition filters vs a brute-force Python oracle
(the published rule definitions from Rae et al. 2021 Table A1, with the
open-reimplementation duplicate conventions documented in
datapipe/gopher.py)."""

import re
from collections import Counter

import pytest

from lucene_solr_1_spark.datapipe.gopher import (
    GOPHER_STOP_WORDS, gopher_filter, gopher_ngram_stats, gopher_quality)

DOCS = [
    # clean multi-line prose
    (0, "the quick brown fox jumps over the lazy dog and then it "
        "went to sleep with a smile that would have made anyone happy\n"
        "a second line of perfectly ordinary text follows here now\n"
        "and a third line to be safe with the usual words of the day"),
    # duplicate lines + paragraph
    (1, "alpha beta gamma\nalpha beta gamma\ndelta epsilon zeta\n\n"
        "para one here\n\npara one here"),
    # bullets + ellipses
    (2, "• first bullet item\n• second bullet item\n- third dash item\n"
        "trailing thought...\nanother trailing thought…"),
    # heavy n-gram repetition
    (3, "spam ham spam ham spam ham spam ham spam ham spam ham"),
    # symbols
    (4, "lots of #tags #here ... and #more ... yes #really ..."),
    # empty-ish
    (5, "   \n  \n"),
    (6, "single"),
    # discriminates the corrected top-gram rule (ADVICE r4): the 2-gram
    # "aa bb" occurs 3x (coverage 12 chars) while the rarer-but-longer
    # "cccccccccc dddddddddd" occurs 2x (coverage 40 chars) — the rule
    # picks the most FREQUENT gram, so the old max(cnt*chars) differs
    (7, "aa bb x aa bb y aa bb z cccccccccc dddddddddd q "
        "cccccccccc dddddddddd"),
]


def words(t):
    return [w for w in re.split(r"\s+", t) if w]


def dup_stats(items):
    n = len(items)
    if n == 0:
        return 0.0, 0.0
    seen, de, dc = set(), 0, 0
    for it in items:
        if it in seen:
            de += 1
            dc += len(it)
        else:
            seen.add(it)
    tot = sum(len(i) for i in items)
    return de / n, (dc / tot if tot else 0.0)


def py_quality(t):
    w = words(t)
    nw = len(w)
    lines = [l for l in t.split("\n") if l.strip()]
    paras = [p for p in re.split(r"\n\s*\n", t) if p.strip()]
    nl = len(lines)
    hashes = t.count("#")
    ells = len(re.split(r"\.\.\.|…", t)) - 1
    bullets = sum(1 for l in lines
                  if l.strip()[:1] in ("•", "‣", "■", "▪", "-", "*"))
    ell_lines = sum(1 for l in lines
                    if l.rstrip().endswith("...") or l.rstrip().endswith("…"))
    alpha = sum(1 for x in w if re.search("[A-Za-z]", x))
    lw = [x.lower() for x in w]
    stop = sum(1 for s in GOPHER_STOP_WORDS if s in lw)
    dlf, dlcf = dup_stats(lines)
    dpf, dpcf = dup_stats(paras)
    return dict(
        n_words=nw,
        mean_word_len=(sum(len(x) for x in w) / nw if nw else 0.0),
        symbol_word_ratio=((hashes + ells) / nw if nw else 0.0),
        frac_bullet_lines=(bullets / nl if nl else 0.0),
        frac_ellipsis_lines=(ell_lines / nl if nl else 0.0),
        frac_alpha_words=(alpha / nw if nw else 0.0),
        stop_hits=stop,
        dup_line_frac=dlf, dup_line_char_frac=dlcf,
        dup_para_frac=dpf, dup_para_char_frac=dpcf)


def py_ngrams(t, top_ns=(2, 3, 4), dup_ns=(5, 6, 7, 8, 9, 10)):
    w = words(t)
    tc = sum(len(x) for x in w)
    out = {}
    for n in sorted(set(top_ns) | set(dup_ns)):
        grams = [" ".join(w[i:i + n]) for i in range(len(w) - n + 1)]
        c = Counter(grams)
        occ = {g: len(g) - (n - 1) for g in c}
        if n in top_ns:
            # the published rule: coverage of the single MOST FREQUENT
            # gram (tie-break by char length) — not max over cnt*chars
            if c:
                g = max(c, key=lambda g: (c[g], occ[g]))
                top = c[g] * occ[g]
            else:
                top = 0
            out[f"top_{n}gram_char_frac"] = top / tc if tc else 0.0
        if n in dup_ns:
            dup = sum(cnt * occ[g] for g, cnt in c.items() if cnt > 1)
            out[f"dup_{n}gram_char_frac"] = min(1.0, dup / tc) if tc else 0.0
    return out


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_quality_matches_oracle(spark, docs_df):
    rows = {r["doc_id"]: r.asDict()
            for r in gopher_quality(docs_df).collect()}
    for did, text in DOCS:
        exp = py_quality(text)
        got = rows[did]
        for k, v in exp.items():
            assert got[k] == pytest.approx(v, abs=1e-9), (did, k, got[k], v)


def test_ngram_stats_match_oracle(spark, docs_df):
    rows = {r["doc_id"]: r.asDict()
            for r in gopher_ngram_stats(docs_df).collect()}
    for did, text in DOCS:
        exp = py_ngrams(text)
        got = rows[did]
        for k, v in exp.items():
            assert got[k] == pytest.approx(v, abs=1e-9), (did, k, got[k], v)


def test_filter_flags(spark, docs_df):
    out = {r["doc_id"]: r for r in gopher_filter(docs_df).collect()}
    # doc 3 (spam/ham) trips the repetition rules; doc 5 has no words
    assert out[3]["gopher_ok"] == 0
    assert out[5]["gopher_ok"] == 0
    assert out[0]["gopher_quality_ok"] in (0, 1)   # deterministic flag
    # doc 1's duplicate-line fraction exceeds 0.30 -> quality gate fails
    assert out[1]["gopher_quality_ok"] == 0


def test_top_gram_picks_most_frequent(spark, docs_df):
    """Pin the corrected rule on the discriminating doc: coverage of the
    3x 'aa bb' gram (12 chars), NOT the rarer-but-longer 2x 20-char
    gram the old max(cnt*chars) would have picked (40 chars)."""
    rows = {r["doc_id"]: r.asDict()
            for r in gopher_ngram_stats(docs_df).collect()}
    tc = sum(len(x) for x in words(DOCS[7][1]))
    assert rows[7]["top_2gram_char_frac"] == pytest.approx(12 / tc)
    assert rows[7]["top_2gram_char_frac"] != pytest.approx(40 / tc)


def test_no_python_in_plan(spark, docs_df):
    plan = gopher_filter(docs_df)._jdf.queryExecution().executedPlan().toString()
    assert "PythonUDF" not in plan and "ArrowEval" not in plan


ADVERSARIAL_DOCS = [
    # Java-regex whitespace: \x0b and \f split, U+00A0 and U+3000 do NOT
    (100, "a\x0bb c\fd e f g　h"),
    # tab-only "blank" line survives Spark trim (spaces only)
    (101, "first line\n\t\nsecond line\n   \nthird"),
    # bullets after tabs are NOT bullets (trim strips spaces only)
    (102, "\t- tabbed dash\n - spaced dash\n• real bullet"),
    # ellipsis forms and rstrip-space-only endings
    (103, "ends dots...\nends u2026…\nends dots... \nends tab...\t"),
    # ngram ties: equal count, tie-break by char length
    (104, "aa bb cc aa bb cc ddddd eeeee ddddd eeeee"),
]


def test_kernel_matches_expr_pipeline(spark):
    """r6: the Arrow-batched gopher_signals_df kernel must equal the JVM
    expression pipeline (gopher_quality ⋈ gopher_ngram_stats) BITWISE on
    every column, including the Java-whitespace adversarial docs and a
    null text, which both read as the empty document."""
    from lucene_solr_1_spark.datapipe.gopher import gopher_signals_df

    df = spark.createDataFrame(DOCS + ADVERSARIAL_DOCS + [(300, None)],
                               "doc_id long, text string")
    expr = {r["doc_id"]: r.asDict()
            for r in gopher_quality(df).join(
                gopher_ngram_stats(df), "doc_id").collect()}
    kern = {r["doc_id"]: r.asDict()
            for r in gopher_signals_df(df).collect()}
    assert set(expr) == set(kern)
    cols = [c for c in next(iter(kern.values()))
            if c not in ("doc_id", "text")]
    for did in expr:
        for c in cols:
            assert kern[did][c] == expr[did][c], (did, c, kern[did][c],
                                                  expr[did][c])
    assert kern[300]["n_words"] == 0 and kern[300]["gopher_quality_ok"] == 0
