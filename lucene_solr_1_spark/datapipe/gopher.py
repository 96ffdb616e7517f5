"""Gopher-style quality + repetition filters for web-scale training
corpora (Rae et al., "Scaling Language Models: Methods, Analysis &
Insights from Training Gopher", 2021 — Table A1 lists the published
thresholds; the duplicate-counting convention follows the widely-used
open reimplementations: a line/paragraph is "duplicate" on every
occurrence after its first, n-gram duplication counts the characters of
ALL occurrences of any n-gram seen more than once, and the top-n-gram
fraction counts the characters covered by the single most frequent
n-gram).

Scale design:
* `gopher_quality` is 100% narrow per-row array expressions (split /
  filter / aggregate / array_distinct) — whole-stage codegen, ZERO
  shuffles, so it runs at scan speed on 100 TB.
* `gopher_ngram_stats` explodes word n-grams tagged with n and does two
  map-side-combinable aggregations (groupBy(doc, n, gram) → groupBy
  (doc)); no per-doc O(len²) work, no Python. The alternative (per-row
  pairwise counting inside an array) is quadratic in document length —
  wrong for book-length pages.

Character accounting: an n-gram occurrence covers the characters of its
words (joining spaces excluded), and the per-document denominator is
the summed word length, so fractions are in [0, 1] for non-overlapping
duplication and comparable across n.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# the reference stop set of the Gopher quality rule ("must contain at
# least two of"): Rae et al. 2021, A1.1
GOPHER_STOP_WORDS = ("the", "be", "to", "of", "and", "that", "have", "with")

# published thresholds (Table A1)
MIN_WORDS, MAX_WORDS = 50, 100_000
MIN_MEAN_WORD_LEN, MAX_MEAN_WORD_LEN = 3.0, 10.0
MAX_SYMBOL_WORD_RATIO = 0.1
MAX_BULLET_LINE_FRAC = 0.9
MAX_ELLIPSIS_LINE_FRAC = 0.3
MIN_ALPHA_WORD_FRAC = 0.8
MIN_STOP_HITS = 2
MAX_DUP_LINE_FRAC = 0.30
MAX_DUP_PARA_FRAC = 0.30
MAX_DUP_LINE_CHAR_FRAC = 0.20
MAX_DUP_PARA_CHAR_FRAC = 0.20
TOP_NGRAM_THRESHOLDS = {2: 0.20, 3: 0.18, 4: 0.16}
DUP_NGRAM_THRESHOLDS = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12,
                        9: 0.11, 10: 0.10}

_BULLETS = ("•", "‣", "■", "▪", "-", "*")


def _text(text_col: str) -> Column:
    """The text column with null read as the empty document."""
    return F.coalesce(F.col(text_col), F.lit(""))


def _words(text_col: str) -> Column:
    return F.filter(F.split(_text(text_col), r"\s+"), lambda w: w != "")


def _sum_len(arr: Column) -> Column:
    return F.aggregate(arr, F.lit(0).cast("long"),
                       lambda acc, x: acc + F.length(x))


def _dup_stats(arr: Column) -> tuple[Column, Column]:
    """(duplicate-element fraction, duplicate-character fraction) of an
    array of strings, duplicates = occurrences after the first:
    dup_elems = size - distinct size; dup_chars = chars - distinct
    chars. Pure array expressions — no shuffle."""
    n = F.size(arr)
    dist = F.array_distinct(arr)
    dup_frac = F.when(n > 0, (n - F.size(dist)) / n).otherwise(F.lit(0.0))
    chars = _sum_len(arr)
    dup_char_frac = (F.when(chars > 0,
                            (chars - _sum_len(dist)) / chars)
                     .otherwise(F.lit(0.0)))
    return dup_frac, dup_char_frac


def gopher_quality(df: DataFrame, text_col: str = "text",
                   key: str = "doc_id") -> DataFrame:
    """Per-document Gopher quality signals (Rae et al. 2021 A1.1) plus
    the line/paragraph repetition fractions (A1.2's non-n-gram rows):
    word count, mean word length, symbol-to-word ratio ('#' and '…'/
    '...'), bullet-start and ellipsis-end line fractions, alphabetic
    word fraction, stop-word hits, duplicate line/paragraph (element
    and character) fractions; `gopher_quality_ok` applies the published
    thresholds. All narrow per-row expressions. A null text is the
    empty document, as in gopher_signals_df."""
    w = _words(text_col)
    out = df.withColumn("_w", w)
    nw = F.size("_w")
    lines = F.filter(F.split(_text(text_col), r"\n"),
                     lambda l: F.trim(l) != "")
    paras = F.filter(F.split(_text(text_col), r"\n\s*\n"),
                     lambda p: F.trim(p) != "")
    nl = F.size(lines)
    hash_count = (F.length(_text(text_col))
                  - F.length(F.regexp_replace(_text(text_col), r"#", "")))
    ell_count = F.size(F.split(_text(text_col), r"\.\.\.|…")) - 1
    bullet_lines = F.size(F.filter(
        lines, lambda l: F.trim(l).substr(1, 1).isin(*_BULLETS)))
    ellipsis_lines = F.size(F.filter(
        lines, lambda l: F.rtrim(l).endswith("...")
        | F.rtrim(l).endswith("…")))
    alpha_words = F.size(F.filter("_w", lambda x: x.rlike("[A-Za-z]")))
    lw = F.transform("_w", lambda x: F.lower(x))
    stop_hits = F.size(F.filter(
        F.array(*[F.lit(s) for s in GOPHER_STOP_WORDS]),
        lambda s: F.array_contains(lw, s)))
    dup_line_frac, dup_line_char_frac = _dup_stats(lines)
    dup_para_frac, dup_para_char_frac = _dup_stats(paras)
    out = (out
           .withColumn("n_words", nw.cast("long"))
           .withColumn("mean_word_len",
                       F.when(nw > 0, _sum_len(F.col("_w")) / nw)
                       .otherwise(F.lit(0.0)))
           .withColumn("symbol_word_ratio",
                       F.when(nw > 0, (hash_count + ell_count) / nw)
                       .otherwise(F.lit(0.0)))
           .withColumn("frac_bullet_lines",
                       F.when(nl > 0, bullet_lines / nl).otherwise(F.lit(0.0)))
           .withColumn("frac_ellipsis_lines",
                       F.when(nl > 0, ellipsis_lines / nl)
                       .otherwise(F.lit(0.0)))
           .withColumn("frac_alpha_words",
                       F.when(nw > 0, alpha_words / nw).otherwise(F.lit(0.0)))
           .withColumn("stop_hits", stop_hits.cast("int"))
           .withColumn("dup_line_frac", dup_line_frac)
           .withColumn("dup_line_char_frac", dup_line_char_frac)
           .withColumn("dup_para_frac", dup_para_frac)
           .withColumn("dup_para_char_frac", dup_para_char_frac)
           .drop("_w"))
    ok = ((F.col("n_words").between(MIN_WORDS, MAX_WORDS))
          & (F.col("mean_word_len").between(MIN_MEAN_WORD_LEN,
                                            MAX_MEAN_WORD_LEN))
          & (F.col("symbol_word_ratio") <= MAX_SYMBOL_WORD_RATIO)
          & (F.col("frac_bullet_lines") <= MAX_BULLET_LINE_FRAC)
          & (F.col("frac_ellipsis_lines") <= MAX_ELLIPSIS_LINE_FRAC)
          & (F.col("frac_alpha_words") >= MIN_ALPHA_WORD_FRAC)
          & (F.col("stop_hits") >= MIN_STOP_HITS)
          & (F.col("dup_line_frac") <= MAX_DUP_LINE_FRAC)
          & (F.col("dup_para_frac") <= MAX_DUP_PARA_FRAC)
          & (F.col("dup_line_char_frac") <= MAX_DUP_LINE_CHAR_FRAC)
          & (F.col("dup_para_char_frac") <= MAX_DUP_PARA_CHAR_FRAC))
    return out.withColumn("gopher_quality_ok", ok.cast("int"))


def gopher_ngram_stats(df: DataFrame, text_col: str = "text",
                       key: str = "doc_id",
                       top_ns: tuple[int, ...] = (2, 3, 4),
                       dup_ns: tuple[int, ...] = (5, 6, 7, 8, 9, 10)
                       ) -> DataFrame:
    """Per-document n-gram repetition fractions (Rae et al. 2021 A1.2):
    for n in `top_ns` the character fraction covered by the MOST
    frequent word n-gram (`top_{n}gram_char_frac`), for n in `dup_ns`
    the character fraction covered by ALL occurrences of n-grams seen
    more than once (`dup_{n}gram_char_frac`). Denominator = summed word
    characters of the document; an occurrence covers its words' chars
    (joining spaces excluded).

    Plan: ONE explode of (n, gram) tagged grams → groupBy(doc, n, gram)
    count (map-side combine) → groupBy(doc) conditional aggregates.
    Two hash shuffles, no Python, no O(len²) per-row work."""
    all_ns = sorted(set(top_ns) | set(dup_ns))
    w = _words(text_col)
    base = df.select(F.col(key), w.alias("_w"))
    base = base.withColumn("_tc", _sum_len(F.col("_w")))

    def grams_for(n: int) -> Column:
        return F.when(
            F.size("_w") >= n,
            F.transform(
                F.sequence(F.lit(1), F.size("_w") - n + 1),
                lambda i: F.struct(
                    F.lit(n).alias("n"),
                    F.concat_ws(" ", F.slice("_w", i, n)).alias("gram")))
        ).otherwise(F.array().cast("array<struct<n:int,gram:string>>"))

    tagged = F.flatten(F.array(*[grams_for(n) for n in all_ns]))
    ex = base.select(key, "_tc", F.explode(tagged).alias("g"))
    counts = (ex.groupBy(key, "_tc", F.col("g.n").alias("n"),
                         F.col("g.gram").alias("gram"))
              .agg(F.count("*").alias("cnt")))
    # chars covered by one occurrence: joined length minus the n-1 spaces
    occ_chars = F.length("gram") - (F.col("n") - 1)
    aggs = []
    for n in top_ns:
        # the SINGLE most frequent n-gram's character coverage (Rae et
        # al. A1.2; ADVICE r4): pick the gram by count — tie-break by
        # char length — via a struct max, THEN take cnt * chars. A
        # max over cnt*chars would let a rarer-but-longer gram win.
        top = F.max(F.when(F.col("n") == n,
                           F.struct(F.col("cnt").alias("cnt"),
                                    occ_chars.alias("oc"))))
        aggs.append(
            (F.coalesce(top.getField("cnt") * top.getField("oc"), F.lit(0))
             / F.first("_tc")).alias(f"top_{n}gram_char_frac"))
    for n in dup_ns:
        aggs.append(
            F.least(F.lit(1.0),
                    F.coalesce(F.sum(F.when((F.col("n") == n)
                                            & (F.col("cnt") > 1),
                                            F.col("cnt") * occ_chars)),
                               F.lit(0))
                    / F.first("_tc")).alias(f"dup_{n}gram_char_frac"))
    stats = counts.groupBy(key).agg(*aggs)
    # docs with zero words never reach the explode — restore them as 0.0
    zeros = [F.coalesce(F.col(c), F.lit(0.0)).alias(c)
             for c in stats.columns if c != key]
    return (df.select(key).join(stats, key, "left")
            .select(key, *zeros))


def gopher_signals_df(df: DataFrame, text_col: str = "text",
                      key: str = "doc_id",
                      top_ns: tuple[int, ...] = (2, 3, 4),
                      dup_ns: tuple[int, ...] = (5, 6, 7, 8, 9, 10)
                      ) -> DataFrame:
    """ALL Gopher signals (quality + n-gram repetition) in ONE narrow
    Arrow-batched kernel (r6, guide §4.2): per batch the texts are
    processed with compiled regexes + Counter counting — C-speed per
    document — instead of ~40 interpreted Catalyst higher-order-function
    passes over the same arrays. Semantics are the EXACT twin of
    gopher_quality ⋈ gopher_ngram_stats (parity pinned bitwise in
    tests/test_gopher.py::test_kernel_matches_expr_pipeline), including
    Java-regex whitespace: ``\\s`` is [ \\t\\n\\x0B\\f\\r] (NO Unicode
    spaces — Python's ``\\s`` would match U+00A0), and trim strips
    ASCII spaces only, as Spark's ``trim`` does. A null text is the empty
    document in both pipelines: n_words 0, every fraction 0.0, and
    gopher_quality_ok 0.

    Scale shape: one narrow mapInPandas, zero shuffles — identical to
    the JVM-expression path; the Arrow boundary carries (key, text) in
    and small numeric rows out. The JVM path stays as the composable
    spec twin (gopher_quality / gopher_ngram_stats / gopher_filter)."""
    import re
    from collections import Counter

    from pyspark.sql import types as T

    ws = re.compile(r"[ \t\n\x0B\f\r]+")
    para_re = re.compile(r"\n[ \t\n\x0B\f\r]*\n")
    ell_re = re.compile(r"\.\.\.|…")
    alpha_re = re.compile(r"[A-Za-z]")
    stopset = GOPHER_STOP_WORDS
    bullets = set(_BULLETS)
    t_ns, d_ns = tuple(top_ns), tuple(dup_ns)
    all_ns = sorted(set(t_ns) | set(d_ns))

    fields = [T.StructField(key, T.LongType()),
              T.StructField("n_words", T.LongType()),
              T.StructField("mean_word_len", T.DoubleType()),
              T.StructField("symbol_word_ratio", T.DoubleType()),
              T.StructField("frac_bullet_lines", T.DoubleType()),
              T.StructField("frac_ellipsis_lines", T.DoubleType()),
              T.StructField("frac_alpha_words", T.DoubleType()),
              T.StructField("stop_hits", T.IntegerType()),
              T.StructField("dup_line_frac", T.DoubleType()),
              T.StructField("dup_line_char_frac", T.DoubleType()),
              T.StructField("dup_para_frac", T.DoubleType()),
              T.StructField("dup_para_char_frac", T.DoubleType()),
              ] + [T.StructField(f"top_{n}gram_char_frac", T.DoubleType())
                   for n in t_ns] \
               + [T.StructField(f"dup_{n}gram_char_frac", T.DoubleType())
                  for n in d_ns] \
               + [T.StructField("gopher_quality_ok", T.IntegerType())]
    schema = T.StructType(fields)

    def dup_stats(items):
        n = len(items)
        if n == 0:
            return 0.0, 0.0
        seen = set()
        dup_c = 0
        tot_c = 0
        dups = 0
        for it in items:
            tot_c += len(it)
            if it in seen:
                dups += 1
                dup_c += len(it)
            else:
                seen.add(it)
        return dups / n, (dup_c / tot_c if tot_c > 0 else 0.0)

    def one(t):
        if t is None:
            t = ""
        words = [w for w in ws.split(t) if w]
        nw = len(words)
        tc = sum(len(w) for w in words)
        lines = [l for l in t.split("\n") if l.strip(" ") != ""]
        paras = [p for p in para_re.split(t) if p.strip(" ") != ""]
        nl = len(lines)
        hashes = t.count("#")
        ells = len(ell_re.split(t)) - 1
        bl = sum(1 for l in lines if l.strip(" ")[:1] in bullets)
        el = sum(1 for l in lines
                 if l.rstrip(" ").endswith("...")
                 or l.rstrip(" ").endswith("…"))
        alpha = sum(1 for w in words if alpha_re.search(w))
        lw = [w.lower() for w in words]
        lwset = set(lw)
        stop = sum(1 for s in stopset if s in lwset)
        dlf, dlcf = dup_stats(lines)
        dpf, dpcf = dup_stats(paras)
        mwl = tc / nw if nw > 0 else 0.0
        sym = (hashes + ells) / nw if nw > 0 else 0.0
        bf = bl / nl if nl > 0 else 0.0
        ef = el / nl if nl > 0 else 0.0
        af = alpha / nw if nw > 0 else 0.0
        row = [nw, mwl, sym, bf, ef, af, stop, dlf, dlcf, dpf, dpcf]
        tops, dups = {}, {}
        for n in all_ns:
            if nw >= n:
                c = Counter(tuple(words[i:i + n]) for i in range(nw - n + 1))
            else:
                c = None
            if n in t_ns:
                best = 0
                if c:
                    bc, boc = 0, 0
                    for g, cnt in c.items():
                        oc = sum(len(w) for w in g)
                        if cnt > bc or (cnt == bc and oc > boc):
                            bc, boc = cnt, oc
                    best = bc * boc
                tops[n] = best / tc if tc > 0 else 0.0
            if n in d_ns:
                d = 0
                if c:
                    for g, cnt in c.items():
                        if cnt > 1:
                            d += cnt * sum(len(w) for w in g)
                dups[n] = min(1.0, d / tc) if tc > 0 else 0.0
        row += [tops[n] for n in t_ns] + [dups[n] for n in d_ns]
        ok = (MIN_WORDS <= nw <= MAX_WORDS
              and MIN_MEAN_WORD_LEN <= mwl <= MAX_MEAN_WORD_LEN
              and sym <= MAX_SYMBOL_WORD_RATIO
              and bf <= MAX_BULLET_LINE_FRAC
              and ef <= MAX_ELLIPSIS_LINE_FRAC
              and af >= MIN_ALPHA_WORD_FRAC
              and stop >= MIN_STOP_HITS
              and dlf <= MAX_DUP_LINE_FRAC and dpf <= MAX_DUP_PARA_FRAC
              and dlcf <= MAX_DUP_LINE_CHAR_FRAC
              and dpcf <= MAX_DUP_PARA_CHAR_FRAC)
        row.append(1 if ok else 0)
        return row

    cols = [f.name for f in fields]

    def kernel(batches):
        import pandas as pd
        for pdf in batches:
            out = [[k] + one(t)
                   for k, t in zip(pdf[key].tolist(), pdf[text_col].tolist())]
            yield pd.DataFrame(out, columns=cols)

    return df.select(key, text_col).mapInPandas(kernel, schema=schema)


def gopher_filter(df: DataFrame, text_col: str = "text",
                  key: str = "doc_id") -> DataFrame:
    """The full Gopher gate: quality rules + n-gram repetition rules,
    keeping rows that pass everything (the A1 pipeline as one
    DataFrame transform). Adds `gopher_ok`."""
    q = gopher_quality(df, text_col, key)
    ng = gopher_ngram_stats(df, text_col, key)
    cond = F.col("gopher_quality_ok") == 1
    for n, thr in TOP_NGRAM_THRESHOLDS.items():
        cond = cond & (F.col(f"top_{n}gram_char_frac") <= thr)
    for n, thr in DUP_NGRAM_THRESHOLDS.items():
        cond = cond & (F.col(f"dup_{n}gram_char_frac") <= thr)
    return (q.join(ng, key)
            .withColumn("gopher_ok", cond.cast("int")))
