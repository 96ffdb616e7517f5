"""Numeric trie terms (NumericRangeQuery/NumericUtils analog,
index/numeric.py): split_range exactness, encoding order, Spark index
round-trip, and FilteredQuery composition via docid_filter."""

import os
import random

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from lucene_solr_1_spark.fixtures.webtext import gen_docs
from lucene_solr_1_spark.index.build import build_index
from lucene_solr_1_spark.index.numeric import (build_numeric_index,
                                               encode_term_py,
                                               numeric_range_docids,
                                               range_term_bounds, split_range,
                                               trie_terms_expr, trie_terms_py)
from oracle import build_oracle_index
from lucene_solr_1_spark.search.engine import IndexSearcher


def test_split_range_exact_cover():
    """Every value in [lo, hi] is covered exactly once, none outside —
    exhaustive neighborhood check over a 10-bit space, steps 3 and 4."""
    for bits, step in ((10, 3), (10, 4)):
        n = 1 << bits
        rnd = random.Random(42)
        pairs = [tuple(sorted(rnd.sample(range(n), 2))) for _ in range(120)]
        pairs += [(0, n - 1), (0, 0), (n - 1, n - 1), (5, 5), (0, 7),
                  (8, 15), (7, 8)]
        for lo, hi in pairs:
            rs = split_range(lo, hi, step, bits=bits)
            assert len(rs) <= 2 * -(-bits // step)
            for v in range(max(0, lo - 20), min(n, hi + 21)):
                hits = sum(1 for s, a, b in rs if a <= (v >> s) <= b)
                assert hits == (1 if lo <= v <= hi else 0), (lo, hi, v)


def test_encoding_preserves_order_including_negatives():
    vals = sorted(random.Random(1).sample(range(-10**12, 10**12), 200))
    for s in (0, 8, 24):
        encs = [encode_term_py(v, s) for v in vals]
        assert encs == sorted(encs)


def test_py_range_match_equals_bruteforce():
    rnd = random.Random(7)
    vals = [rnd.randint(-5000, 5000) for _ in range(1000)]
    for _ in range(25):
        lo, hi = sorted((rnd.randint(-6000, 6000), rnd.randint(-6000, 6000)))
        bounds = range_term_bounds(lo, hi, 8)
        assert len(bounds) <= 16
        got = {i for i, v in enumerate(vals)
               if any(a <= t <= b for t in trie_terms_py(v)
                      for a, b in bounds)}
        assert got == {i for i, v in enumerate(vals) if lo <= v <= hi}


def test_trie_terms_expr_matches_python(spark):
    vals = [0, 1, -1, 255, 256, -4096, 2**40 + 17, -(2**40) - 17,
            2**63 - 1, -(2**63)]
    df = spark.createDataFrame(pd.DataFrame({"v": vals}), schema="v long")
    got = df.select("v", trie_terms_expr("v").alias("t")).collect()
    for r in got:
        assert list(r["t"]) == trie_terms_py(int(r["v"]))


def test_numeric_index_roundtrip(spark, tmp_root):
    """Build the trie index over synthetic (docid, value) rows incl.
    negatives; random ranges resolve to exactly the brute-force docid
    sets."""
    rnd = random.Random(11)
    n = 3000
    vals = [rnd.randint(-10**6, 10**6) for _ in range(n)]
    pdf = pd.DataFrame({"docid": range(n), "v": vals})
    docs = spark.createDataFrame(pdf, schema="docid long, v long")
    path = os.path.join(tmp_root, "trie_synth")
    build_numeric_index(spark, docs, "v", path, out_partitions=4)
    for _ in range(6):
        lo, hi = sorted((rnd.randint(-10**6, 10**6),
                         rnd.randint(-10**6, 10**6)))
        got = sorted(r["docid"] for r in
                     numeric_range_docids(spark, path, lo, hi).collect())
        exp = sorted(i for i, v in enumerate(vals) if lo <= v <= hi)
        assert got == exp, (lo, hi)
    assert numeric_range_docids(spark, path, 5, 4).count() == 0
    assert (numeric_range_docids(spark, path, -(2**62), 2**62).count()
            == n)


def test_trie_range_scan_prunes(spark, tmp_root):
    """The O(levels) BETWEEN predicates reach the parquet scan as
    pushed filters on term (the BlockTree-seek analog)."""
    path = os.path.join(tmp_root, "trie_synth")
    if not os.path.exists(path):
        docs = spark.createDataFrame(
            pd.DataFrame({"docid": range(100), "v": range(100)}),
            schema="docid long, v long")
        build_numeric_index(spark, docs, "v", path, out_partitions=2)
    df = numeric_range_docids(spark, path, -1000, 1000)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan_lines = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert scan_lines and any("term" in ln for ln in scan_lines)


@pytest.fixture(scope="module")
def built(spark, tmp_root):
    docs_pdf = gen_docs(600)
    oracle = build_oracle_index(docs_pdf["url"].to_numpy(),
                                docs_pdf["text"].to_numpy(), num_segments=4)
    root = os.path.join(tmp_root, "idx_numeric")
    paths = build_index(spark, spark.createDataFrame(docs_pdf), root,
                        num_segments=4)
    return docs_pdf, oracle, IndexSearcher(spark, paths.root)


def test_docid_filter_composes_with_scoring(spark, tmp_root, built):
    """search(term, docid_filter=trie docids) == search(term,
    doc_filter=predicate) — same hits, same scores (FilteredQuery
    composition through the ConstantScore DocSet side)."""
    _, oracle, searcher = built
    head = oracle.term_stats.nlargest(1, "df")["term"].iloc[0]
    docs = (spark.read.parquet(searcher.paths.docs)
            .withColumn("tlen", F.length("text")))
    path = os.path.join(tmp_root, "trie_len")
    build_numeric_index(spark, docs, "tlen", path, out_partitions=2)
    ids = numeric_range_docids(spark, path, 200, 520)
    got = searcher.search([head], k=15, docid_filter=ids).toPandas()
    exp = searcher.search([head], k=15,
                          doc_filter="length(text) BETWEEN 200 AND 520"
                          ).toPandas()
    assert len(got) > 0
    assert got["docid"].tolist() == exp["docid"].tolist()
    assert np.array_equal(got["score"].to_numpy(np.float32),
                          exp["score"].to_numpy(np.float32))


def test_degenerate_value_distribution_bounded_rows(spark, tmp_root):
    """Every doc sharing one value (the coarse-shift terms always do at
    scale): row arrays stay capped at 2^bucket_bits, results exact."""
    n = 5000
    docs = spark.createDataFrame(
        pd.DataFrame({"docid": range(n), "v": [42] * n}),
        schema="docid long, v long")
    path = os.path.join(tmp_root, "trie_degenerate")
    build_numeric_index(spark, docs, "v", path, out_partitions=2,
                        bucket_bits=8)
    sizes = spark.read.parquet(path).select(
        F.size("docids").alias("s")).toPandas()["s"]
    assert sizes.max() <= 256
    assert numeric_range_docids(spark, path, 42, 42).count() == n
    assert numeric_range_docids(spark, path, 0, 41).count() == 0
    from lucene_solr_1_spark.index.numeric import numeric_range_count
    assert numeric_range_count(spark, path, 0, 10**9) == n
