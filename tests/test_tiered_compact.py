"""Tiered incremental compaction (TieredMergePolicy analog, ref:
index/TieredMergePolicy.java:75-86): folding NRT generations rewrites
ONLY the base postings files that contain the folded terms; search is
invariant across the fold; tombstones stay live until expungeDeletes
(the full compact()), which drops the deleted docids inside the merge
kernel (merge_postings_df with the searcher's deleted-docid snapshot,
held in the driver at 8 bytes per docid) and is exact at 10^6 deleted
docids."""

import json
import os
import shutil

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from lucene_solr_1_spark.fixtures.webtext import gen_docs
from lucene_solr_1_spark.index.build import build_index
from lucene_solr_1_spark.search.engine import IndexSearcher
from lucene_solr_1_spark.streaming.ingest import (
    StreamingIndexWriter, compact, list_nrt_generations, select_tier,
    tiered_compact)


def _file_state(d):
    return {f: os.path.getsize(os.path.join(d, f))
            for f in os.listdir(d) if f.endswith(".parquet")}


def _mtimes(d):
    return {f: os.stat(os.path.join(d, f)).st_mtime_ns
            for f in os.listdir(d) if f.endswith(".parquet")}


def _build_with_nrt(spark, root, n_docs=300, batches=None):
    docs_pdf = gen_docs(n_docs)
    paths = build_index(spark, spark.createDataFrame(docs_pdf), root,
                        num_segments=3)
    writer = StreamingIndexWriter(root)
    for bid, pdf in enumerate(batches or []):
        writer.process_batch(spark.createDataFrame(pdf), bid)
    return paths


def test_tiered_fold_rewrites_only_touched_files(spark, tmp_root):
    """(i) of the VERDICT done-criterion: after a small NRT batch, a
    tiered pass rewrites only the term-touched postings files and leaves
    every other base parquet byte-identical on disk."""
    root = os.path.join(tmp_root, "tier_touch")
    # one tiny batch whose vocabulary is small -> most base files untouched
    batch = pd.DataFrame({
        "url": ["https://t.example/a", "https://t.example/b"],
        "text": ["qqtieronly zebra", "qqtieronly zebra qqtiertwo"],
    })
    paths = _build_with_nrt(spark, root, batches=[batch])
    pre_files = _file_state(paths.postings)
    pre_mtimes = _mtimes(paths.postings)
    pre = IndexSearcher(spark, root, include_nrt=True)
    pre_hits = {t: pre.search([t], "OR", k=20).toPandas()
                for t in ("qqtieronly", "zebra")}
    pre_stats = pre.term_stats(["qqtieronly", "zebra"]).set_index("term")

    res = tiered_compact(spark, root)
    assert res["folded"] == [0]
    assert not os.path.exists(os.path.join(root, "nrt"))
    # only the touched files were rewritten; kept files untouched on disk
    assert res["kept_files"], "a 2-doc batch must not touch every file"
    post_files = _file_state(paths.postings)
    post_mtimes = _mtimes(paths.postings)
    for f in res["kept_files"]:
        assert post_files[f] == pre_files[f]
        assert post_mtimes[f] == pre_mtimes[f], f"untouched file {f} rewritten"
    for f in res["rewritten_files"]:
        assert f not in post_files, "old touched file must be deleted"
    # (ii) search invariance: plain searcher after == NRT searcher before,
    # byte-identical scores
    post = IndexSearcher(spark, root)
    for t, pre_df in pre_hits.items():
        got = post.search([t], "OR", k=20).toPandas()
        assert got["docid"].tolist() == pre_df["docid"].tolist()
        assert got["score"].tolist() == pre_df["score"].tolist()
    post_stats = post.term_stats(["qqtieronly", "zebra"]).set_index("term")
    for t in ("qqtieronly", "zebra"):
        assert int(post_stats.loc[t, "df"]) == int(pre_stats.loc[t, "df"])
        assert int(post_stats.loc[t, "ttf"]) == int(pre_stats.loc[t, "ttf"])
    from lucene_solr_1_spark.index.checkindex import check_index
    assert check_index(spark, root)["ok"]


def test_tiered_equals_full_rewrite(spark, tmp_root):
    """Additions-only fold: tiered_compact and the full-rewrite compact()
    produce search-identical indexes (docids AND float32 scores)."""
    root_a = os.path.join(tmp_root, "tier_eq_a")
    batch = pd.DataFrame({
        "url": [f"https://eq.example/{i}" for i in range(4)],
        "text": ["zebra quick brown", "zebra lazy dog",
                 "qqnewterm zebra", "quick qqnewterm"],
    })
    _build_with_nrt(spark, root_a, batches=[batch])
    root_b = os.path.join(tmp_root, "tier_eq_b")
    shutil.copytree(root_a, root_b)

    tiered_compact(spark, root_a)
    compact(spark, root_b, out_partitions=4)
    for p in ("postings", "termstats", "docs"):
        spark.catalog.refreshByPath(os.path.join(root_b, p))

    sa, sb = IndexSearcher(spark, root_a), IndexSearcher(spark, root_b)
    assert sa.max_doc == sb.max_doc and sa.sum_ttf == sb.sum_ttf
    for q in (["zebra"], ["qqnewterm"], ["quick", "dog"]):
        ha = sa.search(q, "OR", k=50).toPandas()
        hb = sb.search(q, "OR", k=50).toPandas()
        assert ha["docid"].tolist() == hb["docid"].tolist()
        assert ha["score"].tolist() == hb["score"].tolist()


def test_tiered_keeps_tombstones_live_until_expunge(spark, tmp_root):
    """updateDocument + tiered fold: the old copy stays masked (liveDocs
    applied by plain searchers), realtime_get returns the newest copy,
    and a later compact() (expungeDeletes) physically purges it."""
    from lucene_solr_1_spark.streaming.ingest import realtime_get
    root = os.path.join(tmp_root, "tier_upd")
    paths = _build_with_nrt(spark, root)
    upd_url = spark.read.parquet(paths.docs).orderBy("docid") \
        .limit(1).collect()[0]["url"]
    w = StreamingIndexWriter(root)
    w.process_batch(spark.createDataFrame(pd.DataFrame({
        "url": [upd_url], "text": ["qqreplacement body text"]})), 0)

    res = tiered_compact(spark, root)
    assert res["folded"] == [0]
    assert os.path.exists(os.path.join(root, "tombstones")), \
        "tiered fold must NOT drop the .del bitset"
    s = IndexSearcher(spark, root)   # plain searcher applies liveDocs
    hits = s.search(["qqreplacement"], "OR", k=10).toPandas()
    assert len(hits) == 1
    # the base copy of upd_url is masked: fetch by url via realtime_get
    got = realtime_get(spark, root, [upd_url]).toPandas()
    assert len(got) == 1 and got["text"].iloc[0] == "qqreplacement body text"

    compact(spark, root, out_partitions=4)   # expungeDeletes
    assert not os.path.exists(os.path.join(root, "tombstones"))
    docs = spark.read.parquet(paths.docs)
    assert docs.filter(F.col("url") == upd_url).count() == 1
    from lucene_solr_1_spark.index.checkindex import check_index
    assert check_index(spark, root)["ok"]


def test_select_tier_policy_and_partial_fold(spark, tmp_root):
    """select_tier folds the oldest maxMergeAtOnce gens once segsPerTier
    accumulate; the rest stay NRT-visible and a later pass folds them."""
    root = os.path.join(tmp_root, "tier_sel")
    batches = [pd.DataFrame({"url": [f"https://sel.example/{g}"],
                             "text": [f"qqseg{g} common zebra"]})
               for g in range(5)]
    _build_with_nrt(spark, root, batches=batches)
    gens = list_nrt_generations(root)
    assert [m["generation"] for m in gens] == [0, 1, 2, 3, 4]
    assert select_tier(gens, segs_per_tier=10) == []     # not enough yet
    pick = select_tier(gens, segs_per_tier=3, max_merge_at_once=3)
    assert pick == [0, 1, 2]

    res = tiered_compact(spark, root, gens=pick)
    assert res["folded"] == [0, 1, 2]
    left = list_nrt_generations(root)
    assert [m["generation"] for m in left] == [3, 4]
    s = IndexSearcher(spark, root, include_nrt=True)
    for g in range(5):   # folded and unfolded gens all searchable
        assert len(s.search([f"qqseg{g}"], "OR", k=5).toPandas()) == 1
    # second pass folds the remainder
    res2 = tiered_compact(spark, root)
    assert res2["folded"] == [3, 4]
    assert not os.path.exists(os.path.join(root, "nrt"))
    s2 = IndexSearcher(spark, root)
    for g in range(5):
        assert len(s2.search([f"qqseg{g}"], "OR", k=5).toPandas()) == 1


def test_distributed_purge_million_tombstones(spark):
    """merge_postings_df drops the docids of a sorted deleted array inside
    the merge kernel: exact at 10^6 deleted docids over 2M postings, and
    a row whose span holds no deleted docid passes through unchanged."""
    from lucene_solr_1_spark.index.build import (POSTINGS_SCHEMA,
                                                 merge_postings_df)
    from lucene_solr_1_spark.index.codec import (pack_postings_batch,
                                                 unpack_postings)
    rng = np.random.default_rng(7)
    n = 2_000_000
    docids = np.arange(n, dtype=np.int64) * 3 + 5   # sparse, sorted
    tfs = rng.integers(1, 20, n).astype(np.int64)
    norms = rng.integers(100, 130, n).astype(np.uint8)
    # two rows of one term with disjoint ranges + one untouched term
    half = n // 2
    rows = []
    for seg, (lo, hi) in enumerate([(0, half), (half, n)]):
        (tp,) = pack_postings_batch(np.array([0, hi - lo]), docids[lo:hi],
                                    tfs[lo:hi], norms[lo:hi])
        rows.append(("bigterm", seg, int(docids[lo]), tp.n,
                     int(tfs[lo:hi].sum()), int(tfs[lo:hi].max()), tp.blob,
                     tp.block_offset.tolist(), tp.block_first_docid.tolist(),
                     tp.block_n.tolist(), tp.block_max_tf.tolist(),
                     tp.block_min_len.tolist(), None, int(docids[hi - 1])))
    (tp2,) = pack_postings_batch(np.array([0, 3]),
                                 np.array([10**12, 10**12 + 7, 10**12 + 9]),
                                 np.array([1, 2, 3]),
                                 np.array([120, 120, 120], np.uint8))
    rows.append(("tinyterm", 0, 10**12, 3, 6, 3, tp2.blob,
                 tp2.block_offset.tolist(), tp2.block_first_docid.tolist(),
                 tp2.block_n.tolist(), tp2.block_max_tf.tolist(),
                 tp2.block_min_len.tolist(), None, 10**12 + 9))
    union = spark.createDataFrame(rows, POSTINGS_SCHEMA)

    deleted = np.sort(rng.choice(docids, size=1_000_000, replace=False))
    merged = (merge_postings_df(union, num_segments=1, out_partitions=2,
                                deleted=deleted)
              .toPandas().sort_values("first_docid"))
    big = merged[merged["term"] == "bigterm"]
    keep_mask = ~np.isin(docids, deleted)
    assert int(big["df"].sum()) == int(keep_mask.sum())
    assert int(big["ttf"].sum()) == int(tfs[keep_mask].sum())
    assert int(big["max_tf"].max()) == int(tfs[keep_mask].max())
    got = [unpack_postings(np.frombuffer(r.blob, np.uint8),
                           np.asarray(r.block_offset, np.int64),
                           np.asarray(r.block_first_docid, np.int64),
                           np.asarray(r.block_n, np.int64))
           for r in big.itertuples(index=False)]
    assert np.array_equal(np.concatenate([g[0] for g in got]),
                          docids[keep_mask])
    assert np.array_equal(np.concatenate([g[1] for g in got]),
                          tfs[keep_mask])
    assert np.array_equal(np.concatenate([g[2] for g in got]),
                          norms[keep_mask])
    tiny = merged[merged["term"] == "tinyterm"]
    assert len(tiny) == 1 and int(tiny["df"].iloc[0]) == 3
    assert bytes(tiny["blob"].iloc[0]) == tp2.blob        # pass-through


def _hits(df):
    pdf = df.toPandas()
    return pdf["docid"].tolist(), pdf["score"].astype(np.float32).tolist()


def test_compact_purges_deletes_on_positional_index(spark, tmp_root):
    """expungeDeletes on a positional index: one NRT batch updates 2 base
    docs and drops the only term those 2 docs held alone. After compact
    the live hits are the NRT view's, the scores equal a fresh build of
    the live docs (the NRT view counts deleted copies in maxDoc and df,
    as Lucene does, so its scores are not the expunged index's), the
    fully deleted term leaves termstats and CheckIndex passes."""
    from lucene_solr_1_spark.index.checkindex import check_index
    from lucene_solr_1_spark.search.phrase import phrase_search

    base = gen_docs(60)[["url", "text"]].copy()
    orig = base["text"].tolist()
    for i in (0, 1):
        base.loc[i, "text"] = orig[i] + " qqdoomed zeta omega"
    base.loc[2, "text"] = orig[2] + " zeta omega"
    root = os.path.join(tmp_root, "purge_pos")
    paths = build_index(spark, spark.createDataFrame(base), root,
                        num_segments=2, positions=True)
    n_terms = json.load(open(paths.stats))["n_terms"]
    head = spark.read.parquet(paths.termstats).orderBy(F.desc("df")) \
        .first()["term"]
    upd = pd.DataFrame({"url": base["url"][:2],
                        "text": [orig[i] + " zeta omega" for i in (0, 1)]})
    StreamingIndexWriter(root).process_batch(spark.createDataFrame(upd), 0)

    def run(s):
        return {"search": _hits(s.search(["zeta", head, "qqdoomed"], "OR",
                                         k=100)),
                "phrase": _hits(phrase_search(s, ["zeta", "omega"], k=100))}

    pre = run(IndexSearcher(spark, root, include_nrt=True))
    compact(spark, root, out_partitions=4)
    post_s = IndexSearcher(spark, root)
    post = run(post_s)
    for kind in pre:
        assert sorted(post[kind][0]) == sorted(pre[kind][0]), kind
    assert len(post["phrase"][0]) == 3

    live = base.copy()
    live.loc[[0, 1], "text"] = upd["text"].tolist()
    ref_root = os.path.join(tmp_root, "purge_pos_ref")
    build_index(spark, spark.createDataFrame(live), ref_root, num_segments=2,
                positions=True)
    ref = run(IndexSearcher(spark, ref_root))

    def by_url(r, root_):
        urls = (spark.read.parquet(os.path.join(root_, "docs"))
                .select("docid", "url").toPandas()
                .set_index("docid")["url"])
        return sorted(zip(urls.loc[r[0]].tolist(), r[1]))

    for kind in pre:
        assert by_url(post[kind], root) == by_url(ref[kind], ref_root), kind
    assert post_s.term_stats(["qqdoomed"]).empty
    stats = json.load(open(paths.stats))
    assert stats["n_terms"] == n_terms - 1
    assert stats["positions"] is True
    assert check_index(spark, root)["ok"]


def test_compact_keeps_postings_format(spark, tmp_root):
    """compact of a vint index keeps "vint" in stats.json, so a later NRT
    generation packs vint rows."""
    from lucene_solr_1_spark.index.codec import (pack_postings_batch,
                                                 pack_postings_batch_vint,
                                                 unpack_postings)
    root = os.path.join(tmp_root, "vint_compact")
    paths = build_index(spark, spark.createDataFrame(gen_docs(100)), root,
                        num_segments=1, postings_format="vint")
    w = StreamingIndexWriter(root)
    w.process_batch(spark.createDataFrame(pd.DataFrame({
        "url": ["https://vint.example/0"], "text": ["qqvint one"]})), 0)
    compact(spark, root, out_partitions=4)
    assert json.load(open(paths.stats))["postings_format"] == "vint"

    w.process_batch(spark.createDataFrame(pd.DataFrame({
        "url": [f"https://vint.example/b{i}" for i in range(200)],
        "text": [f"qqcommon body {i}" for i in range(200)]})), 1)
    rows = spark.read.parquet(os.path.join(root, "nrt", "postings")) \
        .filter(~F.col("term").startswith("\x00")).toPandas()
    assert int(rows["df"].max()) >= 128    # a full block: formats differ
    for r in rows.itertuples(index=False):
        d, tf, nb = unpack_postings(np.frombuffer(r.blob, np.uint8),
                                    np.asarray(r.block_offset, np.int64),
                                    np.asarray(r.block_first_docid, np.int64),
                                    np.asarray(r.block_n, np.int64))
        bounds = np.array([0, len(d)])
        assert bytes(r.blob) == pack_postings_batch_vint(bounds, d, tf, nb)[0].blob
        if len(d) >= 128:
            assert bytes(r.blob) != pack_postings_batch(bounds, d, tf, nb)[0].blob


def test_consolidation_cascade_no_base_writes(spark, tmp_root):
    """r6 (VERDICT-r5 next #1): ten REALISTIC full-vocabulary NRT
    generations fold gen-to-gen (consolidate_generations via the
    tiered_maintenance size gate) with ZERO base postings files
    rewritten — the pre-r6 behavior rewrote essentially every base file
    because a broad vocabulary touches every term-range file. Search is
    byte-identical across the consolidation, and a later unconditional
    promotion folds the consolidated generation's members into base
    correctly."""
    from lucene_solr_1_spark.analysis.htmlstrip import extract_text_series
    from lucene_solr_1_spark.streaming.ingest import tiered_maintenance

    root = os.path.join(tmp_root, "tier_cascade")
    paths = _build_with_nrt(spark, root, n_docs=300)
    writer = StreamingIndexWriter(root)
    for bid in range(10):
        pdf = gen_docs(5, start=1000 + 5 * bid)
        batch = pd.DataFrame({
            "url": pdf["url"],
            "text": extract_text_series(
                pdf["html"].map(lambda b: b.decode("utf-8", "replace"))),
        })
        writer.process_batch(spark.createDataFrame(batch), bid)

    pre_files = _file_state(paths.postings)
    pre_mtimes = _mtimes(paths.postings)
    pre = IndexSearcher(spark, root, include_nrt=True)
    # probe a base term, an NRT-heavy term, and a mixed query
    some_nrt_tok = batch["text"].iloc[0].split()[0].lower()
    queries = [["the"], [some_nrt_tok], ["zebra", some_nrt_tok]]
    pre_hits = [pre.search(q, "OR", k=30).toPandas() for q in queries]

    res = tiered_maintenance(spark, root, segs_per_tier=10,
                             max_merge_at_once=10, promote_ratio=0.1)
    # the broad-vocabulary tier is far smaller than the base files it
    # would touch -> consolidated, NOT promoted
    assert res.get("consolidated") == list(range(10)), res
    assert res.get("rewritten_files") == []
    post_files = _file_state(paths.postings)
    post_mtimes = _mtimes(paths.postings)
    assert post_files == pre_files, "consolidation must not touch base"
    assert post_mtimes == pre_mtimes, "consolidation must not touch base"
    gens = list_nrt_generations(root)
    assert len(gens) == 1 and gens[0]["generation"] == 9
    assert gens[0].get("members") == list(range(10))

    post = IndexSearcher(spark, root, include_nrt=True)
    for q, pre_df in zip(queries, pre_hits):
        got = post.search(q, "OR", k=30).toPandas()
        assert got["docid"].tolist() == pre_df["docid"].tolist(), q
        assert got["score"].tolist() == pre_df["score"].tolist(), q

    # unconditional promotion folds the consolidated gen (members' docs
    # included) into base; plain searcher then sees everything
    res2 = tiered_compact(spark, root)
    assert res2["folded"] == [9]
    assert not os.path.exists(os.path.join(root, "nrt"))
    plain = IndexSearcher(spark, root)
    for q, pre_df in zip(queries, pre_hits):
        got = plain.search(q, "OR", k=30).toPandas()
        assert got["docid"].tolist() == pre_df["docid"].tolist(), q
        assert got["score"].tolist() == pre_df["score"].tolist(), q
    from lucene_solr_1_spark.index.checkindex import check_index
    assert check_index(spark, root)["ok"]

    # expungeDeletes closes the chain: no doc was updated, so the full
    # rewrite through the same merge keeps every hit and score
    compact(spark, root, out_partitions=4)
    assert not os.path.exists(os.path.join(root, "tombstones"))
    plain = IndexSearcher(spark, root)
    for q, pre_df in zip(queries, pre_hits):
        got = plain.search(q, "OR", k=30).toPandas()
        assert got["docid"].tolist() == pre_df["docid"].tolist(), q
        assert got["score"].tolist() == pre_df["score"].tolist(), q
    assert check_index(spark, root)["ok"]
