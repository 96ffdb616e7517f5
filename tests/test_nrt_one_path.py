"""One write path: an NRT micro-batch is inverted by the base build's
analyzer and Arrow kernel, with the base build's docid rule, and its
positions follow the base index. Phrase queries read the searcher's own
view (NRT generations, minus tombstoned docs); the merge refuses to mix
positional and non-positional rows; a finished build keeps no stage-1
segments table."""

import json
import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from lucene_solr_1_spark.fixtures.webtext import gen_docs
from lucene_solr_1_spark.index.build import (BUCKET_SHIFT, POSTINGS_SCHEMA,
                                             RUN_SHIFT, IndexPaths,
                                             build_index, merge_postings_df)
from lucene_solr_1_spark.index.codec import (decode_positions,
                                             pack_positions_batch,
                                             pack_postings_batch,
                                             unpack_postings)
from lucene_solr_1_spark.search.engine import IndexSearcher
from lucene_solr_1_spark.search.phrase import phrase_search
from lucene_solr_1_spark.streaming.ingest import (NRT_BASE_BUCKETS,
                                                  StreamingIndexWriter,
                                                  tiered_compact)


def _per_url(rows, url_of: dict) -> dict:
    """{url: {term: (tf, norm byte, positions or None)}} from postings rows."""
    out: dict = {}
    for r in rows:
        d, tf, nb = unpack_postings(np.frombuffer(r["blob"], np.uint8),
                                    np.asarray(r["block_offset"], np.int64),
                                    np.asarray(r["block_first_docid"], np.int64),
                                    np.asarray(r["block_n"], np.int64))
        pos = (decode_positions(bytes(r["pos_blob"]), tf)
               if r["pos_blob"] is not None else None)
        for i, doc in enumerate(d.tolist()):
            p = (tuple(pos[0][pos[1][i]:pos[1][i + 1]].tolist())
                 if pos is not None else None)
            out.setdefault(url_of[doc], {})[r["term"]] = (int(tf[i]), int(nb[i]), p)
    return out


def _url_of(spark, path) -> dict:
    return {r["docid"]: r["url"]
            for r in spark.read.parquet(path).select("docid", "url").collect()}


@pytest.mark.parametrize("positions", [False, True])
def test_nrt_batch_inverts_like_base_build(spark, tmp_root, positions):
    """The same documents indexed by build_index and by process_batch
    give identical postings per url and identical per-term stats."""
    docs = gen_docs(80)
    tag = "pos" if positions else "nopos"
    built = build_index(spark, spark.createDataFrame(docs),
                        os.path.join(tmp_root, f"eq_base_{tag}"),
                        num_segments=3, positions=positions)
    # the NRT root's own base holds other docs; only its stats matter
    other = pd.DataFrame({"url": [f"https://other.example/{i}" for i in range(6)],
                          "text": ["unrelated base text"] * 6})
    nrt_root = os.path.join(tmp_root, f"eq_nrt_{tag}")
    build_index(spark, spark.createDataFrame(other), nrt_root,
                num_segments=3, positions=positions)
    StreamingIndexWriter(nrt_root).process_batch(
        spark.createDataFrame(docs[["url", "text"]]), 0)

    base_rows = spark.read.parquet(built.postings).collect()
    nrt = (spark.read.parquet(os.path.join(nrt_root, "nrt", "postings"))
           .filter(~F.col("term").startswith("\x00")))
    nrt_rows = nrt.collect()
    got = _per_url(nrt_rows, _url_of(spark, os.path.join(nrt_root, "nrt", "docs")))
    exp = _per_url(base_rows, _url_of(spark, built.docs))
    assert got == exp
    assert any(v[2] is not None for t in exp.values() for v in t.values()) == positions

    ts = spark.read.parquet(built.termstats).toPandas().set_index("term").sort_index()
    nrt_ts = (nrt.groupBy("term").agg(F.sum("df").alias("df"),
                                      F.sum("ttf").alias("ttf"),
                                      F.max("max_tf").alias("max_tf"))
              .toPandas().set_index("term").sort_index())
    assert ts.index.tolist() == nrt_ts.index.tolist()
    for c in ("df", "ttf", "max_tf"):
        assert ts[c].tolist() == nrt_ts[c].tolist(), c

    # a term's NRT rows carry disjoint, ordered docid ranges (the merge's
    # block-copy precondition)
    pdf = nrt.select("term", "first_docid", "last_docid").toPandas()
    for _, g in pdf.sort_values(["term", "first_docid"]).groupby("term"):
        assert (g["first_docid"].to_numpy()[1:] > g["last_docid"].to_numpy()[:-1]).all()


def _w_ranges(rows):
    """(first_docid, last_docid) of term "w" rows that the invert stream
    emits for one task's (seg, docid) rows, each doc holding one "w"."""
    import pyarrow as pa

    from lucene_solr_1_spark.index.build import _make_invert_stream
    batch = pa.RecordBatch.from_arrays(
        [pa.array([s for s, _ in rows], pa.int32()),
         pa.array([d for _, d in rows], pa.int64()),
         pa.array([["w"]] * len(rows), pa.list_(pa.string()))],
        names=["seg", "docid", "tokens"])
    out = pa.Table.from_batches(list(_make_invert_stream()(iter([batch])))).to_pandas()
    w = out[out["term"] == "w"]
    return sorted(zip(w["first_docid"].tolist(), w["last_docid"].tolist()))


def test_invert_stream_cuts_at_run_gaps_and_route_buckets():
    """A mini-segment spans adjacent docid runs (one task holding a
    generation's consecutive sub-buckets), but never a run gap another
    task may fill, nor a route-bucket boundary (the merge salts by it)."""
    gen = (NRT_BASE_BUCKETS + 5) << BUCKET_SHIFT

    def docs(*subs):
        return [(7, gen | (sub << RUN_SHIFT) | r) for sub in subs for r in range(3)]

    task_a, task_b = _w_ranges(docs(0, 2)), _w_ranges(docs(1))
    assert len(task_a) == 2 and len(task_b) == 1
    ranges = sorted(task_a + task_b)
    assert all(a[1] < b[0] for a, b in zip(ranges, ranges[1:]))
    assert len(_w_ranges(docs(0, 1))) == 1
    base = [(0, (b << BUCKET_SHIFT) | r) for b in (2, 3) for r in range(3)]
    assert len(_w_ranges(base)) == 2


def test_replayed_batch_gets_same_docids(spark, tmp_root):
    """Ranks are a pure function of the batch's rows: the same batch on
    two fresh roots, partitioned differently, gets identical docids."""
    pdf = gen_docs(60)[["url", "text"]]
    variants = [spark.createDataFrame(pdf).repartition(4),
                spark.createDataFrame(pdf.iloc[::-1].reset_index(drop=True))]
    got = []
    for i, batch in enumerate(variants):
        root = os.path.join(tmp_root, f"replay_{i}")
        StreamingIndexWriter(root).process_batch(batch, 3)
        got.append(spark.read.parquet(os.path.join(root, "nrt", "docs"))
                   .toPandas().sort_values("docid").reset_index(drop=True))
    pd.testing.assert_frame_equal(got[0], got[1])
    d = got[0]["docid"].to_numpy()
    assert len(set(d.tolist())) == len(pdf)
    assert ((d >> BUCKET_SHIFT) == NRT_BASE_BUCKETS + 3).all()
    # dense ranks within every sub-bucket
    sub = (d >> RUN_SHIFT) & ((1 << (BUCKET_SHIFT - RUN_SHIFT)) - 1)
    for s in np.unique(sub):
        ranks = np.sort(d[sub == s] & ((1 << RUN_SHIFT) - 1))
        assert ranks.tolist() == list(range(len(ranks)))


def test_phrase_reads_nrt_view_and_tombstones(spark, tmp_root):
    """A positional base where one doc has "zeta omega"; one micro-batch
    adds the phrase to 5 new docs and updates that base doc without it.
    Phrase search sees exactly the 5 new docs on the NRT view, and again
    after tiered_compact folds the generation (tombstones stay live)."""
    base = gen_docs(50)[["url", "text"]].copy()
    orig_text = base.loc[0, "text"]
    base.loc[0, "text"] = orig_text + " zeta omega"
    root = os.path.join(tmp_root, "phrase_nrt")
    build_index(spark, spark.createDataFrame(base), root, num_segments=2,
                positions=True)
    old = IndexSearcher(spark, root)
    assert len(phrase_search(old, ["zeta", "omega"]).collect()) == 1

    new_urls = [f"https://zeta.example/{i}" for i in range(5)]
    batch = pd.DataFrame({
        "url": new_urls + [base.loc[0, "url"]],
        "text": [f"intro words zeta omega tail {i}" for i in range(5)]
        + [orig_text]})
    StreamingIndexWriter(root).process_batch(spark.createDataFrame(batch), 0)
    want = {r["docid"] for r in
            spark.read.parquet(os.path.join(root, "nrt", "docs"))
            .filter(F.col("url").isin(new_urls)).collect()}
    assert len(want) == 5

    def hits(searcher):
        return {r["docid"] for r in
                phrase_search(searcher, ["zeta", "omega"], k=20).collect()}

    assert hits(IndexSearcher(spark, root, include_nrt=True)) == want
    out = tiered_compact(spark, root)
    assert out["folded"] == [0]
    assert json.load(open(IndexPaths(root).stats))["positions"] is True
    assert hits(IndexSearcher(spark, root)) == want
    assert hits(IndexSearcher(spark, root, include_nrt=True)) == want


def _row(term, docids, positional):
    docids = np.asarray(docids, np.int64)
    tfs = np.ones(len(docids), np.int64)
    (tp,) = pack_postings_batch(np.array([0, len(docids)]), docids, tfs,
                                np.full(len(docids), 120, np.uint8))
    pos = (pack_positions_batch(np.array([0, len(docids)]), tfs,
                                np.arange(len(docids), dtype=np.int64))[0]
           if positional else None)
    return (term, 0, int(docids[0]), tp.n, int(tfs.sum()), 1, tp.blob,
            tp.block_offset.tolist(), tp.block_first_docid.tolist(),
            tp.block_n.tolist(), tp.block_max_tf.tolist(),
            tp.block_min_len.tolist(), pos, int(docids[-1]))


@pytest.mark.parametrize("second", [[10, 11], [2, 4]],
                         ids=["block_copy", "decode_repack"])
def test_merge_rejects_mixed_positions(spark, second):
    rows = [_row("t", [1, 3, 5], positional=True),
            _row("t", second, positional=False)]
    df = spark.createDataFrame(rows, POSTINGS_SCHEMA).drop("seg")
    with pytest.raises(Exception, match="mixes rows with and without positions"):
        merge_postings_df(df, num_segments=1, out_partitions=1).collect()


def test_merge_keeps_uniform_positions(spark):
    """Control: an interleaved group whose rows all carry positions
    merges, and each posting keeps its own positions, also when deleted
    docids drop out of the reordered group."""
    rows = [_row("t", [1, 3, 5], positional=True),
            _row("t", [2, 4], positional=True)]
    df = spark.createDataFrame(rows, POSTINGS_SCHEMA).drop("seg")
    for deleted, want_d, want_pos in ((None, [1, 2, 3, 4, 5], [0, 0, 1, 1, 2]),
                                      ([3, 4], [1, 2, 5], [0, 0, 2])):
        (r,) = merge_postings_df(df, num_segments=1, out_partitions=1,
                                 deleted=deleted).collect()
        d, tf, _ = unpack_postings(np.frombuffer(r["blob"], np.uint8),
                                   np.asarray(r["block_offset"], np.int64),
                                   np.asarray(r["block_first_docid"], np.int64),
                                   np.asarray(r["block_n"], np.int64))
        assert d.tolist() == want_d
        flat, _ = decode_positions(bytes(r["pos_blob"]), tf)
        assert flat.tolist() == want_pos


def test_finished_build_drops_segments_table(spark, tmp_root):
    """The committed postings + termstats supersede the stage-1 segments
    table; the checkpoint manifests keep a re-run a no-op without it."""
    docs = spark.createDataFrame(gen_docs(40))
    root = os.path.join(tmp_root, "no_segments")
    paths = build_index(spark, docs, root, num_segments=2)
    assert not os.path.exists(paths.segments)
    stats1 = json.load(open(paths.stats))
    assert stats1["positions"] is False
    q = ["jicgar", "milorra", "tiraplawex"]
    top1 = IndexSearcher(spark, root).search(q, "OR", k=10).toPandas()
    assert len(top1)

    build_index(spark, docs, root, num_segments=2)
    assert not os.path.exists(paths.segments)
    assert json.load(open(paths.stats)) == stats1
    top2 = IndexSearcher(spark, root).search(q, "OR", k=10).toPandas()
    pd.testing.assert_frame_equal(top1, top2)
