"""Distributed inverted-index build — the Spark re-expression of
Lucene's write path (SURVEY.md §3.2).

Stage 0  docid assignment (= IndexWriter's dense per-segment docIDs,
         ref: lucene/core .../index/AtomicReader.java docID model):
         bucket = md5_60(url) mod N, docid = bucket << 44 | rank within
         the bucket (docid_expr). The oracle uses the same rule, so ids
         agree with zero coordination; NRT generations use it too.

Stage 1  per-segment inversion + pack (= DocumentsWriterPerThread flush,
         ref: index/DocumentsWriterPerThread.java:58-80, FreqProxTerms-
         WriterPerField.java:166-216): one task per segment tokenizes,
         counts (term, docid) tfs, computes norms, FOR/varint-packs each
         term's postings (invert_docs — the path NRT micro-batches take
         as well). Emits a per-segment checkpoint manifest with
         lineage + docs/sec metrics (north_rule); a segment whose
         manifest already exists is skipped on re-run (resumability).

Stage 2  global merge (= SegmentMerger, ref: index/SegmentMerger.java:
         71-119): repartition by (term, bucket) where head terms fan out
         to multiple contiguous-segment buckets sized by total df — the
         explicit skew salting the north_rule demands. Head terms stay
         split across rows (bounded work per task at any scale); tail
         terms collapse to one row. Output is a postings table
         range-partitioned and sorted by term (parquet min/max stats
         play the role of the .tip FST term index,
         ref: codecs/BlockTreeTermsWriter.java:182-187). The merge,
         merge_postings_df, is the one every NRT compaction runs too;
         its kernel drops deleted docids as SegmentMerger applies
         liveDocs.

All heavy compute is vectorized NumPy inside mapInPandas/applyInPandas;
every relational step (range partition, group, agg, sort) is stock
Catalyst.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass
from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import (Column, DataFrame, SparkSession, Window,
                         functions as F, types as T)

from .. import fsio
from ..analysis.htmlstrip import extract_text_series
from ..analysis.standard import analyze_expr
from ..index.codec import (POSTINGS_FORMATS, decode_positions,
                           pack_positions_batch, pack_postings_batch,
                           unpack_postings)
from ..index.smallfloat import encode_norm

# target postings per merged row: bounds per-task merge work for head terms
TARGET_ROW_POSTINGS = 1 << 20

# multi-field indexes key postings/termstats by "field<FIELD_SEP>term" —
# the per-field inverted indexes of Lucene's FieldInfos data model
# (ref: lucene/core/.../index/FieldInfos.java, document/Field.java);
# '\x1f' sorts below all printable chars so a field's terms stay
# contiguous in the term-sorted postings table (range pruning intact)
FIELD_SEP = "\x1f"


def term_key(field: str | None, term: str) -> str:
    """Composite postings key for a multi-field index (bare term when
    field is None — the single-field v1 layout)."""
    return term if field is None else f"{field}{FIELD_SEP}{term}"

POSTINGS_SCHEMA = T.StructType([
    T.StructField("term", T.StringType()),
    T.StructField("seg", T.IntegerType()),
    T.StructField("first_docid", T.LongType()),
    T.StructField("df", T.LongType()),
    T.StructField("ttf", T.LongType()),
    T.StructField("max_tf", T.IntegerType()),
    T.StructField("blob", T.BinaryType()),
    T.StructField("block_offset", T.ArrayType(T.IntegerType())),
    T.StructField("block_first_docid", T.ArrayType(T.LongType())),
    T.StructField("block_n", T.ArrayType(T.IntegerType())),
    T.StructField("block_max_tf", T.ArrayType(T.IntegerType())),
    T.StructField("block_min_len", T.ArrayType(T.FloatType())),
    T.StructField("pos_blob", T.BinaryType()),   # null when built without positions
    # highest docid in the row (Lucene41PostingsWriter's lastDocID,
    # ref: codecs/lucene41/Lucene41PostingsWriter.java:231): with
    # first_docid this gives each row's exact docid span without decode —
    # tiered compaction + the distributed tombstone purge range-join on it
    T.StructField("last_docid", T.LongType()),
])

MERGED_SCHEMA = T.StructType(
    [T.StructField("term", T.StringType()), T.StructField("bucket", T.IntegerType())]
    + [f for f in POSTINGS_SCHEMA.fields if f.name not in ("term", "seg")]
)  # keeps first_docid: the row's lowest docid (WAND grid / range pruning)


@dataclass
class IndexPaths:
    root: str

    @property
    def docs(self):      return os.path.join(self.root, "docs")
    @property
    def segments(self):  return os.path.join(self.root, "segments")
    @property
    def postings(self):  return os.path.join(self.root, "postings")
    @property
    def termstats(self): return os.path.join(self.root, "termstats")
    @property
    def stats(self):     return os.path.join(self.root, "stats.json")
    @property
    def checkpoints(self): return os.path.join(self.root, "_checkpoints")


def _success(path: str) -> bool:
    return fsio.exists(os.path.join(path, "_SUCCESS"))


# ------------------------------------------------------------- stage 0

BUCKET_SHIFT = 44  # docid = (bucket << 44) | rank-within-bucket
# an NRT generation's sub-buckets start at multiples of 2^RUN_SHIFT
# within its route bucket (docid = bucket << 44 | sub << 32 | rank)
RUN_SHIFT = 32


def url_hash60_expr():
    """JVM-side 60-bit url hash: first 15 hex chars of md5(url)."""
    return F.conv(F.substring(F.md5(F.col("url")), 1, 15), 16, 10).cast("long")


def docid_expr(high: Column, part: str, order: list[str]) -> Column:
    """docid = `high` | dense 0-based rank of the row within `part`,
    ordered by `order` — the one docid rule of base builds and NRT
    generations. A JVM row_number over the exchange on `part`: no
    single-partition step, and a pure function of the rows (the order
    includes url), so a re-run or a replayed micro-batch gets the same
    ids."""
    win = Window.partitionBy(part).orderBy(*order)
    return high.bitwiseOR((F.row_number().over(win) - 1).cast("long"))


def assign_docids(spark: SparkSession, docs: DataFrame, out: IndexPaths,
                  num_segments: int, field_cols: tuple = ("text",),
                  sort_col: str | None = None) -> None:
    """Write docs table (docid, url, *field_cols) in ONE pass.

    DocID scheme — the Spark analog of Solr's hash-range document router
    (ref: solrj/.../CompositeIdRouter.java:62-65,84-101; murmur3 hash
    ranges route docs to shard leaders): bucket = md5_60(url) mod N,
    docid = (bucket << 44) | rank within bucket ordered by (hash, url).
    A pure function of the data — no range sampling, no second counting
    pass, no persist, deterministic across runs and cluster sizes; the
    NumPy oracle reproduces it exactly. Dense per-bucket ranks mirror
    Lucene's dense per-segment docIDs with a per-segment docBase.

    sort_col: index sorting (ref: lucene/misc/.../index/sorter/
    SortingMergePolicy.java:57 — segments sorted by a field at merge
    time). Within each bucket (= segment) docids are assigned in
    ascending (sort_col, url) order instead of hash order, and the
    key is stored as a `sort_key` double column, so per-segment docid
    order IS the sort order — the property
    EarlyTerminatingSortingCollector exploits.
    """
    meta_path = os.path.join(out.root, "docs_meta.json")
    if _success(out.docs):
        # resumable no-op — but verify the EXISTING docs table was built
        # with the same sort contract before callers stamp stats.json
        # with index_sort (ADVICE r4: a sort_by re-run on an unsorted
        # checkpoint must fail loudly, not mislabel the index)
        prev_sort = (fsio.read_json(meta_path).get("sort_by")
                     if fsio.exists(meta_path) else None)
        if prev_sort != sort_col:
            raise ValueError(
                f"docs checkpoint at {out.docs} was built with "
                f"sort_by={prev_sort!r}; cannot resume with "
                f"sort_by={sort_col!r} — use a fresh root to re-sort")
        return
    if "text" in field_cols and "text" not in docs.columns:
        to_text = F.pandas_udf(extract_text_series, T.StringType())
        docs = docs.withColumn("text", to_text("html"))
    extra_cols = []
    if sort_col is not None:
        docs = docs.withColumn("sort_key", F.col(sort_col).cast("double"))
        extra_cols = ["sort_key"]
    part = (docs.select("url", *field_cols, *extra_cols)
            .withColumn("h", url_hash60_expr())
            .withColumn("bucket", F.expr(f"pmod(h, {num_segments})").cast("int"))
            .repartition(num_segments, "bucket"))
    order = ["sort_key", "url"] if sort_col is not None else ["h", "url"]
    # dense per-bucket rank as a JVM window over the SAME exchange the
    # repartition already established: row_number() reuses the hash
    # partitioning, sorts once, and stays in whole-stage codegen, so the
    # text bytes never leave the JVM
    with_ids = part.select(
        docid_expr(F.shiftleft(F.col("bucket").cast("long"), BUCKET_SHIFT),
                   "bucket", order).alias("docid"),
        "url", *field_cols, *extra_cols)
    # plain write: per-file min/max docid stats give pushdown for
    # fetch-by-docid; files hold whole buckets (disjoint docid ranges)
    with_ids.write.mode("overwrite").parquet(out.docs)
    fsio.write_json_atomic(meta_path, {
        "sort_by": sort_col, "num_segments": num_segments,
        "field_cols": list(field_cols)})


# ------------------------------------------------------------- stage 1

def _invert_codes_arrow(seg: int, docids: np.ndarray, codes: np.ndarray,
                        uniq_terms: np.ndarray, lens: np.ndarray,
                        arrow_schema,
                        positions: np.ndarray | None = None,
                        pack_fn=pack_postings_batch):
    """Invert one mini-segment (rows sorted by docid, disjoint range)
    into one Arrow RecordBatch of POSTINGS_SCHEMA rows.

    Input is pre-factorized: `codes[i]` = term id of the i-th token in
    document order, `lens` = tokens per doc, optional `positions[i]` =
    within-doc token position (with stopword position increments, the
    StopFilter contract). Flat (term_code, docid) -> tf via stable radix
    sort + run-length reduce — the DWPT TermsHash analog (ref: index/
    FreqProxTermsWriterPerField.java:166-216), no per-token Python. The
    batch is assembled from flat NumPy arrays + Arrow ListArrays, never
    per-term Python tuples. Returns (RecordBatch|None, metrics).
    """
    import pyarrow as pa

    t0 = time.time()
    norms = encode_norm(lens)
    batch = None
    n_terms = 0
    total_postings = 0
    total_bytes = 0
    if codes.size > 0:
        codes = codes.astype(np.int32, copy=False)
        row_ids = np.repeat(np.arange(len(lens), dtype=np.int32), lens)
        # tokens arrive in document order, so ONE stable argsort on the
        # int32 term code (NumPy uses radix sort here — O(n)) yields
        # (code, row) order; rows are docid-ascending by construction.
        order = np.argsort(codes, kind="stable")
        c_s, r_s = codes[order], row_ids[order]
        new = np.concatenate(([True], (c_s[1:] != c_s[:-1]) | (r_s[1:] != r_s[:-1])))
        starts = np.flatnonzero(new)
        tf_all = np.diff(np.append(starts, len(c_s))).astype(np.int64)
        c_post, r_post = c_s[starts], r_s[starts]
        d_post = docids[r_post]
        term_bounds = np.concatenate(
            (np.flatnonzero(np.concatenate(([True], c_post[1:] != c_post[:-1]))),
             [len(c_post)]))
        packed = pack_fn(term_bounds, d_post, tf_all, norms[r_post])
        pos_blobs = None
        if positions is not None:
            # stable sort keeps in-posting occurrence (= position) order
            pos_blobs = pack_positions_batch(term_bounds, tf_all, positions[order])
        ttfs = np.add.reduceat(tf_all, term_bounds[:-1])
        maxtfs = np.maximum.reduceat(tf_all, term_bounds[:-1])
        n_terms = len(packed)
        blobs = [tp.blob for tp in packed]
        total_bytes = sum(len(b) for b in blobs)
        dfs = np.asarray([tp.n for tp in packed], dtype=np.int64)
        total_postings = int(dfs.sum())
        nblocks = np.asarray([len(tp.block_offset) for tp in packed],
                             dtype=np.int32)
        boffs = np.concatenate(([0], np.cumsum(nblocks))).astype(np.int32)

        def lst(vals_per_term, dtype):
            flat = (np.concatenate(vals_per_term) if len(vals_per_term)
                    else np.empty(0, dtype))
            return pa.ListArray.from_arrays(
                pa.array(boffs, pa.int32()),
                pa.array(flat.astype(dtype, copy=False)))

        first_idx = term_bounds[:-1]
        last_idx = term_bounds[1:] - 1
        terms = uniq_terms[c_post[first_idx]]
        if pos_blobs is None:
            pos_arr = pa.nulls(n_terms, pa.binary())
        else:
            pos_arr = pa.array(pos_blobs, pa.binary())
        batch = pa.RecordBatch.from_arrays([
            pa.array(terms, pa.string()),
            pa.array(np.full(n_terms, seg, dtype=np.int32)),
            pa.array(d_post[first_idx]),
            pa.array(dfs),
            pa.array(ttfs.astype(np.int64, copy=False)),
            pa.array(maxtfs.astype(np.int32, copy=False)),
            pa.array(blobs, pa.binary()),
            lst([tp.block_offset for tp in packed], np.int32),
            lst([tp.block_first_docid for tp in packed], np.int64),
            lst([tp.block_n for tp in packed], np.int32),
            lst([tp.block_max_tf for tp in packed], np.int32),
            lst([tp.block_min_len for tp in packed], np.float32),
            pos_arr,
            pa.array(d_post[last_idx]),
        ], schema=arrow_schema)
    dur = time.time() - t0
    metrics = {
        "n_docs": int(len(lens)), "n_terms": n_terms,
        "n_postings": total_postings, "sum_len": int(lens.sum()),
        "min_docid": int(docids.min()) if len(docids) else -1,
        "max_docid": int(docids.max()) if len(docids) else -1,
        "duration_sec": dur,
        "bytes": int(total_bytes),
    }
    return batch, metrics


def _make_invert_stream(positions: bool = False,
                        miniseg_docs: int = 16384, term_prefix: str = "",
                        metrics_term: str = "\x00metrics",
                        pack_fn=pack_postings_batch):
    """Streaming inversion over RAW Arrow batches of (seg, docid, tokens)
    rows (mapInArrow) — NO shuffle: each input task reads docid-sorted
    runs of one segment (a base docs-table file, or an NRT generation).
    Incoming rows are buffered per segment until ~miniseg_docs rows, then
    inverted as one mini-segment (docids stay globally ordered; the merge
    re-concatenates by first_docid). Larger mini-segments = fewer
    (term, seg) rows into the merge shuffle — the RAM-buffer-size lever
    of FlushByRamOrCountsPolicy (IndexWriterConfig.java:89).

    Arrow-native hot path: the tokens list<string> column is flattened
    via its offsets (zero per-row Python lists) and factorized with
    Arrow's C dictionary_encode; only term-row emission touches Python
    objects. Per-segment metrics accumulate across batches and are
    emitted as sentinel rows for the checkpoint manifests."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.pandas.types import to_arrow_schema

    from ..analysis.standard import ENGLISH_STOP_WORDS

    arrow_schema = to_arrow_schema(POSTINGS_SCHEMA)
    cols = [f.name for f in POSTINGS_SCHEMA.fields]
    stop_arr = np.array(sorted(ENGLISH_STOP_WORDS))

    def invert_stream(batches):
        acc: dict[int, dict] = {}
        buf = {"key": None, "run": None, "docids": [], "lens": [], "flat": [],
               "n": 0}

        def flush():
            if not buf["n"]:
                return None
            seg = buf["key"][0]
            docids = np.concatenate(buf["docids"])
            lens = np.concatenate(buf["lens"])
            flat = (pa.concat_arrays([a.combine_chunks() if hasattr(a, "combine_chunks")
                                      else a for a in buf["flat"]])
                    if buf["flat"] else pa.array([], type=pa.string()))
            buf.update(key=None, run=None, docids=[], lens=[], flat=[], n=0)
            denc = pc.dictionary_encode(flat)
            codes = denc.indices.to_numpy().astype(np.int32, copy=False)
            uniq = np.asarray(denc.dictionary.to_pandas(), dtype=object)
            pos = None
            if positions:
                # tokens arrive UNfiltered (lower+cap only): positions are
                # raw token indices (StopFilter position increments kept);
                # stop-filter on the small dictionary, then on the stream
                total = len(codes)
                row_ids = np.repeat(np.arange(len(lens)), lens)
                row_starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
                pos = np.arange(total, dtype=np.int64) - np.repeat(row_starts, lens)
                keep = (~np.isin(uniq, stop_arr))[codes]
                codes = codes[keep]
                pos = pos[keep]
                lens = np.bincount(row_ids[keep], minlength=len(lens)).astype(np.int64)
            if term_prefix:
                # multi-field: postings key = "<field>\x1f<term>"; applied
                # on the (small) per-mini-segment dictionary, not the stream
                uniq = np.array([term_prefix + u for u in uniq], dtype=object)
            if not np.all(np.diff(docids) > 0):
                order = np.argsort(docids, kind="stable")
                tok_starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
                starts = tok_starts[order]
                lens_s = lens[order]
                idx = np.repeat(starts, lens_s) + (
                    np.arange(int(lens_s.sum()))
                    - np.repeat(np.concatenate(([0], np.cumsum(lens_s)[:-1])), lens_s))
                docids = docids[order]
                codes = codes[idx]
                if pos is not None:
                    pos = pos[idx]
                lens = lens_s
            out_batch, m = _invert_codes_arrow(seg, docids, codes, uniq, lens,
                                               arrow_schema, positions=pos,
                                               pack_fn=pack_fn)
            a = acc.setdefault(seg, {"n_docs": 0, "n_terms": 0, "n_postings": 0,
                                     "sum_len": 0, "min_docid": 1 << 62,
                                     "max_docid": -1, "duration_sec": 0.0,
                                     "bytes": 0})
            for k in ("n_docs", "n_terms", "n_postings", "sum_len",
                      "duration_sec", "bytes"):
                a[k] += m[k]
            if m["n_docs"]:
                a["min_docid"] = min(a["min_docid"], m["min_docid"])
                a["max_docid"] = max(a["max_docid"], m["max_docid"])
            return out_batch

        for batch in batches:
            if batch.num_rows == 0:
                continue
            segs = batch.column("seg").to_numpy()
            docids_all = batch.column("docid").to_numpy()
            toks_col = batch.column("tokens")
            lens_all = pc.list_value_length(toks_col).to_numpy().astype(np.int64)
            # mini-segments split where the segment or the docid ROUTE
            # bucket (docid >> BUCKET_SHIFT) changes — the merge's salted
            # head-term buckets derive from the route bucket — and where
            # the docid run (docid >> RUN_SHIFT) jumps by more than one:
            # another task may hold the runs in between (an NRT
            # generation's sub-buckets spread over tasks). So a term's
            # rows keep disjoint docid ranges (the CheckIndex invariant,
            # and the merge's block-copy precondition) at any df. Rows
            # are docid-sorted within a run, so boundaries are
            # contiguous; almost every batch has none.
            rbs = docids_all >> BUCKET_SHIFT
            runs = docids_all >> RUN_SHIFT
            step = runs[1:] - runs[:-1]
            cuts = np.flatnonzero((segs[1:] != segs[:-1]) | (rbs[1:] != rbs[:-1])
                                  | ((step != 0) & (step != 1))) + 1
            bounds = np.concatenate(([0], cuts, [batch.num_rows]))
            for lo, hi in zip(bounds[:-1].tolist(), bounds[1:].tolist()):
                key = (int(segs[lo]), int(rbs[lo]))
                if buf["key"] is not None and (buf["key"] != key
                                               or int(runs[lo]) - buf["run"] not in (0, 1)
                                               or buf["n"] >= miniseg_docs):
                    out = flush()
                    if out is not None:
                        yield out
                buf["key"] = key
                buf["run"] = int(runs[hi - 1])
                buf["docids"].append(docids_all[lo:hi])
                buf["lens"].append(lens_all[lo:hi])
                buf["flat"].append(toks_col.slice(lo, hi - lo).flatten())
                buf["n"] += hi - lo
        out = flush()
        if out is not None:
            yield out
        sent = [(metrics_term, seg, -1, 0, a["sum_len"], 0,
                 json.dumps(a).encode(), [], [], [], [], [], None, -1)
                for seg, a in acc.items()]
        if sent:
            yield pa.RecordBatch.from_pandas(
                pd.DataFrame(sent, columns=cols), schema=arrow_schema,
                preserve_index=False)

    return invert_stream


def _metrics_term(field: str | None) -> str:
    return "\x00metrics" if field is None else f"\x00metrics{FIELD_SEP}{field}"


def invert_docs(docs: DataFrame, seg: Column, positions: bool = False,
                field: str | None = None, analyzer=None,
                postings_format: str = "lucene41") -> DataFrame:
    """Stage 1 over a docs-table DataFrame (docid + the field column):
    the one inversion path of base builds (build_segments) and NRT
    generations (StreamingIndexWriter.process_batch). `seg` is the
    segment id column; rows must arrive docid-sorted within each
    segment run, as the docs tables are written.

    The field is analyzed JVM-side (analyze_expr, or `analyzer(col)` —
    a fn(col_name) -> array<string> Column), inverted by the Arrow
    kernel. Without positions the stopwords are dropped by the analyzer;
    with positions they are dropped after numbering, so they still
    advance positions. Output: POSTINGS_SCHEMA rows keyed by bare term
    (field=None) or "<field>\\x1f<term>", plus per-segment metric
    sentinel rows (term _metrics_term(field))."""
    col = field or "text"
    tokens = (analyzer(col) if analyzer is not None
              else analyze_expr(col, stop_filter=not positions))
    return (docs.select(seg.alias("seg"), "docid", tokens.alias("tokens"))
            .mapInArrow(_make_invert_stream(
                positions=positions,
                term_prefix="" if field is None else field + FIELD_SEP,
                metrics_term=_metrics_term(field),
                pack_fn=POSTINGS_FORMATS[postings_format]),
                schema=POSTINGS_SCHEMA))


def list_doc_files(out: IndexPaths) -> list[str]:
    return sorted(f for f in fsio.listdir(out.docs)
                  if f.endswith(".parquet") and not f.startswith("."))


def build_segments(spark: SparkSession, out: IndexPaths,
                   num_segments: int | None = None,
                   positions: bool = False,
                   fields: list[str] | None = None,
                   postings_format: str = "lucene41",
                   analyzers: dict | None = None) -> None:
    """Stage 1, resumable at (field, file) granularity: docs-table files
    missing a checkpoint manifest are (re)processed; manifests carry
    lineage (the exact input file) + docs/sec (north_rule). Each docs
    file is one segment: seg = the file's index in list_doc_files.

    fields=None: single-field v1 layout (bare term keys, checkpoint
    seg_{i}.json). fields=[...]: one inversion pass per field over its
    docs-table column, postings keyed "<field>\\x1f<term>" with per-field
    norms (per-field inverted indexes, ref: index/FieldInfos.java;
    BM25 per-field stats, similarities/BM25Similarity.java:82-89);
    checkpoints seg_{field}_{i}.json.

    analyzers: optional {field_name: fn(col_name) -> array<string>
    Column} overriding the standard chain per field (the reference's
    per-fieldtype analyzer plumbing, IndexSchema.java getAnalyzer) —
    e.g. kuromoji's ja_tokens_expr or smartcn's zh_tokens_expr; the
    single-field layout uses analyzers.get("text")."""
    fsio.makedirs(out.checkpoints)
    all_files = list_doc_files(out)
    file_to_seg = {f: i for i, f in enumerate(all_files)}
    seg_of_file = F.create_map(*[F.lit(x) for f, i in file_to_seg.items()
                                 for x in (f, i)])[
        F.substring_index(F.input_file_name(), "/", -1)]
    ckpts = {f for f in fsio.listdir(out.checkpoints)
             if f.startswith("seg_") and f.endswith(".json")}
    fresh = not ckpts
    for fld in (fields if fields is not None else [None]):
        tag = "" if fld is None else f"{fld}_"
        done = {f[len(f"seg_{tag}"):-5] for f in ckpts
                if f.startswith(f"seg_{tag}") and f[len(f"seg_{tag}"):-5].isdigit()}
        missing = [f for f in all_files if str(file_to_seg[f]) not in done]
        if not missing:
            continue
        metrics_term = _metrics_term(fld)
        docs = spark.read.parquet(*[os.path.join(out.docs, f) for f in missing])
        packed = invert_docs(docs, seg_of_file, positions=positions, field=fld,
                             analyzer=(analyzers or {}).get(fld or "text"),
                             postings_format=postings_format)
        packed.write.mode("overwrite" if fresh else "append").parquet(out.segments)
        fresh = False
        # manifests: aggregate sentinel metric rows (a file read split across
        # tasks yields several) into one manifest per (field, segment file)
        seg_df = (spark.read.parquet(out.segments)
                  .filter((F.col("term") == metrics_term)
                          & F.col("seg").isin(list(file_to_seg[f] for f in missing)))
                  .select("seg", "blob").collect())
        per_seg: dict[int, list[dict]] = {}
        for r in seg_df:
            per_seg.setdefault(int(r["seg"]), []).append(
                json.loads(bytes(r["blob"]).decode()))
        seg_to_file = {i: f for f, i in file_to_seg.items()}
        for f in missing:  # empty input files still get a (zero) manifest
            per_seg.setdefault(file_to_seg[f], []).append(
                {"n_docs": 0, "n_terms": 0, "n_postings": 0, "sum_len": 0,
                 "min_docid": 1 << 62, "max_docid": -1, "duration_sec": 0.0,
                 "bytes": 0})
        for seg, ms in per_seg.items():
            m = {k: sum(x[k] for x in ms) for k in
                 ("n_docs", "n_terms", "n_postings", "sum_len", "duration_sec",
                  "bytes")}
            m["min_docid"] = min(x["min_docid"] for x in ms)
            m["max_docid"] = max(x["max_docid"] for x in ms)
            m["duration_sec"] = round(m["duration_sec"], 4)
            m["docs_per_sec"] = (round(m["n_docs"] / m["duration_sec"], 2)
                                 if m["duration_sec"] > 0 else None)
            m["seg"] = seg
            if fld is not None:
                m["field"] = fld
            m["lineage"] = {"input": os.path.join(out.docs, seg_to_file[seg])}
            fsio.write_json_atomic(
                os.path.join(out.checkpoints, f"seg_{tag}{seg}.json"), m)


# ------------------------------------------------------------- stage 2

_NO_DELETES = np.empty(0, np.int64)


def _holds_deleted(lo: np.ndarray, hi: np.ndarray,
                   deleted: np.ndarray) -> np.ndarray:
    """Per span [lo, hi]: whether the sorted docid array `deleted` holds
    a docid inside it (lo == hi tests membership)."""
    return (np.searchsorted(deleted, lo)
            < np.searchsorted(deleted, hi, side="right"))


def _position_gather(tf: np.ndarray, sel: np.ndarray) -> np.ndarray:
    """Flat-position indices of postings `sel`, in that order, given every
    posting's tf (positions are stored posting after posting)."""
    starts = np.concatenate(([0], np.cumsum(tf)[:-1]))[sel]
    lens = tf[sel]
    return (np.repeat(starts - (np.cumsum(lens) - lens), lens)
            + np.arange(int(lens.sum())))


def _merge_group_block(pdf: pd.DataFrame, pack_fn=pack_postings_batch,
                       deleted: np.ndarray = _NO_DELETES) -> pd.DataFrame:
    """Merge MANY (term, bucket) groups in one vectorized pass, dropping
    the docids in the sorted array `deleted` (SegmentMerger applying
    liveDocs while it copies postings).

    Input rows are sorted by (term, bucket, first_docid) with whole
    groups present; rows of a group carry disjoint docid ranges. Single-
    row groups (rare terms in one mini-segment) pass their blob through
    unchanged — decode is skipped entirely.

    r6 (guide §1.2 step 1): multi-row groups whose docid ranges are
    verifiably disjoint-ordered (first_docid[i+1] > last_docid[i], the
    normal case by construction) merge by BLOCK COPY — byte-concatenated
    blobs + concatenated per-block metadata, no decode and no re-pack.
    decode_block anchors every block on its own (offset, first_docid, n)
    metadata entry, so a row whose blob interleaves FOR blocks and
    sub-128 varint blocks decodes to exactly the concatenation of its
    parts: the merged postings are bit-identical to the re-packed path's
    (tests/test_spark_index.py decodes round-trip). This is the
    postings analog of Lucene's bulk segment-merge block copy. Groups
    that fail the disjointness probe (arbitrary merge_postings_df
    inputs) fall back to decode + batch re-pack.

    Deletes: a group with a row whose [first_docid, last_docid] span
    holds a deleted docid takes the decode + re-pack path with a keep
    mask (positions gathered by the same mask); a group whose postings
    are all deleted yields no row. Every other group takes the path it
    takes without deletes, byte for byte.

    A multi-row group must be uniformly positional or not: a group that
    mixes null and non-null pos_blob raises ValueError, since joining
    only the non-null blobs would shift positions onto other postings."""
    keys = (pdf["term"].astype(str) + "\x1f" + pdf["bucket"].astype(str)).to_numpy()
    new = np.concatenate(([True], keys[1:] != keys[:-1]))
    gstarts = np.flatnonzero(new)
    gsizes = np.diff(np.append(gstarts, len(keys)))
    g_hit = np.logical_or.reduceat(_holds_deleted(
        pdf["first_docid"].to_numpy(np.int64),
        pdf["last_docid"].to_numpy(np.int64), deleted), gstarts)

    out_rows = []
    repacked = []   # (term, bucket, docids, tfs, norms, pos_blob)
    blobs = pdf["blob"].to_numpy(object)
    pos_present = pdf["pos_blob"].notna().to_numpy()
    cols = {c: pdf[c].to_numpy(object) for c in
            ("term", "bucket", "first_docid", "df", "ttf", "max_tf", "block_offset",
             "block_first_docid", "block_n", "block_max_tf", "block_min_len",
             "pos_blob", "last_docid")}
    for gi, lo in enumerate(gstarts):
        sz = int(gsizes[gi])
        if sz == 1 and not g_hit[gi]:
            out_rows.append((cols["term"][lo], int(cols["bucket"][lo]),
                             int(cols["first_docid"][lo]),
                             int(cols["df"][lo]), int(cols["ttf"][lo]),
                             int(cols["max_tf"][lo]), blobs[lo],
                             list(cols["block_offset"][lo]),
                             list(cols["block_first_docid"][lo]),
                             list(cols["block_n"][lo]),
                             list(cols["block_max_tf"][lo]),
                             list(cols["block_min_len"][lo]),
                             cols["pos_blob"][lo],
                             int(cols["last_docid"][lo])))
            continue
        rng = range(lo, lo + sz)
        g_pos = pos_present[lo:lo + sz]
        if g_pos.any() and not g_pos.all():
            raise ValueError(
                f"postings group (term={cols['term'][lo]!r}, "
                f"bucket={int(cols['bucket'][lo])}) mixes rows with and "
                "without positions; merge inputs must share one positions "
                "setting")
        g_first = np.fromiter((cols["first_docid"][r] for r in rng),
                              np.int64, sz)
        g_last = np.fromiter((cols["last_docid"][r] for r in rng),
                             np.int64, sz)
        if not g_hit[gi] and np.all(g_first[1:] > g_last[:-1]):
            # block-copy fast path: ranges disjoint + ordered
            g_blobs = [bytes(blobs[r]) for r in rng]
            base = np.concatenate(
                ([0], np.cumsum([len(b) for b in g_blobs[:-1]])))
            offs: list = []
            for k, r in enumerate(rng):
                offs.extend(int(o) + int(base[k])
                            for o in cols["block_offset"][r])
            bfd: list = []
            bn: list = []
            bmt: list = []
            bml: list = []
            for r in rng:
                bfd.extend(int(x) for x in cols["block_first_docid"][r])
                bn.extend(int(x) for x in cols["block_n"][r])
                bmt.extend(int(x) for x in cols["block_max_tf"][r])
                bml.extend(float(x) for x in cols["block_min_len"][r])
            pos_blob = (b"".join(bytes(cols["pos_blob"][r]) for r in rng)
                        if g_pos[0] else None)
            out_rows.append((cols["term"][lo], int(cols["bucket"][lo]),
                             int(g_first[0]),
                             int(sum(cols["df"][r] for r in rng)),
                             int(sum(cols["ttf"][r] for r in rng)),
                             int(max(cols["max_tf"][r] for r in rng)),
                             b"".join(g_blobs),
                             offs, bfd, bn, bmt, bml,
                             pos_blob, int(g_last[-1])))
            continue
        # decode + re-pack: rows interleave or hold deleted docids
        parts = [unpack_postings(np.frombuffer(blobs[r], np.uint8),
                                 np.asarray(cols["block_offset"][r], np.int64),
                                 np.asarray(cols["block_first_docid"][r], np.int64),
                                 np.asarray(cols["block_n"][r], np.int64))
                 for r in rng]
        d, t, nb = (np.concatenate(x) for x in zip(*parts))
        # rows arrive ordered by first_docid with disjoint ranges, but an
        # in-group argsort keeps merge correct for ANY input layout
        sel = (None if np.all(np.diff(d) > 0)
               else np.argsort(d, kind="stable"))
        if g_hit[gi]:
            live = ~_holds_deleted(d, d, deleted)
            sel = np.flatnonzero(live) if sel is None else sel[live[sel]]
        pos_blob = None
        if g_pos[0]:
            # position deltas reset at every posting, so merged blob =
            # byte concat of row blobs — unless postings were reordered
            # or dropped
            if sel is None:
                pos_blob = b"".join(bytes(cols["pos_blob"][r]) for r in rng)
            else:
                flat = np.concatenate([
                    decode_positions(bytes(cols["pos_blob"][r]), p[1])[0]
                    for r, p in zip(rng, parts)])
                pos_blob = pack_positions_batch(
                    np.array([0, len(sel)]), t[sel],
                    flat[_position_gather(t, sel)])[0]
        if sel is not None:
            d, t, nb = d[sel], t[sel], nb[sel]
        if len(d):
            repacked.append((cols["term"][lo], int(cols["bucket"][lo]),
                             d, t, nb, pos_blob))
    if repacked:
        bounds = np.concatenate(([0], np.cumsum([len(g[2]) for g in repacked])))
        packed = pack_fn(bounds, *(np.concatenate([g[k] for g in repacked])
                                   for k in (2, 3, 4)))
        for (term, bucket, d, t, _, pos_blob), tp in zip(repacked, packed):
            out_rows.append((term, bucket, int(d[0]), tp.n,
                             int(t.sum(dtype=np.int64)), int(t.max()),
                             tp.blob, tp.block_offset.tolist(),
                             tp.block_first_docid.tolist(), tp.block_n.tolist(),
                             tp.block_max_tf.tolist(), tp.block_min_len.tolist(),
                             pos_blob, int(d[-1])))
    return pd.DataFrame(out_rows, columns=[f.name for f in MERGED_SCHEMA.fields])


def _merge_stream(batches, pack_fn=pack_postings_batch, deleted=_NO_DELETES):
    """Streaming group merge over sorted Arrow batches: a (term, bucket)
    group may span batch boundaries; carry the trailing group forward."""
    buf: pd.DataFrame | None = None
    for pdf in batches:
        if buf is not None and len(buf):
            pdf = pd.concat([buf, pdf], ignore_index=True)
        if not len(pdf):
            continue
        keys = (pdf["term"].astype(str) + "\x1f" + pdf["bucket"].astype(str)).to_numpy()
        not_last = keys != keys[-1]
        suffix_start = int(np.flatnonzero(not_last).max()) + 1 if not_last.any() else 0
        buf = pdf.iloc[suffix_start:]
        if suffix_start:
            yield _merge_group_block(pdf.iloc[:suffix_start], pack_fn, deleted)
    if buf is not None and len(buf):
        yield _merge_group_block(buf, pack_fn, deleted)


def merge_postings_df(rows: DataFrame, num_segments: int,
                      out_partitions: int = 32,
                      postings_format: str = "lucene41", *,
                      deleted: np.ndarray | None = None) -> DataFrame:
    """The salted (term, bucket) merge over a DataFrame of segment-shaped
    postings rows — the one merge every writer runs: the base build
    (merge_segments), the tiered fold and expungeDeletes (the segments
    rows plus the folded NRT rows) and the gen-to-gen consolidation.

    Input columns: POSTINGS row columns (`seg` is ignored): term,
    first_docid, df, ttf, max_tf, blob, block_*, pos_blob, last_docid.
    Per-term rows must carry disjoint docid ranges. `deleted` is a
    sorted int64 docid array (a searcher's deleted-docs snapshot); those
    postings are dropped inside the merge kernel. Output: MERGED_SCHEMA.

    Head-term fan-out: nsalts = ceil(df_total / TARGET). Only Zipf-HEAD
    terms (df_total > TARGET) need a salt count — a set that stays tiny
    and broadcastable at ANY corpus scale, so the packed-blob table never
    sort-merge-joins against the full vocabulary; tail terms default to
    nsalts=1 via the left join's null. The heads pre-pass aggregates
    ONLY (term, df), so parquet column pruning keeps the blobs unread."""
    totals = (rows.groupBy("term").agg(F.sum("df").alias("df_total"))
              .filter(F.col("df_total") > TARGET_ROW_POSTINGS))
    nsalts = F.greatest(F.lit(1), F.ceil(
        F.coalesce(F.col("df_total"), F.lit(1)) / F.lit(TARGET_ROW_POSTINGS)))
    with_tot = rows.join(F.broadcast(totals), "term", "left")
    # salt bucket from the docid ROUTE bucket (docid >> BUCKET_SHIFT),
    # NOT the file/segment index: files are hash-partitioned by route
    # bucket, so seg order is unrelated to docid order — seg-run buckets
    # would interleave a salted head term's docid ranges (found by
    # CheckIndex on a 4M-doc corpus, the first corpus with df > TARGET).
    # Route-bucket runs are docid-contiguous and the rule is monotone in
    # the route bucket (gen buckets >= 2^18 land far above base), so
    # per-term salt buckets carry disjoint ordered ranges: the invariant
    # WAND's grid alignment, explain()'s row pick and the single-term
    # no-shuffle path rely on. Stage 1 flushes mini-segments at route-
    # bucket boundaries, so every segments row lies within one route bucket.
    bucketed = with_tot.withColumn(
        "bucket",
        ((F.shiftrightunsigned(F.col("first_docid"), BUCKET_SHIFT)
          * nsalts) / F.lit(num_segments)).cast("int"))
    cols = [f.name for f in MERGED_SCHEMA.fields]
    return (bucketed.select(*cols)
            .repartition(out_partitions, "term", "bucket")
            .sortWithinPartitions("term", "bucket", "first_docid")
            .mapInPandas(partial(_merge_stream,
                                 pack_fn=POSTINGS_FORMATS[postings_format],
                                 deleted=(_NO_DELETES if deleted is None else
                                          np.asarray(deleted, np.int64))),
                         schema=MERGED_SCHEMA))


def term_totals(postings: DataFrame) -> DataFrame:
    """Per-term stats (df, ttf, max_tf) summed over merged postings rows."""
    return postings.groupBy("term").agg(
        F.sum("df").alias("df"), F.sum("ttf").alias("ttf"),
        F.max("max_tf").alias("max_tf"))


def merge_segments(spark: SparkSession, out: IndexPaths,
                   num_segments: int | None = None,
                   out_partitions: int | None = None,
                   postings_format: str = "lucene41") -> None:
    if _success(out.postings) and _success(out.termstats):
        return
    num_segments = num_segments or len(list_doc_files(out))
    if not _success(out.postings):
        segs = (spark.read.parquet(out.segments)
                .filter(~F.col("term").startswith("\x00")))  # drop metric sentinels
        merge_postings_df(segs, num_segments, out_partitions or 32,
                          postings_format) \
            .write.mode("overwrite").parquet(out.postings)
    # termstats AFTER the merge (r6): aggregating the merged table —
    # one row per (term, salt-bucket) instead of one per (term, mini-
    # segment) — reads ~miniseg/bucket-factor fewer rows and no blobs;
    # per-term sums over merged rows equal the per-segment sums exactly.
    # hash repartition + within-file sort: no range-sampler pass (which
    # would re-execute the upstream), per-file term order preserved so
    # parquet row-group min/max stats still prune term lookups
    term_totals(spark.read.parquet(out.postings)) \
        .repartition(max(4, (out_partitions or 32) // 4), "term") \
        .sortWithinPartitions("term") \
        .write.mode("overwrite").parquet(out.termstats)


def write_commit_point(out: IndexPaths, stats: dict) -> str:
    """segments_N analog (ref: index/IndexWriter.java:2709,2867 two-phase
    commit; segments_N lists the segment files of a point-in-time view):
    an atomic JSON manifest enumerating every data file of this index
    generation with sizes. Readers that pin a commit point get snapshot
    isolation over the file set (the Iceberg-snapshot role; parquet job
    commits already make each table write all-or-nothing)."""
    gen = 1
    while fsio.exists(os.path.join(out.root, f"segments_{gen}.json")):
        gen += 1
    files = {}
    for sub in ("docs", "postings", "termstats"):
        d = getattr(out, sub)
        if fsio.isdir(d):
            files[sub] = sorted(
                {f: fsio.getsize(os.path.join(d, f))
                 for f in fsio.listdir(d) if f.endswith(".parquet")}.items())
    manifest = {"generation": gen, "stats": stats, "files": files}
    final = os.path.join(out.root, f"segments_{gen}.json")
    fsio.write_json_atomic(final, manifest)  # atomic publish (commit())
    return final


def write_stats(spark: SparkSession, out: IndexPaths,
                fields: list[str] | None = None,
                postings_format: str = "lucene41",
                extra: dict | None = None) -> dict:
    docs = spark.read.parquet(out.docs)
    max_doc = docs.count()
    ts = spark.read.parquet(out.termstats)
    agg = ts.agg(F.sum("ttf").alias("sum_ttf"),
                 F.count("*").alias("n_terms")).collect()[0]
    stats = {
        "max_doc": int(max_doc),
        "sum_total_term_freq": int(agg["sum_ttf"] or 0),
        "n_terms": int(agg["n_terms"]),
        "postings_format": postings_format,
    }
    if fields:
        # per-field collection stats: BM25 avgdl / sumTotalTermFreq are
        # PER FIELD in Lucene (BM25Similarity.java:82-89 pulls
        # CollectionStatistics for one field)
        rows = (ts.withColumn("field", F.substring_index("term", FIELD_SEP, 1))
                .groupBy("field").agg(F.sum("ttf").alias("sum_ttf"),
                                      F.count("*").alias("n_terms"))
                .collect())
        stats["fields"] = {r["field"]: {"sum_ttf": int(r["sum_ttf"] or 0),
                                        "n_terms": int(r["n_terms"])}
                           for r in rows}
    if extra:
        stats.update(extra)
    fsio.write_json_atomic(out.stats, stats)
    return stats


def build_index(spark: SparkSession, docs: DataFrame, root: str,
                num_segments: int = 16, out_partitions: int | None = None,
                positions: bool = False,
                fields: list[str] | None = None,
                postings_format: str = "lucene41",
                analyzers: dict | None = None,
                sort_by: str | None = None) -> IndexPaths:
    """Full build: resumable; re-running with complete checkpoints is a
    no-op. positions=True also stores per-posting token positions
    (the .pos file analog) enabling phrase/span queries; stats.json
    records it, and NRT generations follow it. The stage-1 segments
    table is removed once the commit point is written.

    sort_by: index sorting (SortingMergePolicy, lucene/misc/.../sorter/
    SortingMergePolicy.java:57) — per-segment docid order follows the
    named numeric column ascending; `stats.json` records it as
    "index_sort" so EarlyTerminatingSortingCollector-style queries
    (search/sorted.py) know the property holds.

    fields=["title", "body", ...]: multi-field index — `docs` must carry
    one string column per field; postings/termstats are keyed
    "<field>\\x1f<term>" with per-field norms and per-field collection
    stats in stats.json (the FieldInfos data model).

    analyzers: optional per-field analyzer overrides (see
    build_segments) — the per-fieldtype analyzer plumbing that lets
    e.g. a Japanese body field index through the kuromoji segmenter
    while a title field uses the standard chain."""
    out = IndexPaths(root)
    fsio.makedirs(root)
    assign_docids(spark, docs, out, num_segments,
                  field_cols=tuple(fields) if fields else ("text",),
                  sort_col=sort_by)
    build_segments(spark, out, num_segments, positions=positions, fields=fields,
                   postings_format=postings_format, analyzers=analyzers)
    merge_segments(spark, out, num_segments, out_partitions,
                   postings_format=postings_format)
    stats = write_stats(spark, out, fields=fields,
                        postings_format=postings_format,
                        extra=({"num_segments": num_segments,
                                "positions": positions}
                               | ({"index_sort": sort_by} if sort_by else {})))
    write_commit_point(out, stats)
    # the committed postings + termstats supersede the stage-1 segments
    # table; the _checkpoints manifests keep a re-run a no-op without it
    fsio.rmtree(out.segments, ignore_errors=True)
    return out
