"""Block-max WAND top-k for OR queries — exact, distributed, skip-capable.

Lucene 4.4 has block+skip substrate but no WAND (SURVEY.md §2.E); this
adds the block-max pruning of the BMW literature on top of our per-block
metadata (first_docid, n, max_tf, min_len — the skip-list analog,
ref: codecs/lucene41/Lucene41SkipWriter.java:46), re-shaped for Spark's
execution model:

Phase A (θ probe, one tiny job): for each query term pick the block
with the highest upper bound (distributed max_by over the exploded block
grid), decode & score just those blocks; θ0 = the k-th largest per-doc
partial sum observed over LIVE docs. θ0 is a valid lower bound of the
final k-th score because partial sums are lower bounds of total scores;
a deleted doc is dropped first, or a deleted hub doc could lift θ0 above
the true k-th live score and prune needed blocks.

Phase B (pruned scan): DOCID-ALIGNED block bounds — the defining move
of Block-Max WAND (Ding & Suel 2011). Postings blocks are docid-range
ordered, so for a block B of term t covering docid range [s, e) the
bound on any doc in B is
    ub_t(B) + Σ_{u≠t} max{ ub_u(B') : B' of u overlaps [s, e) }   (0 if
none overlaps). This is far tighter than a per-term GLOBAL max, which a
single outlier doc inflates corpus-wide.

DISTRIBUTED alignment (no full-metadata driver collect): the per-term
block grids (first_docid, ub) live in a DataFrame of one row per block
(|df|/128 rows), partitioned by docid CHUNK (chunk = docid >> 44 — the
doc-bucket, so chunk population is bounded by the routing scheme at any
corpus scale). A per-chunk applyInPandas kernel computes the overlap
maxima with a vectorized sparse-table sliding-window max. Cross-chunk
state is carried through a tiny per-(term, chunk) summary table
(first/last block fd, last-block ub, chunk-max ub, block count —
O(terms × chunks) rows, broadcast): a window that extends past its chunk
takes the exact in-chunk maximum plus the summary chunk-maxima of the
spanned chunks — an OVERestimate only for the final partial chunk, which
keeps extra blocks but can never skip a needed one (exactness is
one-sided). Keep decisions flow back to the scan as a
(term, first_docid) -> skipped-blocks join (auto-broadcast when small),
never a driver-side dict. A postings row is keyed by its term and first
docid: a term's rows hold disjoint docid ranges on every view, while
every NRT row of the include_nrt view has bucket -1.

Both phases decode through the searcher's one postings scan
(IndexSearcher._scored_candidates): the probe passes every block but the
best one as skipped, the pruned scan passes the dropped blocks. The
scan reads the searcher's view and drops deleted docs, as every other
query does. Block counts (``stats``) are exact and computed on the
driver from the summary and the dropped table, which the plan collects
anyway: no accumulator, so no double counting across jobs or retries.

Exactness proof (the TestBoolean2-style equivalence tests enforce it):
a doc d in a skipped block B lies in [s, e), so for every other term u
its u-score is bounded by the max ub over u's blocks overlapping
[s, e) (d lies in exactly one such block), hence d's true total
  <= ub_t(B) + Σ_{u≠t} aligned_max_u(B) < θ0,
while ≥ k docs — the θ-probe's top-k — have true totals >= θ0 and every
block containing such a doc fails the skip test, so their scores are
fully computed. Partially-scored docs are strictly below θ0 and cannot
enter or tie into the top-k. Upper bounds are computed in float64 and
widened by 1e-5 so float32 rounding in the scoring kernel can never
exceed them; the chunked others-maxima are exact within a chunk and
conservative (≥ the two-pointer value) across chunk boundaries.
"""

from __future__ import annotations

from types import SimpleNamespace

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .bm25 import B as B_PARAM
from .bm25 import K1

# docid chunk for grid partitioning = the doc-bucket of the routing
# scheme (index/build.py BUCKET_SHIFT): chunks are uniformly doc-dense,
# so per-chunk grid size is bounded by bucket doc count / 128
CHUNK_SHIFT = 44

# past every docid: NRT generation docids start at 1 << 62
_END_SENTINEL = np.iinfo(np.int64).max


def _block_upper_bounds(weights: dict, avgdl: float, term: str,
                        max_tf: np.ndarray, min_len: np.ndarray) -> np.ndarray:
    """Per-block score upper bound, float64 + safety margin."""
    _, tw = weights[term]
    wv = np.float64(tw.weight_value)
    c = np.float64(K1) * ((1 - B_PARAM) + B_PARAM * min_len.astype(np.float64) / np.float64(avgdl))
    mtf = max_tf.astype(np.float64)
    return (wv * mtf / (mtf + c)) * (1.0 + 1e-5)


def _window_max(vals: np.ndarray, los: np.ndarray, his: np.ndarray) -> np.ndarray:
    """Max of vals[lo:hi] per window; 0.0 for empty windows. Vectorized
    sparse-table RMQ: O(n log n) table build (np.maximum over strided
    views), O(1) per query — no per-element Python loop."""
    n = len(vals)
    m = len(los)
    out = np.zeros(m, dtype=np.float64)
    if n == 0 or m == 0:
        return out
    lengths = np.maximum(his - los, 0)
    nonempty = lengths > 0
    if not nonempty.any():
        return out
    # table[j][i] = max(vals[i : i + 2^j])
    nlev = max(1, int(np.floor(np.log2(n))) + 1)
    table = [np.asarray(vals, dtype=np.float64)]
    for j in range(1, nlev):
        prev = table[-1]
        half = 1 << (j - 1)
        if len(prev) <= half:
            break
        table.append(np.maximum(prev[:-half], prev[half:]))
    lo = los[nonempty].astype(np.int64)
    ln = lengths[nonempty].astype(np.int64)
    j = np.floor(np.log2(ln)).astype(np.int64)
    j = np.minimum(j, len(table) - 1)
    left = np.empty(len(lo), dtype=np.float64)
    right = np.empty(len(lo), dtype=np.float64)
    for jj in np.unique(j):
        sel = j == jj
        tj = table[jj]
        width = 1 << int(jj)
        left[sel] = tj[lo[sel]]
        right[sel] = tj[np.minimum(lo[sel] + ln[sel] - width, len(tj) - 1)]
    out[nonempty] = np.maximum(left, right)
    return out


_GRID_SCHEMA = ("term string, first_docid long, bidx int, fd long, "
                "ub double, chunk long")


def _explode_blocks(batch, weights: dict, avgdls: dict):
    """Arrow kernel: one batch of postings meta rows -> one row per block
    (term, row first_docid, bidx, block first docid, upper bound, docid
    chunk)."""
    import pyarrow as pa

    def flat(name):
        arr = batch.column(name)
        off = arr.offsets.to_numpy()
        return off, arr.values.to_numpy(zero_copy_only=False)[off[0]:off[-1]]

    off, fd = flat("block_first_docid")
    max_tf, min_len = (flat(c)[1] for c in ("block_max_tf", "block_min_len"))
    nblk = np.diff(off)
    row = np.repeat(np.arange(batch.num_rows), nblk)
    terms = np.asarray(batch.column("term").to_pylist(), dtype=object)[row]
    ub = np.empty(len(fd), dtype=np.float64)
    for t in set(terms):
        m = terms == t
        ub[m] = _block_upper_bounds(weights, avgdls[t], t,
                                    max_tf[m].astype(np.int64),
                                    min_len[m].astype(np.float32))
    return pa.RecordBatch.from_pydict({
        "term": pa.array(terms, pa.string()),
        "first_docid": pa.array(batch.column("first_docid").to_numpy()[row],
                                pa.int64()),
        "bidx": pa.array(np.arange(len(fd)) - np.repeat(off[:-1] - off[0],
                                                         nblk), pa.int32()),
        "fd": pa.array(fd, pa.int64()),
        "ub": pa.array(ub, pa.float64()),
        "chunk": pa.array(fd >> CHUNK_SHIFT, pa.int64())})


def _chunk_tables(summ: pd.DataFrame):
    """Driver-side cross-chunk state from the tiny per-(term, chunk)
    summary (O(terms × chunks) rows — NOT the block grid):

      carry_in[(t, c)]  = (fd, ub) of t's last block strictly before
                          chunk c (the block covering c's start),
      next_first[(t, c)] = first fd of t after chunk c (window close),
      chunk_max[t]       = (chunks asc, per-chunk max ub) for the
                          cross-chunk tail maxima."""
    carry_in: dict = {}
    next_first: dict = {}
    chunk_max: dict = {}
    all_chunks = np.sort(summ["chunk"].unique())
    for t, g in summ.groupby("term"):
        g = g.sort_values("chunk")
        chunks = g["chunk"].to_numpy(np.int64)
        chunk_max[t] = (chunks, g["max_ub"].to_numpy(np.float64))
        last_fd = g["max_fd"].to_numpy(np.int64)
        last_ub = g["last_ub"].to_numpy(np.float64)
        first_fd = g["min_fd"].to_numpy(np.int64)
        for ci, c in enumerate(all_chunks):
            # last of t's chunks strictly before c
            j = int(np.searchsorted(chunks, c, side="left")) - 1
            if j >= 0:
                carry_in[(t, int(c))] = (int(last_fd[j]), float(last_ub[j]))
            # first of t's chunks strictly after c
            j2 = int(np.searchsorted(chunks, c, side="right"))
            if j2 < len(chunks):
                next_first[(t, int(c))] = int(first_fd[j2])
    return carry_in, next_first, chunk_max


def _range_max(chunk_max_t, c_lo: int, c_hi: int) -> float:
    """Max per-chunk ub of a term over chunks in [c_lo, c_hi]."""
    chunks, maxes = chunk_max_t
    i = int(np.searchsorted(chunks, c_lo, side="left"))
    j = int(np.searchsorted(chunks, c_hi, side="right"))
    return float(maxes[i:j].max()) if j > i else 0.0


def _make_keep_kernel(theta0: float, terms: list[str], bc_tables):
    """applyInPandas kernel (one docid chunk): emit the DROPPED
    (term, first_docid, bidx) rows — absence means keep."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        carry_in, next_first, chunk_max = bc_tables.value
        c = int(pdf["chunk"].iloc[0])
        chunk_end = (c + 1) << CHUNK_SHIFT
        grids = {}
        for t, g in pdf.groupby("term"):
            g = g.sort_values("fd", kind="mergesort")
            grids[t] = (g["fd"].to_numpy(np.int64),
                        g["ub"].to_numpy(np.float64),
                        g["first_docid"].to_numpy(np.int64),
                        g["bidx"].to_numpy(np.int32))
        out_t, out_b, out_i = [], [], []
        for t, (fd, ub, row_fd, bidx) in grids.items():
            end = np.append(fd[1:], next_first.get((t, c), _END_SENTINEL))
            crossing = end > chunk_end   # windows extending past this chunk
            others = np.zeros(len(fd), dtype=np.float64)
            for u in terms:
                if u == t:
                    continue
                if u in grids:
                    gfd, gub = grids[u][0], grids[u][1]
                    ci = carry_in.get((u, c))
                    if ci is not None:
                        # prepend the block covering the chunk start
                        gfd = np.concatenate(([ci[0]], gfd))
                        gub = np.concatenate(([ci[1]], gub))
                    los = np.maximum(
                        np.searchsorted(gfd, fd, side="right") - 1, 0)
                    his = np.searchsorted(gfd, end, side="left")
                    contrib = _window_max(gub, los, his)
                else:
                    # u absent from this chunk: its carry-in block covers
                    # every docid here
                    ci = carry_in.get((u, c))
                    contrib = np.full(len(fd), ci[1] if ci else 0.0)
                if crossing.any() and u in chunk_max:
                    # conservative tail for windows spanning later chunks:
                    # exact in-chunk part above + the spanned chunks' maxima
                    for i in np.flatnonzero(crossing):
                        ec = int(min(end[i], _END_SENTINEL - 1) >> CHUNK_SHIFT)
                        tail = _range_max(chunk_max[u], c + 1, ec)
                        if tail > contrib[i]:
                            contrib[i] = tail
                others += contrib
            drop = np.flatnonzero(ub + others < theta0)
            if len(drop):
                out_t.append(np.full(len(drop), t, dtype=object))
                out_b.append(row_fd[drop])
                out_i.append(bidx[drop])
        if not out_t:
            return pd.DataFrame({"term": pd.Series(dtype=object),
                                 "first_docid": pd.Series(dtype=np.int64),
                                 "bidx": pd.Series(dtype=np.int32)})
        return pd.DataFrame({"term": np.concatenate(out_t),
                             "first_docid": np.concatenate(out_b),
                             "bidx": np.concatenate(out_i)})

    return kernel


def search_wand(searcher, terms: list[str], k: int = 10, dtype=np.float32,
                stats: dict | None = None) -> DataFrame:
    """Exact OR top-k with block skipping. Returns (docid, score, rank).

    Pass ``stats={}`` to receive skip accounting: stats["blocks_total"]
    .value is the number of postings blocks of the query terms on the
    searcher's view, stats["blocks_kept"].value those the pruned scan
    decodes. Both are exact counts, known when this returns."""
    spark = searcher.spark
    weights = searcher._weights(terms, dtype=dtype)
    terms = [t for t in dict.fromkeys(terms) if t in weights]
    if not terms:
        if stats is not None:
            stats["blocks_total"] = SimpleNamespace(value=0)
            stats["blocks_kept"] = SimpleNamespace(value=0)
        return spark.createDataFrame(
            [], "docid long, score "
            + ("float" if dtype == np.float32 else "double") + ", rank long")
    # per-term avgdl: per-field CollectionStatistics on multi-field indexes
    avgdls = {t: float(searcher._avgdl_for(t, dtype=dtype)) for t in terms}

    # ---- block grid: one row per postings block, computed distributed
    # from column-pruned meta (blobs never read here) and kept distributed
    def explode(batches):
        for b in batches:
            yield _explode_blocks(b, weights, avgdls)

    grid = (searcher._read_postings()
            .filter(F.col("term").isin(terms))
            .select("term", "first_docid", "block_first_docid",
                    "block_max_tf", "block_min_len")
            .mapInArrow(explode, schema=_GRID_SCHEMA))
    grid = grid.persist()

    # ---- ONE distributed aggregation produces both the per-(term, chunk)
    # cross-chunk summaries (phase B) and the per-term argmax block
    # (phase A probe): O(terms × chunks) rows to the driver, never the grid
    summ = (grid.groupBy("term", "chunk")
            .agg(F.min("fd").alias("min_fd"), F.max("fd").alias("max_fd"),
                 F.max_by("ub", "fd").alias("last_ub"),
                 F.max("ub").alias("max_ub"),
                 F.count("*").alias("nblocks"),
                 F.max_by(F.struct("first_docid", "bidx"),
                          "ub").alias("best"))
            .toPandas())
    blocks_total = int(summ["nblocks"].sum())
    probe = []
    for t, g in summ.groupby("term"):
        best = g["best"].iloc[int(g["max_ub"].to_numpy().argmax())]
        probe.append((t, int(best["first_docid"]), int(best["bidx"])))

    theta0 = 0.0
    if probe:
        # decode only the probe blocks: the pushed-down row filter reads
        # ~|terms| rows' blobs (parquet min/max prunes both columns), the
        # skip column drops every other block of those rows
        where, best = None, F.lit(-1)
        for t, fd, bidx in probe:
            cond = (F.col("term") == t) & (F.col("first_docid") == fd)
            where = cond if where is None else (where | cond)
            best = F.when(cond, F.lit(bidx)).otherwise(best)
        skip = F.filter(F.sequence(F.lit(0), F.size("block_n") - 1),
                        lambda i: i != best)
        probe_pdf = (searcher._scored_candidates(terms, dtype=dtype,
                                                 where=where, skip=skip)
                     .select("docid", "score").toPandas())
        # θ0 = k-th best per-DOC partial sum over the probed blocks: a doc
        # appearing in several terms' best blocks combines (hub docs), which
        # tightens θ0 well above any single-term score. Still a valid lower
        # bound of the true k-th total (partial sum ≤ total per doc), so the
        # result stays exact.
        per_doc = (probe_pdf["score"].astype(np.float64)
                   .groupby(probe_pdf["docid"]).sum().to_numpy())
        per_doc.sort()
        if len(per_doc) >= k:
            theta0 = float(per_doc[-k])

    # ---- phase B: distributed docid-aligned keep sets ----
    dropped, blocks_dropped = None, 0
    if theta0 > 0.0:
        bc_tables = spark.sparkContext.broadcast(_chunk_tables(summ))
        kernel = _make_keep_kernel(theta0, terms, bc_tables)
        drop_df = (grid.groupBy("chunk")
                   .applyInPandas(lambda pdf: kernel(pdf),
                                  schema="term string, first_docid long, "
                                         "bidx int"))
        dropped = (drop_df.groupBy("term", "first_docid")
                   .agg(F.collect_list("bidx").alias("skip"))
                   .persist())
        # materialize (small: one row per pruned postings row) so the grid
        # scan isn't re-run by the main job; one aggregate gives both
        # whether any block fell below θ (else skip the join entirely) and
        # how many did
        n_rows, n_dropped = dropped.agg(
            F.count("*"), F.sum(F.size("skip"))).first()
        if n_rows == 0:
            dropped.unpersist()
            dropped = None
        else:
            blocks_dropped = int(n_dropped)
    grid.unpersist()
    if stats is not None:
        stats["blocks_total"] = SimpleNamespace(value=blocks_total)
        stats["blocks_kept"] = SimpleNamespace(
            value=blocks_total - blocks_dropped)

    cands = searcher._scored_candidates(terms, dtype=dtype, skip=dropped)
    from .engine import topk_with_rank
    pivoted = (cands.groupBy("docid")
               .pivot("tidx", list(range(len(terms))))
               .agg(F.first("score")))
    zero = F.lit(0.0).cast("float" if dtype == np.float32 else "double")
    total = None
    for i in range(len(terms)):
        c = F.coalesce(F.col(str(i)), zero)
        total = c if total is None else total + c
    return topk_with_rank(pivoted.withColumn("score", total), k)
