"""Query engine — exact BM25 top-k over the postings table.

The Spark re-expression of Lucene's read path (SURVEY.md §3.1):

  Query tree            -> BooleanQuery dataclass (terms + occurs)
  createNormalizedWeight-> driver-side stats lookup + per-term
                           TermWeight (idf, 256-entry norm cache)
                           broadcast into the scoring UDF closure
                           (ref: search/TermQuery.java:161,
                            similarities/BM25Similarity.java:207-211)
  Weight.scorer/score   -> ONE postings kernel for every query: the
                           searcher's view (base, or base + NRT
                           generations) term-filtered, each Arrow batch
                           decoded + BM25-scored (float32) by
                           score_postings_batch, then the searcher's
                           deleted docs (computed once per searcher, as
                           Lucene's per-reader liveDocs) dropped — live
                           docs applied in the scan itself, as acceptDocs
                           are in TermsEnum.docs (ref: search/TermScorer.java:69-71,
                           search/Weight.java scorer(..., acceptDocs))
  Boolean combination   -> ONE per-doc combine, combine_topk: clause
                           scores added left to right in float32 (the
                           oracle's scatter-add order), MUST /
                           min-should-match / coord / MUST_NOT /
                           searchAfter, DisMax groups (mx + tie·(Σ − mx))
                           for dismax and edismax, then the doc's top k
                           (ref: search/BooleanScorer.java:30-61;
                            DisjunctionSumScorer/ConjunctionScorer,
                            DisjunctionMaxScorer)
  TopScoreDocCollector  -> orderBy(score desc, docid asc).limit(k) =
                           per-partition top-k + driver merge
                           (TakeOrderedAndProject; tie-break matches
                            search/HitQueue.java:22 lessThan)
  ids-then-fields       -> fetch_fields(): collect k docids, pushdown
                           filter on the docs table (the Solr two-phase
                           distributed pattern, SearchHandler.java:229-264)

One kernel, two executors. The postings kernel (score_postings_batch)
has two call sites, chosen per query by a size rule, as Spark chooses a
broadcast join from its input size:
  * in-process (_scan_local): when the query reads at most
    IndexSearcher.LOCAL_POSTINGS postings (Σ df of its terms, Σ ttf for
    phrases, from the cached term stats), its files are local and it has
    no DataFrame/SQL input (doc_filter, docid_filter), the driver reads
    the term-filtered rows with pyarrow.dataset, runs the kernel, drops
    the searcher's deleted docs, and finishes with combine_topk once.
    The result is a LocalTableScan DataFrame of <= k rows: the query has
    already run when search() returns, and collecting it runs no Spark
    job (so collect_time_limited bounds only the Spark executor);
  * Spark (_scored_candidates under mapInArrow, combine_frame,
    topk_with_rank): every other query, lazily. The clause rows are hash
    partitioned on docid and combine_topk runs on each partition, so
    each emits at most k exact rows before topk_with_rank's single
    partition. It is the executor for postings that do not fit the
    driver.
search, search_dismax and search_edismax build their clause rows once
(_clause_rows) and share one finish (_combine); search_wand's last step
calls the same pair. combine_topk is the per-doc combine on both
executors. Both return the same bits: tests/test_two_executors.py runs
every query kind at budget 0 and unbounded and compares (docid, float32
score, rank) with each other and with a Catalyst pivot reference.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from .. import fsio
from ..analysis.standard import analyze_text
from ..index.build import IndexPaths
from ..index.codec import decode_positions, unpack_postings
from .bm25 import K1, avg_field_length, make_weight
from .similarities import get_similarity


def result_schema(dtype=np.float32) -> T.StructType:
    """Schema of every top-k result: docid, score, 1-based rank."""
    return T.StructType([
        T.StructField("docid", T.LongType()),
        T.StructField("score", T.FloatType() if dtype == np.float32
                      else T.DoubleType()),
        T.StructField("rank", T.LongType())])


def local_frame(spark: SparkSession, schema, data=None) -> DataFrame:
    """A driver-built table as a DataFrame whose plan is a LocalTableScan:
    collecting it runs no Spark job. ``schema`` is a DDL string or a
    StructType; ``data`` an Arrow table, a pandas DataFrame or a dict of
    columns (None: no rows). createDataFrame of a Python list would be a
    Scan ExistingRDD instead, which runs a job on every collect."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    arrow_schema = to_arrow_schema(schema)
    if data is None:
        table = arrow_schema.empty_table()
    elif isinstance(data, pa.Table):
        # one chunk: createDataFrame returns no rows at all when the
        # table's first chunk is empty (pyspark 4.1)
        table = (data.select(arrow_schema.names).cast(arrow_schema)
                 .combine_chunks())
    else:
        table = pa.Table.from_pandas(pd.DataFrame(data), schema=arrow_schema,
                                     preserve_index=False)
    return spark.createDataFrame(table)


def combine_topk(docid, clause, score, nclauses: int, k: int,
                 dtype=np.float32, must=(), should=(), msm: int = 0,
                 coord: bool = False, exclude=None,
                 after: tuple | None = None, *, groups: list | None = None,
                 tie: float = 0.0) -> dict:
    """The per-doc combine and top-k of every scored query (BooleanScorer
    / DisjunctionMaxScorer): search, search_wand, search_dismax and
    search_edismax call it in the driver, and combine_frame runs it on
    each docid-hash partition of the Spark executor.

    (docid, clause, score) are the clause hits, one row per (doc,
    clause). A doc's score adds its clause scores left to right in
    ``dtype`` (0 for a clause it misses). ``groups`` (clause-index
    lists in member order) makes each group one DisjunctionMaxQuery:
    its value is mx + tie * (Σ members - mx) in ``dtype``, a missed
    member counting 0, and the doc's score adds the group values in
    order. A doc must hit every clause (group) in ``must`` and at least
    ``msm`` of ``should``; ``coord`` multiplies by matched/nclauses
    (classic similarity); docids in ``exclude`` and hits at or before
    the searchAfter cursor ``after=(score, docid)`` drop out. Returns
    the k best as columns docid, score, rank in (score desc, docid asc)
    order. Memory follows the hit rows, not docs x clauses: the hits are
    grouped by clause and added into one per-doc total, clause by
    clause."""
    docid = np.asarray(docid, np.int64)
    docs, row = np.unique(docid, return_inverse=True)
    clause = np.asarray(clause, np.int64)
    # the smallest unsigned type: numpy's stable sort is a radix sort up
    # to 16 bits
    order = np.argsort(clause.astype(np.min_scalar_type(max(nclauses - 1, 0))),
                       kind="stable")
    row, clause = row[order], clause[order]
    score = np.asarray(score, dtype)[order]
    cuts = np.searchsorted(clause, np.arange(nclauses + 1))
    members = [[i] for i in range(nclauses)] if groups is None else groups
    total = np.zeros(len(docs), dtype)
    if groups is None:
        # 0 + s0 + s1 + ... in clause order (a missed clause adds
        # nothing, not +0)
        for i in range(nclauses):
            total[row[cuts[i]:cuts[i + 1]]] += score[cuts[i]:cuts[i + 1]]
        prow, pgrp = row, clause
    else:
        tie = dtype(tie)
        gid = np.empty(nclauses, np.int64)
        for g, m in enumerate(groups):
            cols = np.zeros((len(m), len(docs)), dtype)
            for j, i in enumerate(m):
                cols[j, row[cuts[i]:cuts[i + 1]]] = score[cuts[i]:cuts[i + 1]]
            summed = cols[0]
            for col in cols[1:]:
                summed = summed + col
            mx = cols.max(axis=0)
            total += mx + tie * (summed - mx)
            gid[m] = g
        # one (doc, group) pair per group a doc hits
        pair = np.unique(row * len(groups) + gid[clause])
        prow, pgrp = pair // len(groups), pair % len(groups)

    def matched(idx):
        """Per doc, how many of the groups ``idx`` it hits."""
        sel = np.zeros(len(members), bool)
        sel[list(idx)] = True
        return np.bincount(prow[sel[pgrp]], minlength=len(docs))

    keep = np.ones(len(docs), bool)
    if len(must):
        keep &= matched(set(must)) == len(set(must))
    if coord:
        # Spark computes coord in double and casts it to the score type
        c = matched(range(len(members))) / np.float64(dtype(len(members)))
        total = (total * c.astype(dtype)).astype(dtype)
    if len(should) and msm:
        keep &= matched(should) >= msm
    if exclude is not None:
        keep &= ~np.isin(docs, exclude)
    if after is not None:
        a_score, a_docid = float(after[0]), int(after[1])
        s64 = total.astype(np.float64)
        keep &= (s64 < a_score) | ((s64 == a_score) & (docs > a_docid))
    docs, total = docs[keep], total[keep]
    top = np.lexsort((docs, -total))[:k]
    return {"docid": docs[top], "score": total[top],
            "rank": np.arange(1, len(top) + 1, dtype=np.int64)}


def topk_with_rank(scored: DataFrame, k: int) -> DataFrame:
    """orderBy(score desc, docid asc).limit(k) + 1-based rank.

    TopScoreDocCollector's result array is already sorted
    (search/HitQueue.java:22 lessThan tie-break); the rank is recomputed
    on the ≤k surviving rows inside one small partition instead of an
    unpartitioned row_number window over the whole plan (which warns and
    moves data to a single partition BEFORE the limit)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    topk = (scored.select("docid", "score")
            .orderBy(F.desc("score"), F.asc("docid")).limit(k))
    schema = T.StructType(topk.schema.fields
                          + [T.StructField("rank", T.LongType())])
    out_schema = to_arrow_schema(schema)

    def add_rank(batches):
        batches = [b for b in batches if b.num_rows]
        if not batches:
            return
        tbl = pa.Table.from_batches(batches)
        order = np.lexsort((tbl.column("docid").to_numpy(),
                            -tbl.column("score").to_numpy()))
        yield pa.RecordBatch.from_arrays(
            [tbl.column("docid").take(order).combine_chunks(),
             tbl.column("score").take(order).combine_chunks(),
             pa.array(np.arange(1, len(order) + 1, dtype=np.int64))],
            schema=out_schema)

    return topk.coalesce(1).mapInArrow(add_rank, schema)


def _combine_rows(docid, tidx, score, nclauses: int, k: int, dtype,
                  **roles) -> dict:
    """combine_topk over clause rows whose tidx -1 rows name excluded
    docids (MUST_NOT terms and phrases)."""
    hit = tidx >= 0
    return combine_topk(docid[hit], tidx[hit], score[hit], nclauses, k,
                        dtype, exclude=docid[~hit], **roles)


def combine_frame(rows: DataFrame, nclauses: int, k: int, dtype=np.float32,
                  **roles) -> DataFrame:
    """combine_topk on the Spark executor. ``rows`` (docid, tidx, score)
    are the clause hits; a row with tidx < 0 names a docid that must not
    match (MUST_NOT terms and phrases, in the same stream). Hash
    partitioning on docid puts every row of a doc in one partition, so
    each partition's combine_topk(..., **roles) is exact there and emits
    at most k rows; topk_with_rank merges them."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    schema = T.StructType(result_schema(dtype).fields[:2])
    out_schema = to_arrow_schema(schema)

    def combine(batches):
        batches = [b for b in batches if b.num_rows]
        if not batches:
            return
        docid, tidx, score = (
            np.concatenate([b.column(c).to_numpy() for b in batches])
            for c in ("docid", "tidx", "score"))
        top = _combine_rows(docid, tidx, score, nclauses, k, dtype, **roles)
        yield pa.RecordBatch.from_arrays(
            [pa.array(top["docid"]), pa.array(top["score"])],
            schema=out_schema)

    return topk_with_rank(rows.select("docid", "tidx", "score")
                          .repartition("docid").mapInArrow(combine, schema),
                          k)


def multi_collect(matches: DataFrame,
                  collectors: dict[str, list]) -> dict[str, pd.DataFrame]:
    """MultiCollector analog (ref: lucene/core/.../search/
    MultiCollector.java:33): feed ONE matching-doc scan to several
    collectors. In Spark the fan-out is plan reuse, not row push: the
    match DataFrame is persisted once, each collector is an aggregation
    over it, and Catalyst reads the cached scan for every branch —
    the matching docs are computed exactly once, like MultiCollector's
    single collect() loop.

    collectors: name -> list of aggregate Columns (e.g.
    {"count": [F.count("*")], "stats": [F.min("score"), F.max("score")]}).
    Returns name -> collected pandas result; unpersists afterwards."""
    matches = matches.persist()
    try:
        matches.count()     # materialize once (the single doc iteration)
        return {name: matches.agg(*aggs).toPandas()
                for name, aggs in collectors.items()}
    finally:
        matches.unpersist()


class CachingCollector:
    """CachingCollector analog (ref: lucene/core/.../search/
    CachingCollector.java:45): capture the doc stream of one search and
    replay it to later collectors without re-running the query. The
    cached stream is a persisted DataFrame — replay() hands it to any
    downstream transformation; release() drops the cache (the RAM-bound
    surrender path of the reference maps to Spark's LRU block eviction,
    so an over-budget cache degrades to recompute instead of failing)."""

    def __init__(self, matches: DataFrame):
        self.df = matches.persist()
        self.df.count()

    def replay(self) -> DataFrame:
        return self.df

    def release(self) -> None:
        self.df.unpersist()


class TimeExceededException(Exception):
    """Raised when a time-limited collect exceeds its budget
    (ref: search/TimeLimitingCollector.TimeExceededException)."""

    def __init__(self, timeout_ms: int, elapsed_ms: float):
        super().__init__(f"Elapsed time: {elapsed_ms:.0f} ms. "
                         f"Exceeded allowed search time: {timeout_ms} ms.")
        self.timeout_ms = timeout_ms
        self.elapsed_ms = elapsed_ms


def collect_time_limited(spark: SparkSession, df: DataFrame,
                         timeout_ms: int) -> list:
    """TimeLimitingCollector analog (ref: lucene/core/.../search/
    TimeLimitingCollector.java:32): collect df's rows within a wall-clock
    budget. Spark can't surface partial results from a cancelled job, so
    this implements the greedy=false contract — on expiry the job group
    is cancelled and TimeExceededException raised (Solr's timeAllowed
    without partialResults). A result the in-process executor built has
    no job left to run, so only Spark-executed queries are bounded."""
    import threading
    import time as _time
    import uuid

    sc = spark.sparkContext
    group = f"timelimit-{uuid.uuid4().hex[:8]}"
    result: list = []
    err: list = []

    def run():
        # job groups are thread-local: only this collect is cancellable
        sc.setJobGroup(group, "time-limited collect", interruptOnCancel=True)
        try:
            result.append(df.collect())
        except Exception as e:      # noqa: BLE001 — surfaced to caller
            err.append(e)

    t0 = _time.time()
    th = threading.Thread(target=run, daemon=True)
    th.start()
    th.join(timeout_ms / 1000.0)
    if th.is_alive():
        sc.cancelJobGroup(group)
        th.join(10.0)
        raise TimeExceededException(timeout_ms, (_time.time() - t0) * 1000)
    if err:
        raise err[0]
    return result[0]


@dataclass
class PhraseClause:
    """A positional phrase inside a BooleanQuery: `"a b"` / `"a b"~N`
    (PhraseQuery as a BooleanClause; ref: search/PhraseQuery.java:48).
    Executable only against an index built with positions=True."""

    terms: tuple
    slop: int = 0
    occur: str = "SHOULD"          # SHOULD | MUST | MUST_NOT
    boost: float = 1.0


@dataclass
class BooleanQuery:
    """MUST/SHOULD/MUST_NOT with minimumNumberShouldMatch
    (ref: search/BooleanQuery.java:38; clause cap 1024 at :40).
    ``boosts`` maps a term to its query boost (term^N — Query.setBoost);
    ``phrases`` holds positional PhraseClause entries."""

    should: list[str] = field(default_factory=list)
    must: list[str] = field(default_factory=list)
    must_not: list[str] = field(default_factory=list)
    min_should_match: int = 0
    k: int = 10
    boosts: dict = field(default_factory=dict)
    phrases: list = field(default_factory=list)

    def __post_init__(self):
        if (len(self.should) + len(self.must) + len(self.must_not)
                + len(self.phrases) > 1024):
            raise ValueError("maxClauseCount is set to 1024")  # BooleanQuery.java:40


def _scan_schema(dtype, extra=()) -> T.StructType:
    """Output of the postings scan: docid, tidx, score, then the
    requested ``extra`` columns in their fixed order."""
    optional = {"tf": T.IntegerType(), "norm": T.IntegerType(),
                "positions": T.ArrayType(T.IntegerType())}
    return T.StructType(
        [T.StructField("docid", T.LongType()),
         T.StructField("tidx", T.IntegerType()),
         T.StructField("score", T.FloatType() if dtype == np.float32
                       else T.DoubleType())]
        + [T.StructField(c, optional[c]) for c in optional if c in extra])


def score_postings_batch(batch, weights: dict, dtype=np.float32, extra=()):
    """Decode and score one Arrow batch of postings rows: the kernel of
    the postings scan (Arrow RecordBatch in, RecordBatch out; mapInArrow
    wraps it, as it wraps _invert_codes_arrow for builds).

    ``weights``: term -> (tidx, weight), where weight.score(tf, norm) is
    BM25's TermWeight or a pluggable _SimWeight. The kernel branches
    only on its input:
      * an optional ``skip`` column (list<int>, null = none): block
        indices of the row that are not decoded (block-max WAND);
      * ``extra``: the tf / norm / positions columns to emit.
    Positions need every block's tf, so they do not combine with skip."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    def lists(name):
        arr = batch.column(name)
        off = arr.offsets.to_numpy()
        vals = arr.values.to_numpy(zero_copy_only=False)
        return [vals[off[i]:off[i + 1]] for i in range(len(arr))]

    boff, bfd, bn = (lists(c) for c in
                     ("block_offset", "block_first_docid", "block_n"))
    blobs = batch.column("blob")
    skips = (batch.column("skip").to_pylist()
             if "skip" in batch.schema.names else None)
    pos_blobs = batch.column("pos_blob") if "positions" in extra else None
    docid, tidx, score, tfs, norms, pos = [], [], [], [], [], []
    for i, term in enumerate(batch.column("term").to_pylist()):
        ti, w = weights[term]
        offs, fds, ns = boff[i], bfd[i], bn[i]
        if skips is not None and skips[i]:
            keep = np.setdiff1d(np.arange(len(ns)), skips[i])
            offs, fds, ns = offs[keep], fds[keep], ns[keep]
        d, tf, nb = unpack_postings(blobs[i].as_buffer(), offs, fds, ns)
        if pos_blobs is not None:
            pb = pos_blobs[i].as_py()
            if pb is None:
                raise ValueError("index was built without positions=True")
            pos.append(decode_positions(pb, tf)[0])
        docid.append(d)
        tidx.append(np.full(len(d), ti, np.int32))
        score.append(w.score(tf, nb))
        tfs.append(tf)
        norms.append(nb)

    def flat(parts, dt):
        return (np.concatenate(parts) if parts
                else np.empty(0, dt)).astype(dt, copy=False)

    tf_all = flat(tfs, np.int32)
    cols = {"docid": pa.array(flat(docid, np.int64)),
            "tidx": pa.array(flat(tidx, np.int32)),
            "score": pa.array(flat(score, dtype)),
            "tf": pa.array(tf_all),
            "norm": pa.array(flat(norms, np.int32))}
    if pos_blobs is not None:
        bounds = np.concatenate(([0], np.cumsum(tf_all))).astype(np.int32)
        cols["positions"] = pa.ListArray.from_arrays(
            pa.array(bounds), pa.array(flat(pos, np.int32)))
    schema = to_arrow_schema(_scan_schema(dtype, extra))
    return pa.RecordBatch.from_arrays([cols[n] for n in schema.names],
                                      schema=schema)


class IndexSearcher:
    """Point-in-time reader + searcher over a built index directory."""

    # term dictionaries up to this on-disk size are cached in driver
    # memory (the FieldCache/filterCache spirit); bigger ones stay on
    # disk and every lookup is a pruned parquet scan
    TERMSTATS_CACHE_BYTES = 64 << 20

    # Queries reading at most this many postings (Σ df of their terms,
    # Σ ttf when positions are read) run in the driver process; bigger
    # ones run the Spark plan. The bound is on driver memory, not time:
    # on a 4-core host (100k-doc gen_docs index, 8 segments, warm) the
    # in-process executor beat the Spark plan at every size measured,
    # 0.16 vs 0.79 s at 99k postings, 0.66 vs 3.07 s at 1.06M (16-term
    # OR), 1.30 vs 4.83 s at 1.92M (48 terms), so no time crossover
    # exists below 2M. Its peak RSS grew by 56 MB at 99k postings,
    # 149 MB at 1.06M, 216 MB at 1.92M and 604 MB at 3.97M (512 terms,
    # where the dense doc x clause matrix dominates). 1 << 20 keeps one
    # query's driver peak near 150 MB, a sixth of the 1 GB Spark lets a
    # job return to the driver (spark.driver.maxResultSize); above it
    # the Spark plan decodes in executor tasks.
    LOCAL_POSTINGS = 1 << 20

    def __init__(self, spark: SparkSession, root: str, include_nrt: bool = False,
                 default_field: str | None = None):
        """include_nrt=True gives the NRT-reopen view (SURVEY §2.H):
        streaming generations become visible, tombstoned urls excluded,
        collection stats extended with the NRT segments' counts.

        On a multi-field index (built with fields=[...]), bare query terms
        resolve against ``default_field`` ("body" if present, else the
        first field alphabetically — the classic QueryParser default-field
        contract, queryparser/.../classic/package.html:149)."""
        self.spark = spark
        self.paths = IndexPaths(root)
        self.include_nrt = include_nrt
        self.stats = fsio.read_json(self.paths.stats)
        self.max_doc: int = self.stats["max_doc"]
        self.sum_ttf: int = self.stats["sum_total_term_freq"]
        self.fields: dict | None = self.stats.get("fields")
        if self.fields:
            self.default_field = default_field or (
                "body" if "body" in self.fields else sorted(self.fields)[0])
        else:
            self.default_field = None
        self._ts_cache: pd.DataFrame | None = None
        self._excluded: np.ndarray | None = None
        self._excluded_df: DataFrame | None = None
        # per-term (df, ttf, max_tf) of the unfolded NRT generations, read
        # once: this view's stats stay as fixed as its max_doc/sum_ttf
        self._nrt_stats: pd.DataFrame | None = None
        if include_nrt:
            nrt_post = self._nrt_path("postings")
            if fsio.exists(nrt_post):
                rows = self._read_table(
                    nrt_post, ["term", "df", "ttf", "max_tf"]).to_pandas()
                rows = rows[rows["term"] != "\x00metrics"]
                self._nrt_stats = rows.groupby("term", as_index=False).agg(
                    df=("df", "sum"), ttf=("ttf", "sum"),
                    max_tf=("max_tf", "max"))
                self.sum_ttf += int(rows["ttf"].sum())
            nrt_docs = self._nrt_path("docs")
            if fsio.exists(nrt_docs):
                # deleted copies count, as they do in Lucene's maxDoc
                self.max_doc += self._read_table(nrt_docs, ["docid"]).num_rows

    def term_key(self, field: str | None, term: str) -> str:
        """Postings key for (field, term) — bare term on a single-field
        index, "<field>\\x1f<term>" on a multi-field one."""
        from ..index.build import term_key as tk
        return tk(field if self.fields else None, term)

    def _field_of(self, term: str) -> str | None:
        from ..index.build import FIELD_SEP
        if self.fields and FIELD_SEP in term:
            return term.split(FIELD_SEP, 1)[0]
        return None

    def _avgdl_for(self, term: str, dtype=np.float32):
        """avgdl of the term's field (per-field CollectionStatistics,
        BM25Similarity.java:82-89); global on a single-field index."""
        fld = self._field_of(term)
        if fld is not None and fld in self.fields:
            return avg_field_length(self.fields[fld]["sum_ttf"],
                                    self.max_doc, dtype=dtype)
        return avg_field_length(self.sum_ttf, self.max_doc, dtype=dtype)

    def _nrt_path(self, table: str) -> str:
        return os.path.join(self.paths.root, "nrt", table)

    def _read_table(self, path: str, columns: list[str] | None,
                    isin: tuple | None = None):
        """One parquet table of the index as an Arrow table, pruned to
        ``columns`` and to rows whose column isin[0] is in isin[1]. Local
        files are read by pyarrow (no Spark job); remote ones by Spark."""
        if not fsio.is_remote(path):
            import pyarrow.dataset as ds
            flt = None if isin is None else ds.field(isin[0]).isin(isin[1])
            return ds.dataset(path, format="parquet").to_table(
                columns=columns, filter=flt)
        df = self.spark.read.parquet(path)
        if isin is not None:
            df = df.filter(F.col(isin[0]).isin(list(isin[1])))
        return df.select(*(columns or df.columns)).toArrow()

    def _postings_views(self) -> list[str]:
        """The postings tables of the searcher's view: the base, plus the
        NRT generations' on include_nrt (whose \x00metrics rows no term
        filter selects)."""
        nrt = self._nrt_path("postings")
        return [self.paths.postings] + (
            [nrt] if self.include_nrt and fsio.exists(nrt) else [])

    def _read_postings(self) -> DataFrame:
        if self.include_nrt:
            from ..streaming.ingest import nrt_postings
            return nrt_postings(self.spark, self.paths.root)
        return self.spark.read.parquet(self.paths.postings)

    def _termstats_cached(self) -> pd.DataFrame | None:
        if self._ts_cache is None:
            size = sum(fsio.getsize(os.path.join(self.paths.termstats, f))
                       for f in fsio.listdir(self.paths.termstats)
                       if f.endswith(".parquet"))
            if size <= self.TERMSTATS_CACHE_BYTES:
                pdf = self._read_table(self.paths.termstats, None).to_pandas()
                self._ts_cache = pdf.set_index("term", drop=False)
        return self._ts_cache

    # -- stats lookup (Lucene TermStatistics pull, TermQuery.java:161) ----
    def term_stats(self, terms: list[str]) -> pd.DataFrame:
        if not terms:
            return pd.DataFrame(columns=["term", "df", "ttf", "max_tf"])
        cache = self._termstats_cached()
        if cache is not None:
            hit = [t for t in set(terms) if t in cache.index]
            base = cache.loc[hit].reset_index(drop=True)
        else:
            base = (self.spark.read.parquet(self.paths.termstats)
                    .filter(F.col("term").isin(terms)).toPandas())
        if self._nrt_stats is None:
            return base
        # multi-segment view: the base's stats plus the NRT generations'
        nrt = self._nrt_stats[self._nrt_stats["term"].isin(terms)]
        cols = ["term", "df", "ttf", "max_tf"]
        return (pd.concat([base[cols], nrt[cols]], ignore_index=True)
                .groupby("term", as_index=False)
                .agg(df=("df", "sum"), ttf=("ttf", "sum"),
                     max_tf=("max_tf", "max")))

    def _postings_count(self, terms, positions: bool = False) -> int:
        """Postings a scan of ``terms`` reads: Σ df, or Σ ttf (positions)."""
        st = self.term_stats(list(dict.fromkeys(terms)))
        return int(st["ttf" if positions else "df"].sum()) if len(st) else 0

    def _runs_local(self, postings: int) -> bool:
        """The size rule: a query over at most LOCAL_POSTINGS postings of
        local files runs in the driver process, as Spark broadcasts a
        join side under its threshold; results are the same either way."""
        return (postings <= self.LOCAL_POSTINGS
                and not fsio.is_remote(self.paths.root))

    def _excluded_docids(self) -> np.ndarray:
        """Tombstoned docs (the .del bitset analog — applied by EVERY
        reader whenever a tombstones table exists, exactly as Lucene's
        liveDocs are not opt-in): a url tombstoned at generation g
        excludes its copies from earlier generations. Base copies have
        gen -1; docs folded into the base by tiered_compact KEEP their
        generation-bucket docids, so their gen stays derivable from the
        docid alone after the fold.

        Computed once per searcher (a point-in-time view, as Lucene's
        per-reader liveDocs are) as a sorted docid array."""
        if self._excluded is None:
            from ..index.build import BUCKET_SHIFT
            from ..streaming.ingest import NRT_BASE_BUCKETS
            self._excluded = np.empty(0, np.int64)
            tomb_dir = os.path.join(self.paths.root, "tombstones")
            if fsio.exists(tomb_dir):
                tombs = (self._read_table(tomb_dir, ["url", "gen"]).to_pandas()
                         .groupby("url")["gen"].max())
                doc_paths = [self.paths.docs] + (
                    [self._nrt_path("docs")] if self.include_nrt
                    and fsio.exists(self._nrt_path("docs")) else [])
                docs = pd.concat([self._read_table(
                    p, ["docid", "url"], ("url", tombs.index.tolist()))
                    .to_pandas() for p in doc_paths], ignore_index=True)
                docid = docs["docid"].to_numpy(np.int64)
                rb = (docid.view(np.uint64) >> np.uint64(BUCKET_SHIFT)
                      ).astype(np.int64)
                gen = np.where(rb >= NRT_BASE_BUCKETS,
                               rb - NRT_BASE_BUCKETS, -1)
                dead = gen < tombs.loc[docs["url"]].to_numpy(np.int64)
                self._excluded = np.sort(docid[dead])
        return self._excluded

    def _excluded_frame(self) -> DataFrame | None:
        """The same snapshot as a LocalTableScan, for the Spark scan's
        broadcast anti-join; None when no doc is deleted."""
        excl = self._excluded_docids()
        if not len(excl):
            return None
        if self._excluded_df is None:
            self._excluded_df = local_frame(self.spark, "docid long",
                                            {"docid": excl})
        return self._excluded_df

    def _weights(self, terms: list[str], dtype=np.float32,
                 boosts: dict | None = None, stats: pd.DataFrame | None = None):
        """Per-term TermWeights. ``boosts[t]`` multiplies the term's
        weight value (Query.setBoost: weight = boost * idf, so
        weightValue = boost * idf * (k1+1) — BM25Similarity.java:222).
        ``stats``: the terms' term_stats rows, when the caller has them."""
        st = (self.term_stats(terms) if stats is None else stats
              ).set_index("term")
        out = {}
        for i, t in enumerate(terms):
            if t in st.index:
                avgdl = self._avgdl_for(t, dtype=dtype)
                tw = make_weight(t, int(st.loc[t, "df"]), self.max_doc,
                                 avgdl, int(st.loc[t, "max_tf"]), dtype=dtype)
                b = (boosts or {}).get(t, 1.0)
                if b != 1.0:
                    tw.weight_value = dtype(tw.weight_value * dtype(b))
                    tw.max_score = dtype(tw.max_score * dtype(b))
                out[t] = (i, tw)
        return out

    def _sim_weights(self, terms: list[str], similarity=None, dtype=np.float32):
        """Per-term scorers under a pluggable Similarity (§2.I): the
        createNormalizedWeight step for non-BM25 models. Returns
        {term: (query position, _SimWeight)}."""
        sim = get_similarity(similarity)
        stats = self.term_stats(terms)
        sw = sim.make_weights(terms, stats, self.max_doc, self.sum_ttf,
                              dtype=dtype)
        return {t: (i, sw[t]) for i, t in enumerate(terms) if t in sw}

    def _term_weights(self, terms: list[str], dtype=np.float32,
                      similarity=None, boosts: dict | None = None):
        if similarity is None:
            return self._weights(terms, dtype=dtype, boosts=boosts)
        return self._sim_weights(terms, similarity, dtype=dtype)

    # -- scoring scan ------------------------------------------------------
    def _scan_local(self, weights: dict, dtype=np.float32, extra: tuple = (),
                    rows: list | None = None, skip: dict | None = None):
        """The postings scan in the driver process: the Spark scan's
        kernel (score_postings_batch) over the same view, term filter
        and columns, read by pyarrow.dataset. Returns an Arrow table with
        the _scan_schema columns, deleted docs dropped.

        ``rows``: (term, first_docid) keys, the only postings rows read.
        ``skip``: (term, first_docid) -> block indices not decoded."""
        import pyarrow as pa
        import pyarrow.dataset as ds
        from pyspark.sql.pandas.types import to_arrow_schema

        schema = to_arrow_schema(_scan_schema(dtype, extra))
        if not weights:
            return schema.empty_table()
        flt = ds.field("term").isin(list(weights))
        if rows is not None:
            keys = None
            for t, fd in rows:
                key = (ds.field("term") == t) & (ds.field("first_docid") == fd)
                keys = key if keys is None else keys | key
            flt = flt & keys
        cols = ["term", "first_docid", "blob", "block_offset",
                "block_first_docid", "block_n",
                *(["pos_blob"] if "positions" in extra else [])]
        excl = self._excluded_docids()
        out = []
        for path in self._postings_views():
            for b in ds.dataset(path, format="parquet").to_batches(
                    columns=cols, filter=flt):
                if not b.num_rows:
                    continue
                if skip is not None:
                    keys = zip(b.column("term").to_pylist(),
                               b.column("first_docid").to_pylist())
                    b = b.append_column("skip", pa.array(
                        [skip.get(key) for key in keys], pa.list_(pa.int32())))
                o = score_postings_batch(b, weights, dtype, extra)
                if len(excl):
                    o = o.filter(pa.array(~np.isin(
                        o.column("docid").to_numpy(), excl)))
                out.append(o)
        return pa.Table.from_batches(out, schema=schema)

    def _scored_candidates(self, terms: list[str], dtype=np.float32,
                           similarity=None, boosts: dict | None = None,
                           extra: tuple = (), where=None,
                           skip=None) -> DataFrame:
        """The postings scan every query runs: DataFrame(docid, tidx,
        score[, tf, norm, positions]) over the searcher's view, deleted
        docs dropped. ``tidx`` is the term's index in ``terms``.

        Under the size rule (_runs_local) the scan runs in the driver
        (_scan_local) and the DataFrame is its LocalTableScan; otherwise
        it is _scan_frame's Spark plan."""
        weights = self._term_weights(terms, dtype, similarity, boosts)
        if where is None and skip is None and self._runs_local(
                self._postings_count(weights, "positions" in extra)):
            return local_frame(self.spark, _scan_schema(dtype, extra),
                               self._scan_local(weights, dtype, extra))
        return self._scan_frame(weights, dtype, extra, where, skip)

    def _scan_frame(self, weights: dict, dtype=np.float32, extra: tuple = (),
                    where=None, skip=None) -> DataFrame:
        """The postings scan on the Spark executor. The term filter
        (ANDed with the Column ``where``, if given) is pushed into the
        parquet scan of the term-sorted postings table (min/max
        row-group pruning = the .tip term index). ``extra`` names the
        per-posting columns to add. ``skip`` gives each postings row the
        block indices not to decode: an array<int> Column over the row,
        or a DataFrame(term, first_docid, skip) joined to it (rows it
        lacks decode whole). Tombstoned docs are anti-joined here, so no
        query can see them (Lucene's acceptDocs, handed to every
        postings enum)."""
        schema = _scan_schema(dtype, extra)
        if not weights:
            return local_frame(self.spark, schema)
        cond = F.col("term").isin(list(weights))
        rows = self._read_postings().filter(
            cond if where is None else cond & where)
        if isinstance(skip, DataFrame):
            rows = rows.join(skip, ["term", "first_docid"], "left")
        elif skip is not None:
            rows = rows.withColumn("skip", skip)
        rows = rows.select(
            "term", "blob", "block_offset", "block_first_docid", "block_n",
            *(["pos_blob"] if "positions" in extra else []),
            *(["skip"] if skip is not None else []))

        def scan(batches):
            for b in batches:
                out = score_postings_batch(b, weights, dtype, extra)
                if out.num_rows:
                    yield out

        cands = rows.mapInArrow(scan, schema=schema)
        excl = self._excluded_frame()
        if excl is not None:
            cands = cands.join(F.broadcast(excl), "docid", "left_anti")
        return cands

    def _clause_rows(self, terms: list[str], dtype=np.float32,
                     similarity=None, boosts: dict | None = None,
                     phrases=(), neg_terms=(), spark: bool = False):
        """A query's clause rows (docid, tidx, score): one per (doc,
        clause) for ``terms`` (clause index = position in ``terms``) and
        for each (clause index, terms, slop, boost) of ``phrases``; a
        phrase of clause index -1 and every term of ``neg_terms`` give
        rows of tidx -1, docids that must not match. Each phrase is
        planned once (its term stats serve the size rule and the
        kernel). Under the size rule (and unless ``spark``) the
        in-process scans give NumPy columns; otherwise the Spark scans
        give one DataFrame. Either is _combine's input."""
        from .phrase import _phrase_plan, _scores, _table
        plans = [(ti, _phrase_plan(self, list(pterms), slop=slop,
                                   dtype=dtype, boost=boost))
                 for ti, pterms, slop, boost in phrases]
        plans = [(ti, p) for ti, p in plans if p is not None]
        if not spark and self._runs_local(
                self._postings_count(list(terms) + list(neg_terms))
                + sum(p.postings for _, p in plans)):
            def cols(tbl, ti=None):
                docid = np.asarray(tbl["docid"])
                return (docid, np.asarray(tbl["tidx"]) if ti is None
                        else np.full(len(docid), ti),
                        np.asarray(tbl["score"]))
            parts = [cols(self._scan_local(self._term_weights(
                         terms, dtype, similarity, boosts), dtype)),
                     cols(self._scan_local(self._weights(list(neg_terms),
                                                         dtype), dtype), -1)]
            parts += [cols(_table(p), ti) for ti, p in plans]
            return dict(zip(("docid", "tidx", "score"),
                            map(np.concatenate, zip(*parts))))

        def tagged(df, ti):
            return df.select("docid", F.lit(ti).cast("int").alias("tidx"),
                             "score")
        rows = self._scored_candidates(terms, dtype=dtype, similarity=similarity,
                                       boosts=boosts).select(
                                           "docid", "tidx", "score")
        if neg_terms:
            rows = rows.unionByName(tagged(self._scored_candidates(
                list(neg_terms), dtype=dtype), -1))
        for ti, p in plans:
            rows = rows.unionByName(tagged(_scores(self, p, dtype), ti))
        return rows

    def _combine(self, rows, nclauses: int, k: int, dtype=np.float32,
                 **roles) -> DataFrame:
        """The finish of every scored query: combine_topk over clause
        rows (a DataFrame, or columns docid/tidx/score held here), under
        combine_frame or here (a <= k-row LocalTableScan)."""
        if isinstance(rows, DataFrame):
            return combine_frame(rows, nclauses, k, dtype, **roles)
        return local_frame(self.spark, result_schema(dtype), _combine_rows(
            *(np.asarray(rows[c]) for c in ("docid", "tidx", "score")),
            nclauses, k, dtype, **roles))

    @staticmethod
    def _clause_roles(q: BooleanQuery, pos_phr: list):
        """(must clause indices, should clause indices, effective
        minimum-should-match) of q's positive clauses: terms first
        (must, then should), then the positive phrases in order."""
        nterms = len(q.must) + len(q.should)
        must = list(range(len(q.must))) + [
            nterms + j for j, p in enumerate(pos_phr) if p.occur == "MUST"]
        should = list(range(len(q.must), nterms)) + [
            nterms + j for j, p in enumerate(pos_phr) if p.occur == "SHOULD"]
        msm = max(q.min_should_match, 0 if must or not should else 1)
        return must, should, msm

    def search(self, query: BooleanQuery | str | list[str], op: str = "OR",
               k: int | None = None, dtype=np.float32,
               similarity=None, after: tuple | None = None,
               doc_filter=None, docid_filter: DataFrame | None = None
               ) -> DataFrame:
        """Top-k DataFrame(docid, score, rank). Accepts a BooleanQuery, a
        raw query string (analyzed), or a pre-analyzed term list + op
        ('OR' | 'AND' | 'MSM<m>'). ``similarity``: None/'bm25' (default),
        'classic' (DefaultSimilarity TF-IDF, the 4.4 default, with coord),
        'lm_dirichlet', 'lm_jm', 'dfr', or a Similarity instance (§2.I).
        ``after=(score, docid)``: searchAfter paging cursor — returns the
        next k hits strictly after that position in (score desc,
        docid asc) order.

        ``doc_filter``: a SQL predicate string or Column over the DOCS
        table — the FilteredQuery / NumericRangeFilter composition
        (ref: search/FilteredQuery.java:44, NumericRangeQuery.java:62):
        hits are restricted to matching docs with scores unchanged
        (ConstantScore filter side). The numeric-trie role is played by
        parquet min/max stats + predicate pushdown on the docs scan —
        the same range-pruning the trie terms buy Lucene.

        ``docid_filter``: a DataFrame with a ``docid`` column — a
        pre-resolved ConstantScore DocSet (e.g. ``index/numeric.py``'s
        ``numeric_range_docids`` trie lookup, or ``cached_filter``);
        hits restrict to it by a semi join, scores unchanged.

        Under the size rule (no filter input, at most LOCAL_POSTINGS
        postings) the query runs here, in the driver, and the result's
        rows are already computed; otherwise it runs when collected."""
        q = self._coerce(query, op, k)
        pos_terms = q.must + q.should
        pos_phr = [p for p in q.phrases if p.occur != "MUST_NOT"]
        nclauses = len(pos_terms) + len(pos_phr)
        if nclauses == 0:
            return local_frame(self.spark, result_schema(dtype))
        # each positional phrase is one clause after the terms (PhraseWeight
        # inside BooleanWeight)
        rows = self._clause_rows(
            pos_terms, dtype, similarity, q.boosts,
            phrases=[(len(pos_terms) + j, p.terms, p.slop, p.boost)
                     for j, p in enumerate(pos_phr)]
            + [(-1, p.terms, p.slop, 1.0) for p in q.phrases
               if p.occur == "MUST_NOT"],
            neg_terms=q.must_not,
            spark=doc_filter is not None or docid_filter is not None)
        if isinstance(rows, DataFrame):
            rows = self._doc_filtered(rows, doc_filter, docid_filter)
            if (len(pos_terms) == 1 and not q.phrases and not q.must_not
                    and after is None and q.min_should_match <= 1):
                # (msm > 1 with one should-term matches nothing; the
                # combine handles that — don't take the fast path)
                # single-term fast path: a term's postings rows hold
                # disjoint docid ranges (base buckets and NRT generations
                # alike) and the scan already dropped deleted docs, so
                # docids are unique — no combine shuffle at all; the plan
                # is scan → score → TakeOrderedAndProject (TermScorer
                # straight into TopScoreDocCollector, TermQuery.java:40)
                return topk_with_rank(rows, q.k)
        must, should, msm = self._clause_roles(q, pos_phr)
        return self._combine(
            rows, nclauses, q.k, dtype, must=must, should=should, msm=msm,
            coord=get_similarity(similarity).uses_coord(), after=after)

    def _doc_filtered(self, rows: DataFrame, doc_filter=None,
                      docid_filter: DataFrame | None = None) -> DataFrame:
        """``rows`` semi-joined to search()'s doc_filter (a predicate over
        the docs table) and docid_filter (a DataFrame of docids). A
        filter keeps or drops all of a doc's rows, so filtering before
        the per-doc combine equals filtering after it."""
        if doc_filter is not None:
            rows = rows.join(self.spark.read.parquet(self.paths.docs)
                             .filter(doc_filter).select("docid"),
                             "docid", "left_semi")
        if docid_filter is not None:
            rows = rows.join(docid_filter.select("docid"), "docid", "left_semi")
        return rows

    # search_wand runs block-max WAND only where it is the cheaper plan:
    # on the Spark executor, from this many candidate postings on. Below
    # it the θ-probe + keep-kernel jobs (~2-3 extra Spark jobs) cost more
    # than decoding everything; in the driver, the exhaustive plan beat
    # the in-process WAND at every size measured (100k-doc gen_docs
    # index: 0.16 vs 0.19 s at 99k postings, 0.66 vs 1.14 s at 1.06M,
    # 1.30 vs 2.95 s at 1.92M) — the cost-based scorer pick
    # BooleanWeight does per-clause; identical results either way
    WAND_MIN_POSTINGS = 1 << 21

    def search_wand(self, terms: list[str] | str, k: int = 10,
                    dtype=np.float32, stats: dict | None = None,
                    force: bool = False) -> DataFrame:
        """Block-max WAND OR top-k (see search/wand.py): exact results,
        block decode skipped where upper bounds can't reach θ.
        stats={} receives the exact blocks_total/blocks_kept counts.
        Cost-based dispatch: the exact disjunction plan runs instead
        (same results, less work) unless the query takes the Spark
        executor with at least WAND_MIN_POSTINGS candidate postings.
        stats={} or force=True always take the WAND path (tests,
        skip-rate measurement); under LOCAL_POSTINGS they are the only
        callers of the in-process WAND."""
        from .wand import search_wand
        if isinstance(terms, str):
            terms = analyze_text(terms)
        terms = list(terms)
        if not force and stats is None:
            n = self._postings_count(terms)
            if n < self.WAND_MIN_POSTINGS or self._runs_local(n):
                return self.search(terms, "OR", k, dtype=dtype)
        return search_wand(self, terms, k=k, dtype=dtype, stats=stats)

    def count(self, query: BooleanQuery | str | list[str], op: str = "OR") -> int:
        """TotalHitCountCollector analog (search/TotalHitCountCollector.java:26):
        number of matching docs, no scoring pass kept."""
        return self.matching_docids(query, op).count()

    def matching_docids(self, query: BooleanQuery | str | list[str],
                        op: str = "OR") -> DataFrame:
        """The Filter/DocSet analog (solr/.../search/DocSetCollector.java):
        the full matching docid set with exact MUST/SHOULD/MUST_NOT +
        minimumNumberShouldMatch semantics and no scores."""
        q = self._coerce(query, op, None)
        pos = list(dict.fromkeys(q.must + q.should))
        msm_eff = q.min_should_match or (1 if q.should and not q.must else 0)
        if len(pos) == 1 and msm_eff <= 1:
            # single-term fast path: docids are unique across a term's
            # bucket rows (disjoint ranges) — no distinct/agg shuffle
            hits = self._scored_candidates(pos).select("docid")
        else:
            cands = self._scored_candidates(pos).select(
                "docid", "tidx").distinct()
            must_idx = {pos.index(t) for t in q.must if t in pos}
            should_idx = [i for i, t in enumerate(pos) if t in q.should]
            agg = cands.groupBy("docid").agg(
                F.sum(F.when(F.col("tidx").isin(list(must_idx)) if must_idx
                             else F.lit(False), 1).otherwise(0)).alias("nmust"),
                F.sum(F.when(F.col("tidx").isin(should_idx) if should_idx
                             else F.lit(False), 1).otherwise(0)).alias("nshould"))
            cond = F.col("nmust") >= len(q.must)
            msm = q.min_should_match or (1 if q.should and not q.must else 0)
            if msm:
                cond = cond & (F.col("nshould") >= msm)
            hits = agg.filter(cond).select("docid")
        if q.must_not:
            neg = self._scored_candidates(q.must_not).select("docid").distinct()
            hits = hits.join(neg, "docid", "left_anti")
        return hits

    _filter_cache: dict = None

    def cached_filter(self, query, op: str = "OR") -> DataFrame:
        """filterCache analog (SolrIndexSearcher.java:146-149): the
        matching docid set, persisted and memoized per query key."""
        if self._filter_cache is None:
            self._filter_cache = {}
        key = (str(query), op)
        if key not in self._filter_cache:
            self._filter_cache[key] = self.matching_docids(query, op).persist()
        return self._filter_cache[key]

    def terms(self, prefix: str | None = None, regex: str | None = None,
              min_df: int = 1, limit: int = 100, sort_by_df: bool = True) -> DataFrame:
        """TermsComponent analog (component/TermsComponent.java:62): term
        dictionary enumeration, prefix/regex bounded, ordered by df."""
        ts = self.spark.read.parquet(self.paths.termstats)
        if prefix:
            ts = ts.filter(F.col("term").startswith(prefix))
        if regex:
            ts = ts.filter(F.col("term").rlike(regex))
        ts = ts.filter(F.col("df") >= min_df)
        order = [F.desc("df"), F.asc("term")] if sort_by_df else [F.asc("term")]
        return ts.orderBy(*order).select("term", "df", "ttf").limit(limit)

    def explain(self, term: str, docid: int) -> dict:
        """Explanation analog (Lucene's Weight.explain): the full BM25
        computation for one (term, doc), from the real index data."""
        import math
        st = self.term_stats([term])
        if not len(st):
            return {"match": False, "reason": "term not in index"}
        df_t = int(st["df"].iloc[0])
        tw = self._weights([term])[term][1]
        # prune to the ONE postings row of the searcher's view whose docid
        # range contains the target (a term's rows hold disjoint ranges,
        # base buckets and NRT generations alike), then
        # decode only the containing 128-doc block — a head term at
        # 10^12 docs costs one row fetch + one block, not the whole
        # postings list on the driver
        rows = (self._read_postings()
                .filter((F.col("term") == term)
                        & (F.col("first_docid") <= int(docid)))
                .orderBy(F.desc("first_docid")).limit(1).collect())
        from ..index.codec import decode_block
        for r in rows:
            bfd = np.asarray(r["block_first_docid"], np.int64)
            bi = int(np.searchsorted(bfd, docid, side="right") - 1)
            if bi < 0:
                continue
            d, tf, nb = decode_block(
                np.frombuffer(r["blob"], np.uint8),
                int(r["block_offset"][bi]), int(bfd[bi]),
                int(r["block_n"][bi]))
            i = np.searchsorted(d, docid)
            if i < len(d) and d[i] == docid:
                score = tw.score(tf[i:i + 1], nb[i:i + 1])[0]
                return {
                    "match": True, "term": term, "docid": int(docid),
                    "score": float(score),
                    "details": {
                        "freq": int(tf[i]), "norm_byte": int(nb[i]),
                        "df": df_t, "max_doc": self.max_doc,
                        "idf": float(tw.weight_value / np.float32(1.2 + 1)),
                        "weight_value(idf*(k1+1))": float(tw.weight_value),
                        "norm_cache(k1*((1-b)+b*dl/avgdl))": float(tw.cache[nb[i]]),
                        "avgdl": float(self._avgdl_for(term)),
                    },
                }
        return {"match": False, "term": term, "docid": int(docid),
                "reason": "doc not in postings"}

    def explain_hits(self, query: str | list[str], op: str = "OR",
                     k: int = 10, dtype=np.float32) -> DataFrame:
        """DebugComponent / Weight.explain over a WHOLE hit set (ref:
        solr/.../component/DebugComponent.java:49 'explain' section;
        Lucene's IndexSearcher.explain per doc): run the query, then
        emit one row per (top-k doc, matching term) with the full BM25
        decomposition — freq, norm byte, df, idf, weightValue
        (idf*(k1+1)), normCache (k1*((1-b)+b*dl/avgdl)) and the term's
        score contribution, joined to the hit's rank + total score.

        The decomposition is the postings scan's own output (tf and
        norm columns beside the score), so contrib is the score the
        search summed. The scan is pruned to the query's terms
        (term-sorted parquet min/max) and joined to the k-row hit set."""
        terms = analyze_text(query) if isinstance(query, str) else list(query)
        top = self.search(terms, op=op, k=k, dtype=dtype)
        weights = self._weights(terms, dtype=dtype)
        ftype = "float" if dtype == np.float32 else "double"
        decomp = (self._scored_candidates(terms, dtype=dtype,
                                          extra=("tf", "norm"))
                  .select("docid", "tidx",
                          F.col("tf").cast("long").alias("freq"),
                          F.col("norm").alias("norm_byte"),
                          F.col("score").alias("contrib")))
        tws = list(weights.values())
        consts = local_frame(
            self.spark,
            "tidx int, term string, df long, idf double, weight_value double",
            {"tidx": [ti for ti, _ in tws], "term": list(weights),
             "df": [int(tw.df) for _, tw in tws],
             "idf": [float(tw.weight_value / dtype(dtype(K1) + dtype(1.0)))
                     for _, tw in tws],
             "weight_value": [float(tw.weight_value) for _, tw in tws]})
        caches = local_frame(
            self.spark, f"tidx int, norm_byte int, norm_cache {ftype}",
            {"tidx": np.repeat([ti for ti, _ in tws], 256),
             "norm_byte": np.tile(np.arange(256), len(tws)),
             "norm_cache": np.concatenate(
                 [tw.cache for _, tw in tws] or [np.empty(0, dtype)])})
        return (top.join(decomp, "docid")
                .join(F.broadcast(consts), "tidx")
                .join(F.broadcast(caches), ["tidx", "norm_byte"])
                .select("docid", "rank", F.col("score").alias("total_score"),
                        "term", "freq", "df", "idf", "weight_value",
                        "norm_byte", "norm_cache", "contrib")
                .orderBy("rank", "term"))

    def fetch_fields(self, topk: DataFrame,
                     cols: tuple[str, ...] = ("url",)) -> DataFrame:
        """Phase 2 of ids-then-fields: stored-field retrieval for the
        merged top-k only (QueryComponent.java:583-648 analog).
        ``cols``: stored fields to attach (e.g. ("url", "text") for
        highlighting)."""
        ids = [r["docid"] for r in topk.select("docid").collect()]
        docs = self.spark.read.parquet(self.paths.docs)
        nrt_docs_path = os.path.join(self.paths.root, "nrt", "docs")
        if self.include_nrt and fsio.exists(nrt_docs_path):
            docs = docs.unionByName(self.spark.read.parquet(nrt_docs_path))
        docs = docs.filter(F.col("docid").isin(ids)).select("docid", *cols)
        return (topk.join(F.broadcast(docs), "docid", "left")
                    .orderBy("rank"))

    def search_edismax(self, should: list, must: list, must_not: list,
                       fields: list[str], field_boosts: dict | None = None,
                       tiebreak: float = 0.0, mm: int = 0, k: int = 10,
                       dtype=np.float32) -> DataFrame:
        """Execution backend of queryparser.parse_dismax (the dismax /
        edismax QParserPlugin analog): every clause is a
        DisjunctionMaxQuery over `fields`; must/must_not/mm per
        DisMaxQParser. Clauses are terms, or ("PHRASE", terms, slop)
        tuples routed through the positional engine per field."""
        if not self.fields:
            raise ValueError("search_edismax requires a multi-field index")
        clauses = list(must) + list(should)
        if not clauses:
            return local_frame(self.spark, result_schema(dtype))
        boost = {f_: (field_boosts or {}).get(f_, 1.0) for f_ in fields}

        def is_phrase(cl):
            return isinstance(cl, tuple) and cl[0] == "PHRASE"

        # group = clause, members = its fields; clause index of a
        # (clause, field): the term clauses first, then the phrase clauses
        groups = [[] for _ in clauses]
        term_keys, term_boosts, phrases = [], {}, []
        for ci, cl in enumerate(clauses):
            for f_ in fields if not is_phrase(cl) else ():
                groups[ci].append(len(term_keys))
                term_keys.append(self.term_key(f_, cl))
                if boost[f_] != 1.0:
                    term_boosts[term_keys[-1]] = boost[f_]
        for ci, cl in enumerate(clauses):
            for f_ in fields if is_phrase(cl) else ():
                groups[ci].append(len(term_keys) + len(phrases))
                phrases.append((groups[ci][-1],
                                [self.term_key(f_, t) for t in cl[1]],
                                cl[2], boost[f_]))
        nclauses = len(term_keys) + len(phrases)
        phrases += [(-1, [self.term_key(f_, t) for t in cl[1]], cl[2], 1.0)
                    for cl in must_not if is_phrase(cl) for f_ in fields]
        rows = self._clause_rows(
            term_keys, dtype, boosts=term_boosts, phrases=phrases,
            neg_terms=[self.term_key(f_, cl) for cl in must_not
                       if not is_phrase(cl) for f_ in fields])
        return self._combine(
            rows, nclauses, k, dtype, groups=groups,
            tie=tiebreak, must=range(len(must)),
            should=range(len(must), len(clauses)), msm=mm)

    def _coerce(self, query, op: str, k: int | None) -> BooleanQuery:
        if isinstance(query, BooleanQuery):
            if k is not None and k != query.k:
                # an explicit k to search() overrides the query's own
                # (callers like the join/boost parsers pass a parsed
                # BooleanQuery but need all hits)
                import dataclasses
                return dataclasses.replace(query, k=k)
            return query
        terms = analyze_text(query) if isinstance(query, str) else list(query)
        if self.fields:
            # bare terms resolve against the default field; terms already
            # carrying a field qualifier (from parse_query) pass through
            from ..index.build import FIELD_SEP
            terms = [t if FIELD_SEP in t else self.term_key(self.default_field, t)
                     for t in terms]
        kk = k or 10
        if op == "AND":
            return BooleanQuery(must=terms, k=kk)
        if op.startswith("MSM"):
            return BooleanQuery(should=terms, min_should_match=int(op[3:]), k=kk)
        return BooleanQuery(should=terms, min_should_match=1, k=kk)

    def search_dismax(self, query: str | list[str], fields: list[str],
                      tiebreak: float = 0.0, k: int = 10,
                      boosts: dict | None = None,
                      dtype=np.float32) -> DataFrame:
        """Solr dismax over real fields (ref: solr/.../search/
        DisMaxQParserPlugin.java:36; ExtendedDismaxQParserPlugin.java:28;
        DisjunctionMaxQuery.java:38): for each query term, score it
        against every field in `fields`; a doc's per-term score is
        max over fields + tiebreak * (sum of the others); the doc score
        sums the per-term dismax values. ``boosts``: per-field boost
        ("qf=title^2 body" — maps field name -> boost)."""
        terms = analyze_text(query) if isinstance(query, str) else list(query)
        if not self.fields:
            raise ValueError("search_dismax requires a multi-field index")
        # group = query term, members = its fields
        keys = [self.term_key(f_, t) for t in terms for f_ in fields]
        if not keys:
            return local_frame(self.spark, result_schema(dtype))
        tboosts = {self.term_key(f_, t): b for t in terms
                   for f_, b in (boosts or {}).items()
                   if f_ in fields and b != 1.0}
        nf = len(fields)
        rows = self._clause_rows(keys, dtype, boosts=tboosts)
        return self._combine(
            rows, len(keys), k, dtype, tie=tiebreak,
            groups=[list(range(i, i + nf)) for i in range(0, len(keys), nf)])
