"""Query engine — exact BM25 top-k over the postings table.

The Spark re-expression of Lucene's read path (SURVEY.md §3.1):

  Query tree            -> BooleanQuery dataclass (terms + occurs)
  createNormalizedWeight-> driver-side stats lookup + per-term
                           TermWeight (idf, 256-entry norm cache)
                           broadcast into the scoring UDF closure
                           (ref: search/TermQuery.java:161,
                            similarities/BM25Similarity.java:207-211)
  Weight.scorer/score   -> ONE postings scan for every query
                           (IndexSearcher._scored_candidates): the
                           searcher's view (base, or base + NRT
                           generations) term-filtered, each Arrow batch
                           decoded + BM25-scored (float32) by
                           score_postings_batch under mapInArrow, then
                           the tombstoned docs anti-joined — live docs
                           applied in the scan itself, as acceptDocs are
                           in TermsEnum.docs (ref: search/TermScorer.java:69-71,
                           search/Weight.java scorer(..., acceptDocs))
  Boolean combination   -> per-doc combine via pivot on term index +
                           left-to-right float32 adds — the same
                           association order as the oracle's scatter-add
                           (ref: search/BooleanScorer.java:30-61;
                            DisjunctionSumScorer/ConjunctionScorer)
  TopScoreDocCollector  -> orderBy(score desc, docid asc).limit(k) =
                           per-partition top-k + driver merge
                           (TakeOrderedAndProject; tie-break matches
                            search/HitQueue.java:22 lessThan)
  ids-then-fields       -> fetch_fields(): collect k docids, pushdown
                           filter on the docs table (the Solr two-phase
                           distributed pattern, SearchHandler.java:229-264)
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


def topk_with_rank(scored: DataFrame, k: int) -> DataFrame:
    """orderBy(score desc, docid asc).limit(k) + 1-based rank.

    TopScoreDocCollector's result array is already sorted
    (search/HitQueue.java:22 lessThan tie-break); the rank is recomputed
    on the ≤k surviving rows inside one small partition instead of an
    unpartitioned row_number window over the whole plan (which warns and
    moves data to a single partition BEFORE the limit)."""
    topk = (scored.select("docid", "score")
            .orderBy(F.desc("score"), F.asc("docid")).limit(k))
    score_t = dict(topk.dtypes)["score"]

    def add_rank(batches):
        buf = [pdf for pdf in batches if len(pdf)]
        pdf = (pd.concat(buf, ignore_index=True) if buf
               else pd.DataFrame({"docid": pd.Series(dtype="int64"),
                                  "score": pd.Series(dtype=score_t.replace(
                                      "float", "float32") if score_t == "float"
                                      else "float64")}))
        pdf = pdf.sort_values(["score", "docid"], ascending=[False, True],
                              kind="mergesort").reset_index(drop=True)
        pdf["rank"] = np.arange(1, len(pdf) + 1, dtype=np.int64)
        yield pdf

    return topk.coalesce(1).mapInPandas(
        add_rank, schema=f"docid long, score {score_t}, rank long")


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
    without partialResults)."""
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
        if include_nrt:
            nrt_docs = os.path.join(root, "nrt", "docs")
            if fsio.exists(nrt_docs):
                extra = spark.read.parquet(nrt_docs).count()
                extra_ttf = (self._read_postings()
                             .filter(F.col("bucket") == -1)
                             .agg(F.sum("ttf")).collect()[0][0] or 0)
                self.max_doc += int(extra)
                self.sum_ttf += int(extra_ttf)

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
                local_files = ([os.path.join(self.paths.termstats, f)
                                for f in fsio.listdir(self.paths.termstats)
                                if f.endswith(".parquet")]
                               if not fsio.is_remote(self.paths.termstats)
                               else [])
                if local_files:
                    # r6: the cache is a DRIVER-side structure over a
                    # <=64 MB local table — read it with pyarrow directly
                    # instead of scheduling a Spark job + toPandas round
                    # trip (one fewer job on every searcher's first query)
                    import pyarrow.parquet as pq
                    pdf = pq.ParquetDataset(local_files).read().to_pandas()
                else:
                    pdf = (self.spark.read.parquet(self.paths.termstats)
                           .toPandas())
                self._ts_cache = pdf.set_index("term", drop=False)
        return self._ts_cache

    # -- stats lookup (Lucene TermStatistics pull, TermQuery.java:161) ----
    def term_stats(self, terms: list[str]) -> pd.DataFrame:
        if not terms:
            return pd.DataFrame(columns=["term", "df", "ttf", "max_tf"])
        if self.include_nrt:
            # recompute from the multi-segment view (base + NRT rows)
            return (self._read_postings().filter(F.col("term").isin(terms))
                    .groupBy("term").agg(F.sum("df").alias("df"),
                                         F.sum("ttf").alias("ttf"),
                                         F.max("max_tf").alias("max_tf"))
                    .toPandas())
        cache = self._termstats_cached()
        if cache is not None:
            hit = [t for t in set(terms) if t in cache.index]
            return cache.loc[hit].reset_index(drop=True)
        return (self.spark.read.parquet(self.paths.termstats)
                .filter(F.col("term").isin(terms)).toPandas())

    def _excluded_docids(self) -> DataFrame | None:
        """Tombstoned docs (the .del bitset analog — applied by EVERY
        reader whenever a tombstones table exists, exactly as Lucene's
        liveDocs are not opt-in): a url tombstoned at generation g
        excludes its copies from earlier generations. Base copies have
        gen -1; docs folded into the base by tiered_compact KEEP their
        generation-bucket docids, so their gen stays derivable from the
        docid alone after the fold."""
        from ..index.build import BUCKET_SHIFT
        from ..streaming.ingest import NRT_BASE_BUCKETS
        tomb_dir = os.path.join(self.paths.root, "tombstones")
        if not fsio.exists(tomb_dir):
            return None
        tombs = (self.spark.read.parquet(tomb_dir)
                 .groupBy("url").agg(F.max("gen").alias("gen")))
        docs = self.spark.read.parquet(self.paths.docs)
        nrt_docs_path = os.path.join(self.paths.root, "nrt", "docs")
        if self.include_nrt and fsio.exists(nrt_docs_path):
            docs = docs.unionByName(
                self.spark.read.parquet(nrt_docs_path),
                allowMissingColumns=True)
        rb = F.shiftrightunsigned(F.col("docid"), BUCKET_SHIFT)
        gen_of = F.when(rb >= NRT_BASE_BUCKETS,
                        rb - F.lit(NRT_BASE_BUCKETS)).otherwise(F.lit(-1))
        return (docs.join(F.broadcast(tombs), "url")
                .filter(gen_of < F.col("gen")).select("docid"))

    def _weights(self, terms: list[str], dtype=np.float32,
                 boosts: dict | None = None):
        """Per-term TermWeights. ``boosts[t]`` multiplies the term's
        weight value (Query.setBoost: weight = boost * idf, so
        weightValue = boost * idf * (k1+1) — BM25Similarity.java:222)."""
        st = self.term_stats(terms).set_index("term")
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

    # -- scoring scan ------------------------------------------------------
    def _scored_candidates(self, terms: list[str], dtype=np.float32,
                           similarity=None, boosts: dict | None = None,
                           extra: tuple = (), where=None,
                           skip=None) -> DataFrame:
        """The postings scan every query runs: DataFrame(docid, tidx,
        score[, tf, norm, positions]) over the searcher's view, deleted
        docs dropped. ``tidx`` is the term's index in ``terms``.

        The term filter (ANDed with the Column ``where``, if given) is
        pushed into the parquet scan of the term-sorted postings table
        (min/max row-group pruning = the .tip term index). ``extra``
        names the per-posting columns to add. ``skip`` gives each
        postings row the block indices not to decode: an array<int>
        Column over the row, or a DataFrame(term, first_docid, skip)
        joined to it (rows it lacks decode whole). Tombstoned
        docs are anti-joined here, so no query can see them (Lucene's
        acceptDocs, handed to every postings enum)."""
        if similarity is None:
            weights = self._weights(terms, dtype=dtype, boosts=boosts)
        else:
            weights = self._sim_weights(terms, similarity, dtype=dtype)
        schema = _scan_schema(dtype, extra)
        if not weights:
            return self.spark.createDataFrame([], schema)
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
        excl = self._excluded_docids()
        if excl is not None:
            cands = cands.join(excl, "docid", "left_anti")
        return cands

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
        hits restrict to it by a semi join, scores unchanged."""
        q = self._coerce(query, op, k)

        def apply_filter(df: DataFrame) -> DataFrame:
            if doc_filter is not None:
                flt = (self.spark.read.parquet(self.paths.docs)
                       .filter(doc_filter).select("docid"))
                df = df.join(flt, "docid", "left_semi")
            if docid_filter is not None:
                df = df.join(docid_filter.select("docid"),
                             "docid", "left_semi")
            return df
        sim = get_similarity(similarity)
        pos_terms = q.must + q.should
        cands = self._scored_candidates(pos_terms, dtype=dtype,
                                        similarity=similarity, boosts=q.boosts)
        nterms = len(pos_terms)
        pos_phr = [p for p in q.phrases if p.occur != "MUST_NOT"]
        neg_phr = [p for p in q.phrases if p.occur == "MUST_NOT"]
        nclauses = nterms + len(pos_phr)
        if nclauses == 0:
            return cands.select(
                "docid", "score", F.lit(1).cast("long").alias("rank")).limit(0)

        if (nclauses == 1 and nterms == 1 and not q.must_not and not neg_phr
                and after is None and q.min_should_match <= 1):
            # (msm > 1 with one should-term matches nothing; the general
            # path below handles that — don't take the fast path)
            # single-term fast path: a term's postings rows hold disjoint
            # docid ranges (base buckets and NRT generations alike) and
            # the scan already dropped deleted docs, so docids are unique
            # — no combine shuffle at all; the plan is
            # scan → score → TakeOrderedAndProject (TermScorer straight
            # into TopScoreDocCollector, TermQuery.java:40)
            return topk_with_rank(apply_filter(cands), q.k)

        if pos_phr:
            # each positional phrase is one clause: its per-doc scores
            # (PhraseWeight inside BooleanWeight) union into the candidate
            # stream under its own clause index
            from .phrase import phrase_scores
            for j, p in enumerate(pos_phr):
                ph = phrase_scores(self, list(p.terms), slop=p.slop,
                                   dtype=dtype, boost=p.boost)
                cands = cands.unionByName(
                    ph.select("docid",
                              F.lit(nterms + j).cast("int").alias("tidx"),
                              "score"))

        # combine per doc: pivot on clause index, add left-to-right (float32
        # association order == oracle scatter-add; adding 0.0f is exact)
        pivoted = (cands.groupBy("docid")
                   .pivot("tidx", list(range(nclauses)))
                   .agg(F.first("score")))
        zero = F.lit(0.0).cast("float" if dtype == np.float32 else "double")
        total = F.coalesce(F.col("0"), zero)
        nmatch = F.col("0").isNotNull().cast("int")
        for i in range(1, nclauses):
            total = total + F.coalesce(F.col(str(i)), zero)
            nmatch = nmatch + F.col(str(i)).isNotNull().cast("int")
        must_idx = list(range(len(q.must))) + [
            nterms + j for j, p in enumerate(pos_phr) if p.occur == "MUST"]
        must_ok = F.lit(True)
        for i in must_idx:
            must_ok = must_ok & F.col(str(i)).isNotNull()
        scored = (pivoted
                  .withColumn("score", total)
                  .withColumn("nmatch", nmatch)
                  .filter(must_ok))
        if sim.uses_coord():
            # coord(overlap, maxOverlap) multiplies the clause-score sum
            # (DefaultSimilarity.java:61-63 via BooleanScorer2 coordFactors).
            # Spark promotes float arithmetic to double; for small int
            # ratios and a float×float product, double-then-cast-to-float
            # equals Java's direct float ops (2k+2 <= 53 double-rounding
            # bound), so this stays bit-identical to the NumPy oracle.
            ftype = "float" if dtype == np.float32 else "double"
            coord = (F.col("nmatch").cast("double")
                     / F.lit(float(dtype(nclauses)))).cast(ftype)
            scored = scored.withColumn(
                "score", (F.col("score") * coord).cast(ftype))
        should_idx = list(range(len(q.must), nterms)) + [
            nterms + j for j, p in enumerate(pos_phr) if p.occur == "SHOULD"]
        has_must = bool(q.must) or any(p.occur == "MUST" for p in pos_phr)
        msm = max(q.min_should_match, 0 if has_must or not should_idx else 1)
        if should_idx and msm:
            smatch = None
            for i in should_idx:
                c = F.col(str(i)).isNotNull().cast("int")
                smatch = c if smatch is None else smatch + c
            scored = scored.filter(smatch >= msm)
        if q.must_not:
            neg = self._scored_candidates(q.must_not, dtype=dtype) \
                      .select("docid").distinct()
            scored = scored.join(neg, "docid", "left_anti")  # ReqExclScorer
        for p in neg_phr:
            from .phrase import phrase_scores
            negp = phrase_scores(self, list(p.terms), slop=p.slop,
                                 dtype=dtype).select("docid")
            scored = scored.join(negp, "docid", "left_anti")
        if after is not None:
            # searchAfter paging (TopScoreDocCollector.java:139-151): only
            # hits strictly after the (score desc, docid asc) cursor
            a_score, a_docid = after
            scored = scored.filter(
                (F.col("score") < F.lit(float(a_score))) |
                ((F.col("score") == F.lit(float(a_score))) &
                 (F.col("docid") > F.lit(int(a_docid)))))
        return topk_with_rank(apply_filter(scored), q.k)

    # below this many candidate postings the θ-probe + keep-kernel jobs
    # (~2-3 extra Spark jobs) cost more than decoding everything — the
    # cost-based scorer pick BooleanWeight does per-clause
    # (BooleanWeight.java scorer cost); identical results either way
    WAND_MIN_POSTINGS = 1 << 21

    def search_wand(self, terms: list[str] | str, k: int = 10,
                    dtype=np.float32, stats: dict | None = None,
                    force: bool = False) -> DataFrame:
        """Block-max WAND OR top-k (see search/wand.py): exact results,
        block decode skipped where upper bounds can't reach θ.
        stats={} receives the exact blocks_total/blocks_kept counts.
        Cost-based dispatch: under WAND_MIN_POSTINGS total candidate
        postings the exact disjunction plan runs instead (same results,
        fewer jobs); force=True always takes the WAND path (tests,
        skip-rate measurement)."""
        from .wand import search_wand
        if isinstance(terms, str):
            terms = analyze_text(terms)
        terms = list(terms)
        if not force and stats is None:
            st = self.term_stats(terms)
            if not len(st) or int(st["df"].sum()) < self.WAND_MIN_POSTINGS:
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
        consts = self.spark.createDataFrame(
            [(ti, t, int(tw.df),
              float(tw.weight_value / dtype(dtype(K1) + dtype(1.0))),
              float(tw.weight_value))
             for t, (ti, tw) in weights.items()],
            "tidx int, term string, df long, idf double, weight_value double")
        caches = self.spark.createDataFrame(
            [(ti, b, float(tw.cache[b]))
             for ti, tw in weights.values() for b in range(256)],
            f"tidx int, norm_byte int, norm_cache {ftype}")
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
        n_must = len(must)
        nf = len(fields)
        ftype = "float" if dtype == np.float32 else "double"
        spark = self.spark
        if not clauses:
            return spark.createDataFrame(
                [], f"docid long, score {ftype}, rank long")
        term_keys, term_boosts = [], {}
        phrase_specs = []      # (clause_idx, field_idx, terms, slop)
        key_of = {}            # (clause_idx, field_idx) -> tidx
        for ci, cl in enumerate(clauses):
            for fi, f_ in enumerate(fields):
                if isinstance(cl, tuple) and cl[0] == "PHRASE":
                    phrase_specs.append((ci, fi, cl[1], cl[2]))
                    key_of[(ci, fi)] = None   # assigned after terms
                else:
                    key = self.term_key(f_, cl)
                    key_of[(ci, fi)] = len(term_keys)
                    term_keys.append(key)
                    b = (field_boosts or {}).get(f_, 1.0)
                    if b != 1.0:
                        term_boosts[key] = b
        cands = self._scored_candidates(term_keys, dtype=dtype,
                                        boosts=term_boosts)
        next_idx = len(term_keys)
        from .phrase import phrase_scores
        for (ci, fi, terms, slop) in phrase_specs:
            key_of[(ci, fi)] = next_idx
            fld = fields[fi]
            qterms = [self.term_key(fld, t) for t in terms]
            b = (field_boosts or {}).get(fld, 1.0)
            ph = phrase_scores(self, qterms, slop=slop, dtype=dtype, boost=b)
            cands = cands.unionByName(
                ph.select("docid", F.lit(next_idx).cast("int").alias("tidx"),
                          "score"))
            next_idx += 1
        piv = (cands.groupBy("docid")
               .pivot("tidx", list(range(next_idx)))
               .agg(F.first("score")))
        zero = F.lit(0.0).cast(ftype)
        total = None
        matched_cols = []
        for ci in range(len(clauses)):
            cols = [F.coalesce(F.col(str(key_of[(ci, fi)])), zero)
                    for fi in range(nf)]
            mx = F.greatest(*cols) if len(cols) > 1 else cols[0]
            summed = cols[0]
            for c in cols[1:]:
                summed = summed + c
            val = (mx + (F.lit(float(tiebreak)).cast(ftype)
                         * (summed - mx))).cast(ftype)
            total = val if total is None else (total + val).cast(ftype)
            matched = None
            for fi in range(nf):
                c = F.col(str(key_of[(ci, fi)])).isNotNull()
                matched = c if matched is None else (matched | c)
            matched_cols.append(matched)
        scored = piv.withColumn("score", total)
        for ci in range(n_must):           # required clauses
            scored = scored.filter(matched_cols[ci])
        if mm and len(clauses) > n_must:
            nmatch = None
            for ci in range(n_must, len(clauses)):
                c = matched_cols[ci].cast("int")
                nmatch = c if nmatch is None else nmatch + c
            scored = scored.filter(nmatch >= mm)
        elif n_must == 0:
            # pure-optional query: at least one clause must match (the
            # pivot already guarantees this — every row matched something)
            pass
        for cl in must_not:
            if isinstance(cl, tuple) and cl[0] == "PHRASE":
                for f_ in fields:
                    qterms = [self.term_key(f_, t) for t in cl[1]]
                    neg = phrase_scores(self, qterms, slop=cl[2],
                                        dtype=dtype).select("docid")
                    scored = scored.join(neg, "docid", "left_anti")
            else:
                keys = [self.term_key(f_, cl) for f_ in fields]
                neg = self._scored_candidates(keys, dtype=dtype) \
                          .select("docid").distinct()
                scored = scored.join(neg, "docid", "left_anti")
        return topk_with_rank(scored, k)

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
        keys, tboosts = [], {}
        for t in terms:
            for f_ in fields:
                key = self.term_key(f_, t)
                keys.append(key)
                b = (boosts or {}).get(f_, 1.0)
                if b != 1.0:
                    tboosts[key] = b
        cands = self._scored_candidates(keys, dtype=dtype, boosts=tboosts)
        nf = len(fields)
        piv = (cands.groupBy("docid")
               .pivot("tidx", list(range(len(keys))))
               .agg(F.first("score")))
        ftype = "float" if dtype == np.float32 else "double"
        zero = F.lit(0.0).cast(ftype)
        total = None
        for ti in range(len(terms)):
            cols = [F.coalesce(F.col(str(ti * nf + fi)), zero)
                    for fi in range(nf)]
            mx = F.greatest(*cols) if len(cols) > 1 else cols[0]
            summed = cols[0]
            for c in cols[1:]:
                summed = summed + c
            per_term = (mx + (F.lit(float(tiebreak)).cast(ftype)
                              * (summed - mx))).cast(ftype)
            total = per_term if total is None else (total + per_term).cast(ftype)
        # only docs matching at least one (term, field) survive the pivot
        return topk_with_rank(piv.withColumn("score", total), k)
