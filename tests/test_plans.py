"""Physical-plan quality gates: predicate pushdown, column pruning,
broadcast joins, top-k as TakeOrderedAndProject — the things that make
the 100 TB case work. These assert on .explain output so regressions
that silently de-optimize the plan fail CI."""

import os

import pytest

from lucene_solr_1_spark.fixtures.webtext import gen_docs
from lucene_solr_1_spark.index.build import build_index
from lucene_solr_1_spark.search.engine import IndexSearcher


@pytest.fixture(scope="module")
def built(spark, tmp_root):
    docs_pdf = gen_docs(800)
    root = os.path.join(tmp_root, "idx_plans")
    paths = build_index(spark, spark.createDataFrame(docs_pdf), root, num_segments=3)
    return IndexSearcher(spark, paths.root)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_term_filter_pushed_to_postings_scan(spark, built):
    from pyspark.sql import functions as F
    df = (spark.read.parquet(built.paths.postings)
          .filter(F.col("term").isin(["alpha", "beta"]))
          .select("term", "df"))
    plan = _plan(df)
    assert "PushedFilters: [In(term" in plan, plan[:800]
    # column pruning: blob must NOT be read for a stats-only projection
    assert "ReadSchema" in plan and "blob" not in plan.split("ReadSchema")[1][:300]


@pytest.fixture
def spark_executor(monkeypatch):
    """Queries of any size run the Spark plan (the in-process executor
    takes every query on an index this small)."""
    monkeypatch.setattr(IndexSearcher, "LOCAL_POSTINGS", 0)


def test_topk_is_take_ordered(spark, built, spark_executor):
    topk = built.search(["alpha"], "OR", k=10)
    plan = _plan(topk)
    assert "TakeOrderedAndProject" in plan, plan[:1200]


def test_fetch_fields_uses_docid_pushdown(spark, built):
    from pyspark.sql import functions as F
    docs = (spark.read.parquet(built.paths.docs)
            .filter(F.col("docid").isin([1, 2, 3])).select("docid", "url"))
    plan = _plan(docs)
    assert "PushedFilters: [In(docid" in plan


def test_facet_join_broadcasts_hits(spark, built):
    from pyspark.sql import functions as F
    from lucene_solr_1_spark.solr.facets import facet_field
    attrs = spark.read.parquet(built.paths.docs).select(
        "docid", F.length("text").alias("n_chars"))
    hits = spark.createDataFrame([(1,), (2,)], "docid long")
    plan = _plan(facet_field(attrs, hits, "n_chars"))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_analyzer_expr_stays_jvm_side(spark, built):
    """The indexing tokenizer must be pure JVM expressions: no
    Python/pandas UDF node may appear in its plan."""
    from pyspark.sql import functions as F
    from lucene_solr_1_spark.analysis.standard import analyze_expr
    df = (spark.read.parquet(built.paths.docs)
          .select(F.size(analyze_expr("text")).alias("n")))
    plan = _plan(df)
    assert "PythonUDF" not in plan and "ArrowEval" not in plan and "MapInPandas" not in plan


def test_single_term_search_has_no_shuffle(spark, built, spark_executor):
    """Single-term top-k = scan -> score -> TakeOrderedAndProject; the
    combine shuffle (the docid hash exchange under combine_frame) must be
    absent."""
    topk = built.search(["alpha"], "OR", k=10)
    plan = topk._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))
    body = plan.split("===== Subqueries")[0]
    assert "TakeOrderedAndProject" in body
    assert "Exchange" not in body, body[:1500]


@pytest.fixture(scope="module")
def fielded(spark, tmp_root):
    """A positional two-field index: phrase, dismax and edismax plans."""
    import numpy as np
    import pandas as pd
    rng = np.random.default_rng(5)
    vocab = [f"v{i}" for i in range(25)]
    docs = pd.DataFrame(
        [(f"f{i:05d}", " ".join(rng.choice(vocab, 4)),
          " ".join(rng.choice(vocab, 30))) for i in range(300)],
        columns=["url", "title", "body"])
    paths = build_index(spark, spark.createDataFrame(docs),
                        os.path.join(tmp_root, "idx_plans_fielded"),
                        num_segments=2, fields=["title", "body"],
                        positions=True)
    return IndexSearcher(spark, paths.root)


def _children(node) -> list:
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def _walk(node, parent=None):
    """(node, parent) over the physical plan, broadcast sides skipped."""
    if node.nodeName() == "BroadcastExchange":
        return
    yield node, parent
    for kid in _children(node):
        yield from _walk(kid, node)


def _funnels(plan) -> list[str]:
    """Nodes that gather many partitions into one."""
    return [n.nodeName() for n, _ in _walk(plan)
            if n.outputPartitioning().numPartitions() == 1
            and any(k.outputPartitioning().numPartitions() != 1
                    for k in _children(n))]


def _combine_shape(df):
    """The walk's verdict on a top-k plan: its funnels, and per Python
    map-in-Arrow node fed by a docid hash exchange, (node, its parent)."""
    plan = df._jdf.queryExecution().executedPlan().initialPlan()
    top = [plan.nodeName()]
    while len(_children(plan)) == 1 and len(top) < 3:
        plan = _children(plan)[0]
        top.append(plan.nodeName())
    fed = [(n.simpleString(5).split("(")[0], p.nodeName())
           for n, p in _walk(plan) if n.nodeName() == "MapInArrow"
           and any(k.nodeName() == "Exchange" and k.outputPartitioning()
                   .toString().startswith("hashpartitioning(docid")
                   for k in _children(n))]
    return top, _funnels(plan), fed


ONE_COMBINE = (["MapInArrow", "Coalesce", "TakeOrderedAndProject"],
               ["TakeOrderedAndProject"],
               [("MapInArrow combine", "TakeOrderedAndProject")])


def test_one_docid_exchange_feeds_the_combine(spark, fielded,
                                              spark_executor, monkeypatch):
    """Every combining query is scans -> one docid hash exchange -> the
    combine_topk kernel -> topk_with_rank; the only single-partition step
    is topk_with_rank's TakeOrderedAndProject (plans built, not run)."""
    from lucene_solr_1_spark.search.engine import BooleanQuery, PhraseClause
    s = fielded
    v = [s.term_key("body", f"v{i}") for i in range(8)]
    plans = {
        "or": s.search(v[:3], "OR", k=10),
        "and": s.search(v[:2], "AND", k=10),
        "msm2": s.search(v[:4], "MSM2", k=10),
        "must_not": s.search(BooleanQuery(should=v[:2], must_not=[v[2]],
                                          k=10)),
        "phrase": s.search(BooleanQuery(
            should=[v[0]], phrases=[PhraseClause((v[3], v[4]))], k=10)),
        "wand": s.search_wand(v[:3], k=10, force=True),
        "dismax": s.search_dismax(["v1", "v2"], ["title", "body"], 0.1,
                                  k=10),
        "edismax": s.search_edismax(
            ["v4", ("PHRASE", ("v5", "v6"), 0)], ["v1"], ["v7"],
            ["title", "body"], mm=1, k=10),
    }
    # phrase clauses add one positions kernel each (one per field for
    # edismax), fed by its own docid exchange
    kernels = {"phrase": 1, "edismax": 2}
    for name, df in plans.items():
        top, funnels, fed = _combine_shape(df)
        positions = [f for f in fed if f[0] == "MapInArrow positions"]
        assert (top, funnels) == ONE_COMBINE[:2], name
        assert [f for f in fed if f not in positions] == ONE_COMBINE[2], name
        assert positions == [("MapInArrow positions", "Project")] \
            * kernels.get(name, 0), name
    # the walk flags a funnel injected before the combine
    scan = IndexSearcher._scored_candidates
    monkeypatch.setattr(IndexSearcher, "_scored_candidates",
                        lambda self, *a, **kw: scan(self, *a, **kw)
                        .repartition(1))
    top, funnels, fed = _combine_shape(s.search(BooleanQuery(
        should=v[:2], must_not=[v[2]], k=10)))
    assert funnels.count("Exchange") == 2 and fed == ONE_COMBINE[2], funnels


def _docid_exchanges(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().initialPlan()
    return sum(n.nodeName() == "Exchange" and n.outputPartitioning()
               .toString().startswith("hashpartitioning(docid")
               for n, _ in _walk(plan))


def test_one_docid_exchange_feeds_the_positions_kernel(spark, fielded,
                                                       spark_executor):
    """Phrase scoring on the Spark executor is the postings scan -> one
    docid hash exchange -> the positions kernel (map-in-Arrow): no
    first() pivot aggregate, no pandas map. A boolean query with a
    phrase clause shuffles on docid twice, once into the positions
    kernel and once into the combine."""
    from lucene_solr_1_spark.search.engine import BooleanQuery, PhraseClause
    from lucene_solr_1_spark.search.phrase import phrase_search
    s = fielded
    v = [s.term_key("body", f"v{i}") for i in range(8)]
    plans = {
        "phrase_search": (phrase_search(s, [v[3], v[4]], k=10), 1,
                          [("MapInArrow positions", "TakeOrderedAndProject")]),
        "bool_phrase": (s.search(BooleanQuery(
            should=[v[0]], phrases=[PhraseClause((v[3], v[4]))], k=10)), 2,
            [("MapInArrow combine", "TakeOrderedAndProject"),
             ("MapInArrow positions", "Project")]),
    }
    for name, (df, exchanges, fed) in plans.items():
        text = _plan(df)
        assert "first(" not in text and "MapInPandas" not in text, name
        assert _combine_shape(df)[2] == fed, name
        assert _docid_exchanges(df) == exchanges, name


def test_join_query_broadcasts_small_from_side(spark):
    """JoinUtil analog: the collected (value, agg score) set from a
    small from side must reach the to side as a BroadcastHashJoin —
    the TermsQuery set-lookup analog (search/join.py)."""
    import pandas as pd
    from pyspark.sql import functions as F
    from lucene_solr_1_spark.search.join import join_query
    from_df = spark.createDataFrame(pd.DataFrame(
        {"grp": ["a", "b", "a"], "score": [1.0, 2.0, 3.0]}))
    to_df = spark.range(0, 100000).withColumn(
        "val", F.concat(F.lit("k"), (F.col("id") % 50).cast("string")))
    joined = join_query(from_df, "grp", to_df, "val", score_mode="avg")
    plan = _plan(joined)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan[:1500]


def test_winnow_single_doc_shuffle(spark):
    """Winnowing: ONE hash exchange on the doc key — the window min and
    the fingerprint-set groupBy must reuse the same partitioning, not
    shuffle twice (datapipe/dedup.py::winnow_fingerprints)."""
    import pandas as pd
    from lucene_solr_1_spark.datapipe.dedup import winnow_fingerprints
    docs = spark.createDataFrame(pd.DataFrame(
        {"doc_id": [1, 2], "text": ["a b c d e f g h", "x y z w v u t s"]}))
    plan = _plan(winnow_fingerprints(docs))
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, f"{n_exchanges} exchanges:\n" + plan[:2000]


def test_ivf_query_prunes_partitions_no_corpus_agg(spark, tmp_root):
    """Persisted IVF (VERDICT r2 #3): the QUERY path must read only the
    probed cells (PartitionFilters on the cell column) and contain no
    corpus-wide aggregation — centroid work happens once at build."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F
    from lucene_solr_1_spark.datapipe.similarity import (
        build_ivf_index, brute_force_topk, ivf_query)

    rng = np.random.RandomState(3)
    n, dim = 400, 8
    vecs = rng.randn(n, dim).astype(np.float64)
    pdf = pd.DataFrame({"vec_id": [f"v{i:04d}" for i in range(n)],
                        "embedding": [v.tolist() for v in vecs]})
    df = spark.createDataFrame(pdf)
    root = os.path.join(tmp_root, "ivf_idx")
    build_ivf_index(spark, df, root, ncells=8, iters=2)
    q = vecs[7].tolist()
    res = ivf_query(spark, root, q, k=5, nprobe=3)
    plan = _plan(res)
    # partition pruning on cell, no Exchange-feeding aggregation of the
    # corpus in the probe plan
    assert "PartitionFilters: [cell" in plan or \
        "PartitionFilters: [isnotnull(cell" in plan or \
        ("PartitionFilters" in plan and "cell" in
         plan.split("PartitionFilters")[1][:120]), plan[:2000]
    assert "posexplode" not in plan.lower()
    got = res.toPandas()
    # the query vector itself lives in a probed cell -> top hit
    assert got["vec_id"].iloc[0] == "v0007"
    # recall vs brute force with most cells probed
    full = brute_force_topk(df, q, k=5).toPandas()
    wide = ivf_query(spark, root, q, k=5, nprobe=8).toPandas()
    assert wide["vec_id"].tolist() == full["vec_id"].tolist()


def test_ivf_build_reassignment_is_narrow(spark, tmp_root):
    """Lloyd re-assignment (VERDICT r3 #4): nearest-centroid argmax
    must be a per-row expression over the literal centroid set — no
    crossJoin row amplification, no Exchange, no Window — and iters=0
    must still write a valid seed-assignment index (ADVICE r3)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F
    from lucene_solr_1_spark.datapipe.similarity import (
        _assign_cells, _cell_means, build_ivf_index, ivf_query)

    rng = np.random.RandomState(11)
    n, dim = 300, 6
    vecs = rng.randn(n, dim)
    pdf = pd.DataFrame({"vec_id": [f"v{i:04d}" for i in range(n)],
                        "embedding": [v.tolist() for v in vecs]})
    df = spark.createDataFrame(pdf)
    base = df.select("vec_id", F.transform(
        F.col("embedding"), lambda x: x.cast("double")).alias("v"))
    seeded = base.withColumn(
        "cell", F.pmod(F.crc32(F.col("vec_id").cast("string")),
                       F.lit(8)).cast("int"))
    cent_rows = _cell_means(seeded).collect()
    assign = _assign_cells(base, cent_rows)
    plan = _plan(assign)
    assert "Exchange" not in plan, plan[:2000]
    assert "Window" not in plan, plan[:2000]
    assert "Join" not in plan, plan[:2000]
    # argmax parity vs NumPy on every row
    got = {r["vec_id"]: r["cell"] for r in assign.collect()}
    C = np.stack([np.asarray(r["centroid"]) for r in
                  sorted(cent_rows, key=lambda r: r["cell"])])
    cells = [r["cell"] for r in sorted(cent_rows, key=lambda r: r["cell"])]
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
    for i in range(n):
        v = vecs[i]
        exp = cells[int(np.argmax(Cn @ (v / np.linalg.norm(v))))]
        assert got[f"v{i:04d}"] == exp, (i, got[f"v{i:04d}"], exp)

    # iters=0 writes a valid (seed-assignment) index
    root = os.path.join(tmp_root, "ivf_idx0")
    build_ivf_index(spark, df, root, ncells=8, iters=0)
    out = ivf_query(spark, root, vecs[3].tolist(), k=3, nprobe=8).toPandas()
    assert out["vec_id"].iloc[0] == "v0003"
