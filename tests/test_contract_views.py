"""contract.register_views: temp views belong to one SparkSession, so the
registration memo is per session, not per Spark application."""

import os

from lucene_solr_1_spark import contract


def test_register_views_is_memoized_per_session(spark, tmp_root, monkeypatch):
    sf_dir = os.path.join(tmp_root, "views_sf")
    spark.createDataFrame([(1, "a b"), (2, "c")], "doc_id long, text string") \
        .write.mode("overwrite").parquet(f"{sf_dir}/documents.parquet")
    monkeypatch.setattr(contract, "TABLES", ["documents"])
    monkeypatch.setattr(contract, "_VIEWS_CURRENT", {})
    contract.register_views(spark, sf_dir)
    assert spark.sql("SELECT count(*) FROM documents").first()[0] == 2
    # a new session of the same application has no temp views of its own
    other = spark.newSession()
    assert not other.catalog.tableExists("documents")
    contract.register_views(other, sf_dir)
    assert other.sql("SELECT count(*) FROM documents").first()[0] == 2
    # the same session and sf_dir: memoized, nothing re-registered
    spark.catalog.dropTempView("documents")
    contract.register_views(spark, sf_dir)
    assert not spark.catalog.tableExists("documents")
