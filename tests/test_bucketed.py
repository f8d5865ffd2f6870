"""Bucketed co-located join: the physical plan must contain NO
Exchange on either side (the shuffle was paid at write time), and the
results must match a plain join of the unbucketed frames."""

import pytest

from pyspark.sql import functions as F

from deja_view_spark.sources.bucketed import (
    bucketed_join,
    write_bucketed,
)


@pytest.fixture()
def frames(spark):
    docs = spark.range(0, 2000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 7).alias("repo_bucket"),
        F.sha2(F.col("id").cast("string"), 256).alias("sha256"),
    )
    meta = spark.range(0, 2000, 2).select(  # every other doc has metadata
        F.col("id").alias("doc_id"),
        (F.col("id") * 3).alias("score"),
    )
    return docs, meta


def test_bucketed_join_no_exchange_and_correct(spark, frames):
    # managed tables land in the session's default warehouse;
    # DROP TABLE below deletes their files
    docs, meta = frames
    try:
        write_bucketed(docs, "t_docs_b", "doc_id", buckets=8)
        write_bucketed(meta, "t_meta_b", "doc_id", buckets=8)
        joined = bucketed_join(spark, "t_docs_b", "t_meta_b", "doc_id")

        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan, plan

        got = {(r["doc_id"], r["score"]) for r in joined.collect()}
        want = {
            (r["doc_id"], r["score"])
            for r in docs.join(meta, "doc_id").collect()
        }
        assert got == want and len(got) == 1000
    finally:
        spark.sql("DROP TABLE IF EXISTS t_docs_b")
        spark.sql("DROP TABLE IF EXISTS t_meta_b")


def test_bucketed_sorted_scan_skips_sort(spark, frames):
    """sortBy at write time: the SMJ's sort nodes disappear too — the
    scan feeds the join in order. Sort-order propagation from bucketed
    scans is opt-in since Spark 3.0 (it forces the one-file-per-bucket
    read path), so the test enables the conf and writes one file per
    bucket."""
    docs, meta = frames
    conf = "spark.sql.legacy.bucketedTableScan.outputOrdering"
    try:
        spark.conf.set(conf, "true")
        # one file per bucket (sort metadata is only trusted then)
        write_bucketed(docs.coalesce(1), "t_docs_s", "doc_id", buckets=8)
        write_bucketed(meta.coalesce(1), "t_meta_s", "doc_id", buckets=8)
        joined = bucketed_join(spark, "t_docs_s", "t_meta_s", "doc_id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        # Sort nodes would read "Sort [doc_id ..." above the join inputs
        assert "Sort [" not in plan, plan
    finally:
        spark.conf.set(conf, "false")
        spark.sql("DROP TABLE IF EXISTS t_docs_s")
        spark.sql("DROP TABLE IF EXISTS t_meta_s")
