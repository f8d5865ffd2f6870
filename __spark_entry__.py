"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship duplicate-edge extraction (the
reference's find-duplicates loop, cli.py:459-678, re-designed as one
distributed LSH self-join) over the sf0.001 documents corpus.

``queries()`` / ``oracle_sql()`` expose every driver-checkable operator
(see deja_view_spark/queries.py); the KG pipeline itself is covered by
tests/ (its repos source table is engine-synthesized, so it has no
pre-registered DuckDB view).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from deja_view_spark import queries as Q  # noqa: E402
from deja_view_spark.deploy import ensure_py_files  # noqa: E402
from deja_view_spark.functions.embedding import make_embed_udf  # noqa: E402
from deja_view_spark.operators.selfjoin import duplicate_edges  # noqa: E402
from deja_view_spark.sources.catalog import load_table  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: embed the documents corpus with the deterministic
    vectorized embedder, then extract duplicate edges via the LSH band
    self-join (threshold 0.8, top-3 per source, report-convention
    similarity = 1 - d/2 per reference cli.py:550)."""
    ensure_py_files(spark)  # --py-files equivalent for arbitrary sessions
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    embed = make_embed_udf(dim=64, seed=42)
    emb = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        embed(F.col("text")).alias("vector"),
    )
    return duplicate_edges(
        emb, threshold=0.8, top_k=3, convention="report", method="lsh"
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    def _wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            ensure_py_files(spark)
            return fn(spark, sf_dir)

        return run

    return {name: _wrap(fn) for name, fn in Q.QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    return dict(Q.ORACLES)
