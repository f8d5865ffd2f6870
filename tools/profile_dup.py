"""Profile the duplicate-edge stage sub-phase by sub-phase at one
parallelism level. Usage:

    python tools/profile_dup.py --cores 32 --rows 1000000 [--prep]

--prep (re)builds the shared input (repos parquet + kg_embeddings with
stored bands) under /tmp/dup_prof; profiling runs then read identical
bytes at any core count.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window
from pyspark.sql import functions as F

from deja_view_spark.datagen import generate_repos
from deja_view_spark.operators.selfjoin import _similarity, candidate_pairs_stored
from deja_view_spark.functions.similarity import cosine_sim
from deja_view_spark.plans.pipeline import KGPipeline
from deja_view_spark.session import get_spark

BASE = "/tmp/dup_prof"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, default=32)
    ap.add_argument("--rows", type=int, default=1_000_000)
    ap.add_argument("--prep", action="store_true")
    args = ap.parse_args()

    spark = get_spark(app_name=f"dup-prof-{args.cores}", cores=args.cores)
    spark.sparkContext.setLogLevel("ERROR")
    t: dict[str, float] = {}

    if args.prep:
        src_path = f"{BASE}/repos_src"
        generate_repos(spark, args.rows).repartition(64).write.mode(
            "overwrite"
        ).parquet(src_path)
        pipe = KGPipeline(spark, spark.read.parquet(src_path), f"{BASE}/kg")
        t0 = time.time()
        pipe.build_embeddings()
        t["prep_embeddings"] = time.time() - t0
        print(json.dumps({"prep": True, **{k: round(v, 2) for k, v in t.items()}}))
        return

    from deja_view_spark.deploy import ensure_py_files

    ensure_py_files(spark)
    emb = spark.read.parquet(f"{BASE}/kg/kg_embeddings")

    # phase 1: band rows -> distinct candidate pairs (the band
    # equi-join of the build path)
    t0 = time.time()
    pairs = candidate_pairs_stored(emb, "repo").localCheckpoint(eager=True)
    t["pairs_ckpt"] = time.time() - t0
    n_band_rows = -1
    n_pairs = pairs.count()

    t0 = time.time()
    vecs = emb.select("doc_id", "vector")
    scored = (
        pairs.join(
            vecs.withColumnRenamed("doc_id", "src").withColumnRenamed("vector", "_va"),
            "src",
        )
        .join(
            vecs.withColumnRenamed("doc_id", "dst").withColumnRenamed("vector", "_vb"),
            "dst",
        )
        .withColumn("_cos", cosine_sim(F.col("_va"), F.col("_vb"), True))
        .withColumn("similarity", F.round(_similarity(F.col("_cos"), "report"), 4))
        .where(F.col("similarity") >= 0.85)
        .select("src", "dst", "similarity")
    ).localCheckpoint(eager=True)
    t["verify_ckpt"] = time.time() - t0
    n_scored = scored.count()

    t0 = time.time()
    directed = scored.unionByName(
        scored.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "similarity")
    )
    w = Window.partitionBy("src").orderBy(F.desc("similarity"), F.asc("dst"))
    n_edges = (
        directed.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .count()
    )
    t["topk_count"] = time.time() - t0

    print(
        json.dumps(
            {
                "cores": args.cores,
                "band_rows": n_band_rows,
                "pairs": n_pairs,
                "scored": n_scored,
                "edges": n_edges,
                "total_sec": round(sum(t.values()), 2),
                "phases": {k: round(v, 2) for k, v in t.items()},
            }
        )
    )


if __name__ == "__main__":
    main()
