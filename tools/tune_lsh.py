"""P/R gate for the LSH duplicate extraction (SURVEY §7.4.3).

Generates the synthetic repos corpus at a given size, computes
duplicate edges two ways:
- exact: NumPy per-repo exhaustive cosine + reference semantics
  (threshold, top-3, mirroring) — the oracle;
- spark: the engine's minhash (or lsh) path;
and reports precision/recall of edges. The BASELINE gate is P/R>=0.95.

Usage: python tools/tune_lsh.py [n_rows] [threshold] [method]
"""

from __future__ import annotations

import os
import sys
import time
from collections import defaultdict

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from deja_view_spark.datagen import generate_repos
from deja_view_spark.functions.embedding import embed_numpy
from deja_view_spark.operators.selfjoin import duplicate_edges
from deja_view_spark.plans.pipeline import KGPipeline
from deja_view_spark.session import get_spark


def exact_edges_numpy(docs, threshold: float, top_k: int, dim: int):
    """Reference-semantics exact edges: per-src top-k above threshold,
    scoped per repo, report convention sim=(1+cos)/2."""
    by_repo = defaultdict(list)
    for d in docs:
        by_repo[d["repo"]].append(d)
    edges = set()
    for repo, rows in by_repo.items():
        ids = [r["doc_id"] for r in rows]
        vecs = embed_numpy([r["doc_text"] for r in rows], dim=dim)
        S = vecs @ vecs.T
        sim = np.round((1.0 + S) / 2.0, 4)
        np.fill_diagonal(sim, -1)
        n = len(ids)
        order = np.argsort(ids)  # tie-break by dst asc — match Spark
        for i in range(n):
            cand = [(sim[i, j], ids[j]) for j in range(n) if sim[i, j] >= threshold]
            cand.sort(key=lambda t: (-t[0], t[1]))
            for s, dst in cand[:top_k]:
                edges.add((ids[i], dst))
    return edges


def main():
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000
    threshold = float(sys.argv[2]) if len(sys.argv) > 2 else 0.85
    method = sys.argv[3] if len(sys.argv) > 3 else "minhash"
    dim = 128

    spark = get_spark(cores=16)
    src = generate_repos(spark, n_rows)
    pipe = KGPipeline(spark, src, "/tmp/_tune_lsh_out", threshold=threshold,
                      dim=dim, method=method)
    docs_df = pipe.documents().select("doc_id", "repo", "doc_text")
    docs = [r.asDict() for r in docs_df.collect()]
    t0 = time.time()
    exact = exact_edges_numpy(docs, threshold, 3, dim)
    print(f"exact edges: {len(exact)} ({time.time()-t0:.1f}s)")

    from deja_view_spark.functions.embedding import make_embed_udf
    emb = docs_df.select(
        "doc_id", "repo", make_embed_udf(dim=dim)(F.col("doc_text")).alias("vector")
    )
    t0 = time.time()
    got = {
        (r.src, r.dst)
        for r in duplicate_edges(
            emb, threshold=threshold, top_k=3, scope_col="repo",
            convention="report", method=method, bands=pipe.bands,
            rows=pipe.rows, text=docs_df,
        ).collect()
    }
    print(f"{method} edges: {len(got)} ({time.time()-t0:.1f}s)")
    tp = len(got & exact)
    prec = tp / max(1, len(got))
    rec = tp / max(1, len(exact))
    print(f"precision={prec:.4f} recall={rec:.4f}  (gate: both >= 0.95)")
    missed = list(exact - got)[:5]
    spurious = list(got - exact)[:5]
    if missed:
        print("sample missed:", missed)
    if spurious:
        print("sample spurious:", spurious)


if __name__ == "__main__":
    main()
