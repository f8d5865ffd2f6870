"""sf1 stress row (VERDICT r2 next-round item #6): run the most
expensive registry queries and the KG build at 10-100x the usual
correctness/bench scales to confirm no hidden quadratic.

The documents corpus is synthesized from the engine's deterministic
repos generator (datagen.generate_repos — same near-dup block
structure the P/R gate uses: ~40% of rows in 4-member duplicate
clusters), mapped onto the documents schema. Nothing is written under
/root/testdata; everything lands in a temp dir (or --out).

Per dedup query the script also logs the SHAPE diagnostics a quadratic
would show up in first:
- minhash band bucket-size histogram tail (top sizes + how many
  buckets exceed the salting threshold);
- candidate-pair count vs corpus size (near-linear for block-structured
  corpora; quadratic blowup = red flag);
- output row counts.

Usage:
    python tools/stress_sf1.py [--docs-rows 50000] [--kg-rows 8000000]
                               [--cores 32] [--skip-kg]

Prints one JSON line (plus human-readable progress on stderr).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

# the expensive tail of the registry at sf0.1 (BENCH r2): every
# dedup/cluster family that could hide a quadratic
STRESS_QUERIES = [
    "docs_minhash_pairs",
    "docs_jaccard_pairs",
    "docs_simhash_pairs",
    "docs_repetition",
    "docs_line_dedup",
    # corpus_clean legitimately returns 0 survivors on THIS corpus: the
    # repos generator builds text from small sentence banks, so every
    # doc shares >= DECON_MIN_OVERLAP shingles with the eval slice and
    # the decontamination stage (correctly) drops the whole corpus. It
    # stays in the list because the full pipeline still has to SCALE
    # through its dedup window + shingle join to produce that answer.
    "corpus_clean",
    "docs_duplicate_clusters",
    # round-3 additions: the statistical-LM selection pair (model build
    # + broadcast scoring must stay linear in corpus size)
    "docs_lm_perplexity",
    "docs_dsir_weights",
    # span family: linear by construction (one row per corpus token),
    # but a dup-heavy corpus (~40% clustered) maximizes the census
    # survivor set and the scrub's marked-span join — the exact spot
    # output inflation would show
    "docs_span_dedup",
    "docs_span_scrub",
    # round-3 wave 2: the incremental span quarantine (batch spans
    # broadcast into a 50k-doc corpus span stream), the one-shuffle
    # cross-source policy dedup, and the two-agg novelty census — all
    # linear-shaped; the dup-heavy corpus maximizes their matched rows
    "docs_incremental_spans",
    "docs_cross_source_dedup",
    "docs_ngram_novelty",
    # asymmetric containment shares the jaccard df-cutoff inverted
    # index — same candidate-pair safety question at 50k docs
    "docs_containment_pairs",
]


class _StressDone(Exception):
    """Early exit for --queries runs (control flow, not an error)."""


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def make_documents(spark, n_rows: int, out_dir: str) -> str:
    from deja_view_spark.datagen import generate_repos

    # generate_repos exposes (repo, path, commit, lang, content) — the
    # row id is generator-internal, so mint doc_id from the unique path.
    # lang is mapped into the documents table's natural-language domain:
    # corpus_clean's stratified-sample stage keys its keep rates on
    # {en,de,es,fr,zh}, and a lang outside that domain samples to zero.
    langs = F.array(*[F.lit(x) for x in ("en", "de", "es", "fr", "zh")])
    docs = generate_repos(spark, n_rows).select(
        F.xxhash64("path").alias("doc_id"),
        F.col("content").alias("text"),
        F.element_at(
            langs, (F.abs(F.xxhash64("lang")) % 5 + 1).cast("int")
        ).alias("lang"),
        F.col("repo").alias("source"),
        F.length("content").cast("long").alias("n_chars"),
    )
    path = f"{out_dir}/documents.parquet"
    docs.write.mode("overwrite").parquet(path)
    # embeddings table (vec_id, embedding, label) via the engine's
    # deterministic embedder — lets the stress row exercise the
    # embedding-space operators (SemDeDup) at 100x the registry scale
    from deja_view_spark.functions.embedding import make_embed_udf

    embed = make_embed_udf(dim=64, seed=42)
    spark.read.parquet(path).select(
        F.col("doc_id").alias("vec_id"),
        embed(F.col("text")).alias("embedding"),
        (F.col("doc_id") % 10).cast("int").alias("label"),
    ).write.mode("overwrite").parquet(f"{out_dir}/embeddings.parquet")
    return out_dir


def make_events(spark, n_rows: int, out_dir: str) -> None:
    """Deterministic skewed event log (sf1 ~ 10x the sf0.1 testdata
    stream): ~10% of rows concentrate on 100 hot users and ~5% on 50
    hot items, so the graph/sequence operators' hub-suppression paths
    (link-prediction apex cap, market-basket basket cap, kcore peel)
    are actually exercised rather than dodged by a uniform corpus."""
    n_users = max(1_000, n_rows // 100)
    n_items = max(2_000, n_rows // 67)

    def h(salt: int):
        return F.xxhash64(F.col("id"), F.lit(salt))

    user = F.when(
        F.pmod(h(2), F.lit(10)) == 0, F.pmod(h(3), F.lit(100))
    ).otherwise(F.pmod(h(1), F.lit(n_users)))
    item = F.when(
        F.pmod(h(5), F.lit(20)) == 0, F.pmod(h(6), F.lit(50))
    ).otherwise(F.pmod(h(4), F.lit(n_items)))
    types = F.array(
        *[F.lit(t) for t in
          ("view", "click", "purchase", "share", "login", "logout")]
    )
    spark.range(n_rows).select(
        F.col("id").alias("event_id"),
        F.timestamp_seconds(
            F.lit(1704067200) + F.pmod(h(7), F.lit(90 * 86400))
        ).alias("ts"),
        user.cast("long").alias("user_id"),
        F.element_at(types, (F.pmod(h(8), F.lit(6)) + 1).cast("int")).alias(
            "event_type"
        ),
        (F.pmod(h(9), F.lit(1000)) / 10.0).alias("value"),
        F.concat(
            F.lit('{"k": '), item.cast("string"), F.lit("}")
        ).alias("props"),
    ).write.mode("overwrite").parquet(f"{out_dir}/events.parquet")


def bucket_histogram(spark, sf_dir: str) -> dict:
    """MinHash band bucket-size tail — the statistic that decides
    whether the bucket-local pair generation stays near-linear (the
    oversized tail is what operators/selfjoin.py re-routes through the
    salted join)."""
    from deja_view_spark.functions.hashing import make_minhash_bands_udf

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    mh = make_minhash_bands_udf(bands=16, rows=4, shingle_k=3, seed=7)
    sizes = (
        docs.select(F.explode(mh(F.col("text"))).alias("band"))
        .groupBy("band")
        .count()
    )
    top = [int(r["count"]) for r in sizes.orderBy(F.desc("count")).limit(10).collect()]
    agg = sizes.agg(
        F.count("*").alias("n_buckets"),
        F.sum(F.when(F.col("count") > 200, 1).otherwise(0)).alias("n_over_salt"),
        F.sum((F.col("count") * (F.col("count") - 1) / 2).cast("long")).alias(
            "candidate_pairs_upper"
        ),
    ).first()
    return {
        "top_bucket_sizes": top,
        "n_buckets": int(agg["n_buckets"]),
        "n_buckets_over_salt_threshold": int(agg["n_over_salt"]),
        "candidate_pairs_upper_bound": int(agg["candidate_pairs_upper"]),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs-rows", type=int, default=50_000)
    ap.add_argument("--kg-rows", type=int, default=8_000_000)
    ap.add_argument("--cores", type=int, default=32)
    ap.add_argument("--skip-kg", action="store_true")
    ap.add_argument("--events-rows", type=int, default=1_000_000)
    ap.add_argument("--out", default=None)
    ap.add_argument("--sq8-stress", action="store_true")
    ap.add_argument(
        "--queries",
        default=None,
        help="comma-separated registry names to stress instead of the "
        "built-in STRESS_QUERIES list (documents/embeddings-backed "
        "queries only — the stress corpus has no relational tables)",
    )
    args = ap.parse_args()
    stress_queries = (
        args.queries.split(",") if args.queries else STRESS_QUERIES
    )

    from deja_view_spark.session import get_spark
    import __spark_entry__ as E

    out_dir = args.out or tempfile.mkdtemp(prefix="stress_sf1_")
    spark = get_spark(app_name="stress-sf1", cores=args.cores)
    spark.sparkContext.setLogLevel("ERROR")

    result: dict = {
        "metric": "sf1_stress",
        "docs_rows": args.docs_rows,
        "cores": args.cores,
    }
    try:
        t0 = time.time()
        make_documents(spark, args.docs_rows, out_dir)
        result["gen_sec"] = round(time.time() - t0, 1)
        log(f"generated {args.docs_rows} docs in {result['gen_sec']}s")

        if any(q.startswith(("events_", "kg_")) for q in stress_queries):
            t0 = time.time()
            make_events(spark, args.events_rows, out_dir)
            result["events_rows"] = args.events_rows
            result["events_gen_sec"] = round(time.time() - t0, 1)
            log(f"generated {args.events_rows} events in "
                f"{result['events_gen_sec']}s")

        result["bucket_histogram"] = bucket_histogram(spark, out_dir)
        log(f"bucket histogram: {result['bucket_histogram']}")

        qs = E.queries()
        timings: dict[str, dict] = {}
        for name in stress_queries:
            t0 = time.time()
            df = qs[name](spark, out_dir)
            n = df.count()
            timings[name] = {"sec": round(time.time() - t0, 1), "rows": n}
            log(f"{name}: {timings[name]}")
        result["queries"] = timings

        if args.sq8_stress:
            # SQ8 quantize + integer-dot top-k at 100x: the registry
            # query's `vec_id < 10` probe predicate assumes the
            # testdata id domain (stress ids are xxhash64 — half are
            # negative), so probes are minted as ~1/1000 of the hashed
            # ids and the scoring stage is replayed directly on the
            # shared code builder.
            from pyspark.sql import Window

            from deja_view_spark.queries_retrieval import _sq8_codes

            t0 = time.time()
            codes = _sq8_codes(spark, out_dir)
            probes = codes.where("vec_id % 1000 = 0").select(
                F.col("vec_id").alias("probe_id"), F.col("q").alias("qp")
            )
            n_probes = probes.count()
            scored = codes.join(
                F.broadcast(probes), F.col("vec_id") != F.col("probe_id")
            ).select(
                "probe_id",
                F.col("vec_id").alias("neighbor_id"),
                F.aggregate(
                    F.zip_with("q", "qp", lambda a, b: a * b),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x,
                ).alias("dot_q"),
            )
            w = Window.partitionBy("probe_id").orderBy(
                F.desc("dot_q"), F.asc("neighbor_id")
            )
            n = (
                scored.withColumn("r", F.row_number().over(w))
                .where("r <= 3")
                .count()
            )
            result["sq8_stress"] = {
                "n_probes": n_probes,
                "sec": round(time.time() - t0, 1),
                "rows": n,
            }
            log(f"sq8_stress: {result['sq8_stress']}")

        if args.queries:
            # explicit --queries run: the operator-family extras below
            # are already banked in earlier stress artifacts — skip
            # straight to cleanup
            raise _StressDone

        # SemDeDup at the scale-correct configuration: the paper grows
        # the cluster count with the corpus (50k clusters for 600M
        # docs) so per-cluster blocks stay bounded — the registry query
        # pins 16 centroids for its DuckDB oracle; here k tracks rows
        # (~200 docs/cluster) and the block-local join is what gets
        # stressed.
        from deja_view_spark.operators.semdedup import semantic_dedup

        k = max(16, args.docs_rows // 200)
        emb = spark.read.parquet(f"{out_dir}/embeddings.parquet")
        t0 = time.time()
        n = semantic_dedup(emb, n_centroids=k, eps=0.85).count()
        result["semdedup_stress"] = {
            "n_centroids": k,
            "sec": round(time.time() - t0, 1),
            "rows_dropped": n,
        }
        log(f"semdedup_stress: {result['semdedup_stress']}")

        # incremental probe at the same scale-correct k (the registry
        # query pins 16 centroids for its oracle; at 50k docs that
        # pinning costs ~100s of cluster-local cosines vs seconds here)
        from deja_view_spark.operators.semdedup import (
            incremental_semantic_dedup,
            medoid_centroids,
        )

        batch = emb.where("vec_id % 10 = 0")
        corpus = emb.where("vec_id % 10 <> 0")
        cents = medoid_centroids(corpus, n_centroids=k)
        t0 = time.time()
        n = incremental_semantic_dedup(
            batch, corpus, eps=0.85, cents=cents
        ).count()
        result["incremental_semdedup_stress"] = {
            "n_centroids": k,
            "sec": round(time.time() - t0, 1),
            "batch_rows_dropped": n,
        }
        log(f"incremental_semdedup_stress: "
            f"{result['incremental_semdedup_stress']}")

        # PQ encode + IVF-PQ ADC search at 100x: codebook fits are
        # k-row broadcasts regardless of corpus size; the search's
        # probe set is minted deterministically (the registry query's
        # `vec_id < 50` predicate assumes the testdata id domain, so
        # the stress row picks ~1/1000 of the hashed ids instead).
        from deja_view_spark.operators.kmeans import pq_assignments
        from deja_view_spark.operators.ann import ivfpq_topk_det

        t0 = time.time()
        n = pq_assignments(emb, m=4, subdim=16, k=8, rounds=1).count()
        result["pq_stress"] = {
            "sec": round(time.time() - t0, 1), "rows": n,
        }
        log(f"pq_stress: {result['pq_stress']}")

        probes = emb.where("vec_id % 1000 = 0").select(
            F.col("vec_id").alias("probe_id"),
            F.col("embedding").alias("probe_vec"),
        )
        n_probes = probes.count()
        t0 = time.time()
        n = ivfpq_topk_det(
            emb, probes, k=3,
            n_centroids=max(16, args.docs_rows // 200), nprobe=6,
        ).count()
        result["ivfpq_stress"] = {
            "n_probes": n_probes,
            "n_centroids": max(16, args.docs_rows // 200),
            "sec": round(time.time() - t0, 1),
            "rows": n,
        }
        log(f"ivfpq_stress: {result['ivfpq_stress']}")

        if not args.skip_kg:
            out = subprocess.run(
                [
                    sys.executable,
                    os.path.join(os.path.dirname(os.path.abspath(__file__)), "kg_run.py"),
                    "--cores",
                    str(args.cores),
                    "--rows",
                    str(args.kg_rows),
                ],
                capture_output=True,
                text=True,
                timeout=3600,
            )
            import re

            m = re.search(r'\{"cores".*\}', out.stdout)
            if m:
                result["kg"] = json.loads(m.group(0))
                log(f"kg: {result['kg']}")
            else:
                result["kg"] = {"error": out.stdout[-500:] + out.stderr[-500:]}
    except _StressDone:
        pass
    finally:
        if not args.out:
            shutil.rmtree(out_dir, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
