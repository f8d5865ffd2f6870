"""Thin CLI over the engine — the reference's UX verbs (cli.py:
index / find / find-duplicates / suggest-discussions, plus
discussions-metrics from discussions_metrics.py:382-410), re-pointed
at parquet tables and the distributed operators.

    python tools/cli.py index --input DOCS.parquet --out INDEX_DIR
    python tools/cli.py find URL_OR_ID --index INDEX_DIR [-k 10] [-s 0.0]
    python tools/cli.py find-duplicates --index INDEX_DIR \
        --output report.md [--threshold 0.8] [--json]
    python tools/cli.py suggest-discussions --input DOCS.parquet [-n 20]
    python tools/cli.py metrics --input DOCS.parquet [--output report.md]
    python tools/cli.py graph {stats|clusters|neighbors|two-hop|pagerank} \
        --triples KG_DIR [--node N] [--pred P --pred2 Q] [--limit 20]

DOCS.parquet is a documents-shaped table (doc_id, text[, ...]) — the
same shape the driver testdata ships. The index dir is an embeddings
parquet (doc_id, vector) written by `index`.
"""

from __future__ import annotations

import argparse
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def _spark(cores: int):
    from deja_view_spark.session import get_spark

    s = get_spark(app_name="deja-view-cli", cores=cores)
    s.sparkContext.setLogLevel("ERROR")
    return s


def cmd_index(args) -> int:
    from deja_view_spark.functions.embedding import make_embed_udf

    spark = _spark(args.cores)
    docs = spark.read.parquet(args.input)
    embed = make_embed_udf(dim=args.dim)
    emb = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        embed(F.col(args.text_col)).alias("vector"),
    )
    emb.write.mode("overwrite").parquet(args.out)
    print(f"indexed {spark.read.parquet(args.out).count()} documents -> {args.out}")
    return 0


def _extract(pattern: str, s: str, group: int) -> str:
    """Spark's regexp_extract: the group of the first match, else ""."""
    m = re.search(pattern, s)
    return m.group(group) if m else ""


def _probe(snap, ref: str) -> list[int]:
    """URL or bare doc_id -> the index rows it names. A URL names the
    doc_ids whose trailing number is its issue number; URL parsing is
    the reference's owner/repo/issues/N triple (cli.py:84-90)."""
    from deja_view_spark.functions.text import ISSUE_URL_RE

    if "github.com" not in ref:
        return snap.rows(ref)
    number = _extract(ISSUE_URL_RE, ref, 4)
    return [
        i for i, d in enumerate(snap.doc_ids) if _extract(r"(\d+)$", d, 1) == number
    ]


def cmd_find(args) -> int:
    from deja_view_spark.operators.topk import Snapshot, visible_parquet_files

    snap = Snapshot.read(args.index, visible_parquet_files(args.index))
    try:
        doc_id, out = snap.top_k(
            _probe(snap, args.ref), args.ref, args.top_k, args.min_similarity
        )
    except LookupError as e:
        raise SystemExit(f"error: {e.args[0]}") from None
    print(f"similar to {doc_id}:")
    for d, sim in out:
        print(f"  {d}\t{sim:.4f}")
    return 0


def cmd_find_duplicates(args) -> int:
    from deja_view_spark.operators.selfjoin import duplicate_edges
    from deja_view_spark.sources.report import write_duplicate_report

    spark = _spark(args.cores)
    emb = spark.read.parquet(args.index)
    edges = duplicate_edges(
        emb, threshold=args.threshold, top_k=3, convention="report", method="lsh"
    )
    n_analyzed = emb.count()
    data = write_duplicate_report(
        edges,
        args.output,
        repository=args.repository,
        threshold=args.threshold,
        n_analyzed=n_analyzed,
        also_json=args.json,
    )
    print(f"report written to {args.output} ({len(data)} issues with duplicates)")
    return 0


def cmd_suggest_discussions(args) -> int:
    from deja_view_spark.functions import scoring as S
    from deja_view_spark.queries_discussions import discussions_view

    spark = _spark(args.cores)
    disc = discussions_view(spark.read.parquet(args.input))
    issues = disc.where(~F.col("is_pull_request") & ~F.col("is_discussion"))
    score = S.discussion_score(
        F.col("title"), F.col("body"), state=F.col("state"), labels=F.col("labels")
    )
    rounded, conf = S.score_with_confidence(score)
    rows = (
        issues.select("doc_id", "title", rounded.alias("score"), conf.alias("confidence"))
        .where(F.col("score") >= args.min_score)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(args.max_suggestions)
        .collect()
    )
    print(f"{len(rows)} suggestions (min_score={args.min_score}):")
    for r in rows:
        print(f"  [{r['confidence']:6s}] {r['score']:.3f}  {r['doc_id']}  {r['title'][:50]}")
    return 0


def cmd_metrics(args) -> int:
    from deja_view_spark import queries_discussions as QD

    spark = _spark(args.cores)
    sf_dir = args.input.rsplit("/", 1)[0]
    ov = QD.q_discussions_overview(spark, sf_dir).head().asDict()
    cats = QD.q_discussions_category_counts(spark, sf_dir).collect()
    unans = QD.q_discussions_unanswered_top(spark, sf_dir).collect()
    top = QD.q_discussions_top_upvoted(spark, sf_dir).collect()
    lines = [
        "# Discussions Metrics Report",
        "",
        f"- Total Discussions: {ov['total_discussions']}",
        f"- This Week: {ov['discussions_this_week']}  Last Week: {ov['discussions_last_week']}",
        f"- Week-over-Week: {ov['week_over_week_change']:+d} ({ov['week_over_week_percentage']:+.1f}%)",
        f"- Unanswered Q&A/Help: {ov['total_unanswered_qa']}",
        f"- Answer Rate: {ov['answer_rate']:.1f}%",
        f"- Average Upvotes: {ov['avg_upvotes']:.1f}",
        "",
        "## Categories",
        *[f"- {r['category']}: {r['n_discussions']}" for r in cats],
        "",
        "## Recent Unanswered Q&A/Help",
        *[f"- #{r['doc_id']} [{r['category']}] {r['title'][:50]}" for r in unans[:10]],
        "",
        "## Top Upvoted",
        *[
            f"- #{r['doc_id']} ({r['upvote_count']} upvotes, "
            f"{'answered' if r['has_answer'] else 'unanswered'})"
            for r in top[:10]
        ],
        "",
    ]
    report = "\n".join(lines)
    if args.output:
        with open(args.output, "w", encoding="utf-8") as f:
            f.write(report)
        print(f"metrics report written to {args.output}")
    else:
        print(report)
    return 0


CORPUS_OPS = {
    # verb -> registry query (the exact operators the DuckDB oracles
    # certify; --data points at a dir holding documents.parquet /
    # embeddings.parquet, the driver-testdata layout)
    "sample-weighted": "docs_weighted_sample",
    "sample-temperature": "docs_lang_temperature_sample",
    "lm-filter": "docs_lm_perplexity",
    "dsir": "docs_dsir_weights",
    "semdedup": "docs_semantic_dedup",
    "kmeans": "embeddings_kmeans",
    "span-quarantine": "docs_incremental_spans",
    "cross-source-dedup": "docs_cross_source_dedup",
    "novelty": "docs_ngram_novelty",
    "pq-encode": "embeddings_pq",
    "ann-ivfpq": "ann_ivfpq_topk",
    # wave 4/5 (verbs past this line may also need events.parquet /
    # orders.parquet / lineitem.parquet in --data, the full
    # driver-testdata layout)
    "hll-distinct": "docs_hll_distinct",
    "kmv-overlap": "docs_kmv_lang_overlap",
    "snm-dedup": "docs_sorted_neighborhood",
    "winnow": "docs_winnow_pairs",
    "prefix-join": "docs_prefix_join",
    "mmr": "embeddings_mmr_topk",
    "hard-negatives": "embeddings_hard_negatives",
    "lpa": "events_label_prop",
    "ppr": "events_ppr",
    "hll-sliding": "events_hll_sliding",
    "cohort": "events_cohort_retention",
    "bloom-semijoin": "orders_bloom_semijoin",
    # wave 6/7
    "modularity": "events_modularity",
    "assortativity": "events_assortativity",
    "kcore": "events_kcore",
    "linkage": "docs_record_linkage",
    "linkage-multi": "docs_record_linkage_multi",
    "blocking-quality": "docs_blocking_quality",
    "temporal-reach": "events_temporal_reach",
    "link-predict": "events_link_prediction",
    "transitions": "events_transitions",
    "market-basket": "events_market_basket",
    "anomalies": "events_anomalies",
    "lifetable": "events_lifetable",
    "forecast-eval": "events_forecast_eval",
    "abtest": "events_abtest",
    # wave 8
    "sssp": "events_sssp",
    "ktruss": "events_ktruss",
    "hits": "events_hits",
    # wave 9 (statistics / drift / training-prep)
    "trending": "events_decayed_trending",
    "regression": "docs_quality_regression",
    "gini": "events_gini",
    "drift": "docs_split_drift",
    "chunk": "docs_chunk_windows",
    "entropy": "docs_token_entropy",
    "walks": "events_random_walks",
    "folds": "docs_crossval_folds",
    # wave 10
    "q6": "forecast_revenue",
    "market-share": "nation_market_share",
    "returned-revenue": "returned_item_revenue",
    "lcc": "events_lcc",
    "burstiness": "events_burstiness",
    # wave 11
    "hyperball": "events_hyperball",
    "attribution": "events_attribution",
    "neg-samples": "events_negative_samples",
    "bpe-train": "docs_bpe_train",
    # wave 12
    "linkage-sweep": "docs_linkage_sweep",
    "calibration": "docs_score_calibration",
    "eff-diameter": "events_effective_diameter",
    "skew-report": "events_skew_report",
    "method-eval": "docs_dedup_method_eval",
    # waves 14-20 (drift / KG analytics / retrieval / experiment eval)
    "ks-drift": "docs_length_ks",
    "rfm": "events_rfm",
    "rake": "docs_rake_keyphrases",
    "kg-pred-stats": "kg_predicate_stats",
    "kg-star": "kg_star_join",
    "kg-charsets": "kg_characteristic_sets",
    "kg-degree": "kg_degree_topk",
    "kg-cooccur": "kg_pred_cooccurrence",
    "kg-signatures": "kg_type_signatures",
    "table-stats": "docs_table_stats",
    "sq8": "embeddings_sq8_topk",
    "sq8-rerank": "embeddings_sq8_rerank",
    "fertility": "docs_tokenizer_fertility",
    "cuped": "events_cuped",
    "sessions": "events_session_windows",
    "mad-outliers": "docs_mad_outliers",
    "seasonality": "events_dow_seasonality",
    # waves 21-30 (training-set prep / CDC / robust stats / experiment
    # eval / graph diagnostics / monitoring)
    "skipgram": "events_skipgram_pairs",
    "snapshot-diff": "docs_snapshot_diff",
    "winsorize": "docs_winsorized_stats",
    "multitouch": "events_multitouch",
    "k-anonymity": "docs_k_anonymity",
    "expectations": "docs_expectations",
    "lang-metrics": "docs_lang_id_metrics",
    "band-join": "events_band_join",
    "powerlaw": "events_degree_powerlaw",
    "group-sample": "docs_group_sample",
    "label-coherence": "embeddings_label_coherence",
    "anova": "docs_length_anova",
    "mann-whitney": "events_mann_whitney",
    "bootstrap-ci": "docs_bootstrap_ci",
    "top-paths": "events_top_paths",
    "pmi": "docs_term_pmi",
    "changepoint": "events_changepoint",
    "dedup-savings": "docs_dedup_savings",
    # waves 31-35
    "independence": "docs_src_lang_independence",
    "partition-advisor": "docs_partition_advisor",
    "markov-stationary": "events_markov_stationary",
    "heaps": "docs_heaps_law",
    "item-cf": "events_item_cf",
    "conversion-lag": "events_conversion_lag",
    "stickiness": "events_stickiness",
    # wave 36
    "holt-forecast": "events_holt_forecast",
    # wave 37
    "msf": "events_msf",
    # waves 38-39
    "silhouette": "embeddings_silhouette",
    "bursts": "events_bursts",
    # wave 40
    "did": "events_did",
    "mutual-nn": "embeddings_mutual_nn",
    # wave 41
    "wl-roles": "kg_wl_colors",
    "item-scc": "events_item_scc",
    # wave 42
    "benford": "docs_benford",
    "lead-lag": "events_leadlag",
    # wave 43
    "pred-drift": "kg_predicate_drift",
    "merge-audit": "kg_merge_audit",
    # wave 44
    "reshard-audit": "docs_rendezvous_shards",
    "filter-funnel": "docs_filter_funnel",
    # wave 45
    "walk-census": "kg_walk_census",
    "source-overlap": "docs_source_overlap",
    # wave 46
    "ifp-violations": "kg_ifp_violations",
    "pattern-match": "events_pattern_match",
    # wave 47
    "join-card-qa": "kg_join_cardinality_qa",
    "growth": "events_growth_accounting",
    # wave 48
    "velocity": "events_velocity_flags",
    "debounce": "events_debounce_dedup",
    # wave 49
    "srm": "events_ab_srm",
    "hub-knockout": "events_hub_knockout",
    # wave 50
    "l-diversity": "docs_l_diversity",
    "rich-club": "events_rich_club",
    # wave 51
    "trigrams": "events_trigram_transitions",
    "reach-curve": "events_cumulative_reach",
    # wave 52
    "dedup-transitivity": "docs_dedup_transitivity",
    "degree-histogram": "kg_degree_histogram",
    # wave 53
    "pca": "embeddings_pca_power",
    "sq8-saturation": "embeddings_sq8_saturation",
    # wave 54
    "halflife": "events_item_halflife",
    "lorenz": "events_lorenz_deciles",
    # wave 55
    "triple-novelty": "kg_triple_novelty",
    "role-mix": "kg_role_mix",
    # wave 56
    "df-histogram": "docs_shingle_df_histogram",
    "fulfillment": "orders_fulfillment_latency",
}


def cmd_corpus(args) -> int:
    """Corpus-selection verbs: run one of the training-data operators
    over a testdata-layout dir and print (or write) the result."""
    from deja_view_spark import queries as Q

    spark = _spark(args.cores)
    df = Q.QUERIES[CORPUS_OPS[args.op]](spark, args.data)
    if args.output:
        df.write.mode("overwrite").parquet(args.output)
        n = spark.read.parquet(args.output).count()
        print(f"{args.op}: {n} rows -> {args.output}")
    else:
        rows = df.limit(args.limit).collect()
        for r in rows:
            print(dict(r.asDict()))
        print(f"({args.op}: showed {len(rows)} rows; use --output for all)")
    return 0


def cmd_release_notes(args) -> int:
    """Render the tiered release-notes markdown (reference
    release_notes.py:118-219 / generate_release_notes.py CLI) from a
    documents-shaped table. Labels are synthesized deterministically
    from doc_id exactly as the driver-checked `release_tiers` aggregate
    does (the corpus ships no label column), so the rendered section
    counts equal that aggregate's n_items per tier."""
    from deja_view_spark.functions.text import display_truncate
    from deja_view_spark.queries_events import _LABEL_CHOICES
    from deja_view_spark.sources.release_notes import generate_release_notes

    spark = _spark(args.cores)
    docs = spark.read.parquet(args.input)
    label = F.element_at(
        F.array(*[F.lit(x) for x in _LABEL_CHOICES]),
        (F.col("doc_id") % len(_LABEL_CHOICES) + 1).cast("int"),
    )
    items = docs.select(
        F.col("doc_id").alias("number"),
        display_truncate(F.col("text"), 60).alias("title"),
        F.col("source").alias("author"),
        F.array(label).alias("labels"),
    )
    doc = generate_release_notes(
        items,
        version=args.version,
        repo_name=args.repo,
        released_on=args.date,
        output_file=args.output,
        max_per_tier=args.limit,
    )
    if args.output:
        print(f"release notes written to {args.output}")
    else:
        print(doc)
    return 0


def cmd_graph(args) -> int:
    """Query a materialized kg_triples/ directory (pred-partitioned
    parquet written by plans/pipeline.py) with the graphquery
    operators — stats / duplicate clusters / neighborhood / 2-hop."""
    from deja_view_spark.operators.graphquery import (
        degree_stats,
        duplicate_clusters,
        neighbors,
        pagerank,
        reach_k,
        two_hop,
    )

    spark = _spark(args.cores)
    triples = spark.read.parquet(args.triples)
    if args.op == "stats":
        for r in degree_stats(triples).collect():
            print(
                f"  {r.pred:12s} edges={r.n_edges:<8d} subj={r.n_subj:<8d} "
                f"obj={r.n_obj:<8d} avg_out={r.avg_out_degree}"
            )
    elif args.op == "clusters":
        rows = duplicate_clusters(triples).limit(args.limit).collect()
        print(f"{len(rows)} duplicate clusters (showing <= {args.limit}):")
        for r in rows:
            print(f"  [{r.size}] {r.canonical}: {', '.join(r.members[:5])}"
                  + (" ..." if r.size > 5 else ""))
    elif args.op == "neighbors":
        if not args.node:
            print("graph neighbors requires --node", file=sys.stderr)
            return 2
        rows = (
            neighbors(triples, args.node, pred=args.pred or None,
                      direction=args.direction)
            .orderBy(F.desc("weight"), F.asc("neighbor"))
            .limit(args.limit)
            .collect()
        )
        for r in rows:
            print(f"  -[{r.pred}:{r.weight}]-> {r.neighbor}")
    elif args.op == "pagerank":
        # --direction in = PageRank over the REVERSED edges (who is
        # pointed AT matters, e.g. most-mentioned files): swap
        # subj/obj before ranking rather than silently treating 'in'
        # as 'out'
        pr_input = triples
        if args.direction == "in":
            pr_input = triples.select(
                F.col("obj").alias("subj"),
                "pred",
                F.col("subj").alias("obj"),
                *[c for c in triples.columns if c not in ("subj", "pred", "obj")],
            )
        rows = (
            pagerank(pr_input, pred=args.pred or None,
                     undirected=args.direction == "both")
            .orderBy(F.desc("rank"), F.asc("node"))
            .limit(args.limit)
            .collect()
        )
        print(f"top {len(rows)} nodes by PageRank"
              + (f" over pred={args.pred}" if args.pred else "") + ":")
        for r in rows:
            print(f"  {r.rank:.6f}  {r.node}")
    elif args.op == "reach":
        # bounded k-hop reachability over the (optionally pred-filtered)
        # triples graph; --direction in reverses edges first
        pf = (
            triples.where(F.col("pred") == args.pred) if args.pred else triples
        )
        if args.direction == "in":
            e = pf.select(F.col("obj").alias("src"),
                          F.col("subj").alias("dst"))
        else:
            e = pf.select(F.col("subj").alias("src"),
                          F.col("obj").alias("dst"))
        rows = (
            reach_k(e, k=args.hops)
            .orderBy(F.desc("n_reach"), F.asc("node"))
            .limit(args.limit)
            .collect()
        )
        print(f"top {len(rows)} nodes by {args.hops}-hop reach"
              + (f" over pred={args.pred}" if args.pred else "") + ":")
        for r in rows:
            print(f"  {r.n_reach:<6d} (ring {r.n_ring_k})  {r.node}")
    elif args.op == "two-hop":
        if not (args.pred and args.pred2):
            print("graph two-hop requires --pred and --pred2", file=sys.stderr)
            return 2
        rows = (
            two_hop(triples, args.pred, args.pred2, broadcast_first=True)
            .orderBy(F.desc("path_weight"), F.asc("a"), F.asc("c"))
            .limit(args.limit)
            .collect()
        )
        for r in rows:
            print(f"  {r.a} -> {r.b} -> {r.c}  ({r.path_weight:.4f})")
    else:  # pragma: no cover - argparse choices guard
        return 2
    return 0


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(prog="deja-view-spark")
    ap.add_argument("--cores", type=int, default=8)
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("index", help="embed a documents table into an index")
    p.add_argument("--input", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--dim", type=int, default=64)
    p.add_argument("--text-col", default="text")
    p.set_defaults(fn=cmd_index)

    p = sub.add_parser("find", help="top-k similar to one issue URL / doc_id")
    p.add_argument("ref")
    p.add_argument("--index", required=True)
    p.add_argument("-k", "--top-k", type=int, default=10)
    p.add_argument("-s", "--min-similarity", type=float, default=0.0)
    p.set_defaults(fn=cmd_find)

    p = sub.add_parser("find-duplicates", help="all-pairs duplicate report")
    p.add_argument("--index", required=True)
    p.add_argument("--output", default="duplicate_report.md")
    p.add_argument("--threshold", type=float, default=0.8)
    p.add_argument("--repository", default="")
    p.add_argument("--json", action="store_true")
    p.set_defaults(fn=cmd_find_duplicates)

    p = sub.add_parser("suggest-discussions", help="score issues for conversion")
    p.add_argument("--input", required=True)
    p.add_argument("--min-score", type=float, default=0.3)
    p.add_argument("-n", "--max-suggestions", type=int, default=20)
    p.set_defaults(fn=cmd_suggest_discussions)

    p = sub.add_parser("metrics", help="discussions metrics report")
    p.add_argument("--input", required=True)
    p.add_argument("--output", default="")
    p.set_defaults(fn=cmd_metrics)

    p = sub.add_parser(
        "release-notes", help="tiered release-notes markdown from a docs table"
    )
    p.add_argument("--input", required=True)
    p.add_argument("--output", default=None)
    p.add_argument("--version", default=None)
    p.add_argument("--repo", default=None)
    p.add_argument("--date", default="", help="released-on stamp (injectable)")
    p.add_argument("--limit", type=int, default=200, help="max items per tier")
    p.set_defaults(fn=cmd_release_notes)

    p = sub.add_parser(
        "corpus", help="training-data selection ops over a testdata dir"
    )
    p.add_argument("op", choices=sorted(CORPUS_OPS))
    p.add_argument("--data", required=True,
                   help="dir with documents.parquet / embeddings.parquet")
    p.add_argument("--output", default=None)
    p.add_argument("--limit", type=int, default=20)
    p.set_defaults(fn=cmd_corpus)

    p = sub.add_parser("graph", help="query a materialized kg_triples dir")
    p.add_argument(
        "op",
        choices=["stats", "clusters", "neighbors", "two-hop", "pagerank",
                 "reach"],
    )
    p.add_argument("--triples", required=True)
    p.add_argument("--node", default="")
    p.add_argument("--pred", default="")
    p.add_argument("--pred2", default="")
    p.add_argument("--direction", default="out", choices=["out", "in", "both"])
    p.add_argument("--hops", type=int, default=4)
    p.add_argument("--limit", type=int, default=20)
    p.set_defaults(fn=cmd_graph)
    return ap


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
