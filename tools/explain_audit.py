"""Plan audit: print `explain("formatted")` for the headline operators
and assert the plan properties the scale design depends on:

- parquet scans carry PushedFilters / pruned ReadSchema;
- small dims enter joins as BroadcastHashJoin;
- column expressions sit inside WholeStageCodegen spans;
- the LSH self-join's wide vector table is not shuffled (pairs
  broadcast into the verify joins).

Usage: python tools/explain_audit.py [sf_dir]   (default sf0.01)
Exits non-zero if an expected plan property is missing.
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from deja_view_spark.session import get_spark  # noqa: E402
from deja_view_spark import queries as Q  # noqa: E402


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


# map-side combine: partial_* aggregate functions below the exchange.
# (codegen stars are hidden inside AdaptiveSparkPlan until execution,
# so the audit asserts the structural properties AQE can't change.)
PARTIAL_AGG = r"partial_(sum|count|avg|min|max)"

CHECKS = [
    # (query, [patterns that MUST appear], [patterns that must NOT])
    ("top_customers_by_revenue", [r"BroadcastHashJoin", PARTIAL_AGG], []),
    ("order_priority_counts", [r"LeftSemi", PARTIAL_AGG], []),
    (
        "lineitem_pricing_summary",
        [r"PushedFilters: \[IsNotNull\(l_shipdate\)", PARTIAL_AGG],
        [],
    ),
    ("knn_bruteforce", [r"BroadcastNestedLoopJoin|BroadcastHashJoin", r"TakeOrdered|Window"], []),
    # at sf0.01 every dim (even orders) fits the 32MB broadcast
    # threshold, so Catalyst correctly broadcasts ALL joins; at real SF
    # the fact-fact join falls back to SMJ via AQE
    ("regional_supplier_volume", [r"BroadcastHashJoin", PARTIAL_AGG], []),
    ("docs_exact_dedup", [r"HashAggregate", PARTIAL_AGG], []),
    # rollup: dims broadcast, grouping-sets expand feeds a partial agg
    ("revenue_rollup", [r"BroadcastHashJoin", r"Expand", PARTIAL_AGG], []),
    # as-of join: union + running-last — exactly one hash exchange on
    # the key, NO join operator of any kind in the plan
    (
        "events_asof_purchase",
        [r"Window", r"Exchange", r"Union"],
        [r"SortMergeJoin", r"BroadcastHashJoin", r"ShuffledHashJoin",
         r"BroadcastNestedLoopJoin"],
    ),
    # Q3 shape: dim broadcast + top-10 via TakeOrdered, no global sort
    ("shipping_priority", [r"BroadcastHashJoin", r"TakeOrdered", PARTIAL_AGG], []),
    # df-cutoff jaccard: shuffle keys are xxhash64 longs (never shingle
    # strings), pairs come from bucket-local generate (posexplode+slice)
    ("docs_jaccard_pairs", [r"xxhash64", r"Generate", PARTIAL_AGG], []),
    # expression simhash: banding + hamming verify all JVM-side — no
    # Python evaluator anywhere. (The fingerprint aggregation itself
    # sits behind an eager checkpoint, so the explained plan starts at
    # the cached fp table — no partial-agg pattern to assert here.)
    (
        "docs_simhash_pairs",
        [r"bit_count", r"Generate"],
        [r"ArrowEvalPython|BatchEvalPython"],
    ),
    # single-probe top-k: the probe row broadcast into a nested-loop
    # join, sorted limit compiles to TakeOrdered (no global sort), no
    # shuffle join
    (
        "topk_probe",
        [r"TakeOrdered", r"BroadcastNestedLoopJoin"],
        [r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin"],
    ),
    # composed scoring pipeline: pure column expressions + TakeOrdered
    (
        "suggest_discussions",
        [r"TakeOrdered"],
        [r"ArrowEvalPython|BatchEvalPython"],
    ),
    # discussions rollup: one partial-agg pass over the derived view
    ("discussions_overview", [PARTIAL_AGG], []),
    # Q18 shape: HAVING-subquery decorrelated to an agg + join on the
    # qualifying-key set; customer dim broadcasts; top-20 TakeOrdered
    ("large_orders", [r"BroadcastHashJoin", r"TakeOrdered", PARTIAL_AGG], []),
    # Q21 shape: Catalyst DECORRELATES the EXISTS/NOT EXISTS pair into
    # physical semi/anti joins — no correlated subquery survives
    (
        "waiting_suppliers",
        [r"LeftSemi", r"LeftAnti", PARTIAL_AGG],
        [r"Subquery"],
    ),
    # stratified hash sampling: a pure map-side predicate — the md5
    # keep-filter sits directly over the scan, no shuffle, no Python
    (
        "docs_stratified_sample",
        [r"md5"],
        [r"Exchange hashpartitioning", r"ArrowEvalPython|BatchEvalPython"],
    ),
    # distributed prefix-sum packing: the full-data window is BUCKET-
    # partitioned (hashpartitioning on _bucket), the per-bucket offsets
    # come back via broadcast — the only SinglePartition exchange feeds
    # the totals-table window (metadata-sized), never the corpus
    (
        "docs_pack_shards",
        [r"hashpartitioning\(_bucket", r"BroadcastHashJoin", r"Window"],
        [],
    ),
    # decontamination: eval shingles broadcast, corpus side map-joined
    ("docs_decontaminate", [r"BroadcastHashJoin", PARTIAL_AGG], []),
    # tf-idf: corpus-size N is a broadcast single-row agg (no collect),
    # term joins shuffle on the term key, ranking is a per-doc window
    ("docs_tfidf_topterms", [r"BroadcastNestedLoopJoin|BroadcastHashJoin",
                             r"Window", PARTIAL_AGG], []),
    # composed cleaning pipeline: eval shingles broadcast into the
    # contamination screen, contaminated ids leave via LeftAnti, all
    # column work stays JVM-side (one tokenize projection, no Python)
    (
        "corpus_clean",
        [r"BroadcastHashJoin", r"LeftAnti", PARTIAL_AGG],
        [r"ArrowEvalPython|BatchEvalPython"],
    ),
    # Q17 shape: the correlated scalar subquery is decorrelated into a
    # per-part threshold agg joined back — every join broadcasts (the
    # fact table never shuffles on a join key)
    (
        "small_quantity_revenue",
        [r"BroadcastHashJoin", PARTIAL_AGG],
        [r"SortMergeJoin", r"ShuffledHashJoin"],
    ),
    # Q7 shape: nation enters twice under different role aliases; every
    # dim broadcasts; shipdate range pushed to the scan
    (
        "bilateral_trade",
        [r"BroadcastHashJoin", r"PushedFilters: \[IsNotNull\(l_shipdate\)",
         PARTIAL_AGG],
        [],
    ),
    # CUBE: all four grouping sets in ONE Expand + hash agg (no
    # union-of-scans), with map-side partial aggregation
    ("events_cube", [r"Expand", PARTIAL_AGG], []),
    # PIVOT with a fixed value list compiles to conditional partial
    # counts — one agg pass, no per-value scan, no Python
    (
        "events_pivot",
        [PARTIAL_AGG],
        [r"ArrowEvalPython|BatchEvalPython"],
    ),
    # Gopher repetition gate: per-doc scalars ride the bigram explode
    # (Generate), mode is min-of-struct — aggregation only, no join, no
    # window sort, no Python
    (
        "docs_repetition",
        [r"Generate", PARTIAL_AGG],
        [r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin",
         r"ArrowEvalPython|BatchEvalPython"],
    ),
    # PII scrub: one map-side regexp pass over the scan — no shuffle
    # before the presentation sort, no Python evaluator
    (
        "docs_pii_scrub",
        [r"regexp_replace"],
        [r"Exchange hashpartitioning", r"ArrowEvalPython|BatchEvalPython"],
    ),
    # edit-distance verify: levenshtein confined to the candidate join
    # (candidates broadcast), never a corpus self-join
    ("docs_editdistance_pairs", [r"levenshtein", r"BroadcastHashJoin"], []),
    # line dedup: segment df keyed on xxhash64 longs, the df join back
    # to the segment stream stays on the long key, no corpus window
    ("docs_line_dedup", [r"xxhash64", PARTIAL_AGG], [r"Window"]),
    # KMV sketch: the hash-range pre-filter (h < cutoff) sits below the
    # distinct, so the shuffle only carries the filtered slice; the
    # per-group top-K window runs over that slice
    ("docs_kmv_distinct", [r"md5", r"Window", PARTIAL_AGG], []),
    # sorted-neighborhood: the sort windows partition by the BLOCK key
    # (hashpartitioning on _blk) — never a SinglePartition global sort
    # — and candidates come from lead() + explode, not a self-join
    (
        "docs_sorted_neighborhood",
        [r"Window", r"hashpartitioning\(_blk", r"Generate"],
        [r"SinglePartition[\s\S]{0,200}Window", r"CartesianProduct",
         r"ArrowEvalPython|BatchEvalPython"],
    ),
    # label propagation: per-round lineage is CUT by localCheckpoint
    # (the final plan reads the checkpointed label table, not a
    # 2^rounds join tree), community sizes broadcast back, the argmin
    # is a partial agg — and nothing falls to Python or a cartesian
    (
        "events_label_prop",
        [r"Scan ExistingRDD", r"BroadcastHashJoin", PARTIAL_AGG],
        [r"CartesianProduct", r"ArrowEvalPython|BatchEvalPython"],
    ),
    # winnowing: window-min selection is in-row (no explode before the
    # fingerprint set is winnowed), pairs generate bucket-locally via
    # posexplode+slice (Generate), df cutoff is a groupBy filter (no
    # corpus window), size LUTs broadcast — all JVM-side
    (
        "docs_winnow_pairs",
        [r"md5", r"Generate", r"BroadcastHashJoin", PARTIAL_AGG],
        [r"Window", r"SortMergeJoin", r"CartesianProduct",
         r"ArrowEvalPython|BatchEvalPython"],
    ),
    # HLL sketch: two cascaded partial aggs carry only register rows;
    # unlike KMV there is NO per-group window, the exact audit joins
    # back via broadcast, and rho is an integer CASE chain (no Python)
    (
        "docs_hll_distinct",
        [r"md5", r"BroadcastHashJoin", PARTIAL_AGG],
        [r"Window", r"SortMergeJoin",
         r"ArrowEvalPython|BatchEvalPython"],
    ),
    # SCD-2 history: both windows partition by user_id, island fold is
    # one partial agg — linear over the log, no global sort, no Python
    (
        "events_scd2_history",
        [r"Window", r"hashpartitioning\(user_id", PARTIAL_AGG],
        [r"SinglePartition[\s\S]{0,200}Window", r"CartesianProduct",
         r"ArrowEvalPython|BatchEvalPython"],
    ),
    # bitmap audience: events reduce once to (segment, word) bitmap
    # rows (checkpointed — Scan ExistingRDD), overlaps join WORDS and
    # fold bit_count, sizes broadcast back — no window, no user-row
    # joins, no Python
    (
        "events_bitmap_audience",
        [r"Scan ExistingRDD", r"BroadcastHashJoin", PARTIAL_AGG],
        [r"Window", r"CartesianProduct",
         r"ArrowEvalPython|BatchEvalPython"],
    ),
    # sweep-line concurrency: sessionize per user (hashpartitioning on
    # user_id windows), then the running sum partitions BY DAY — no
    # SinglePartition global sort, no interval self-join, no Python
    (
        "events_peak_concurrency",
        [r"Window", r"hashpartitioning\(user_id",
         r"hashpartitioning\(day_sec", PARTIAL_AGG],
        [r"SinglePartition[\s\S]{0,200}Window", r"CartesianProduct",
         r"SortMergeJoin", r"ArrowEvalPython|BatchEvalPython"],
    ),
    # MMR: corpus touched once (pooled relevance scan, probe broadcast,
    # per-probe window over the broadcast-joined slice); greedy rounds
    # run on checkpointed pool-sized state (Scan ExistingRDD) — no
    # cartesian over data, no Python
    # (the probe attach is a non-equi self-exclusion join, planned as
    # BroadcastNestedLoop over the broadcast probe side — fine; only a
    # true CartesianProduct would mean the corpus pairs with itself)
    (
        "embeddings_mmr_topk",
        [r"Scan ExistingRDD", PARTIAL_AGG],
        [r"CartesianProduct", r"ArrowEvalPython|BatchEvalPython"],
    ),
    # personalized PageRank: same shape contract as events_pagerank —
    # checkpointed edge set (Scan ExistingRDD), one join + partial agg
    # per round, seed teleport is map-side arithmetic (no extra join),
    # no cartesian, no Python
    (
        "events_ppr",
        [r"Scan ExistingRDD", PARTIAL_AGG],
        [r"CartesianProduct", r"ArrowEvalPython|BatchEvalPython"],
    ),
    # cohort retention: one distinct over (user, week), cohort min as
    # a partial agg, the only wide shuffle is the user_id join, the
    # matrix/base attaches broadcast — no window, no Python
    (
        "events_cohort_retention",
        [r"BroadcastHashJoin", PARTIAL_AGG],
        [r"Window", r"CartesianProduct",
         r"ArrowEvalPython|BatchEvalPython"],
    ),
    # sliding HLL merge: events touched once into per-day registers
    # (md5 + cascaded partial aggs); the window merge is an explode of
    # REGISTER rows (Generate) + one more partial agg — no window
    # function over events, no per-position rescan, no Python
    (
        "events_hll_sliding",
        [r"md5", r"Generate", r"BroadcastHashJoin", PARTIAL_AGG],
        [r"Window", r"CartesianProduct",
         r"ArrowEvalPython|BatchEvalPython"],
    ),
    # KMV set algebra: the distinct (lang, h60) stream is checkpointed
    # once (Scan ExistingRDD) and feeds sketch + sizes + exact audit;
    # the bottom-K window partitions by lang over the prefiltered
    # slice (hashpartitioning(lang), never SinglePartition); the
    # 5-row pairwise algebra is a BroadcastNestedLoop over sketch
    # metadata — no cartesian over data, no Python
    (
        "docs_kmv_lang_overlap",
        [r"Scan ExistingRDD", r"hashpartitioning\(lang", PARTIAL_AGG,
         r"BroadcastHashJoin"],
        [r"SinglePartition[\s\S]{0,200}Window", r"CartesianProduct",
         r"ArrowEvalPython|BatchEvalPython"],
    ),
    # prefix-filter join (PPJoin): the hashed shingle-set table is
    # checkpointed once (Scan ExistingRDD — one md5 pass for three
    # consumers), pair generation is bucket-local posexplode+slice
    # (Generate), aggs are partial — and there is NO corpus-wide
    # window, no cartesian, no Python (join strategy for the df-rank
    # join is left to AQE: broadcast at registry scale, shuffle at 100
    # TB)
    (
        "docs_prefix_join",
        [r"Generate", r"Scan ExistingRDD", PARTIAL_AGG],
        [r"Window", r"CartesianProduct",
         r"ArrowEvalPython|BatchEvalPython"],
    ),
    # bloom semi-join: the positions filter and every key set reach
    # the probe via BROADCAST hash joins (the filter is BLOOM_M-bounded
    # by construction); the all-positions-hit check is a partial agg;
    # no sort-merge, no cartesian, no Python — the one-row stat
    # assembly may use BroadcastNestedLoop (single-row inputs), which
    # is why only CartesianProduct is forbidden
    (
        "orders_bloom_semijoin",
        [r"md5", r"BroadcastHashJoin", PARTIAL_AGG],
        [r"SortMergeJoin", r"CartesianProduct",
         r"ArrowEvalPython|BatchEvalPython"],
    ),
    # histogram quantiles: fixed (lang, bin) key space partial-aggs
    # map-side; windows run over bins, never over documents
    ("docs_length_hist_quantiles", [r"Window", PARTIAL_AGG], []),
    # moving average: windows partitioned per user (hashpartitioning on
    # user_id), never a single global sort partition
    (
        "events_moving_avg",
        [r"Window", r"hashpartitioning\(user_id", PARTIAL_AGG],
        [r"SinglePartition.*Window"],
    ),
    # BPE merge census: in-row pair stream (Generate), partial agg,
    # global top-K via TakeOrdered — no global sort
    ("docs_bpe_merge_pairs", [r"Generate", r"TakeOrdered", PARTIAL_AGG], []),
    # incremental dedup: the new-batch band table is BROADCAST into the
    # corpus band stream — the candidate join never shuffles the corpus
    ("docs_incremental_dedup", [r"BroadcastHashJoin", r"Generate"], []),
    # BM25: single-row stats broadcast back over the corpus, top-k via
    # TakeOrdered, tokenizer folded once (no Python evaluator)
    (
        "docs_bm25_topk",
        [r"BroadcastNestedLoopJoin|BroadcastExchange", r"TakeOrdered"],
        [r"ArrowEvalPython|BatchEvalPython"],
    ),
    # hybrid RRF: each ranker pools via TakeOrdered BEFORE the rank
    # window, probe rides a broadcast — no corpus-wide global sort
    (
        "docs_hybrid_rrf",
        [r"TakeOrdered", r"BroadcastNestedLoopJoin|BroadcastExchange"],
        [],
    ),
    # two-hop traversal: one hash join on the hop key + partial agg on
    # the endpoint pair, top-k via TakeOrdered
    ("kg_two_hop", [r"TakeOrdered", PARTIAL_AGG], []),
    # SemDeDup: cluster-local pairs via one equi-join on the bucket
    # key; the k-row centroid table broadcasts; assignment is a
    # min-of-struct partial agg (no n x k window)
    (
        "docs_semantic_dedup",
        [r"BroadcastNestedLoopJoin|BroadcastExchange", r"partial_min"],
        [r"CartesianProduct", r"ArrowEvalPython|BatchEvalPython"],
    ),
    # LM perplexity: pruned model enters scoring as a broadcast, model
    # pruning itself is a sorted limit, scoring agg is partial — and
    # the whole thing is expression-only (no Python evaluator)
    (
        "docs_lm_perplexity",
        [r"BroadcastHashJoin", r"TakeOrdered", PARTIAL_AGG],
        [r"ArrowEvalPython|BatchEvalPython"],
    ),
    # DSIR: B-row histograms broadcast into the scoring join, top-K
    # selection via TakeOrdered, never a global sort of the corpus
    (
        "docs_dsir_weights",
        [r"BroadcastHashJoin", r"TakeOrdered", PARTIAL_AGG],
        [r"ArrowEvalPython|BatchEvalPython"],
    ),
    # distributed k-means: k-row centroid table broadcasts, assignment
    # is a min-of-struct partial agg, update is a partial-agg mean —
    # the corpus never cartesians and no Python evaluator appears
    (
        "embeddings_kmeans",
        [r"BroadcastNestedLoopJoin|BroadcastExchange", r"partial_min"],
        [r"CartesianProduct", r"ArrowEvalPython|BatchEvalPython"],
    ),
    # incremental SemDeDup: the batch side broadcasts into the corpus
    # stream — the candidate join must be a broadcast join, never a
    # corpus-shuffling sort-merge
    (
        "docs_incremental_semdedup",
        [r"BroadcastHashJoin", r"partial_min"],
        [r"SortMergeJoin", r"CartesianProduct",
         r"ArrowEvalPython|BatchEvalPython"],
    ),
    # span census: one in-row explode (Generate) feeds ONE partial
    # aggregation keyed on the span's xxhash64 long — no window over
    # the corpus, no join, no Python evaluator
    (
        "docs_span_dedup",
        [r"Generate", r"xxhash64", PARTIAL_AGG],
        [r"Window", r"Join", r"ArrowEvalPython|BatchEvalPython"],
    ),
    # span scrub: census agg + long-keyed survivor join + per-DOC
    # island window (hashpartitioning on doc_id, never a global sort
    # partition); no Python evaluator
    (
        "docs_span_scrub",
        [r"Generate", r"xxhash64", r"Window", r"hashpartitioning\(doc_id",
         PARTIAL_AGG],
        [r"SinglePartition.*Window", r"ArrowEvalPython|BatchEvalPython"],
    ),
    # incremental span probe: batch span table broadcasts into the
    # corpus span stream — candidate join is a broadcast join, never a
    # corpus-shuffling sort-merge; no Python evaluator
    (
        "docs_incremental_spans",
        [r"BroadcastHashJoin", r"xxhash64", PARTIAL_AGG],
        [r"SortMergeJoin", r"ArrowEvalPython|BatchEvalPython"],
    ),
    # funnel: ONE shuffle (the per-user collect_list agg); the ordered
    # scan is a higher-order aggregate expression, so no join chain and
    # no per-user window sort appear in the plan
    (
        "events_funnel",
        [r"HashAggregate|ObjectHashAggregate"],
        [r"Join", r"Window", r"ArrowEvalPython|BatchEvalPython"],
    ),
    # semi-naive BFS: per-round equi-joins + partial-agg census; never
    # a cartesian expansion, never a Python evaluator
    (
        "events_reach_k",
        [PARTIAL_AGG],
        [r"CartesianProduct|BroadcastNestedLoopJoin",
         r"ArrowEvalPython|BatchEvalPython"],
    ),
    # source-priority dedup: ONE content-hash groupBy (min_by picks the
    # policy winner inside the aggregate) — no join, no window
    (
        "docs_cross_source_dedup",
        [r"sha2", PARTIAL_AGG],
        [r"Join", r"Window", r"ArrowEvalPython|BatchEvalPython"],
    ),
    # first-occurrence novelty: hashed ngram stream aggregated (never
    # joined back to the corpus); final join is doc-sized
    (
        "docs_ngram_novelty",
        [r"xxhash64", PARTIAL_AGG],
        [r"Window", r"CartesianProduct|BroadcastNestedLoopJoin",
         r"ArrowEvalPython|BatchEvalPython"],
    ),
    # product quantization: every codebook build side broadcasts (k-row
    # centroid tables), argmin is a partial-agg min-of-struct — same
    # contract as embeddings_kmeans, times m blocks
    (
        "embeddings_pq",
        [r"BroadcastNestedLoopJoin|BroadcastExchange", r"partial_min"],
        [r"CartesianProduct", r"ArrowEvalPython|BatchEvalPython"],
    ),
    # IVF-PQ ADC: codebooks/LUTs/probe-buckets all broadcast; the LUT
    # hits are BroadcastHashJoins on (probe, code); the only window is
    # the final per-probe top-k
    (
        "ann_ivfpq_topk",
        [r"BroadcastHashJoin", r"partial_min"],
        [r"CartesianProduct", r"ArrowEvalPython|BatchEvalPython"],
    ),
    # harmonic centrality: same semi-naive BFS as reach + one
    # per-distance conditional agg
    (
        "events_harmonic_k",
        [PARTIAL_AGG],
        [r"CartesianProduct|BroadcastNestedLoopJoin",
         r"ArrowEvalPython|BatchEvalPython"],
    ),
    # containment: same hashed df-cutoff inverted index as jaccard —
    # bucket-local codegen pair generation, no self-join of the corpus
    (
        "docs_containment_pairs",
        [r"xxhash64", r"Generate", PARTIAL_AGG],
        [r"ArrowEvalPython|BatchEvalPython"],
    ),
    # count-min: sketch build is a partial-agg shuffle of <= d*w rows
    # per partition; the sketch LUTs broadcast to the audit side
    (
        "events_cm_sketch",
        [r"BroadcastHashJoin", PARTIAL_AGG],
        [r"CartesianProduct", r"ArrowEvalPython|BatchEvalPython"],
    ),
    # k-core peeling: per-round degree partial-agg + semi-joins over a
    # monotonically shrinking checkpointed edge set
    (
        "events_kcore",
        [PARTIAL_AGG],
        [r"CartesianProduct|BroadcastNestedLoopJoin",
         r"ArrowEvalPython|BatchEvalPython"],
    ),
    # Q22 shape: scalar avg broadcast into the scan, anti join with the
    # dormancy date pushed to the orders scan, nation dim broadcast
    (
        "sales_opportunity",
        [r"LeftAnti", r"BroadcastHashJoin", PARTIAL_AGG,
         r"PushedFilters: \[IsNotNull\(o_orderdate\), GreaterThanOrEqual\(o_orderdate"],
        [r"ArrowEvalPython|BatchEvalPython"],
    ),
    # modularity: label/degree tables are node-sized equi-joins over
    # the checkpointed edge set; intra/degree sums are partial aggs;
    # the only nested-loop is the broadcast 1-row m table (crossJoin)
    (
        "events_modularity",
        [PARTIAL_AGG],
        [r"CartesianProduct", r"ArrowEvalPython|BatchEvalPython"],
    ),
    # assortativity: one degree agg + two edge-degree equi-joins fold
    # to five integers map-side; nothing Python, nothing cartesian
    (
        "events_assortativity",
        [PARTIAL_AGG],
        [r"CartesianProduct", r"ArrowEvalPython|BatchEvalPython"],
    ),
    # record linkage: ONE shuffle builds per-block posting arrays, the
    # candidate pairs come from bucket-local posexplode+slice
    # (Generate), never a self-join; gammas + CASE score are codegen
    (
        "docs_record_linkage",
        [r"Generate", PARTIAL_AGG],
        [r"CartesianProduct", r"SortMergeJoin",
         r"ArrowEvalPython|BatchEvalPython"],
    ),
    # blocking quality: block sizes one narrow shuffle, the truth set
    # is the bucketed jaccard pair table (Generate), final row is
    # broadcast 1-row aggregates — nothing cartesian, nothing Python
    (
        "docs_blocking_quality",
        [r"Generate", PARTIAL_AGG],
        [r"CartesianProduct", r"ArrowEvalPython|BatchEvalPython"],
    ),
    # multi-pass linkage: prefix pass = capped posting arrays
    # (Generate), SNM pass = block-partitioned lead() windows (never
    # SinglePartition), union dedups via partial aggs; no cartesian,
    # no Python
    (
        "docs_record_linkage_multi",
        [r"Generate", r"Window", PARTIAL_AGG],
        [r"CartesianProduct", r"SinglePartition",
         r"ArrowEvalPython|BatchEvalPython"],
    ),
    # temporal reach: the K relaxation rounds run behind per-round
    # localCheckpoints (linear lineage), so the final plan is a sort
    # over the node-sized checkpointed arrival table — no join, no
    # aggregate, no Python should survive into it
    (
        "events_temporal_reach",
        [r"Sort"],
        [r"SortMergeJoin", r"BroadcastHashJoin", r"CartesianProduct",
         r"ArrowEvalPython|BatchEvalPython"],
    ),
    # link prediction: the wedge step must be an EQUI-join on the apex
    # (cap-bounded fan-out), never a cartesian; RA sums are integer
    # partial aggs; no Python anywhere
    (
        "events_link_prediction",
        [PARTIAL_AGG],
        [r"CartesianProduct", r"ArrowEvalPython|BatchEvalPython"],
    ),
    # Markov transitions: ONE user-partitioned window (never a global
    # sort window), partial-agg counts, totals attached by broadcast
    (
        "events_transitions",
        [r"Window", PARTIAL_AGG, r"BroadcastHashJoin"],
        [r"SinglePartition", r"CartesianProduct",
         r"ArrowEvalPython|BatchEvalPython"],
    ),
    # market basket: pair generation is a bucket-local posting-array
    # explode (Generate) after Apriori frequency pruning, counts are
    # partial aggs; the only cross join is the broadcast one-row
    # basket total; no Python
    (
        "events_market_basket",
        [r"Generate", PARTIAL_AGG],
        [r"CartesianProduct", r"ArrowEvalPython|BatchEvalPython"],
    ),
    # weighted SSSP: like temporal reach, the relaxation rounds hide
    # behind per-round localCheckpoints — the final plan is a sort
    # over the node-sized checkpointed distance table
    (
        "events_sssp",
        [r"Sort"],
        [r"SortMergeJoin", r"CartesianProduct",
         r"ArrowEvalPython|BatchEvalPython"],
    ),
    # HITS: the power-iteration rounds are checkpointed; the final
    # plan joins the node set to the two node-sized score tables —
    # hash joins, no cartesian, no Python
    (
        "events_hits",
        [r"Sort"],
        [r"CartesianProduct", r"ArrowEvalPython|BatchEvalPython"],
    ),
    # hard negatives: anchors BROADCAST into the band join (the wide
    # candidate table never shuffles), label/ceiling filters sit below
    # the window, cosine is codegen; the band UDF is the one permitted
    # Arrow crossing
    (
        "embeddings_hard_negatives",
        [r"BroadcastHashJoin", r"Window"],
        [r"CartesianProduct", r"SortMergeJoin"],
    ),
    # k-truss: the peel rounds (wedge-join support + filter) hide
    # behind per-round localCheckpoints; the final plan is a sort over
    # the checkpointed surviving-edge table
    (
        "events_ktruss",
        [r"Sort"],
        [r"SortMergeJoin", r"BroadcastHashJoin", r"CartesianProduct",
         r"ArrowEvalPython|BatchEvalPython"],
    ),
    # rolling-zscore anomalies: ONE user-partitioned window pass,
    # all arithmetic codegen — no join of any kind, no Python
    (
        "events_anomalies",
        [r"Window"],
        [r"SortMergeJoin", r"BroadcastHashJoin", r"CartesianProduct",
         r"ArrowEvalPython|BatchEvalPython"],
    ),
    # Q19 shape: the OR of part-only conjuncts is pushed to the part
    # SCAN (disjunctive pushdown), part broadcasts, one partial agg
    (
        "brand_promo_revenue",
        [r"PushedFilters: \[.*Or", r"BroadcastHashJoin", PARTIAL_AGG],
        [r"SortMergeJoin", r"CartesianProduct"],
    ),
    # Q15 shape: the scalar-max subquery decorrelates into an agg +
    # broadcast single-row max + filter — no self SMJ of the aggregate
    (
        "top_supplier_revenue",
        [r"BroadcastHashJoin", PARTIAL_AGG],
        [r"SortMergeJoin", r"CartesianProduct"],
    ),
    # KM life table: the ONLY SinglePartition window rides the
    # day-cardinality table (metadata-sized, the packer-totals
    # argument); per-user spans are partial aggs; no Python
    (
        "events_lifetable",
        [r"Window", PARTIAL_AGG],
        [r"CartesianProduct", r"ArrowEvalPython|BatchEvalPython"],
    ),
    # seasonal-naive backtest: histogram partial aggs + the shifted
    # self-join (gap-correct, no global ordering); no Python
    (
        "events_forecast_eval",
        [PARTIAL_AGG],
        [r"CartesianProduct", r"ArrowEvalPython|BatchEvalPython"],
    ),
    # A/B test: two map-side-combining agg passes (per-user bool, 2x2
    # cells), single-row output; no join, no Python
    (
        "events_abtest",
        [PARTIAL_AGG],
        [r"SortMergeJoin", r"BroadcastHashJoin", r"CartesianProduct",
         r"ArrowEvalPython|BatchEvalPython"],
    ),
    # decayed trending: item IS NOT NULL pushed to the scan, anchor
    # enters as a broadcast scalar, one partial agg, TakeOrdered
    # finish — never a global sort of the item table
    (
        "events_decayed_trending",
        [r"TakeOrdered", PARTIAL_AGG,
         r"BroadcastNestedLoopJoin|BroadcastHashJoin"],
        [r"CartesianProduct", r"ArrowEvalPython|BatchEvalPython"],
    ),
    # OLS by moments: the six sufficient statistics are ONE
    # map-side-combining aggregation; no join, no window, no Python
    (
        "docs_quality_regression",
        [PARTIAL_AGG],
        [r"SortMergeJoin", r"BroadcastHashJoin", r"Window",
         r"ArrowEvalPython|BatchEvalPython"],
    ),
    # Gini: the rank window rides the per-(type,user) COUNTS table
    # (|users| rows, never |events|); counts are partial-agg'd below
    # the window's exchange; no join
    (
        "events_gini",
        [r"Window", PARTIAL_AGG],
        [r"SortMergeJoin", r"BroadcastHashJoin", r"CartesianProduct",
         r"ArrowEvalPython|BatchEvalPython"],
    ),
    # JS drift: one tokenize/explode pass feeds (source,token) partial
    # aggs; the source-totals and corpus-total sides re-aggregate FROM
    # that table and broadcast back; vocab join is the only wide join
    (
        "docs_split_drift",
        [PARTIAL_AGG, r"BroadcastHashJoin|BroadcastNestedLoopJoin"],
        [r"CartesianProduct", r"ArrowEvalPython|BatchEvalPython"],
    ),
    # chunk windows: pure map-side Generate (per-doc sequence explode)
    # — no shuffle at all before the presentation sort, no join
    (
        "docs_chunk_windows",
        [r"Generate"],
        [r"SortMergeJoin", r"BroadcastHashJoin", r"HashAggregate",
         r"CartesianProduct", r"ArrowEvalPython|BatchEvalPython"],
    ),
    # token entropy: explode feeds (doc,tok) partial-agg counts, then a
    # doc-keyed agg — no join, no window, no Python
    (
        "docs_token_entropy",
        [r"Generate", PARTIAL_AGG],
        [r"SortMergeJoin", r"BroadcastHashJoin", r"Window",
         r"CartesianProduct", r"ArrowEvalPython|BatchEvalPython"],
    ),
    # random walks: the checkpointed adjacency (its Window runs
    # upstream, surfacing here as an ExistingRDD scan) BROADCASTS into
    # every step's left join; hash-choice selection is a residual
    # filter, not a second shuffle; no SMJ, no Python
    (
        "events_random_walks",
        [r"BroadcastHashJoin LeftOuter"],
        [r"SortMergeJoin", r"CartesianProduct",
         r"ArrowEvalPython|BatchEvalPython"],
    ),
    # crossval folds: map-side md5 fold + token math, one partial-agg
    # groupBy over K x |langs| cells, broadcast lang totals back
    (
        "docs_crossval_folds",
        [PARTIAL_AGG, r"BroadcastHashJoin|BroadcastNestedLoopJoin"],
        [r"SortMergeJoin", r"Window", r"CartesianProduct",
         r"ArrowEvalPython|BatchEvalPython"],
    ),
    # Q6 shape: ALL THREE predicates reach the scan; one partial-agg'd
    # global sum, zero joins — pure pruned-scan bandwidth at 100 TB
    (
        "forecast_revenue",
        [r"PushedFilters: \[.*l_shipdate", r"PushedFilters: \[.*l_discount",
         r"PushedFilters: \[.*l_quantity", PARTIAL_AGG],
        [r"SortMergeJoin", r"BroadcastHashJoin", r"Window",
         r"ArrowEvalPython|BatchEvalPython"],
    ),
    # Q8 shape: the dim pyramid broadcasts; integer-cents partial aggs
    (
        "nation_market_share",
        [r"BroadcastHashJoin", PARTIAL_AGG],
        [r"CartesianProduct", r"ArrowEvalPython|BatchEvalPython"],
    ),
    # Q10 shape: R-flag + date window pushed, dims broadcast, exact
    # top-20 via TakeOrdered (never a global sort of the agg output)
    (
        "returned_item_revenue",
        [r"PushedFilters: \[.*l_returnflag", r"BroadcastHashJoin",
         r"TakeOrdered", PARTIAL_AGG],
        [r"CartesianProduct", r"ArrowEvalPython|BatchEvalPython"],
    ),
    # local clustering coefficient: wedge machinery plus node-sized
    # degree join — no cartesian, no Python
    (
        "events_lcc",
        [PARTIAL_AGG],
        [r"CartesianProduct", r"ArrowEvalPython|BatchEvalPython"],
    ),
    # burstiness: ONE user-partitioned window (never SinglePartition),
    # partial-agg moments, no join
    (
        "events_burstiness",
        [r"Window", PARTIAL_AGG],
        [r"SortMergeJoin", r"BroadcastHashJoin", r"CartesianProduct",
         r"ArrowEvalPython|BatchEvalPython"],
    ),
    # HyperBall: per-round register merges are partial-agg'd groupBys
    # over |V| x 256 bounded state; no cartesian, no Python
    (
        "events_hyperball",
        [PARTIAL_AGG],
        [r"CartesianProduct", r"ArrowEvalPython|BatchEvalPython"],
    ),
    # attribution: ONE user-partitioned window carries the last click;
    # never a purchases x clicks join
    (
        "events_attribution",
        [r"Window", PARTIAL_AGG],
        [r"SortMergeJoin", r"BroadcastHashJoin", r"CartesianProduct",
         r"ArrowEvalPython|BatchEvalPython"],
    ),
    # negative sampling: map-side candidate explode, node-set
    # semi-join, edge anti-join — no cartesian, no Python
    (
        "events_negative_samples",
        [r"Generate", r"LeftAnti"],
        [r"CartesianProduct", r"ArrowEvalPython|BatchEvalPython"],
    ),
    # BPE training: round state is checkpointed (vocab-sized), the
    # returned merge table is a union of 1-row argmax checkpoints —
    # nothing heavy may appear in the final plan, and no Python
    (
        "docs_bpe_train",
        [r"Union"],
        [r"CartesianProduct", r"SortMergeJoin",
         r"ArrowEvalPython|BatchEvalPython"],
    ),
    # FS sweep: composes the linkage pairer; the OC window rides the
    # <=8-row gamma-cell table (metadata-sized SinglePartition)
    (
        "docs_linkage_sweep",
        [r"Window", PARTIAL_AGG],
        [r"CartesianProduct", r"ArrowEvalPython|BatchEvalPython"],
    ),
    # calibration: map-side binning over the scored scan, one partial
    # agg — never an ntile/global-sort of the corpus
    (
        "docs_score_calibration",
        [PARTIAL_AGG],
        [r"Window", r"SortMergeJoin", r"CartesianProduct",
         r"ArrowEvalPython|BatchEvalPython"],
    ),
    # effective diameter: per-round register merges partial-agg'd;
    # final is a broadcast of the 1-row deepest-round sum; no Python
    (
        "events_effective_diameter",
        [PARTIAL_AGG, r"BroadcastNestedLoopJoin|BroadcastHashJoin"],
        [r"CartesianProduct", r"ArrowEvalPython|BatchEvalPython"],
    ),
    # skew report: one partial-agg key count per column + a
    # metadata-sized second agg; no join, no window, no Python
    (
        "events_skew_report",
        [PARTIAL_AGG, r"Union"],
        [r"SortMergeJoin", r"BroadcastHashJoin", r"Window",
         r"CartesianProduct", r"ArrowEvalPython|BatchEvalPython"],
    ),
    # dedup method eval: every generator's own plan + one canonical
    # truth join + a 5-row aggregate; no cartesian, no Python
    (
        "docs_dedup_method_eval",
        [r"Union", PARTIAL_AGG],
        [r"CartesianProduct", r"ArrowEvalPython|BatchEvalPython"],
    ),
    # Q2 shape: one fact-sized pair agg; every dim + the per-part min
    # enters as a broadcast at this SF; no cartesian, no Python
    (
        "cheapest_supplier",
        [r"BroadcastHashJoin", PARTIAL_AGG],
        [r"CartesianProduct", r"ArrowEvalPython|BatchEvalPython"],
    ),
    # SQ8: normalization/quantization in codegen (no Python), gmax is
    # a 1-row broadcast, probes broadcast into the scoring join
    (
        "embeddings_sq8_topk",
        [r"BroadcastNestedLoopJoin|BroadcastHashJoin", PARTIAL_AGG,
         r"Window"],
        [r"CartesianProduct", r"ArrowEvalPython|BatchEvalPython"],
    ),
    # predicate co-occurrence: subject-local pair join + broadcast
    # per-pred counts; never a cartesian of the triple table
    (
        "kg_pred_cooccurrence",
        [PARTIAL_AGG, r"BroadcastHashJoin"],
        [r"CartesianProduct", r"ArrowEvalPython|BatchEvalPython"],
    ),
    # ANALYZE stats: ONE aggregate pass (count-distincts share a
    # single Expand), metadata-sized explode after; no join, no window
    (
        "docs_table_stats",
        [r"Expand", PARTIAL_AGG, r"Generate"],
        [r"SortMergeJoin", r"BroadcastHashJoin", r"Window",
         r"CartesianProduct", r"ArrowEvalPython|BatchEvalPython"],
    ),
    # two-stage rerank: SQ8 pool stage + broadcast pool-to-vector
    # joins; exact cosine confined to pool-sized data; no Python
    (
        "embeddings_sq8_rerank",
        [r"BroadcastNestedLoopJoin|BroadcastHashJoin", r"Window",
         PARTIAL_AGG],
        [r"CartesianProduct", r"ArrowEvalPython|BatchEvalPython"],
    ),
    # type signatures: map-side prefix parse, one partial agg, totals
    # re-aggregated from signature rows + broadcast back; no window
    (
        "kg_type_signatures",
        [PARTIAL_AGG, r"BroadcastHashJoin"],
        [r"Window", r"CartesianProduct",
         r"ArrowEvalPython|BatchEvalPython"],
    ),
    # fertility: per-doc array sizes map-side, one lang-keyed partial
    # agg; no join, no window, no Python
    (
        "docs_tokenizer_fertility",
        [PARTIAL_AGG],
        [r"SortMergeJoin", r"BroadcastHashJoin", r"Window",
         r"CartesianProduct", r"ArrowEvalPython|BatchEvalPython"],
    ),
    # CUPED: one per-user partial agg + two metadata-sized aggregates,
    # pooled moments broadcast into the 2-row cohort table
    (
        "events_cuped",
        [PARTIAL_AGG, r"BroadcastNestedLoopJoin|BroadcastHashJoin"],
        [r"SortMergeJoin", r"Window", r"CartesianProduct",
         r"ArrowEvalPython|BatchEvalPython"],
    ),
    # native session windows: the dedicated MergingSessions operator —
    # one user-keyed exchange, in-partition merge; no join, no Python
    (
        "events_session_windows",
        [r"MergingSessions|UpdatingSessions|SessionWindow"],
        [r"SortMergeJoin", r"BroadcastHashJoin", r"CartesianProduct",
         r"ArrowEvalPython|BatchEvalPython"],
    ),
    # MAD outliers: rank windows over narrow (lang, chars) projections,
    # medians broadcast back; the exact audit of the histogram sketch
    (
        "docs_mad_outliers",
        [r"Window", r"BroadcastHashJoin", PARTIAL_AGG],
        [r"CartesianProduct", r"ArrowEvalPython|BatchEvalPython"],
    ),
    # DOW seasonality: one (type, dow) partial agg, totals re-agg from
    # counts and broadcast; no window, no Python
    (
        "events_dow_seasonality",
        [PARTIAL_AGG, r"BroadcastHashJoin"],
        [r"SortMergeJoin", r"Window", r"CartesianProduct",
         r"ArrowEvalPython|BatchEvalPython"],
    ),
    # skip-gram census: the walk plan plus two map-side Generates and
    # ONE (center, context) partial agg; no cartesian, no Python
    (
        "events_skipgram_pairs",
        [r"Generate", PARTIAL_AGG],
        [r"CartesianProduct", r"ArrowEvalPython|BatchEvalPython"],
    ),
    # CDC diff: one FULL OUTER key join (the unavoidable CDC shuffle),
    # sha compare in codegen, census partial-agg'd; no Python
    (
        "docs_snapshot_diff",
        [r"SortMergeJoin|ShuffledHashJoin", r"FullOuter", PARTIAL_AGG],
        [r"CartesianProduct", r"ArrowEvalPython|BatchEvalPython"],
    ),
    # winsorized stats: one rank window over (lang, chars), 2-value
    # bounds broadcast back, one partial agg; no Python
    (
        "docs_winsorized_stats",
        [r"Window", r"BroadcastHashJoin", PARTIAL_AGG],
        [r"CartesianProduct", r"ArrowEvalPython|BatchEvalPython"],
    ),
    # multi-touch: user-keyed interval self-join (J5 range-join shape),
    # per-purchase windows on the pair table, one item agg; no Python
    (
        "events_multitouch",
        [r"Window", PARTIAL_AGG],
        [r"CartesianProduct", r"ArrowEvalPython|BatchEvalPython"],
    ),
    # k-anonymity: one QI partial agg + a band rollup; no join/window
    (
        "docs_k_anonymity",
        [PARTIAL_AGG],
        [r"SortMergeJoin", r"BroadcastHashJoin", r"Window",
         r"CartesianProduct", r"ArrowEvalPython|BatchEvalPython"],
    ),
    # expectations: every rule a conditional count in ONE agg pass +
    # metadata-sized explode; no join, no window, no Python
    (
        "docs_expectations",
        [PARTIAL_AGG, r"Generate"],
        [r"SortMergeJoin", r"BroadcastHashJoin", r"Window",
         r"CartesianProduct", r"ArrowEvalPython|BatchEvalPython"],
    ),
    # lang-id scorecard: the classifier's own plan + two metadata-sized
    # aggs over the confusion table; no Python
    (
        "docs_lang_id_metrics",
        [PARTIAL_AGG],
        [r"CartesianProduct", r"ArrowEvalPython|BatchEvalPython"],
    ),
    # band join: the |a-b|<=delta predicate MUST plan as an equi-join
    # (hash/merge on (user, bucket)) — never a nested-loop inequality
    # join over purchases x views
    (
        "events_band_join",
        [r"Generate", PARTIAL_AGG,
         r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin",
         r"ArrowEvalPython|BatchEvalPython"],
    ),
    # power-law fit: per-side degree partial aggs + histogram aggs,
    # log terms evaluated on the metadata-sized histogram; no window
    (
        "events_degree_powerlaw",
        [PARTIAL_AGG, r"Union"],
        [r"CartesianProduct", r"ArrowEvalPython|BatchEvalPython"],
    ),
    # group sampler: one rank window over the narrow (lang, id)
    # projection; no join, no Python
    (
        "docs_group_sample",
        [r"Window"],
        [r"SortMergeJoin", r"BroadcastHashJoin", r"CartesianProduct",
         r"ArrowEvalPython|BatchEvalPython"],
    ),
    # label coherence: one per-label centroid agg (k rows broadcast),
    # member scoring map-side, k^2 centroid matrix metadata; no Python
    (
        "embeddings_label_coherence",
        [PARTIAL_AGG, r"BroadcastHashJoin|BroadcastNestedLoopJoin"],
        [r"CartesianProduct", r"ArrowEvalPython|BatchEvalPython"],
    ),
    # ANOVA: one per-source partial agg + a 1-row rollup; no
    # join/window/Python
    (
        "docs_length_anova",
        [PARTIAL_AGG],
        [r"SortMergeJoin", r"BroadcastHashJoin", r"Window",
         r"CartesianProduct", r"ArrowEvalPython|BatchEvalPython"],
    ),
    # Mann-Whitney: per-user partial agg, ONE rank window over the
    # counts projection, tie table broadcast back; no Python
    (
        "events_mann_whitney",
        [PARTIAL_AGG, r"Window", r"BroadcastHashJoin"],
        [r"CartesianProduct", r"ArrowEvalPython|BatchEvalPython"],
    ),
    # bootstrap: B-way map-side explode + ONE partial agg to B rows,
    # metadata-sized rank; no join against data, no Python
    (
        "docs_bootstrap_ci",
        [r"Generate", PARTIAL_AGG],
        [r"SortMergeJoin", r"BroadcastHashJoin", r"CartesianProduct",
         r"ArrowEvalPython|BatchEvalPython"],
    ),
    # top paths: rank window + sorted-collect + path agg + TakeOrdered;
    # never a corpus-wide sort, no Python
    (
        "events_top_paths",
        [r"Window", PARTIAL_AGG, r"TakeOrdered"],
        [r"CartesianProduct", r"ArrowEvalPython|BatchEvalPython"],
    ),
    # PMI: distinct projection + df census are the only corpus-sized
    # shuffles; vocab broadcast, doc-local pairs, TakeOrdered finish
    (
        "docs_term_pmi",
        [PARTIAL_AGG, r"BroadcastHashJoin", r"TakeOrdered"],
        [r"CartesianProduct", r"ArrowEvalPython|BatchEvalPython"],
    ),
    # CUSUM: one day partial agg; cumsum window + argmax ride the
    # metadata-sized day table; no Python
    (
        "events_changepoint",
        [PARTIAL_AGG, r"Window", r"TakeOrdered"],
        [r"SortMergeJoin", r"CartesianProduct",
         r"ArrowEvalPython|BatchEvalPython"],
    ),
    # dedup savings: the content-sha dedup shuffle + a band rollup;
    # no join, no window, no Python
    (
        "docs_dedup_savings",
        [PARTIAL_AGG, r"Union"],
        [r"SortMergeJoin", r"BroadcastHashJoin", r"Window",
         r"CartesianProduct", r"ArrowEvalPython|BatchEvalPython"],
    ),
    # r x c independence: one (source, lang) partial agg, margins
    # broadcast back into the metadata-sized cell table; no window
    (
        "docs_src_lang_independence",
        [PARTIAL_AGG, r"BroadcastHashJoin|BroadcastNestedLoopJoin"],
        [r"SortMergeJoin", r"Window", r"CartesianProduct",
         r"ArrowEvalPython|BatchEvalPython"],
    ),
    # partition advisor: ONE aggregate row + pure arithmetic; nothing
    # else in the plan
    (
        "docs_partition_advisor",
        [PARTIAL_AGG],
        [r"SortMergeJoin", r"BroadcastHashJoin", r"Window", r"Generate",
         r"CartesianProduct", r"ArrowEvalPython|BatchEvalPython"],
    ),
    # Markov stationary: corpus touched once (the transitions window);
    # every iteration is a broadcast join + agg over the |types|^2
    # matrix; no Python
    (
        "events_markov_stationary",
        [r"Window", PARTIAL_AGG, r"BroadcastHashJoin"],
        [r"CartesianProduct", r"ArrowEvalPython|BatchEvalPython"],
    ),
    # Heaps fit: one tokenize pass + a (term -> min rank) agg; the
    # cumulative windows and OLS ride the 10-row decile table
    (
        "docs_heaps_law",
        [PARTIAL_AGG, r"Window", r"Generate"],
        [r"CartesianProduct", r"ArrowEvalPython|BatchEvalPython"],
    ),
    # item CF: user-local pair generation with the power-user cap,
    # degree tables broadcast, TakeOrdered finish; no cartesian
    (
        "events_item_cf",
        [PARTIAL_AGG, r"BroadcastHashJoin", r"TakeOrdered"],
        [r"CartesianProduct", r"ArrowEvalPython|BatchEvalPython"],
    ),
    # conversion lag: one per-user partial agg, ranks ride the lag
    # table; no Python
    (
        "events_conversion_lag",
        [PARTIAL_AGG, r"Window"],
        [r"SortMergeJoin", r"CartesianProduct",
         r"ArrowEvalPython|BatchEvalPython"],
    ),
    # stickiness: one distinct projection feeds both censuses; no
    # window, no Python
    (
        "events_stickiness",
        [PARTIAL_AGG],
        [r"Window", r"CartesianProduct",
         r"ArrowEvalPython|BatchEvalPython"],
    ),
    # Holt fold: per-series aggregate() lambda runs inside the
    # projection — map-side-combinable daily histogram, no window
    # over raw events, no Python on the path
    (
        "events_holt_forecast",
        [PARTIAL_AGG, r"aggregate\("],
        [r"Window", r"CartesianProduct",
         r"ArrowEvalPython|BatchEvalPython"],
    ),
    # burst Viterbi: both DP passes are folds inside projections over
    # one daily histogram — no window over raw events, no Python
    (
        "events_bursts",
        [PARTIAL_AGG, r"aggregate\("],
        [r"Window", r"CartesianProduct",
         r"ArrowEvalPython|BatchEvalPython"],
    ),
    # silhouette: k-row centroid table broadcasts into the n x k
    # expand; per-point reduce + per-bucket finish are partial aggs;
    # no per-point window, no Python
    (
        "embeddings_silhouette",
        [r"BroadcastNestedLoopJoin|BroadcastHashJoin", PARTIAL_AGG],
        [r"CartesianProduct", r"ArrowEvalPython|BatchEvalPython"],
    ),
    # DiD: scalar midpoint broadcast + ONE 4-cell conditional partial
    # agg; single-row output, no join network, no window
    (
        "events_did",
        [r"BroadcastNestedLoopJoin", PARTIAL_AGG],
        [r"Window", r"SortMergeJoin",
         r"ArrowEvalPython|BatchEvalPython"],
    ),
    # mutual NN: the audited brute baseline broadcasts the right
    # cohort; both argmins are partial-agg min-of-struct, no window
    (
        "embeddings_mutual_nn",
        [r"BroadcastNestedLoopJoin", r"partial_min"],
        [r"Window", r"ArrowEvalPython|BatchEvalPython"],
    ),
    # WL refinement: message-passing rounds are join + sorted
    # collect_list (ObjectHashAggregate); pure column expressions —
    # no Python, no window, no cartesian anywhere in the 3 unrolled
    # rounds
    (
        "kg_wl_colors",
        [r"ObjectHashAggregate", r"md5"],
        [r"Window", r"CartesianProduct",
         r"ArrowEvalPython|BatchEvalPython"],
    ),
    # item SCC: the only corpus-sized work is the first-touch partial
    # agg + ONE per-user window over first-touches; the closure loop
    # is lineage-truncated (localCheckpoint) metadata joins. No
    # Python, no cartesian.
    (
        "events_item_scc",
        [r"Window", PARTIAL_AGG],
        [r"CartesianProduct", r"ArrowEvalPython|BatchEvalPython"],
    ),
    # Benford: three pruned scans fold to 9-row digit histograms via
    # partial aggs; the 3-row per-source totals join broadcasts
    (
        "docs_benford",
        [PARTIAL_AGG, r"BroadcastHashJoin"],
        [r"Window", r"CartesianProduct",
         r"ArrowEvalPython|BatchEvalPython"],
    ),
    # lead-lag: daily counts partial-agg; the 8-row lag expansion is
    # a broadcast nested-loop; no window anywhere
    (
        "events_leadlag",
        [PARTIAL_AGG, r"BroadcastNestedLoopJoin"],
        [r"Window", r"ArrowEvalPython|BatchEvalPython"],
    ),
    # predicate drift: event scan folds in one partial agg; weekly
    # totals broadcast; the lag window sorts the weeks×preds table
    (
        "kg_predicate_drift",
        [PARTIAL_AGG, r"BroadcastHashJoin", r"Window"],
        [r"CartesianProduct", r"ArrowEvalPython|BatchEvalPython"],
    ),
    # merge audit: cluster rows join the pruned documents scan; the
    # per-cluster rollup is partial-agg + sorted-list ObjectHashAgg
    (
        "kg_merge_audit",
        [PARTIAL_AGG, r"ObjectHashAggregate"],
        [r"CartesianProduct", r"ArrowEvalPython|BatchEvalPython"],
    ),
    # rendezvous: W md5 candidates stay inside codegen (array_max over
    # a per-row array — no explode, no join); one 16-group partial agg
    (
        "docs_rendezvous_shards",
        [PARTIAL_AGG, r"array_max"],
        [r"Window", r"CartesianProduct", r"Join",
         r"ArrowEvalPython|BatchEvalPython"],
    ),
    # filter funnel: ONE scalar aggregate over codegen flags, then a
    # 5-row generate (stack); no join, no window
    (
        "docs_filter_funnel",
        [PARTIAL_AGG, r"Generate"],
        [r"Window", r"CartesianProduct", r"Join",
         r"ArrowEvalPython|BatchEvalPython"],
    ),
    # walk census: message-passing rounds = equi-join + partial-agg
    # regroup; state bounded by entities x types, no window
    (
        "kg_walk_census",
        [PARTIAL_AGG],
        [r"Window", r"CartesianProduct",
         r"ArrowEvalPython|BatchEvalPython"],
    ),
    # source overlap: near-dup pairs join two pruned doc lookups; the
    # per-source counts ride in broadcast; matrix agg is partial
    (
        "docs_source_overlap",
        [PARTIAL_AGG, r"BroadcastHashJoin"],
        [r"CartesianProduct", r"ArrowEvalPython|BatchEvalPython"],
    ),
    # IFP violations: (pred,obj) distinct-subj partial agg + broadcast
    # pred totals + TakeOrdered; no window
    (
        "kg_ifp_violations",
        [PARTIAL_AGG, r"BroadcastHashJoin", r"TakeOrderedAndProject"],
        [r"Window", r"CartesianProduct",
         r"ArrowEvalPython|BatchEvalPython"],
    ),
    # CEP: ordered per-user sequence built in ONE ObjectHashAggregate,
    # then a scalar agg of regex flags + 3-row stack; no join/window
    (
        "events_pattern_match",
        [r"ObjectHashAggregate", r"Generate"],
        [r"Window", r"CartesianProduct", r"Join",
         r"ArrowEvalPython|BatchEvalPython"],
    ),
    # join-cardinality QA: actual is computed on the (pred,obj) fanout
    # aggregate (never the materialized join); stats broadcast in
    (
        "kg_join_cardinality_qa",
        [PARTIAL_AGG, r"BroadcastHashJoin"],
        [r"Window", r"CartesianProduct",
         r"ArrowEvalPython|BatchEvalPython"],
    ),
    # growth accounting: events fold to distinct (user,week) rows
    # first; ONE per-user window over active weeks; churn cap rides a
    # broadcast scalar
    (
        "events_growth_accounting",
        [PARTIAL_AGG, r"Window", r"BroadcastNestedLoopJoin"],
        [r"CartesianProduct", r"ArrowEvalPython|BatchEvalPython"],
    ),
    # velocity: one RANGE-frame window per (user,type), partial-agg
    # rollups after; no join
    (
        "events_velocity_flags",
        [r"Window", PARTIAL_AGG],
        [r"CartesianProduct", r"Join",
         r"ArrowEvalPython|BatchEvalPython"],
    ),
    # debounce: one lag window per (user,type), per-type census; no
    # join
    (
        "events_debounce_dedup",
        [r"Window", PARTIAL_AGG],
        [r"CartesianProduct", r"Join",
         r"ArrowEvalPython|BatchEvalPython"],
    ),
    # SRM: distinct (segment,cohort,user) partial agg, 6-integer rows;
    # no join, no window
    (
        "events_ab_srm",
        [PARTIAL_AGG],
        [r"Window", r"CartesianProduct", r"Join",
         r"ArrowEvalPython|BatchEvalPython"],
    ),
    # hub knockout: corpus-sized work is the capped item-item pair
    # agg; scenario closures are checkpoint-truncated metadata joins.
    # No Python, no window.
    (
        "events_hub_knockout",
        [PARTIAL_AGG],
        [r"Window", r"CartesianProduct",
         r"ArrowEvalPython|BatchEvalPython"],
    ),
    # l-diversity: two-level partial agg + band census; no joins
    (
        "docs_l_diversity",
        [PARTIAL_AGG],
        [r"Window", r"CartesianProduct", r"Join",
         r"ArrowEvalPython|BatchEvalPython"],
    ),
    # rich club: capped pair agg, broadcast degree attach, ONE scalar
    # agg per side + stack; no scenario loop, no window
    (
        "events_rich_club",
        [PARTIAL_AGG, r"BroadcastHashJoin", r"Generate"],
        [r"Window", r"ArrowEvalPython|BatchEvalPython"],
    ),
    # trigram: both leads come from ONE Window op; counts are partial
    # aggs over type-cubed key spaces; baselines broadcast in
    (
        "events_trigram_transitions",
        [r"Window", PARTIAL_AGG, r"BroadcastHashJoin",
         r"TakeOrderedAndProject"],
        [r"CartesianProduct", r"ArrowEvalPython|BatchEvalPython"],
    ),
    # cumulative reach: per-user first-day partial agg; the only
    # window runs over the |days|-sized series
    (
        "events_cumulative_reach",
        [PARTIAL_AGG, r"Window"],
        [r"CartesianProduct", r"Join",
         r"ArrowEvalPython|BatchEvalPython"],
    ),
    # transitivity: wedges from sorted adjacency arrays (posexplode +
    # slice, the triangle-counting idiom) — no unbounded self-join
    (
        "docs_dedup_transitivity",
        [r"ObjectHashAggregate", r"Generate"],
        [r"CartesianProduct.*CartesianProduct",
         r"ArrowEvalPython|BatchEvalPython"],
    ),
    # degree histogram: two partial-agg degree legs + (type,bucket)
    # census; integer bucket chain, no float log, no window
    (
        "kg_degree_histogram",
        [PARTIAL_AGG],
        [r"Window", r"CartesianProduct",
         r"ArrowEvalPython|BatchEvalPython"],
    ),
    # SQ8 saturation: one posexplode + per-dim partial agg
    (
        "embeddings_sq8_saturation",
        [PARTIAL_AGG, r"Generate"],
        [r"Window", r"ArrowEvalPython|BatchEvalPython"],
    ),
    # half-life: first-touch partial agg; the window runs per item
    # over its distinct active DAYS; audience totals broadcast
    (
        "events_item_halflife",
        [PARTIAL_AGG, r"Window", r"BroadcastHashJoin"],
        [r"CartesianProduct", r"ArrowEvalPython|BatchEvalPython"],
    ),
    # Lorenz: per-user count partial agg; rank/cumsum window over the
    # |users|-sized table; the 10-row decile attach is a broadcast
    # nested-loop (the boundary condition is an expression, not an
    # equi-key — 10 x |users| comparisons on a metadata frame)
    (
        "events_lorenz_deciles",
        [PARTIAL_AGG, r"Window", r"BroadcastNestedLoopJoin"],
        [r"CartesianProduct", r"ArrowEvalPython|BatchEvalPython"],
    ),
    # triple novelty: distinct assertions + min-week partial aggs; the
    # running sum rides the |weeks|-sized table
    (
        "kg_triple_novelty",
        [PARTIAL_AGG, r"Window"],
        [r"CartesianProduct", r"ArrowEvalPython|BatchEvalPython"],
    ),
    # role mix: union of flagged projections, per-entity max partial
    # agg, per-type census; no join, no window
    (
        "kg_role_mix",
        [PARTIAL_AGG],
        [r"Window", r"CartesianProduct", r"Join",
         r"ArrowEvalPython|BatchEvalPython"],
    ),
    # shingle-df census: per-doc distinct explode + ONE shingle df
    # partial agg + bucket rollup; no window
    (
        "docs_shingle_df_histogram",
        [PARTIAL_AGG, r"Generate"],
        [r"Window", r"CartesianProduct",
         r"ArrowEvalPython|BatchEvalPython"],
    ),
    # fulfillment latency: orders is fact-sized so its join carries NO
    # hint (AQE decides); one rank window per priority; boundary ranks
    # join the explicitly-broadcast 6-row per-priority stats (the
    # BroadcastHashJoin asserted here)
    (
        "orders_fulfillment_latency",
        [r"BroadcastHashJoin", r"Window", PARTIAL_AGG],
        [r"CartesianProduct", r"ArrowEvalPython|BatchEvalPython"],
    ),
]


def main(sf_dir: str) -> int:
    spark = get_spark(cores=8)
    spark.sparkContext.setLogLevel("ERROR")
    failures = 0
    for name, must, must_not in CHECKS:
        plan = plan_of(Q.QUERIES[name](spark, sf_dir))
        missing = [p for p in must if not re.search(p, plan)]
        present = [p for p in must_not if re.search(p, plan)]
        ok = not missing and not present
        print(f"{name:32s} {'OK' if ok else 'FAIL'}")
        if missing:
            print(f"  missing: {missing}")
        if present:
            print(f"  unexpected: {present}")
        failures += 0 if ok else 1
    # Boruvka MSF: the returned frame's lineage is truncated by the
    # per-round localCheckpoints, so audit the edge BUILDER (the only
    # data-scale stage — user-local pair generation) directly: power-
    # user cap applied via a broadcast join, pair census map-side
    # combinable, no cartesian, no Python
    from deja_view_spark.queries_graph import _cf_item_edges

    plan = plan_of(_cf_item_edges(spark, sf_dir))
    missing = [
        p
        for p in [r"BroadcastHashJoin", r"partial_count"]
        if not re.search(p, plan)
    ]
    present = [
        p
        for p in [r"CartesianProduct", r"ArrowEvalPython|BatchEvalPython"]
        if re.search(p, plan)
    ]
    ok = not missing and not present
    print(f"{'events_msf edge-builder':32s} {'OK' if ok else 'FAIL'}")
    if missing:
        print(f"  missing: {missing}")
    if present:
        print(f"  unexpected: {present}")
    failures += 0 if ok else 1
    # quantized PCA: same checkpoint-truncation situation — audit the
    # covariance BUILDER (the only corpus-sized stage: one posexplode
    # + 64-column partial agg), no Python, no window
    from deja_view_spark.queries_retrieval import _pca_cov

    plan = plan_of(_pca_cov(spark, sf_dir))
    missing = [
        p for p in [PARTIAL_AGG, r"Generate"] if not re.search(p, plan)
    ]
    present = [
        p
        for p in [r"Window", r"ArrowEvalPython|BatchEvalPython"]
        if re.search(p, plan)
    ]
    ok = not missing and not present
    print(f"{'embeddings_pca cov-builder':32s} {'OK' if ok else 'FAIL'}")
    if missing:
        print(f"  missing: {missing}")
    if present:
        print(f"  unexpected: {present}")
    failures += 0 if ok else 1

    # scan pruning evidence: a 2-column projection reads a 2-column schema
    df = Q.QUERIES["events_top3_per_user"](spark, sf_dir)
    plan = plan_of(df)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    cols = m.group(1) if m else "?"
    narrow = cols.count(":") <= 4
    print(f"{'events_top3 read-schema':32s} {'OK' if narrow else 'FAIL'} ({cols})")
    failures += 0 if narrow else 1
    return failures


if __name__ == "__main__":
    sys.exit(main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"))
