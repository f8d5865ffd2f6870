"""All-pairs duplicate-edge extraction (the flagship operator, J2).

Reference semantics (cli.py:459-678 `find-duplicates`, independent
variant find_similar_issues.py:17-141): for EVERY indexed document,
find its nearest neighbors by cosine, keep those with
similarity >= threshold, keep the top-k (3) per source, excluding
self-matches. The reference executes this as a sequential per-row loop
of Chroma ANN queries — O(n) network round-trips; here it is ONE
distributed job:

    embeddings --bands (stored, or a simhash/MinHash pandas UDF)--> explode
      --> self equi-join on xxhash64(scope, band)  [one band shuffle]
      --> distinct candidate pairs (a < b)         [dedup across bands]
      --> exact cosine verify (column expr)        [codegen, no Python]
      --> threshold filter
      --> mirror to directed edges
      --> Window top-k per src
      --> duplicate triples (src, 'duplicates', dst, similarity)

Scale design:
- the band table is (doc_id, scope, band:long) — narrow; vectors are
  NOT carried through the explode/join (joined back only for surviving
  candidate pairs), so shuffle volume is O(n·bands·~24B), not O(n·dim);
- hot buckets (hot repos × common band values) are the skew risk: a
  bucket of s members is one join key yielding s(s-1)/2 pairs, and
  AQE's skew-join split divides that key's partition across tasks
  (the equi-join-on-set-key design of HERO, SIGMOD 2024, and of the
  string-similarity join over compressed indexes, ICDE 2022);
- distinct-pairs dedup happens BEFORE the vector join and cosine, so
  each candidate pair is scored exactly once;
- top-k per src is a single Window (shuffle on src), ties broken by
  (similarity desc, dst asc) so results are identical at any
  parallelism (SURVEY §7.4.6).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from deja_view_spark.functions.hashing import (
    make_minhash_bands_udf,
    make_simhash_udf,
)
from deja_view_spark.functions.similarity import cosine_sim


def _similarity(cos: Column, convention: str) -> Column:
    # cosine distance d = 1 - cos;
    # 'service': sim = 1 - d = cos                (github_similarity_service.py:410)
    # 'report':  sim = 1 - d/2 = (1 + cos) / 2    (cli.py:550)
    if convention == "service":
        return cos
    if convention == "report":
        return (F.lit(1.0) + cos) / 2.0
    raise ValueError(convention)


def band_pairs(bt: DataFrame) -> DataFrame:
    """The candidate generator: (doc_id, _scope, band) band rows ->
    distinct (src, dst) pairs with src < dst that share a band within
    a scope.

    One equi-join of the band rows with themselves on the fused key
    ``xxhash64(_scope, band)``, the same join shape ``add_batch``
    probes the store with (operators/incremental_edges.py). Fusing the
    two columns into one long halves the shuffled key bytes; a
    cross-scope key collision (~#buckets²/2⁶⁴) can only ADD a
    candidate, which the verify join's exact scope screen removes.
    When the join is shuffled, both sides reuse one exchange of the
    band rows. A hot bucket of s members yields its s(s-1)/2 pairs in
    one join key; AQE's skew-join split spreads that key's partition
    over several tasks."""
    keyed = bt.select(F.xxhash64("_scope", "band").alias("_bkey"), "doc_id")
    a, b = keyed.alias("a"), keyed.alias("b")
    return (
        a.join(
            b,
            (F.col("a._bkey") == F.col("b._bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("src"), F.col("b.doc_id").alias("dst"))
        # deduped inside a partitioning by src, which the verify join's
        # src side then reuses: one exchange fewer than a plain distinct
        .repartition("src")
        .distinct()
    )


def candidate_pairs_lsh(
    emb: DataFrame,
    scope_col: str | None,
    bands: int,
    rows: int,
    seed: int,
) -> DataFrame:
    """Hyperplane-LSH band candidates over embedding vectors
    -> distinct (src, dst) with src<dst.

    ``emb`` must have columns (doc_id, vector[, scope_col]).
    """
    simhash = make_simhash_udf(bands=bands, rows=rows, seed=seed)
    scope = F.col(scope_col) if scope_col else F.lit("")
    bt = emb.select(
        F.col("doc_id"),
        scope.alias("_scope"),
        F.explode(simhash(F.col("vector"))).alias("band"),
    )
    return band_pairs(bt)


def candidate_pairs_minhash(
    text_df: DataFrame,
    scope_col: str | None,
    bands: int,
    rows: int,
    shingle_k: int,
    seed: int,
) -> DataFrame:
    """MinHash band candidates over token shingles of ``doc_text``
    -> distinct (src, dst) with src<dst.

    Near-duplicate text collides on whole signature segments, while
    documents that merely share a few phrases almost never do — far
    sharper than hyperplane bands when the corpus has a heavy
    shared-vocabulary background (see tools/tune_lsh.py).
    ``text_df`` must have columns (doc_id, doc_text[, scope_col]).
    """
    mh = make_minhash_bands_udf(
        bands=bands, rows=rows, shingle_k=shingle_k, seed=seed
    )
    scope = F.col(scope_col) if scope_col else F.lit("")
    bt = text_df.select(
        F.col("doc_id"),
        scope.alias("_scope"),
        F.explode(mh(F.col("doc_text"))).alias("band"),
    )
    return band_pairs(bt)


def candidate_pairs_stored(
    emb: DataFrame,
    scope_col: str | None,
    max_bucket: int | None = None,
    hash_ids: bool = False,
) -> DataFrame:
    """Band candidates from a PRE-COMPUTED ``bands`` column (written by
    the single-pass featurizer in plans/pipeline.py) — the build path:
    no second pass over raw text, no Python in this stage at all.
    ``emb`` must have columns (doc_id, bands[, scope_col]).

    ``max_bucket`` is accepted and unused: hot buckets need no cap
    since the band join leaves their skew to AQE. It stays a positional
    parameter only because perfbench's layer sweep passes it.

    ``hash_ids``: run the band join on xxhash64(doc_id) surrogates —
    every shuffled row becomes fixed-width 16B instead of carrying
    doc_id strings. The caller resolves surrogates back to real ids in
    its verify join. A surrogate collision (~n²/2⁶⁴) only perturbs the
    CANDIDATE set (a lost or extra pair), which the exact cosine verify
    screens — emitted edges stay exact.
    """
    scope = F.col(scope_col) if scope_col else F.lit("")
    doc = F.xxhash64("doc_id") if hash_ids else F.col("doc_id")
    bt = emb.select(
        doc.alias("doc_id"),
        scope.alias("_scope"),
        F.explode(F.col("bands")).alias("band"),
    )
    return band_pairs(bt)


def candidate_pairs_exact(emb: DataFrame, scope_col: str | None) -> DataFrame:
    """Exhaustive within-scope pairs (src < dst) — the small-scale oracle."""
    cols = ["doc_id"] + ([scope_col] if scope_col else [])
    ids = emb.select(*cols)
    a, b = ids.alias("a"), ids.alias("b")
    cond = F.col("a.doc_id") < F.col("b.doc_id")
    if scope_col:
        cond = cond & (F.col(f"a.{scope_col}") == F.col(f"b.{scope_col}"))
    return a.join(b, cond).select(
        F.col("a.doc_id").alias("src"), F.col("b.doc_id").alias("dst")
    )


def duplicate_edges(
    emb: DataFrame,
    threshold: float = 0.8,
    top_k: int = 3,
    scope_col: str | None = None,
    convention: str = "report",
    method: str = "lsh",
    bands: int = 24,
    rows: int = 8,
    seed: int = 1337,
    assume_normalized: bool = True,
    text: DataFrame | None = None,
    shingle_k: int = 3,
) -> DataFrame:
    """Directed duplicate edges: per src its top-k neighbors above
    threshold. Returns (src, dst, similarity, rank).

    method: 'exact' (exhaustive, small-scale oracle), 'lsh' (hyperplane
    bands over vectors), 'minhash' (MinHash bands over ``text`` — a
    DataFrame of (doc_id, doc_text[, scope_col]); the scale path).

    Semantics preserved from the reference: self-exclusion
    (github_similarity_service.py:405-407 / cli.py:543-545), threshold
    filter (cli.py:552), top-3 per source (cli.py:571), similarity
    rounded to 4dp (github_similarity_service.py:417).
    """
    hashed = method == "stored"
    if method == "lsh":
        pairs = candidate_pairs_lsh(emb, scope_col, bands, rows, seed)
    elif method == "stored":
        # surrogate-id mode: the band join shuffles 16B rows of
        # (bucket, xxhash64(doc_id)) instead of doc_id strings; the
        # verify joins below key on the same surrogate and resolve the
        # real ids from the vector side for free.
        pairs = candidate_pairs_stored(emb, scope_col, hash_ids=True)
    elif method == "minhash":
        if text is None:
            raise ValueError("method='minhash' requires text=(doc_id, doc_text)")
        pairs = candidate_pairs_minhash(
            text, scope_col, bands, rows, shingle_k, seed
        )
    elif method == "exact":
        pairs = candidate_pairs_exact(emb, scope_col)
    else:
        raise ValueError(method)

    # no materialization barrier here: the band join is
    # consumed exactly once by the verify join chain below (the join
    # strategy is pinned by shuffle_hash hints, not AQE size stats), so
    # candidates + verify fuse into one job — one fewer full pass.
    # scope columns ride along so the verify join can screen scope
    # equality exactly (the band join keys on a fused hash of
    # (scope, band) — a cross-scope hash collision may ADD a candidate;
    # this filter removes it).
    vcols = ["doc_id", "vector"] + ([scope_col] if scope_col else [])
    vecs = emb.select(*vcols)
    key = F.xxhash64("doc_id") if hashed else F.col("doc_id")
    va = vecs.select(
        key.alias("src"),
        F.col("doc_id").alias("_aid"),
        F.col("vector").alias("_va"),
        *([F.col(scope_col).alias("_sa")] if scope_col else []),
    )
    vb = vecs.select(
        key.alias("dst"),
        F.col("doc_id").alias("_bid"),
        F.col("vector").alias("_vb"),
        *([F.col(scope_col).alias("_sb")] if scope_col else []),
    )
    # shuffle-hash joins: sort-merge would SORT 512B/row vector rows on
    # both joins (measured 1.7x slower). Build sides chosen so the hash
    # map is never the widest relation in the join: join 1 builds from
    # the narrow pair list; join 2 builds from the vector table — NOT
    # from the (pairs + left-vector) stream, which at 2M rows overflowed
    # the per-task memory budget. Per-partition map size is bounded by
    # the shuffle partition count (session default cores*4 + AQE).
    scored = (
        pairs.hint("shuffle_hash")
        .join(va, "src")
        .join(vb.hint("shuffle_hash"), "dst")
    )
    if scope_col:
        scored = scored.where(F.col("_sa") == F.col("_sb"))
    if hashed:
        # surrogate-collision guard: two docs sharing xxhash64(doc_id)
        # would make the band join emit an (x,x) surrogate pair that
        # fans out here to (A,A)/(B,B) self-pairs at similarity 1.0 —
        # screen on the REAL ids so self-exclusion (J4) stays exact
        # even under a collision (~n²/2⁶⁴, but free to close).
        scored = scored.where(F.col("_aid") != F.col("_bid"))
    scored = (
        scored.withColumn(
            "_cos", cosine_sim(F.col("_va"), F.col("_vb"), assume_normalized)
        )
        .withColumn("similarity", F.round(_similarity(F.col("_cos"), convention), 4))
        .where(F.col("similarity") >= threshold)
    )

    # mirror: the reference scans every issue and reports ITS neighbors,
    # so the edge set is directed — both directions of each pair count.
    # Emitted by ONE explode projection (not a self-union), so the
    # verify join runs exactly once with no materialization barrier.
    directed = scored.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("_aid").alias("src"),
                    F.col("_bid").alias("dst"),
                    F.col("similarity"),
                ),
                F.struct(
                    F.col("_bid").alias("src"),
                    F.col("_aid").alias("dst"),
                    F.col("similarity"),
                ),
            )
        ).alias("_e")
    ).select("_e.src", "_e.dst", "_e.similarity")

    w = Window.partitionBy("src").orderBy(F.desc("similarity"), F.asc("dst"))
    return (
        directed.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
        .select("src", "dst", "similarity", "rank")
    )


def duplicate_report(edges: DataFrame) -> DataFrame:
    """Per-src rollup matching the reference report shape: max
    similarity + band counts (cli.py:572,576,589-590)."""
    per_src = edges.groupBy("src").agg(
        F.max("similarity").alias("max_similarity"),
        F.count("*").alias("n_similar"),
    )
    return per_src.withColumn(
        "band",
        F.when(F.col("max_similarity") >= 0.90, F.lit("very_high"))
        .when(F.col("max_similarity") >= 0.80, F.lit("high"))
        .otherwise(F.lit("below")),
    ).orderBy(F.desc("max_similarity"), F.asc("src"))
