"""Dedup operator family over text corpora (training-data pipeline ops):

- exact dedup            -> hash groupBy (queries.q_docs_exact_dedup)
- n-gram Jaccard (exact) -> inverted-index join (queries_text)
- MinHash LSH            -> banded signatures + bucket join (here)
- SimHash                -> 64-bit fingerprint + chunk-banded hamming
                            join (here; verify is pure JVM bit_count)

Scale notes: both LSH paths shuffle only (doc_id, band_key) pairs —
O(n·bands) narrow rows — and verify only bucket-colliding candidates.
The hamming verify uses xor+bit_count (codegen), no Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from deja_view_spark.functions.hashing import (
    make_minhash_bands_udf,
    make_simhash64_udf,
)
from deja_view_spark.operators.selfjoin import band_pairs


def minhash_candidate_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bands: int = 16,
    rows: int = 4,
    shingle_k: int = 3,
    seed: int = 7,
) -> DataFrame:
    """Distinct candidate (src_doc < dst_doc) pairs whose MinHash band
    signatures collide — the shingle->minhash->band->band-join
    pipeline (operators/selfjoin.band_pairs)."""
    mh = make_minhash_bands_udf(bands=bands, rows=rows, shingle_k=shingle_k, seed=seed)
    bt = docs.select(
        F.col(id_col).alias("doc_id"),
        F.lit("").alias("_scope"),
        F.explode(mh(F.col(text_col))).alias("band"),
    )
    return band_pairs(bt).select(
        F.col("src").alias("src_doc"), F.col("dst").alias("dst_doc")
    )


def _exact_jaccard(
    docs: DataFrame, pairs: DataFrame, text_col: str, id_col: str, shingle_k: int
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs only."""
    toks = F.regexp_extract_all(
        F.lower(F.col(text_col)), F.lit("[a-z0-9_]+"), 0
    )
    idx = F.sequence(F.lit(1), F.size(toks) - (shingle_k - 1))
    sh = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + j) for j in range(shingle_k)]
        ),
    )
    sets = docs.select(
        F.col(id_col).alias("doc_id"),
        F.array_distinct(
            F.when(F.size(toks) >= shingle_k, sh).otherwise(
                F.array().cast("array<string>")
            )
        ).alias("shset"),
    )
    # shingle sets are the expensive projection (regex tokenize + k-gram
    # build over full text) and feed BOTH verify joins: restrict to docs
    # that actually appear in a candidate pair (typically a small
    # fraction of the corpus), then checkpoint so the projection runs
    # once, not once per join side.
    pair_ids = (
        pairs.select(F.col("src_doc").alias("doc_id"))
        .unionByName(pairs.select(F.col("dst_doc").alias("doc_id")))
        .distinct()
    )
    sets = sets.join(pair_ids, "doc_id", "left_semi").localCheckpoint(eager=True)
    return (
        pairs.join(sets.withColumnRenamed("doc_id", "src_doc").withColumnRenamed("shset", "sa"), "src_doc")
        .join(sets.withColumnRenamed("doc_id", "dst_doc").withColumnRenamed("shset", "sb"), "dst_doc")
        .withColumn("inter", F.size(F.array_intersect("sa", "sb")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter")
                / (F.size("sa") + F.size("sb") - F.col("inter")),
                4,
            ),
        )
        .select("src_doc", "dst_doc", "jaccard")
    )


def minhash_dedup_pairs(
    docs: DataFrame,
    threshold: float = 0.2,
    text_col: str = "text",
    id_col: str = "doc_id",
    bands: int = 16,
    rows: int = 4,
    shingle_k: int = 3,
    seed: int = 7,
) -> DataFrame:
    """MinHash LSH near-duplicate pairs: banded candidates, exact
    Jaccard verify, threshold filter. Approximate recall at low
    thresholds (by LSH design); ~1.0 for true near-dups (j >= 0.8)."""
    cands = minhash_candidate_pairs(
        docs, text_col, id_col, bands, rows, shingle_k, seed
    )
    return (
        _exact_jaccard(docs, cands, text_col, id_col, shingle_k)
        .where(F.col("jaccard") >= threshold)
        .orderBy("src_doc", "dst_doc")
    )


def incremental_minhash_pairs(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    threshold: float = 0.2,
    text_col: str = "text",
    id_col: str = "doc_id",
    bands: int = 16,
    rows: int = 4,
    shingle_k: int = 3,
    seed: int = 7,
) -> DataFrame:
    """Incremental near-dup check: a small NEW batch probed against the
    already-indexed corpus (reference action.py:72-166 re-indexes then
    probes per new issue; this is the batched Spark shape).

    This is the operation a 100-TB pipeline actually runs daily — the
    whole point is NOT re-deduplicating the corpus: the corpus side is
    scanned once for band keys (in production the band table is the
    stored dedup index, so even that scan is a narrow index read, not a
    text pass), the new batch's band table is broadcast (a daily batch
    is ~1e-3 of the corpus), so there is NO shuffle of corpus rows at
    all — the candidate join is map-side. Exact-Jaccard verify then
    touches only colliding candidates.

    Emits (src_doc = new, dst_doc = corpus, jaccard >= threshold); the
    two sides are disjoint so no self-pair guard is needed. Recall at
    threshold 0.2 equals the full-corpus banding's (the candidate set
    here is the cross-split subset of the same band collisions), which
    docs_minhash_pairs' exhaustive oracle measures at 1.0."""
    mh = make_minhash_bands_udf(bands=bands, rows=rows, shingle_k=shingle_k, seed=seed)
    nb = new_docs.select(
        F.col(id_col).alias("src_doc"), F.explode(mh(F.col(text_col))).alias("band")
    )
    cb = corpus_docs.select(
        F.col(id_col).alias("dst_doc"), F.explode(mh(F.col(text_col))).alias("band")
    )
    cands = (
        cb.join(F.broadcast(nb), "band")
        .select("src_doc", "dst_doc")
        .distinct()
    )
    docs_all = new_docs.unionByName(corpus_docs)
    return (
        _exact_jaccard(docs_all, cands, text_col, id_col, shingle_k)
        .where(F.col("jaccard") >= threshold)
        .orderBy("src_doc", "dst_doc")
    )


def _hamming64(a: Column, b: Column) -> Column:
    """Hamming distance of two 64-bit fingerprints — xor + bit_count,
    pure codegen."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_dedup_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 99,
) -> DataFrame:
    """SimHash near-duplicate pairs: 64-bit token-weighted fingerprint,
    4x16-bit chunk banding (pigeonhole: hamming<=3 over 64 bits =>
    at least one of 4 chunks equal), JVM hamming verify."""
    sh = make_simhash64_udf(seed=seed)
    fp = docs.select(F.col(id_col).alias("doc_id"), sh(F.col(text_col)).alias("fp"))
    fp = fp.localCheckpoint(eager=True)  # one UDF pass, many consumers
    chunks = fp.select(
        "doc_id",
        "fp",
        F.explode(
            F.array(
                *[
                    (
                        F.shiftrightunsigned(F.col("fp"), 16 * i).bitwiseAND(
                            F.lit(0xFFFF)
                        )
                        + F.lit(i * 65536)
                    )
                    for i in range(4)
                ]
            )
        ).alias("chunk"),
    )
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("src_doc"),
            F.col("b.doc_id").alias("dst_doc"),
            F.col("a.fp").alias("fa"),
            F.col("b.fp").alias("fb"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", _hamming64(F.col("fa"), F.col("fb")))
        .where(F.col("hamming") <= max_hamming)
        .select("src_doc", "dst_doc", "hamming")
        .orderBy("src_doc", "dst_doc")
    )
