"""Triple extraction — the KG edge builders.

Triple schema (SURVEY §1.1 "Similarity edge"):
    (subj: string, pred: string, obj: string, weight: double)

Predicates:
- (repo, contains, path)      — pure projection of the source table;
- (doc, mentions, file)       — path-shaped tokens regex-extracted from
                                content (all-JVM: regexp_extract_all +
                                explode, no Python);
- (doc, duplicates, doc)      — from the LSH self-join
                                (operators/selfjoin.py), weight =
                                similarity, reference cli.py:553-573;
- (doc, same_as, canonical)   — from connected components
                                (operators/components.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# path-shaped token: dir/name.ext (dirs and names word-chars, ext 1-5 alpha)
PATH_TOKEN_RE = r"((?:[A-Za-z0-9_\-]+/)+[A-Za-z0-9_\-]+\.[A-Za-z]{1,5})"


def doc_key(df: DataFrame) -> DataFrame:
    """Canonical document id for a source row: repo/path."""
    return df.withColumn("doc_id", F.concat_ws("/", F.col("repo"), F.col("path")))


def contains_triples(src: DataFrame) -> DataFrame:
    """(repo, contains, path) — one per source row; a build's doc_ids
    are unique (plans/pipeline.py rejects a repeated one), so no
    dedup shuffle."""
    return src.select(
        F.col("repo").alias("subj"),
        F.lit("contains").alias("pred"),
        F.col("path").alias("obj"),
        F.lit(1.0).alias("weight"),
    )


def mention_triples(src: DataFrame) -> DataFrame:
    """(doc, mentions, file) for every path-shaped token in content.

    Self-mentions are excluded (a file referencing its own path is not
    an edge), mirroring the reference's self-exclusion discipline
    (github_similarity_service.py:405-407).
    """
    docs = doc_key(src)
    return (
        docs.select(
            F.col("doc_id").alias("subj"),
            F.col("path").alias("_self"),
            F.explode(
                F.regexp_extract_all(F.col("content"), F.lit(PATH_TOKEN_RE), 1)
            ).alias("obj"),
        )
        .where(F.col("obj") != F.col("_self"))
        .select(
            "subj",
            F.lit("mentions").alias("pred"),
            "obj",
            F.lit(1.0).alias("weight"),
        )
        .distinct()
    )


def mention_triples_from_emb(emb: DataFrame) -> DataFrame:
    """(doc, mentions, file) from a featurized table carrying a
    pre-extracted ``mentions`` array (self-references already dropped,
    per-doc deduped at extraction, doc_ids unique) — the scale path:
    the triples stage re-reads no source text and shuffles nothing
    (plans/pipeline.py stores mentions in the same single content pass
    as vectors and bands)."""
    return emb.select(
        F.col("doc_id").alias("subj"),
        F.lit("mentions").alias("pred"),
        F.explode(F.col("mentions")).alias("obj"),
        F.lit(1.0).alias("weight"),
    )


def duplicate_triples(edges: DataFrame) -> DataFrame:
    """(src, duplicates, dst, similarity) from duplicate_edges output."""
    return edges.select(
        F.col("src").alias("subj"),
        F.lit("duplicates").alias("pred"),
        F.col("dst").alias("obj"),
        F.col("similarity").cast("double").alias("weight"),
    )


def same_as_triples(components: DataFrame) -> DataFrame:
    """(doc, same_as, canonical_doc) from connected components output
    (id, component); identity rows (id == component) are kept — every
    doc maps to its canonical representative."""
    return components.select(
        F.col("id").alias("subj"),
        F.lit("same_as").alias("pred"),
        F.col("component").alias("obj"),
        F.lit(1.0).alias("weight"),
    )
