"""Single-probe top-k similarity lookup (J1).

Reference: ``find_similar_issues`` service call
(github_similarity_service.py:386-426): embed the probe document, cosine
ANN over the repo-scoped collection with n_results=top_k+1, drop the
self-match (:405-407), similarity = 1 - distance (:410), threshold
filter (:412), round to 4dp (:417).

Spark shape: one plan. The probe's own row of the collection is
broadcast-joined into the candidates (BroadcastNestedLoopJoin,
zero-shuffle); scoring is a codegen'd dot product; the sorted limit
compiles to TakeOrderedAndProject (exact top-k without a global sort).
The probe row stays in the candidate set, flagged ``is_self`` and sorted
first, so fetching the probe vector and ranking its neighbours is one
collect: the broadcast exchange is one Spark job and the top-k the
other. ``split_self`` then drops the self row on the driver, applies the
similarity threshold, and fails loudly when the probe is missing or
ambiguous.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F

from deja_view_spark.functions.similarity import cosine_sim


class TopKSimilar:
    """Exact single-probe top-k over one embeddings collection
    (``doc_id``, ``vector``, plus carried columns).

    The parts of the plan that do not depend on the probe — the
    probe-side projection and the scoring and ordering expressions —
    are built once per collection. Each is a run of py4j calls plus an
    analysis pass; rebuilt per query they added about 40 ms to a
    ~250 ms query over 2500 documents (4 vCPUs, local mode)."""

    def __init__(self, emb: DataFrame, assume_normalized: bool = True) -> None:
        self.emb = emb
        # array<double> keeps the arithmetic float x double -> double,
        # the same as scoring against a literal array of Python floats
        self._probes = F.broadcast(
            emb.select(
                F.col("doc_id").alias("probe_id"),
                F.col("vector").cast("array<double>").alias("probe_vec"),
            )
        )
        # service convention: similarity = 1 - distance = cosine
        sim = cosine_sim(F.col("vector"), F.col("probe_vec"), assume_normalized)
        self._is_self = F.col("doc_id") == F.col("probe_id")
        self._scored = (
            "doc_id",
            F.round(sim, 4).alias("similarity"),
            self._is_self.alias("is_self"),
        )
        self._order = (F.desc("is_self"), F.desc("similarity"), F.asc("doc_id"))

    def __call__(
        self,
        probe: Column,
        top_k: int = 5,
        scope: dict[str, str] | None = None,
    ) -> DataFrame:
        """Plan the top-k neighbours of the collection row(s) matching
        ``probe``, a condition on ``probe_id`` (the probe side's
        doc_id). Returns (doc_id, similarity, is_self): the probe's own
        rows first (they bypass ``scope``), then up to ``top_k``
        neighbours sorted desc, ties by doc_id asc. Take the neighbours
        off the collected rows with ``split_self``."""
        joined = self.emb.crossJoin(self._probes.where(probe))
        for col, val in (scope or {}).items():
            joined = joined.where(self._is_self | (F.col(col) == val))
        return (
            joined.select(*self._scored)
            .orderBy(*self._order)
            # one row past top_k holds the probe; with top_k >= 1 a
            # second self row (a doc_id indexed twice) is visible too
            .limit(max(top_k, 1) + 1)
        )


def split_self(
    rows: list[Row], ref: str, top_k: int, min_similarity: float
) -> tuple[str, list[Row]]:
    """Collected ``TopKSimilar`` rows -> (probe doc_id, neighbours with
    similarity >= min_similarity). The threshold is applied here, not in
    the plan: the rows are in similarity order, so the ones that pass
    are a prefix and the result is the same. Raises LookupError when
    the probe is not in the collection, or when it matched more than
    one row (a doc_id indexed twice, or an ambiguous reference), whose
    neighbours would be duplicated."""
    selves = [r for r in rows if r.is_self]
    if not selves:
        raise LookupError(f"doc {ref!r} not indexed")
    if len(selves) > 1:
        ids = sorted({str(r.doc_id) for r in selves})
        raise LookupError(
            f"doc {ref!r} is not unique in the index: it matches more "
            f"than one indexed row (doc_id {', '.join(ids)})"
        )
    near = [r for r in rows if not r.is_self and r.similarity >= min_similarity]
    return selves[0].doc_id, near[:top_k]
