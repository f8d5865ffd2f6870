"""Single-probe top-k similarity lookup (J1).

Reference: ``find_similar_issues`` service call
(github_similarity_service.py:386-426): embed the probe document, cosine
ANN over the repo-scoped collection with n_results=top_k+1, drop the
self-match (:405-407), similarity = 1 - distance (:410), threshold
filter (:412), round to 4dp (:417).

Two forms with one result:

- ``Snapshot``: one on-disk embeddings snapshot held on the driver
  (doc_ids, a doc_id -> row map, partition columns, the vectors as one
  column-major matrix). A query scores every row in NumPy, in Spark's
  arithmetic and rounding, and runs no Spark job. ``SimilarityService``
  and ``tools/cli.py find`` read through it.
- ``TopKSimilar``: the same lookup as one Spark plan. The probe's own
  row is broadcast-joined into the candidates (BroadcastNestedLoopJoin,
  zero-shuffle); scoring is a codegen'd dot product; the sorted limit
  compiles to TakeOrderedAndProject (exact top-k without a global
  sort). The probe row stays in the candidate set, flagged ``is_self``
  and sorted first. The registry's ``q_topk_probe`` runs it, and the
  tests use the Spark form as the reference for the resident one.

Both order by similarity desc, then doc_id asc, and let the probe
bypass the scope filter. ``Snapshot`` also applies ``min_similarity`` to
the rounded similarity and fails loudly when the probe is missing or
ambiguous.
"""

from __future__ import annotations

import os
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from deja_view_spark.functions.similarity import cosine_sim


def spark_round(x: np.ndarray) -> np.ndarray:
    """Spark's ``round(x, 4)`` on doubles: HALF_UP on the double's
    shortest decimal representation, not on its binary value. Plain
    ``np.round`` rounds half to even on ``x * 1e4`` and so differs at
    ties such as 0.12345 (Spark 0.1235). Rows within a rounding error of
    a tie are rounded again through ``Decimal(repr(x))``. Exact for
    ``|x| < 2**52 / 1e4``; cosine similarities are in [-1, 1]."""
    y = x * 1e4
    out = np.rint(y) / 1e4
    tol = 1e-12 * np.maximum(1.0, np.abs(y))
    near = np.abs(np.abs(y - np.trunc(y)) - 0.5) <= tol
    for i in np.flatnonzero(near):
        d = Decimal(repr(float(x[i]))).quantize(Decimal("0.0001"), ROUND_HALF_UP)
        out[i] = float(d)
    # a BigDecimal zero has no sign: Spark rounds -0.00001 to 0.0, not -0.0
    return out + 0.0


def _hidden(name: str) -> bool:
    # Spark's file-index rule: `_`-names that are not partition
    # directories (`_temporary/`) and `.`-names (`.spark-staging-*`,
    # `.crc` sidecars) hold no committed data
    return (name.startswith("_") and "=" not in name) or name.startswith(".")


def visible_parquet_files(root: str) -> list[str]:
    """The parquet files under ``root`` that a Spark read of ``root``
    lists, sorted: no path component below ``root`` is hidden. Task
    commits stage files under ``_temporary/`` and dynamic partition
    overwrite under ``.spark-staging-*/``; neither is part of the
    committed table."""
    out = []
    for dirpath, dirs, files in os.walk(root):
        dirs[:] = sorted(d for d in dirs if not _hidden(d))
        out += [
            os.path.join(dirpath, fn)
            for fn in sorted(files)
            if fn.endswith(".parquet") and not _hidden(fn)
        ]
    return out


class Snapshot:
    """Exact single-probe top-k over one embeddings snapshot (``doc_id``,
    ``vector``, hive partition columns) held on the driver.

    The vectors are one (n, dim) matrix, column-major and in the
    column's own float type, so it costs ``n * dim * 4`` bytes for
    ``array<float>``. A query scores all rows as Spark's
    ``functions.similarity.dot`` does: float64 products summed
    sequentially over the dimensions, so the similarities are
    bit-identical to the Spark plan's."""

    def __init__(
        self,
        doc_ids: list[str],
        vectors: np.ndarray,
        columns: dict[str, pa.ChunkedArray],
    ) -> None:
        self.doc_ids = doc_ids
        self.vectors = np.asfortranarray(vectors)
        self.columns = columns
        self._rows: dict[str, list[int]] = {}
        for i, d in enumerate(doc_ids):
            self._rows.setdefault(d, []).append(i)

    @classmethod
    def read(cls, root: str, files: list[str]) -> Snapshot:
        """Read exactly ``files`` (``visible_parquet_files(root)``) with
        their hive partitions under ``root``; partition values come back
        URL-decoded, as strings. Raises ValueError when the vectors are
        not all of one length (a null vector included): Spark's
        ``zip_with`` would pad the shorter one with nulls and rank it."""
        if not files:
            return cls([], np.empty((0, 0), np.float32), {})
        # Spark writes every file of a table under the same partition keys
        parts = [
            c.split("=", 1)[0]
            for c in os.path.relpath(files[0], root).split(os.sep)[:-1]
        ]
        t = ds.dataset(
            files,
            format="parquet",
            partitioning=ds.partitioning(
                pa.schema([(c, pa.string()) for c in parts]), flavor="hive"
            ),
            partition_base_dir=root,
        ).to_table(columns=["doc_id", "vector", *parts])
        vec = t.column("vector")
        lengths = pc.list_value_length(vec)
        mm = pc.min_max(lengths)
        lo, hi = mm["min"].as_py(), mm["max"].as_py()
        if lengths.null_count or lo != hi:
            raise ValueError(
                f"{root}: ragged vectors (lengths {lo}..{hi}, "
                f"{lengths.null_count} null); every vector must have one length"
            )
        flat = pc.list_flatten(vec)
        if flat.null_count:
            raise ValueError(f"{root}: {flat.null_count} null vector entries")
        return cls(
            t.column("doc_id").cast(pa.string()).to_pylist(),
            flat.to_numpy().reshape(t.num_rows, hi or 0),
            {c: t.column(c) for c in parts},
        )

    def __len__(self) -> int:
        return len(self.doc_ids)

    def rows(self, doc_id: str) -> list[int]:
        """Rows whose doc_id is ``doc_id``."""
        return self._rows.get(doc_id, [])

    def distinct(self, col: str) -> list[str]:
        """Sorted distinct non-null values of partition column ``col``."""
        values = pc.unique(self.columns[col]).to_pylist()
        return sorted(v for v in values if v is not None)

    def scores(self, i: int) -> np.ndarray:
        """Dot product of every row with row ``i``, unrounded."""
        n, dim = self.vectors.shape
        p = self.vectors[i].astype(np.float64)
        acc = np.zeros(n)
        prod = np.empty(n)
        for j in range(dim):
            np.multiply(self.vectors[:, j], p[j], out=prod, dtype=np.float64)
            acc += prod
        return acc

    def top_k(
        self,
        probe: list[int],
        ref: str,
        top_k: int = 5,
        min_similarity: float = 0.0,
        scope: dict[str, str] | None = None,
    ) -> tuple[str, list[tuple[str, float]]]:
        """(probe doc_id, up to ``top_k`` (doc_id, similarity)
        neighbours with similarity >= ``min_similarity`` and the
        ``scope`` column values), for the probe named by the ``probe``
        rows; ``ref`` names it in errors. Raises LookupError when
        ``probe`` is empty, or holds more than one row (a doc_id indexed
        twice, or an ambiguous reference), whose neighbours would be
        duplicated."""
        if not probe:
            raise LookupError(f"doc {ref!r} not indexed")
        if len(probe) > 1:
            ids = sorted({self.doc_ids[r] for r in probe})
            raise LookupError(
                f"doc {ref!r} is not unique in the index: it matches more "
                f"than one indexed row (doc_id {', '.join(ids)})"
            )
        i = probe[0]
        sim = spark_round(self.scores(i))
        keep = sim >= min_similarity
        keep[i] = False
        for col, val in (scope or {}).items():
            if col not in self.columns:
                raise ValueError(f"scope column {col!r} is not in the index")
            keep &= pc.fill_null(pc.equal(self.columns[col], val), False).to_numpy()
        k = max(top_k, 0)
        idx = np.flatnonzero(keep)
        if len(idx) > k:
            # rows tied with the k-th best stay, to be ordered by doc_id
            cut = np.partition(sim[idx], -k)[-k] if k else np.inf
            idx = idx[sim[idx] >= cut]
        ranked = sorted(
            zip(sim[idx].tolist(), (self.doc_ids[r] for r in idx)),
            key=lambda s_d: (-s_d[0], s_d[1]),
        )
        return self.doc_ids[i], [(d, s) for s, d in ranked[:k]]


class TopKSimilar:
    """Exact single-probe top-k over one embeddings collection
    (``doc_id``, ``vector``, plus carried columns), as one Spark plan.

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
        neighbours sorted desc, ties by doc_id asc."""
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

