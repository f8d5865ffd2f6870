"""Incremental duplicate-edge maintenance over a growing embeddings
store — the unscoped companion to the pipeline's repo-keyed resume.

The KG pipeline's resume mode (plans/pipeline.py) is keyed by repo and
scopes duplicate pairs within a repo, so a resumed batch is
independent of history BY CONSTRUCTION. The general case — an
embeddings table where a new document can duplicate ANY prior
document — needs real cross-batch candidate discovery without
re-running the full self-join per batch. This operator maintains it:

  per batch of featurized rows (doc_id, vector, bands[, scope])
    1. check that no doc_id occurs twice in the batch or is already
       stored under another batch_id (one doc_id-only job), then write
       the batch to a per-batch versioned embeddings store — the
       featurizer runs inside this one write (idempotent: re-running a
       batch overwrites its own subdir) — and read it back with the
       store's schema;
    2. PROBE JOIN: the batch's band rows (the probe side) are
       equi-joined on (scope, band) against the band rows of the whole
       store, old and batch. A stored partner is always kept, a batch
       partner only when its doc_id sorts after the probe's, so each
       batch x batch pair appears once; distinct (src < dst) dedups
       pairs that share several bands. A hot bucket with s stored and
       b batch members yields b*s candidate rows, never the s(s-1)/2
       old x old pairs a bucket self-join would build and discard;
    3. anti-join the pair store (pairs already scored in earlier
       batches) and exact-cosine-verify only the NEW pairs;
    4. append verified pairs to the per-batch pair store (the count of
       new pairs is observed on that write, not counted by a job).

Induction gives exact equivalence with a from-scratch self-join: every
new pair has a batch doc on the probe side, so a qualifying pair is
generated exactly when its later member arrives — in one batch, once.
``edges()`` (top-k trim) and ``components()`` recompute over the
accumulated pair store — those are edge-sized graph operations (<=
bands collisions above threshold), never a corpus scan; the expensive
stages (featurize, band join, cosine verify) are the incremental ones.

Equivalence is asserted by tests against duplicate_edges(method=
'stored') + connected_components over the full table, with planted
cross-batch duplicates, a hot bucket and a scope column.
"""

from __future__ import annotations

import os
from collections import Counter

import numpy as np
from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from deja_view_spark.functions.similarity import cosine_sim
from deja_view_spark.operators.components import connected_components
from deja_view_spark.operators.selfjoin import _similarity


class IncrementalDuplicates:
    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        threshold: float = 0.8,
        top_k: int = 3,
        convention: str = "report",
        scope_col: str | None = None,
        assume_normalized: bool = True,
    ):
        self.spark = spark
        self.state_dir = state_dir
        self.threshold = threshold
        self.top_k = top_k
        self.convention = convention
        self.scope_col = scope_col
        self.assume_normalized = assume_normalized
        os.makedirs(os.path.join(state_dir, "emb_store"), exist_ok=True)
        os.makedirs(os.path.join(state_dir, "pair_store"), exist_ok=True)

    # ----------------------------------------------------------- state
    def _batches(self, sub: str, exclude_batch: int | None) -> list[str]:
        d = os.path.join(self.state_dir, sub)
        return sorted(
            os.path.join(d, b)
            for b in os.listdir(d)
            if b.startswith("batch_") and b != f"batch_{exclude_batch}"
        )

    def _emb_fields(self) -> list[tuple[str, str]]:
        f = [
            ("doc_id", "string"),
            ("vector", "array<float>"),
            ("bands", "array<bigint>"),
        ]
        return f + ([(self.scope_col, "string")] if self.scope_col else [])

    def _emb_schema(self) -> str:
        return ", ".join(f"{c} {t}" for c, t in self._emb_fields())

    def _read(
        self, sub: str, schema: str, exclude_batch: int | None
    ) -> DataFrame:
        # a known schema: reading with an inferred one runs a job per call
        paths = self._batches(sub, exclude_batch)
        if not paths:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(*paths)

    def embeddings(self, exclude_batch: int | None = None) -> DataFrame:
        return self._read("emb_store", self._emb_schema(), exclude_batch)

    def pairs(self, exclude_batch: int | None = None) -> DataFrame:
        """Accumulated scored pairs; ``exclude_batch`` drops that
        batch's own store so RE-RUNNING a batch regenerates (not
        anti-joins away) its pairs — the idempotent-replay guard."""
        schema = "src string, dst string, similarity double"
        return self._read("pair_store", schema, exclude_batch)

    # ----------------------------------------------------------- merge
    @staticmethod
    def _check_ids(batch: DataFrame, old: DataFrame, batch_id: int) -> None:
        """Raise ValueError if a doc_id occurs twice in the batch or is
        already stored under another batch_id: a second vector for one
        doc_id would pair the doc with itself and duplicate its edges.

        One Spark job over doc_id only (no featurizer UDF runs) collects
        the batch's ids and the xxhash64 of every stored id, compared
        in Python. A stored hash that matches is confirmed by exact id
        before raising, so a hash collision cannot reject a batch."""
        h = F.xxhash64("doc_id").alias("h")
        t = (
            batch.select(h, "doc_id", F.lit(True).alias("new"))
            .unionByName(
                old.select(
                    h,
                    F.lit(None).cast("string").alias("doc_id"),
                    F.lit(False).alias("new"),
                )
            )
            .toArrow()
        )
        new = t.column("new").to_numpy(zero_copy_only=False)
        new_ids = t.filter(t.column("new")).column("doc_id").to_pylist()
        twice = [d for d, n in Counter(new_ids).items() if n > 1]
        if twice:
            raise ValueError(
                f"doc_id {twice[0]!r} occurs more than once in batch "
                f"{batch_id}"
            )
        hashes = t.column("h").to_numpy()
        hit = np.flatnonzero(np.isin(hashes[new], hashes[~new]))
        if not len(hit):
            return
        stored = (
            old.where(F.col("doc_id").isin([new_ids[i] for i in hit]))
            .select("doc_id")
            .limit(1)
            .collect()
        )
        if stored:
            raise ValueError(
                f"doc_id {stored[0].doc_id!r} of batch {batch_id} is already "
                "stored under another batch_id"
            )

    def _band_rows(self, emb: DataFrame, *extra: Column | str) -> DataFrame:
        scope = F.col(self.scope_col) if self.scope_col else F.lit("")
        return emb.select(
            *extra, scope.alias("_scope"), F.explode("bands").alias("band")
        )

    def add_batch(self, emb_batch: DataFrame, batch_id: int) -> dict:
        # cast to the store's schema so the read-back below is exact
        batch_in = emb_batch.select(
            *[F.col(c).cast(t).alias(c) for c, t in self._emb_fields()]
        )
        old = self.embeddings(exclude_batch=batch_id)
        self._check_ids(batch_in, old, batch_id)
        # featurized once: the embed/MinHash UDFs run inside this write
        # (idempotent: a re-run of the same batch overwrites its own dir)
        path = os.path.join(self.state_dir, "emb_store", f"batch_{batch_id}")
        batch_in.write.mode("overwrite").parquet(path)
        batch = self.spark.read.schema(self._emb_schema()).parquet(path)
        full = old.withColumn("_new", F.lit(False)).unionByName(
            batch.withColumn("_new", F.lit(True))
        )

        # probe join: the batch's band rows against those of the whole
        # store; a stored partner is always kept, a batch partner only
        # when it sorts after the probe (each batch x batch pair once,
        # never the probe with itself)
        probe = self._band_rows(batch, F.col("doc_id").alias("_pid"))
        cand = (
            probe.join(
                self._band_rows(full, "doc_id", "_new"), ["_scope", "band"]
            )
            .where(~F.col("_new") | (F.col("doc_id") > F.col("_pid")))
            .select(
                F.least("_pid", "doc_id").alias("src"),
                F.greatest("_pid", "doc_id").alias("dst"),
            )
            .distinct()
        )
        new_pairs = cand.join(
            self.pairs(exclude_batch=batch_id).select("src", "dst"),
            ["src", "dst"],
            "left_anti",
        )
        # exact-cosine verify, identical to duplicate_edges' verify
        # (operators/selfjoin.py): scope screened exactly, similarity
        # rounded to 4dp, threshold filter
        scope = [self.scope_col] if self.scope_col else []
        va = full.select(
            F.col("doc_id").alias("src"),
            F.col("vector").alias("_va"),
            *[F.col(c).alias("_sa") for c in scope],
        )
        vb = full.select(
            F.col("doc_id").alias("dst"),
            F.col("vector").alias("_vb"),
            *[F.col(c).alias("_sb") for c in scope],
        )
        scored = new_pairs.join(va, "src").join(vb, "dst")
        if scope:
            scored = scored.where(F.col("_sa") == F.col("_sb"))
        cos = cosine_sim(F.col("_va"), F.col("_vb"), self.assume_normalized)
        obs = Observation()
        scored = (
            scored.select(
                "src",
                "dst",
                F.round(_similarity(cos, self.convention), 4).alias(
                    "similarity"
                ),
            )
            .where(F.col("similarity") >= self.threshold)
            .observe(obs, F.count(F.lit(1)).alias("n"))
        )
        scored.write.mode("overwrite").parquet(
            os.path.join(self.state_dir, "pair_store", f"batch_{batch_id}")
        )
        return {"batch_id": batch_id, "new_pairs": obs.get["n"]}

    # --------------------------------------------------------- outputs
    def edges(self) -> DataFrame:
        """Directed (src, dst, similarity, rank) — per-src top-k over
        the ACCUMULATED pair store (the trim must see the union:
        a batch can push an old neighbor out of an old src's top-k)."""
        p = self.pairs()
        mirrored = p.unionByName(
            p.select(
                F.col("dst").alias("src"),
                F.col("src").alias("dst"),
                "similarity",
            )
        )
        w = Window.partitionBy("src").orderBy(
            F.desc("similarity"), F.asc("dst")
        )
        return (
            mirrored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= self.top_k)
            .select("src", "dst", "similarity", "rank")
        )

    def components(self) -> DataFrame:
        """(id, component) over the trimmed edge graph — the same
        canonicalization the batch pipeline derives (CC over ALL top-k
        edges: a pair that top-k kept in one direction only still
        joins its component), recomputed from the edge-sized store."""
        return connected_components(self.edges(), None, "src", "dst")

    # ------------------------------------------------------- streaming
    def attach_stream(self, emb_stream: DataFrame, checkpoint_dir: str):
        """foreachBatch wiring: each micro-batch of featurized rows
        (doc_id, vector, bands[, scope]) merges through add_batch with
        the STREAM's batch_id (checkpoint-stable, so a restarted query
        replays into the same per-batch dirs — the idempotent-replay
        guarantee add_batch already provides)."""

        def _merge(batch_df: DataFrame, batch_id: int) -> None:
            if batch_df.isEmpty():
                return
            self.add_batch(batch_df, int(batch_id))

        return (
            emb_stream.writeStream.foreachBatch(_merge)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
