"""Incremental connected-components maintenance — canonicalization
under streaming ingest.

The batch KG pipeline canonicalizes entities with connected components
over the full duplicate-edge graph (operators/components.py). In
production the edge set GROWS: every indexing run emits new duplicate
edges, and recomputing CC over the whole history per batch is the
quadratic trap. This module maintains the (id, component) labeling
incrementally:

  per batch of new edges
    1. map both endpoints through the current labels (unseen node ->
       itself): each new edge becomes an edge between component ROOTS;
    2. run connected_components on the root graph only: it is bounded
       by the batch's edges, orders smaller than the node set, and the
       star loop sizes its shuffle width from it;
    3. re-root the existing label table and the batch's nodes with one
       hash join each;
    4. persist the new labeling as a VERSIONED snapshot + pointer file
       (crash between write and pointer flip leaves the previous
       version current — the same idempotent-resume discipline as the
       KG pipeline's lineage table).

Because both the incremental merge and the batch operator pick the
MINIMUM node id as the component root, the incremental labeling is
BIT-IDENTICAL to a from-scratch CC over the union of all edges ever
seen — asserted by the equivalence tests, batch-split-invariant.

Scale shape: per batch two hash joins against the node-sized label
table (on a cluster: bucketed by id, so the joins are shuffle-free)
plus CC over the root-contraction graph, which is bounded by the
BATCH's edge count, never the corpus. State is one (id, component)
table — the same artifact the batch pipeline writes.

Streaming: ``attach_stream`` wires the same apply_batch through
foreachBatch; equivalence is batching-invariant, so micro-batch
boundaries cannot change the result (tested with availableNow).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from deja_view_spark.operators.components import connected_components

_SCHEMA = "id long, component long"


class IncrementalComponents:
    """Versioned (id, component) state + per-batch merge."""

    def __init__(self, spark: SparkSession, state_dir: str):
        self.spark = spark
        self.state_dir = state_dir
        os.makedirs(state_dir, exist_ok=True)

    # ---------------------------------------------------------- state
    def _pointer(self) -> str:
        return os.path.join(self.state_dir, "_CURRENT")

    def current_version(self) -> int:
        try:
            with open(self._pointer(), encoding="utf-8") as f:
                return int(f.read().strip())
        except (FileNotFoundError, ValueError):
            return 0

    def labels(self) -> DataFrame:
        v = self.current_version()
        if v == 0:
            return self.spark.createDataFrame([], _SCHEMA)
        return self.spark.read.parquet(
            os.path.join(self.state_dir, f"labels_v{v}")
        )

    # ---------------------------------------------------------- merge
    def apply_batch(self, edges: DataFrame) -> dict:
        """Merge one batch of (src, dst) edges into the labeling."""
        lab = self.labels()
        e = (
            edges.select(
                F.col("src").cast("long").alias("src"),
                F.col("dst").cast("long").alias("dst"),
            )
            .where(F.col("src") != F.col("dst"))
            .distinct()
        )
        # endpoint -> current root (unseen endpoint roots itself)
        nodes = (
            e.select(F.col("src").alias("id"))
            .unionByName(e.select(F.col("dst").alias("id")))
            .distinct()
        )
        node_root = nodes.join(lab, "id", "left").select(
            "id", F.coalesce("component", "id").alias("root")
        ).localCheckpoint(eager=True)
        ra = node_root.withColumnRenamed("id", "src").withColumnRenamed(
            "root", "root_a"
        )
        rb = node_root.withColumnRenamed("id", "dst").withColumnRenamed(
            "root", "root_b"
        )
        root_pairs = (
            e.join(ra, "src")
            .join(rb, "dst")
            .select(F.col("root_a").alias("a"), F.col("root_b").alias("b"))
            .where(F.col("a") != F.col("b"))
            .distinct()
        )
        n_pairs = root_pairs.count()
        if n_pairs:
            remap = connected_components(root_pairs, src="a", dst="b").select(
                F.col("id").alias("root"), F.col("component").alias("new_root")
            )
        else:
            remap = self.spark.createDataFrame([], "root long, new_root long")
        rerooted_old = lab.join(
            remap.withColumnRenamed("root", "component"), "component", "left"
        ).select(
            "id", F.coalesce("new_root", "component").alias("component")
        )
        batch_labels = node_root.join(remap, "root", "left").select(
            "id", F.coalesce("new_root", "root").alias("component")
        )
        new_lab = (
            rerooted_old.unionByName(batch_labels)
            .groupBy("id")
            .agg(F.min("component").alias("component"))
            .localCheckpoint(eager=True)  # sever lineage from the
            # snapshot parquet this write supersedes
        )
        v = self.current_version() + 1
        out = os.path.join(self.state_dir, f"labels_v{v}")
        new_lab.write.mode("overwrite").parquet(out)
        with open(self._pointer(), "w", encoding="utf-8") as f:
            f.write(str(v))
        return {
            "version": v,
            "batch_edges": e.count(),
            "roots_merged": n_pairs,
            "n_labeled": new_lab.count(),
        }

    # ------------------------------------------------------- streaming
    def attach_stream(self, edge_stream: DataFrame, checkpoint_dir: str):
        """foreachBatch wiring: every micro-batch of (src, dst) rows is
        merged through apply_batch. Batching-invariant by construction."""

        def _merge(batch_df: DataFrame, batch_id: int) -> None:
            if batch_df.isEmpty():
                return
            self.apply_batch(batch_df)

        return (
            edge_stream.writeStream.foreachBatch(_merge)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
