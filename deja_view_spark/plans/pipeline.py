"""End-to-end KG build (SURVEY §7.1 picture).

    repos(repo, path, commit, lang, content)
      stage documents   : doc_id + sha256 lineage + doc_text (10k cap)
      stage embeddings  : vectorized embed UDF -> kg_embeddings/ (by repo)
      stage duplicates  : LSH self-join -> duplicate edges
      stage triples     : contains ∪ mentions ∪ duplicates -> kg_triples/
                          (partitioned by pred)
      stage canonical   : connected components -> same_as triples
      kg_lineage        : per-(stage, repo) lineage rows; resume =
                          anti-join (plans/lineage.py)

A build's doc_ids (repo/path) must be unique: a repeated one raises
ValueError before any triple or lineage row is written.

All writes use (per-writer) dynamic partition overwrite — re-running
any stage (or resuming a half-finished run) converges to the same
table state (idempotence: reference upsert-by-id semantics,
github_similarity_service.py:365-369, SURVEY §1.4).

Critical-path layout: the featurized table is eagerly
localCheckpoint'ed ONCE (the single corpus text/UDF pass; the same job
observes the input row count), and everything that does not gate
downstream compute runs OFF the critical path on pool threads over
that cache, in the caller's job group:

    featurize (cache; its job also counts the input rows)
      ├─ [bg] per-repo aggregate (raises on a repeated doc_id)
      ├─ [bg] write kg_embeddings
      └─ band join + verify (cache), then wait for the aggregate
           ├─ [bg] components ─ same_as write ─ edge/label counts
           └─ contains ∪ mentions ∪ duplicates write
    kg_lineage: both stages' rows in ONE driver-side parquet append

Spark jobs of a warm build at local[4] (2000 rows): featurize 1,
per-repo aggregate 2, embeddings write 1, band join + verify 7,
components 5 (one round), triple writes 2, edge/label counts 2 — 20 in
all. Lineage is computed, never read back: per repo, input rows and
the sha digest come from the aggregate, and the triples output is
rows (contains) + Σ mentions + that repo's duplicates and same_as
rows. ``run()`` returns the triples table read with its known schema
(no inference job).
"""

from __future__ import annotations

import os
import time
import uuid
from concurrent.futures import Future, ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, Row, SparkSession
from pyspark.sql import functions as F

from deja_view_spark.functions.embedding import make_embed_udf
from deja_view_spark.functions.hashing import make_minhash_bands_udf
from deja_view_spark.functions.text import truncate_body
from deja_view_spark.operators.components import connected_components
from deja_view_spark.operators.selfjoin import duplicate_edges
from deja_view_spark.operators.triples import (
    PATH_TOKEN_RE,
    contains_triples,
    doc_key,
    duplicate_triples,
    mention_triples_from_emb,
    same_as_triples,
)
from deja_view_spark.plans import lineage as L

TRIPLES_SCHEMA = "subj string, obj string, weight double, pred string"


class KGPipeline:
    """Orchestrates the staged build over a repos-shaped source."""

    def __init__(
        self,
        spark: SparkSession,
        source: DataFrame,
        out_dir: str,
        threshold: float = 0.85,
        top_k: int = 3,
        dim: int = 128,
        convention: str = "report",
        method: str = "minhash",
        bands: int = 16,
        rows: int = 4,
        run_id: str | None = None,
        store_bands: bool = True,
        range_partition_write: bool = False,
    ):
        # defaults: threshold 0.85 is the reference's real-run setting
        # (test-final-report.md:3-6); report-convention 0.85 == cosine
        # 0.7, which clears the synthetic corpus' background tail (see
        # tools/tune_lsh.py); minhash banding is the north-star
        # candidate generator.
        self.spark = spark
        self.source = source
        self.out_dir = out_dir
        self.threshold = threshold
        self.top_k = top_k
        self.dim = dim
        self.convention = convention
        self.method = method
        self.bands = bands
        self.rows = rows
        self.run_id = run_id or uuid.uuid4().hex[:12]
        self.store_bands = store_bands
        self.range_partition_write = range_partition_write
        self.metrics: dict[str, dict] = {}
        self._pool = ThreadPoolExecutor(max_workers=2)
        self._bg: list[Future] = []
        # the featurized cache and its per-repo aggregate (a future)
        self._feat: DataFrame | None = None
        self._feat_stats: Future | None = None
        self._lineage: list[tuple] = []  # rows run() appends at the end
        from deja_view_spark.deploy import ensure_py_files

        ensure_py_files(spark)  # UDF workers need the package (--py-files)

    # ------------------------------------------------------------ stages
    def documents(self) -> DataFrame:
        """doc_id, sha256 lineage col, doc_text (body cap preserved —
        reference github_similarity_service.py:204-209)."""
        return (
            doc_key(self.source)
            .withColumn("sha256", F.sha2(F.col("content"), 256))
            .withColumn("doc_text", truncate_body(F.col("content")))
        )

    def _emb_path(self) -> str:
        return os.path.join(self.out_dir, "kg_embeddings")

    def _triples_path(self) -> str:
        return os.path.join(self.out_dir, "kg_triples")

    def _join_bg(self) -> None:
        """Wait for background work; re-raise its failures."""
        futs, self._bg = self._bg, []
        for f in futs:
            f.result()

    def _submit(self, fn, *args) -> Future:
        """Run ``fn`` on the pool under the caller's local properties
        (job group, scheduler pool), so its jobs are the caller's."""
        return self._pool.submit(inheritable_thread_target(self.spark)(fn), *args)

    def _repo_stats(self, emb: DataFrame) -> dict[str, Row]:
        """ONE per-repo aggregate of a featurized table, collected on
        the driver: rows, the sha digest and the mention count. Both
        stages' lineage comes from it, so nothing written is read back.
        Raises ValueError when a doc_id occurs twice: a repeated doc
        would write each of its duplicates edges twice (ranks 1 and 2)
        and lose a neighbour from its top-k.

        Partitioned by repo once, the per-doc and per-repo levels both
        run inside that one shuffle."""
        per_doc = (
            emb.repartition("repo")
            .groupBy("repo", "doc_id")
            .agg(
                F.count("*").alias("n"),
                L.sha_agg_col().alias("sha"),
                F.sum(F.size(F.coalesce("mentions", F.array()))).alias("m"),
            )
        )
        rows = (
            per_doc.groupBy("repo")
            .agg(
                F.sum("n").alias("rows"),
                F.count("*").alias("docs"),
                F.max_by("doc_id", "n").alias("top_doc"),
                F.sum("sha").alias("sha"),
                F.sum("m").alias("mentions"),
            )
            .collect()
        )
        for r in rows:
            if r.rows != r.docs:
                raise ValueError(
                    f"doc_id {r.top_doc!r} occurs more than once in the "
                    "build input"
                )
        return {r.repo: r for r in rows}

    def build_embeddings(self, resume: bool = False) -> DataFrame:
        """Stage 'embeddings': featurize ONCE into an eager cache whose
        job also observes the input row count; the kg_embeddings parquet
        write (partitioned by repo) and the per-repo aggregate run in
        background threads over that cache while downstream stages
        compute. Resume skips repos already recorded in lineage."""
        t0 = time.time()
        todo = self.documents()
        if resume:
            done = L.completed_parts(self.spark, self.out_dir, "embeddings")
            todo = todo.join(
                done.withColumnRenamed("part_key", "repo"), "repo", "left_anti"
            )
        # embed + minhash in ONE projection/stage: the text is scanned
        # once and featurized here; the duplicate self-join downstream
        # re-reads no text and runs no Python (method='stored'). Two
        # scalar UDFs in the same stage measured faster than a fused
        # struct-returning UDF (44s vs 56s / 1M rows / local[32]).
        if self.range_partition_write:
            # optional tidy-file layout: each write task spans 1-2 repo
            # dirs. Costs a full-corpus shuffle (~1.5KB/row) + a
            # sampling pass; default OFF — the pipelined
            # scan->featurize->cache stage needs no exchange at all.
            # At cluster scale, prefer writing to an Iceberg table
            # bucketed by repo instead of re-sorting here.
            todo = todo.repartitionByRange(
                self.spark.sparkContext.defaultParallelism, "repo", "doc_id"
            )
        embed = make_embed_udf(dim=self.dim)
        # mentions ride the same single text pass (pure column exprs,
        # extracted from FULL content — not the 10k-capped doc_text —
        # self-references dropped): the triples stage then reads no
        # source text at all (one corpus scan for the whole pipeline).
        mentions = F.filter(
            F.array_distinct(
                F.regexp_extract_all(
                    F.col("content"), F.lit(PATH_TOKEN_RE), 1
                )
            ),
            lambda x: x != F.col("path"),
        )
        cols = [
            F.col("doc_id"),
            F.col("repo"),
            F.col("path"),
            F.col("lang"),
            F.col("sha256"),
            mentions.alias("mentions"),
            embed(F.col("doc_text")).alias("vector"),
        ]
        if self.store_bands:
            # seed matches duplicate_edges' default LSH seed so stored
            # and recomputed band paths emit identical candidate sets
            mh = make_minhash_bands_udf(
                bands=self.bands, rows=self.rows, seed=1337
            )
            cols.append(mh(F.col("doc_text")).alias("bands"))
        # the ONE featurize pass, materialized (MEMORY_AND_DISK — the
        # single-JVM analogue of a staged Iceberg table); the same job
        # counts the input rows, so no count job runs before it
        obs = Observation()
        emb = (
            todo.select(*cols)
            .observe(obs, F.count(F.lit(1)).alias("n"))
            .localCheckpoint(eager=True)
        )
        n_in = obs.get["n"]
        self.metrics["embeddings"] = {"input_rows": n_in, "sec": time.time() - t0}
        if n_in == 0:
            if os.path.exists(self._emb_path()):
                return self.spark.read.parquet(self._emb_path())
            return emb
        stats = self._submit(self._repo_stats, emb)
        self._feat, self._feat_stats = emb, stats
        self._bg.append(stats)

        def _write() -> None:
            tw = time.time()
            # Dynamic partition overwrite (per-writer option) only when
            # RESUMING — a subset write must keep other repos' files;
            # full builds use static overwrite (no staging-dir dance).
            (
                emb.write.mode("overwrite")
                .option(
                    "partitionOverwriteMode", "dynamic" if resume else "static"
                )
                .partitionBy("repo")
                .parquet(self._emb_path())
            )
            # embeddings are 1:1 with inputs: the per-repo aggregate
            # gives both counts and the sha digest
            self._lineage += [
                (self.run_id, "embeddings", k, r.rows, r.sha, r.rows)
                for k, r in stats.result().items()
            ]
            self.metrics["embeddings"]["write_sec"] = round(time.time() - tw, 2)

        self._bg.append(self._submit(_write))
        if resume:
            # downstream needs the FULL table (old + new rows): wait for
            # the subset write, then read back the merged table
            self._join_bg()
            return self.spark.read.parquet(self._emb_path())
        return emb

    def build_duplicate_edges(self, emb: DataFrame) -> DataFrame:
        # 'minhash' rides the bands column the featurizer already wrote
        # (method='stored'): the candidate stage re-reads no text and
        # runs no Python. 'lsh'/'exact' keep their own generators.
        method = "stored" if self.method == "minhash" and "bands" in emb.columns else self.method
        text = None
        if method == "minhash":
            text = self.documents().select("doc_id", "repo", "doc_text")
        return duplicate_edges(
            emb,
            threshold=self.threshold,
            top_k=self.top_k,
            scope_col="repo",
            convention=self.convention,
            method=method,
            bands=self.bands,
            rows=self.rows,
            text=text,
        )

    def _canonicalize(self, dup_edges: DataFrame) -> dict[str, int]:
        """Connected components over ALL directed edges (CC mirrors and
        dedups them; a pair whose one direction top-k trimmed away
        still joins its component), the same_as write, and per repo the
        number of duplicates + same_as triples: one small groupBy over
        the checkpointed edges and the labels."""
        comp = connected_components(dup_edges, None, "src", "dst")
        (
            same_as_triples(comp)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("pred")
            .parquet(self._triples_path())
        )
        # every subj is repo-prefixed ("owner/name/path"): recover it
        part = F.regexp_extract(F.col("id"), r"^([^/]+/[^/]+)", 1)
        ids = dup_edges.select(F.col("src").alias("id")).unionByName(
            comp.select("id")
        )
        counts = ids.groupBy(part.alias("part_key")).agg(F.count("*").alias("n"))
        return {r.part_key: r.n for r in counts.collect()}

    def build_triples(self, emb: DataFrame | None = None) -> DataFrame:
        """Stage 'triples': contains ∪ mentions ∪ duplicates written
        while connected components and the same_as write run
        CONCURRENTLY (independent DAG branches over the checkpointed
        edge set). Lineage counts and the total come from the per-repo
        aggregate and the edge/label counts — no read-back."""
        t0 = time.time()
        if emb is None:
            emb = self.spark.read.parquet(self._emb_path())
        stats = (
            self._feat_stats
            if emb is self._feat
            else self._submit(self._repo_stats, emb)
        )
        # the LSH self-join feeds three consumers (duplicate triples,
        # connected components, the final union write) — checkpoint it
        # once so the band join + cosine verify run exactly once, not
        # per-consumer (on a cluster: persist(DISK_ONLY) / a staged
        # Iceberg table; localCheckpoint is its single-JVM analogue).
        t_dup = time.time()
        dup_edges = self.build_duplicate_edges(emb).localCheckpoint(eager=True)
        self.metrics["dup_edges"] = {"sec": time.time() - t_dup}
        # a repeated doc_id raises here, before any triple is written
        per_repo = stats.result()

        # canonicalization overlaps the main triples write below: CC is
        # an iterative chain of small jobs over the (tiny, checkpointed)
        # edge set — scheduler gaps between its rounds interleave with
        # the write's tasks instead of serializing after them.
        t_cc = time.time()
        cc_fut = self._submit(self._canonicalize, dup_edges)

        # contains + mentions come from the featurized cache (path and
        # pre-extracted mentions stored at embed time) — the triples
        # stage performs NO source-text scan.
        main = (
            contains_triples(emb)
            .unionByName(mention_triples_from_emb(emb))
            .unionByName(duplicate_triples(dup_edges))
        )
        (
            main.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("pred")
            .parquet(self._triples_path())
        )
        edge_rows = cc_fut.result()
        self.metrics["cc"] = {"sec": time.time() - t_cc}

        # per repo: one contains triple per doc, its mentions, and the
        # duplicates + same_as triples whose subj lies in the repo
        out_rows = {
            k: r.rows + r.mentions + edge_rows.get(k, 0)
            for k, r in per_repo.items()
        }
        self._lineage += [
            (self.run_id, "triples", k, r.rows, r.sha, out_rows[k])
            for k, r in per_repo.items()
        ]
        n_triples = sum(r.rows + r.mentions for r in per_repo.values()) + sum(
            edge_rows.values()
        )
        self.metrics["triples"] = {"sec": time.time() - t0, "n_triples": n_triples}
        return self.spark.read.schema(TRIPLES_SCHEMA).parquet(
            self._triples_path()
        )

    def run(self, resume: bool = False) -> DataFrame:
        emb = self.build_embeddings(resume=resume)
        out = self.build_triples(emb)
        self._join_bg()  # surface background write failures
        # both stages' lineage in ONE driver-side append, after every
        # output it describes is written
        L.append_lineage(self.out_dir, self._lineage)
        self._lineage = []
        return out
