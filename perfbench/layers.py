"""The traced run's per-layer sweep: one fixed, seeded pass over every
layer of the engine, each call wrapped in a span, on a table of the
same shape as the workloads' (``sweep_rows`` rows). It is the same for
both workloads, so per-layer figures compare across them.

Which end-to-end metric each layer metric should move, and on which
workload, is tabulated in ``perfbench/README.md``.
"""

from __future__ import annotations

import os
import statistics

import numpy as np
import pandas as pd

import gen
import oracle
import spans as T
import workloads as W


class Sweep:
    def __init__(self, spark, seed: int, sizes: dict, root: str, tracer: T.Tracer):
        self.spark = spark
        self.seed = seed
        self.n = sizes["sweep_rows"]
        self.batch = sizes["sweep_batch"]
        self.root = root
        self.tracer = tracer
        self.failures: list[str] = []
        self.m: dict[str, float] = {}
        os.makedirs(root)

    def fail(self, msg: str) -> None:
        self.failures.append(msg)
        W._log(f"CHECK FAILED [sweep]: {msg}")

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def run(self) -> dict[str, float]:
        self.cols = gen.repos_columns(self.seed + 7919, self.n)
        gen.write_parquet(gen.to_table(self.cols), self.path("src"))
        self.deploy()
        self.datagen()
        self.functions()
        self.pipeline()
        self.selfjoin_and_components()
        self.incremental()
        self.service()
        return self.m

    # ------------------------------------------------------------ layers
    def deploy(self) -> None:
        from deja_view_spark import deploy

        with self.tracer.span("deploy") as s:
            deploy.build_zip(self.path("pyfiles.zip"))
        self.m["deploy.ship_s"] = s.seconds

    def datagen(self) -> None:
        from deja_view_spark.datagen import generate_repos

        with self.tracer.span("datagen") as s:
            generate_repos(self.spark, self.n).write.parquet(self.path("datagen"))
        self.m["datagen.rows_per_s"] = self.n / s.seconds

    def functions(self) -> None:
        """Driver-side, on a fixed pandas batch; median of 3 calls (the
        token memos are warm after the first, as in a long-lived worker)."""
        from deja_view_spark.functions.embedding import embed_series
        from deja_view_spark.functions.hashing import make_minhash_bands_udf

        texts = pd.Series(list(self.cols["content"][:1000]))
        minhash = make_minhash_bands_udf(bands=16, rows=4, seed=1337).func
        for name, fn in (("embed", lambda: embed_series(texts, dim=128)),
                         ("minhash", lambda: minhash(texts))):
            times = []
            for _ in range(3):
                with self.tracer.span(f"functions.{name}") as s:
                    fn()
                times.append(s.seconds)
            self.m[f"functions.{name}_docs_per_s"] = len(texts) / statistics.median(times)

    def _build(self, src: str, out: str, resume: bool = False, span: str = "pipeline"):
        from deja_view_spark.plans.pipeline import KGPipeline

        pipe = KGPipeline(self.spark, self.spark.read.parquet(self.path(src)), self.path(out))
        with self.tracer.span(span) as s:
            pipe.run(resume=resume)
        return pipe, s

    def _triples(self, out: str) -> set:
        return {
            tuple(r) for r in self.spark.read.parquet(
                os.path.join(self.path(out), "kg_triples")
            ).select("subj", "pred", "obj", "weight").collect()
        }

    def pipeline(self) -> None:
        """A full build (the pipeline.* metrics), then a build without one
        non-hot repo resumed over the full table (lineage.*), which must
        reproduce the full build's triples featurizing only that repo."""
        from pyspark.sql import functions as F

        from deja_view_spark.plans import lineage as L

        pipe, s = self._build("src", "full")
        m = pipe.metrics
        self.m["pipeline.embeddings_s"] = m["embeddings"]["sec"]
        self.m["pipeline.triples_s"] = m["triples"]["sec"]
        self.m["pipeline.bg_wait_s"] = s.seconds - m["embeddings"]["sec"] - m["triples"]["sec"]
        self.m["pipeline.dup_edges_s"] = m["dup_edges"]["sec"]
        self.m["pipeline.cc_s"] = m["cc"]["sec"]
        self.m["pipeline.emb_write_s"] = m["embeddings"]["write_sec"]

        repos = self.cols["repo"]
        names, counts = np.unique(repos[repos != gen.HOT_REPO], return_counts=True)
        held = str(names[np.argmin(counts)])
        keep = np.nonzero(repos != held)[0]
        gen.write_parquet(gen.to_table(self.cols, keep), self.path("src_minus"))
        self._build("src_minus", "resumed", span="pipeline.base")
        pipe, _ = self._build("src", "resumed", resume=True, span="pipeline.resume")
        self.m["lineage.resume_input_rows"] = pipe.metrics["embeddings"]["input_rows"]
        if pipe.metrics["embeddings"]["input_rows"] != self.n - len(keep):
            self.fail(f"resume featurized {pipe.metrics['embeddings']['input_rows']} rows, "
                      f"expected {self.n - len(keep)} ({held})")
        if self._triples("resumed") != self._triples("full"):
            self.fail("resumed triple table differs from the from-scratch build")

        with self.tracer.span("lineage.completed_parts") as s:
            parts = {r["part_key"] for r in
                     L.completed_parts(self.spark, self.path("resumed"), "embeddings").collect()}
        self.m["lineage.completed_parts_s"] = s.seconds
        if parts != set(repos):
            self.fail(f"completed parts {sorted(parts)} != source repos")
        emb = self.spark.read.parquet(os.path.join(self.path("full"), "kg_embeddings"))
        emb = emb.select("repo", "sha256").localCheckpoint(eager=True)
        with self.tracer.span("lineage.record") as s:
            L.record_lineage_from_table(emb, self.path("lineage"), "embeddings", "sweep")
        self.m["lineage.record_s"] = s.seconds
        got = L.read_lineage(self.spark, self.path("lineage")).agg(F.sum("input_rows")).head()[0]
        if got != self.n:
            self.fail(f"recorded lineage input_rows {got} != {self.n}")

    def _featurized(self, src: str):
        from pyspark.sql import functions as F

        from deja_view_spark.functions.embedding import make_embed_udf
        from deja_view_spark.functions.hashing import make_minhash_bands_udf
        from deja_view_spark.functions.text import truncate_body

        docs = self.spark.read.parquet(self.path(src)).select(
            F.concat_ws("/", "repo", "path").alias("doc_id"),
            "repo",
            truncate_body(F.col("content")).alias("doc_text"),
        )
        return docs.select(
            "doc_id",
            "repo",
            make_embed_udf(dim=128)("doc_text").alias("vector"),
            make_minhash_bands_udf(bands=16, rows=4, seed=1337)("doc_text").alias("bands"),
        )

    def selfjoin_and_components(self) -> None:
        """Standalone on the checkpointed featurized table, with the
        pipeline's settings; edges are checked against the exact oracle."""
        from pyspark.sql import functions as F

        from deja_view_spark.functions.embedding import embed_numpy
        from deja_view_spark.operators.components import connected_components
        from deja_view_spark.operators.selfjoin import candidate_pairs_stored, duplicate_edges

        feat = self._featurized("src").localCheckpoint(eager=True)
        with self.tracer.span("selfjoin.candidates") as s:
            n_cand = candidate_pairs_stored(feat, "repo", 200, hash_ids=True).count()
        with self.tracer.span("selfjoin") as s:
            edges = duplicate_edges(
                feat, threshold=W.THRESHOLD, top_k=W.TOP_K, scope_col="repo",
                convention="report", method="stored", bands=16, rows=4,
            ).localCheckpoint(eager=True)
            n_edges = edges.count()
        got = {(r["src"], r["dst"]) for r in edges.select("src", "dst").collect()}
        # candidates are unordered pairs; edges are directed top-k rows
        verified = len({tuple(sorted(e)) for e in got})
        self.m["selfjoin.dup_edges_s"] = s.seconds
        self.m["selfjoin.candidate_pairs"] = n_cand
        self.m["selfjoin.edges"] = n_edges
        self.m["selfjoin.verify_yield"] = verified / n_cand if n_cand else 0.0

        ids = W.doc_ids(self.cols)
        vecs = embed_numpy(list(self.cols["content"]), dim=128)
        exp = oracle.exact_duplicate_edges(
            ids, list(self.cols["repo"]), vecs, range(self.n), W.THRESHOLD, W.TOP_K
        )
        p, r = oracle.precision_recall(got, exp)
        if min(p, r) < 0.95:
            self.fail(f"selfjoin P/R {p:.4f}/{r:.4f} < 0.95")

        with self.tracer.span("components") as s:
            comp = connected_components(edges.where(F.col("src") < F.col("dst")), None, "src", "dst")
            n_comp = comp.count()
        self.m["components.cc_s"] = s.seconds
        if n_comp != len({x for e in got for x in e}):
            self.fail(f"components labelled {n_comp} vertices, edges touch "
                      f"{len({x for e in got for x in e})}")

    def incremental(self) -> None:
        from pyspark.sql import functions as F

        from deja_view_spark.operators.incremental_edges import IncrementalDuplicates

        rng = np.random.default_rng([self.seed, 3])
        held = np.sort(rng.choice(self.n, self.batch, replace=False))
        store = np.setdiff1d(np.arange(self.n), held)
        gen.write_parquet(gen.to_table(self.cols, store), self.path("inc_store"))
        gen.write_parquet(gen.to_table(self.cols, held), self.path("inc_batch"))
        inc = IncrementalDuplicates(
            self.spark, self.path("inc_state"), threshold=W.THRESHOLD,
            top_k=W.TOP_K, convention="report",
        )
        with self.tracer.span("incremental.seed"):
            inc.add_batch(self._featurized("inc_store").drop("repo"), 0)
        ids = self.spark.read.parquet(self.path("inc_batch")).select(
            F.concat_ws("/", "repo", "path").alias("src")
        )
        pairs, add_ms, edges_ms = [], [], []
        for _ in range(2):
            with self.tracer.span("incremental.add_batch") as s:
                r = inc.add_batch(self._featurized("inc_batch").drop("repo"), 1)
            add_ms.append(s.seconds * 1000)
            pairs.append(r["new_pairs"])
            with self.tracer.span("incremental.edges") as s:
                inc.edges().join(ids, "src", "left_semi").collect()
            edges_ms.append(s.seconds * 1000)
        if pairs[0] != pairs[1]:
            self.fail(f"replayed batch gave {pairs[1]} new pairs, first run {pairs[0]}")
        self.m["incremental.add_batch_ms"] = statistics.median(add_ms)
        self.m["incremental.edges_ms"] = statistics.median(edges_ms)
        self.m["incremental.new_pairs"] = pairs[-1]
        self.m["incremental.store_files"] = sum(
            fn.endswith(".parquet")
            for _d, _s, files in os.walk(self.path("inc_state")) for fn in files
        )

    def service(self) -> None:
        from pyspark.sql import functions as F

        from deja_view_spark.functions.embedding import embed_numpy
        from deja_view_spark.service import SimilarityService

        svc = SimilarityService(self.spark, self.path("index"))
        docs = self.spark.read.parquet(self.path("src")).select(
            F.concat_ws("/", "repo", "path").alias("doc_id"), F.col("content").alias("text")
        )
        svc.index(docs, repository="sweep")
        ids = W.doc_ids(self.cols)
        top = oracle.TopK(ids, embed_numpy(list(self.cols["content"]), dim=64))
        rng = np.random.default_rng([self.seed, 4])
        times = []
        for q in rng.choice(self.n, 4, replace=False):
            with self.tracer.span("service.find_similar") as s:
                res = svc.find_similar(ids[q], top_k=W.READ_TOP_K)
            times.append(s.seconds * 1000)
            got = [(r["doc_id"], r["similarity"]) for r in res["similar_issues"]]
            if not top.check(ids[q], got, W.READ_TOP_K):
                self.fail(f"find_similar({ids[q]}) != NumPy top-k: {got}")
        self.m["service.find_similar_ms"] = statistics.median(times)

    # ---------------------------------------------------- event-log side
    def from_event_log(self, log_dir: str) -> dict[str, float]:
        """Per-layer counts from the Spark event log, attributed by span
        time window (read after the context stopped, when it is whole)."""
        ev = T.EventLog.read(log_dir)
        tr = self.tracer
        m: dict[str, float] = {}

        build = tr.named("pipeline")
        jobs, tasks = ev.window(build)
        wall = sum(s.seconds for s in build)
        m["pipeline.jobs"] = len(jobs)
        m["pipeline.tasks"] = len(tasks)
        m["pipeline.shuffle_write_mb"] = sum(t.shuffle_write for t in tasks) / 2**20
        m["pipeline.spill_mb"] = sum(t.spill for t in tasks) / 2**20
        m["pipeline.gc_s"] = sum(t.gc_s for t in tasks)
        m["pipeline.task_busy_frac"] = (
            sum(t.run_s for t in tasks) / (wall * len(os.sched_getaffinity(0))) if wall else 0.0
        )

        jobs, tasks = ev.window(tr.named("selfjoin"))
        m["selfjoin.shuffle_write_mb"] = sum(t.shuffle_write for t in tasks) / 2**20
        m["selfjoin.task_skew"] = T.task_skew(tasks)

        jobs, _ = ev.window(tr.named("components"))
        m["components.jobs"] = len(jobs)

        adds = tr.named("incremental.add_batch")
        jobs, tasks = ev.window(adds)
        m["incremental.jobs_per_batch"] = len(jobs) / len(adds)
        m["incremental.tasks_per_batch"] = len(tasks) / len(adds)

        queries = tr.named("service.find_similar")
        jobs, tasks = ev.window(queries)
        m["service.jobs_per_query"] = len(jobs) / len(queries)
        m["service.tasks_per_query"] = len(tasks) / len(queries)
        return m
