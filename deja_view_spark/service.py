"""Service facade — the reference's HTTP API surface (api.py:67-256)
as plain methods over the engine, framework-free.

The reference serves index / find_similar / stats / clear /
suggest_discussions / discussions_metrics / health through FastAPI
handlers that all delegate to ``GitHubIssuesSimilarityService``; the
HTTP layer adds only request parsing and error mapping. Here the
handler LOGIC is the engine (distributed operators over a parquet
"collection"), the response DICTS match the reference's shapes
key-for-key (cited per method), and the transport layer is the
declared environment boundary — mount these methods on any web
framework to serve them (none is installed in-sandbox).

The "collection" is an embeddings parquet dir (doc_id, vector, plus
carried metadata columns) — the engine's stand-in for the reference's
Chroma collection (github_similarity_service.py:102-121).

Reads are served from the snapshot held on the driver
(``operators.topk.Snapshot``), opened once per on-disk snapshot: the
service fingerprints the parquet files a Spark read of ``index_dir``
would list (relpath, size, mtime_ns; hidden ``_temporary/`` and
``.spark-staging-*/`` files excluded) and re-reads exactly those files
with pyarrow when the fingerprint changes — after its own
``index()``/``clear()`` or a rewrite by another writer. ``find_similar``
and ``stats`` then run no Spark job: a query scores every row in NumPy,
bit-identical to the Spark plan (``operators.topk.TopKSimilar``, kept as
the tests' reference), in about 1 ms for 2500 x 64 and 27 ms for
10^5 x 128 vectors, against about 260 ms and 1 s for the plan's 2 jobs
(4 vCPUs, local mode). The cost is memory: the vectors take
``n * dim * 4`` bytes on the driver (49 MiB for 10^5 x 128), read in
about 0.5 s. There is no
fallback to the Spark plan above some size: every collection this
engine serves fits, and a second read path that no workload runs would
go untested."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from deja_view_spark.operators.topk import Snapshot, visible_parquet_files

SERVICE_NAME = "github-issues-similarity"  # reference api.py:71
VERSION = "1.0.0"  # reference api.py:70


class SimilarityService:
    """Engine-backed analogue of the reference's similarity service:
    one instance per index directory."""

    def __init__(
        self, spark: SparkSession, index_dir: str, dim: int = 64
    ) -> None:
        self.spark = spark
        self.index_dir = index_dir
        self.dim = dim
        # (fingerprint, Snapshot) of the last opened snapshot
        self._opened: tuple[tuple, Snapshot] | None = None

    # ------------------------------------------------------------ health
    def health(self) -> dict:
        """Reference api.py:67-72 (static liveness payload)."""
        return {
            "status": "healthy",
            "version": VERSION,
            "service": SERVICE_NAME,
        }

    # ------------------------------------------------------------- index
    def index(
        self,
        docs: DataFrame,
        repository: str,
        text_col: str = "text",
        id_col: str = "doc_id",
    ) -> dict:
        """Embed + upsert a documents table into the collection.
        Response shape: reference github_similarity_service.py:377-384
        (batching is Spark's job here, so ``batches`` reports the
        write's task parallelism rather than a driver-side loop)."""
        from deja_view_spark.functions.embedding import make_embed_udf

        n = docs.count()
        if n == 0:
            return {"indexed": 0, "repository": repository}
        embed = make_embed_udf(dim=self.dim)
        emb = docs.select(
            F.col(id_col).cast("string").alias("doc_id"),
            embed(F.col(text_col)).alias("vector"),
            F.lit(repository).alias("repository"),
        )
        emb.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("repository").parquet(self.index_dir)
        # open the snapshot just written, so the first read after an
        # index() does not pay for listing it and inferring its schema
        self._collection()
        batches = self.spark.sparkContext.defaultParallelism
        return {
            "indexed": n,
            "issues": n,
            "discussions": 0,
            "repository": repository,
            "batches": batches,
            "message": f"Successfully indexed {n} issues",
        }

    def _collection(self) -> Snapshot | None:
        """The collection as last written, opened once per snapshot:
        keyed by the (relpath, size, mtime_ns) of the files it is read
        from, which any write, overwrite or delete under index_dir
        changes."""
        if not os.path.exists(self.index_dir):
            self._opened = None
            return None
        files = visible_parquet_files(self.index_dir)
        fp = tuple(
            (os.path.relpath(f, self.index_dir), st.st_size, st.st_mtime_ns)
            for f, st in ((f, os.stat(f)) for f in files)
        )
        opened = self._opened
        if opened is None or opened[0] != fp:
            opened = (fp, Snapshot.read(self.index_dir, files))
            self._opened = opened
        return opened[1]

    # ------------------------------------------------------ find_similar
    def find_similar(
        self,
        doc_id: str,
        top_k: int = 5,
        min_similarity: float = 0.0,
        repository: str | None = None,
    ) -> dict:
        """Top-k neighbors of one indexed document. Envelope:
        reference api.py:107-114; per-item keys are the engine subset
        of github_similarity_service.py:415-424 (metadata columns the
        collection doesn't carry are omitted, not faked)."""
        snap = self._collection()
        if snap is None:
            raise LookupError(f"no index at {self.index_dir}")
        scope = {"repository": repository} if repository else None
        _, near = snap.top_k(
            snap.rows(doc_id), doc_id, top_k, min_similarity, scope
        )
        similar = [{"doc_id": d, "similarity": s} for d, s in near]
        return {
            "query_issue": {"doc_id": doc_id},
            "similar_issues": similar,
            "count": len(similar),
        }

    # ------------------------------------------------------------- stats
    def stats(self) -> dict:
        """Reference github_similarity_service.py:428-441."""
        snap = self._collection()
        if not snap:
            return {"total_issues": 0, "repositories": []}
        return {
            "total_issues": len(snap),
            "repositories": snap.distinct("repository"),
        }

    # ------------------------------------------------------------- clear
    def clear(self) -> dict:
        """Drop + recreate (S8). Reference :443-449."""
        try:
            shutil.rmtree(self.index_dir, ignore_errors=True)
            return {"message": "All issues cleared successfully"}
        except OSError as e:  # pragma: no cover - rmtree ignores errors
            return {"error": str(e)}

    # ----------------------------------------------- suggest_discussions
    def suggest_discussions(
        self,
        docs: DataFrame,
        repository: str,
        min_score: float = 0.3,
        max_suggestions: int = 10,
        dry_run: bool = True,
    ) -> dict:
        """Score issues for conversion to discussions. Envelope:
        reference github_similarity_service.py:624-639; scoring is the
        F8-F10 column-expression bank (functions/scoring.py)."""
        from deja_view_spark.functions import scoring as S
        from deja_view_spark.queries_discussions import discussions_view

        disc = discussions_view(docs)
        issues = disc.where(
            ~F.col("is_pull_request") & ~F.col("is_discussion")
        )
        total_analyzed = issues.count()
        score = S.discussion_score(
            F.col("title"),
            F.col("body"),
            state=F.col("state"),
            labels=F.col("labels"),
        )
        rounded, conf = S.score_with_confidence(score)
        rows = (
            issues.select(
                "doc_id",
                "title",
                rounded.alias("score"),
                conf.alias("confidence"),
            )
            .where(F.col("score") >= min_score)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(max_suggestions)
            .collect()
        )
        suggestions = [
            {
                "doc_id": r.doc_id,
                "title": r.title,
                "score": float(r.score),
                "confidence": r.confidence,
            }
            for r in rows
        ]
        mode = "Dry run: Found" if dry_run else "Found"
        return {
            "suggestions": suggestions,
            "total_analyzed": total_analyzed,
            "total_suggestions": len(suggestions),
            "repository": repository,
            "dry_run": dry_run,
            "min_score": min_score,
            "message": f"{mode} {len(suggestions)} issues that could be "
            "discussions",
        }

    # ---------------------------------------------- discussions_metrics
    def discussions_metrics(self, sf_dir: str, top_k: int = 20) -> dict:
        """The reference's DiscussionMetrics dataclass
        (discussions_metrics.py:22-37) as a dict, computed by the
        oracle-checked discussions queries (api.py:196-221 serves the
        same dataclass as JSON)."""
        from deja_view_spark import queries_discussions as QD

        ov = QD.q_discussions_overview(self.spark, sf_dir).head().asDict()
        cats = QD.q_discussions_category_counts(self.spark, sf_dir).collect()
        unans = QD.q_discussions_unanswered_top(self.spark, sf_dir).collect()
        top = QD.q_discussions_top_upvoted(self.spark, sf_dir).collect()
        return {
            "total_discussions": ov["total_discussions"],
            "discussions_this_week": ov["discussions_this_week"],
            "discussions_last_week": ov["discussions_last_week"],
            "week_over_week_change": ov["week_over_week_change"],
            "week_over_week_percentage": ov["week_over_week_percentage"],
            "unanswered_qa": [r.asDict() for r in unans[:top_k]],
            "total_unanswered_qa": ov["total_unanswered_qa"],
            "top_upvoted": [r.asDict() for r in top[:top_k]],
            "category_breakdown": {
                r.category: r.n_discussions for r in cats
            },
            "answer_rate": ov["answer_rate"],
            "avg_upvotes": ov["avg_upvotes"],
            # the fixture corpus pins its week boundaries as constants
            # (queries_discussions.THIS_WEEK_START), so the period is
            # those boundaries rather than a wall-clock window
            "period_start": QD.LAST_WEEK_START,
            "period_end": QD.THIS_WEEK_START,
        }
