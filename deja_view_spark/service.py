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

Reads open the collection once per on-disk snapshot: the service keeps
the opened collection (an ``operators.topk.TopKSimilar`` over it, which
also builds the probe-independent parts of the query plan once) keyed
by a driver-side fingerprint of the parquet files under ``index_dir``
(relpath, size, mtime_ns), and re-opens it only when that changes —
after its own ``index()``/``clear()`` or a rewrite by another writer —
so every read sees the current files without re-listing them or
re-inferring the schema. ``find_similar`` is then one collect of one
plan: the probe's own row is broadcast-joined into the candidates and
sorted first, so there is no separate probe lookup. That is 2 Spark
jobs per query, the broadcast exchange and the top-k; fewer would need
the probe vector held on the driver rather than in the collection."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from deja_view_spark.operators.topk import TopKSimilar, split_self

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
        # (fingerprint, TopKSimilar) of the last opened snapshot
        self._opened: tuple[tuple, TopKSimilar] | None = None

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

    def _fingerprint(self) -> tuple:
        """Sorted (relpath, size, mtime_ns) of the collection's parquet
        files: any write, overwrite or delete under index_dir changes it."""
        out = []
        for root, _dirs, files in os.walk(self.index_dir):
            for fn in files:
                if fn.endswith(".parquet"):
                    path = os.path.join(root, fn)
                    st = os.stat(path)
                    rel = os.path.relpath(path, self.index_dir)
                    out.append((rel, st.st_size, st.st_mtime_ns))
        return tuple(sorted(out))

    def _collection(self) -> TopKSimilar | None:
        """The collection as last written, opened once per snapshot."""
        if not os.path.exists(self.index_dir):
            self._opened = None
            return None
        fp = self._fingerprint()
        opened = self._opened
        if opened is None or opened[0] != fp:
            opened = (fp, TopKSimilar(self.spark.read.parquet(self.index_dir)))
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
        topk = self._collection()
        if topk is None:
            raise LookupError(f"no index at {self.index_dir}")
        scope = {"repository": repository} if repository else None
        rows = topk(F.col("probe_id") == doc_id, top_k, scope).collect()
        _, rows = split_self(rows, doc_id, top_k, min_similarity)
        similar = [
            {"doc_id": r.doc_id, "similarity": float(r.similarity)}
            for r in rows
        ]
        return {
            "query_issue": {"doc_id": doc_id},
            "similar_issues": similar,
            "count": len(similar),
        }

    # ------------------------------------------------------------- stats
    def stats(self) -> dict:
        """Reference github_similarity_service.py:428-441."""
        topk = self._collection()
        if topk is None:
            return {"total_issues": 0, "repositories": []}
        agg = topk.emb.agg(
            F.count("*").alias("n"),
            F.sort_array(F.collect_set("repository")).alias("repos"),
        ).collect()[0]
        if agg.n == 0:
            return {"total_issues": 0, "repositories": []}
        return {"total_issues": agg.n, "repositories": list(agg.repos)}

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
