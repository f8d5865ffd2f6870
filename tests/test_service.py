"""Service facade (deja_view_spark/service.py): the reference's API
surface as engine-backed methods — response shapes, lifecycle, and
error paths."""

import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from deja_view_spark.functions.similarity import cosine_sim, dot
from deja_view_spark.operators.topk import (
    Snapshot,
    TopKSimilar,
    spark_round,
    visible_parquet_files,
)
from deja_view_spark.service import SimilarityService
from deja_view_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def svc(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("svc_index")
    return SimilarityService(spark, str(d / "index"), dim=32)


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF, "documents")


def test_health_shape(svc):
    h = svc.health()
    assert h == {
        "status": "healthy",
        "version": "1.0.0",
        "service": "github-issues-similarity",
    }


def test_index_then_stats(svc, docs):
    out = svc.index(docs, repository="acme/widgets")
    assert out["indexed"] == docs.count()
    assert out["repository"] == "acme/widgets"
    assert set(out) >= {"indexed", "issues", "discussions", "repository",
                        "batches", "message"}
    st = svc.stats()
    assert st["total_issues"] == docs.count()
    assert st["repositories"] == ["acme/widgets"]


def test_find_similar_shape_and_exclusion(svc, docs):
    out = svc.find_similar("3", top_k=3)
    assert out["query_issue"] == {"doc_id": "3"}
    assert out["count"] == len(out["similar_issues"]) <= 3
    for item in out["similar_issues"]:
        assert item["doc_id"] != "3"
        assert 0.0 <= item["similarity"] <= 1.0
    sims = [i["similarity"] for i in out["similar_issues"]]
    assert sims == sorted(sims, reverse=True)


def test_find_similar_missing_doc(svc):
    with pytest.raises(LookupError, match="not indexed"):
        svc.find_similar("no-such-doc")


def test_suggest_discussions_shape(svc, docs):
    out = svc.suggest_discussions(
        docs, repository="acme/widgets", min_score=0.1, max_suggestions=5
    )
    assert out["total_suggestions"] == len(out["suggestions"]) <= 5
    assert out["dry_run"] is True and out["min_score"] == 0.1
    assert out["total_analyzed"] > 0
    scores = [s["score"] for s in out["suggestions"]]
    assert scores == sorted(scores, reverse=True)
    for s in out["suggestions"]:
        assert s["score"] >= 0.1
        assert s["confidence"] in {"high", "medium", "low"}


def test_clear_then_empty_stats(spark, docs, tmp_path):
    svc2 = SimilarityService(spark, str(tmp_path / "idx"), dim=32)
    svc2.index(docs.limit(10), repository="r/x")
    assert svc2.stats()["total_issues"] == 10
    assert svc2.clear() == {"message": "All issues cleared successfully"}
    assert svc2.stats() == {"total_issues": 0, "repositories": []}
    with pytest.raises(LookupError, match="no index"):
        svc2.find_similar("3")


def test_discussions_metrics_dataclass_shape(svc):
    out = svc.discussions_metrics(SF, top_k=5)
    # the reference DiscussionMetrics field set, key-for-key
    # (discussions_metrics.py:22-37)
    assert set(out) == {
        "total_discussions", "discussions_this_week",
        "discussions_last_week", "week_over_week_change",
        "week_over_week_percentage", "unanswered_qa",
        "total_unanswered_qa", "top_upvoted", "category_breakdown",
        "answer_rate", "avg_upvotes", "period_start", "period_end",
    }
    assert out["total_discussions"] > 0
    assert len(out["unanswered_qa"]) <= 5
    assert len(out["top_upvoted"]) <= 5
    assert sum(out["category_breakdown"].values()) == out["total_discussions"]
    assert 0.0 <= out["answer_rate"] <= 100.0


# --------------------------------------------------- find_similar plan
def _literal_find_similar(emb, doc_id, top_k=5, min_similarity=0.0,
                          repository=None):
    """The formulation find_similar replaced, kept as the reference: a
    separate probe lookup, then the probe vector folded into the plan
    as literals, the probe excluded by doc_id."""
    probe = emb.where(F.col("doc_id") == doc_id).limit(1).collect()
    if not probe:
        raise LookupError(f"doc {doc_id!r} not indexed")
    df = emb.where(F.col("doc_id") != doc_id)
    if repository:
        df = df.where(F.col("repository") == repository)
    lit = F.array(*[F.lit(float(x)) for x in probe[0].vector])
    rows = (
        df.withColumn("similarity", F.round(cosine_sim(F.col("vector"), lit, True), 4))
        .where(F.col("similarity") >= min_similarity)
        .orderBy(F.desc("similarity"), F.asc("doc_id"))
        .limit(top_k)
        .collect()
    )
    return [(r.doc_id, float(r.similarity)) for r in rows]


def _pairs(out):
    return [(i["doc_id"], i["similarity"]) for i in out["similar_issues"]]


@pytest.fixture(scope="module")
def two_repo(spark, docs, tmp_path_factory):
    """16 docs, even doc_ids under r/even and odd ones under r/odd."""
    small = docs.where(F.col("doc_id") < 16)
    svc = SimilarityService(
        spark, str(tmp_path_factory.mktemp("two_repo") / "idx"), dim=32
    )
    svc.index(small.where(F.col("doc_id") % 2 == 0), repository="r/even")
    svc.index(small.where(F.col("doc_id") % 2 == 1), repository="r/odd")
    return svc, [str(i) for i in range(16)]


@pytest.mark.parametrize(
    "kw",
    [
        {},
        {"top_k": 3, "min_similarity": 0.8},
        # scope excludes the probe's own repository (set per doc below)
        {"top_k": 4, "other_repo": True},
    ],
    ids=["default", "min_similarity", "other_repo"],
)
def test_find_similar_equals_literal_probe_form(spark, two_repo, kw):
    """find_similar (one probe-join plan) returns exactly what the
    separate-lookup + literal-probe formulation returns: same ids,
    same similarities, same order, for every doc."""
    svc, ids = two_repo
    emb = spark.read.parquet(svc.index_dir)
    kw = dict(kw)
    other = kw.pop("other_repo", False)
    for doc_id in ids:
        if other:
            kw["repository"] = "r/even" if int(doc_id) % 2 else "r/odd"
        want = _literal_find_similar(emb, doc_id, **kw)
        got = _pairs(svc.find_similar(doc_id, **kw))
        assert got == want, (doc_id, kw)
        if other:
            assert got and all(
                (int(d) % 2) != (int(doc_id) % 2) for d, _ in got
            )


def test_find_similar_min_similarity_excludes_all(two_repo):
    svc, _ = two_repo
    out = svc.find_similar("3", top_k=5, min_similarity=1.01)
    assert out["similar_issues"] == [] and out["count"] == 0


def test_find_similar_duplicate_doc_id_fails_loudly(spark, docs, tmp_path):
    """A doc_id indexed under two repositories has two vectors; the
    lookup must not pick one arbitrarily (or return every neighbour
    twice), it must raise, naming the doc."""
    svc = SimilarityService(spark, str(tmp_path / "idx"), dim=32)
    small = docs.where(F.col("doc_id") < 8)
    svc.index(small, repository="r/a")
    svc.index(small.where(F.col("doc_id") == 5), repository="r/b")
    with pytest.raises(LookupError, match="'5' is not unique"):
        svc.find_similar("5")
    assert len(svc.find_similar("4", top_k=10)["similar_issues"]) == 8


def test_find_similar_sees_index_clear_and_other_writers(spark, docs, tmp_path):
    """The opened collection is re-opened whenever the files under
    index_dir change: this service's own index()/clear(), and a rewrite
    of the same dir by another SimilarityService instance."""
    d = str(tmp_path / "idx")
    svc = SimilarityService(spark, d, dim=32)
    svc.index(docs.where(F.col("doc_id") < 8), repository="r/a")
    assert svc.find_similar("3", top_k=20)["count"] == 7
    svc.index(docs.where(F.col("doc_id").between(8, 11)), repository="r/b")
    assert svc.find_similar("3", top_k=20)["count"] == 11
    assert svc.find_similar("10", repository="r/a", top_k=20)["count"] == 8
    assert svc.stats()["total_issues"] == 12

    other = SimilarityService(spark, d, dim=32)
    other.index(docs.where(F.col("doc_id").between(20, 21)), repository="r/a")
    with pytest.raises(LookupError, match="not indexed"):
        svc.find_similar("3")
    assert svc.find_similar("20", top_k=20)["count"] == 5
    assert svc.stats() == {"total_issues": 6, "repositories": ["r/a", "r/b"]}

    svc.clear()
    with pytest.raises(LookupError, match="no index"):
        svc.find_similar("20")


def _spark_jobs(spark, name, fn):
    """Run fn() in its own job group; the number of Spark jobs it ran."""
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(name))


def test_find_similar_opens_and_reads_with_zero_jobs(spark, two_repo):
    """Reads are answered from the snapshot held on the driver: opening
    it (a fresh service's first read) and every warm read run no Spark
    job."""
    svc, _ = two_repo
    fresh = SimilarityService(spark, svc.index_dir, dim=32)
    assert _spark_jobs(spark, "open-find-similar", lambda: fresh.find_similar("3")) == 0
    for doc_id in ("3", "6", "11"):
        group = f"warm-find-similar-{doc_id}"
        assert _spark_jobs(spark, group, lambda: fresh.find_similar(doc_id)) == 0


def test_stats_runs_no_spark_job(spark, two_repo):
    svc, _ = two_repo
    fresh = SimilarityService(spark, svc.index_dir, dim=32)
    out = {}
    assert _spark_jobs(spark, "stats", lambda: out.update(fresh.stats())) == 0
    assert out == {"total_issues": 16, "repositories": ["r/even", "r/odd"]}


def test_staged_and_temporary_files_are_not_read(spark, docs, tmp_path):
    """Files a Spark read of the index skips (task-commit _temporary/,
    dynamic-overwrite .spark-staging-*/) change neither find_similar nor
    stats: not for a service that has the snapshot open, and not for
    one that opens it afterwards."""
    d = tmp_path / "idx"
    svc = SimilarityService(spark, str(d), dim=32)
    svc.index(docs.where(F.col("doc_id") < 12), repository="r/a")
    before = (svc.find_similar("3", top_k=20), svc.stats())
    part = next((d / "repository=r%2Fa").glob("part-*.parquet"))
    for staged in (d / "_temporary" / "0", d / ".spark-staging-x" / "repository=r%2Fa"):
        staged.mkdir(parents=True)
        shutil.copy(part, staged / part.name)
    assert spark.read.parquet(str(d)).count() == 12
    assert (svc.find_similar("3", top_k=20), svc.stats()) == before
    fresh = SimilarityService(spark, str(d), dim=32)
    assert (fresh.find_similar("3", top_k=20), fresh.stats()) == before


def test_ragged_vectors_raise(spark, tmp_path):
    """A vector of another length (Spark's zip_with would pad it with
    nulls and rank it anyway) fails the open."""
    d = str(tmp_path / "idx")
    spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [0.0, 1.0]), ("c", [1.0])],
        "doc_id string, vector array<float>",
    ).write.parquet(d)
    svc = SimilarityService(spark, d, dim=2)
    with pytest.raises(ValueError, match="ragged"):
        svc.find_similar("a")
    with pytest.raises(ValueError, match="ragged"):
        svc.stats()


def test_spark_round_matches_spark(spark):
    """spark_round is Spark's round(x, 4): HALF_UP on the shortest
    decimal repr (np.round gives 0.1234 for 0.12345), and a zero result
    has no sign."""
    xs = [
        y
        for x in (0.12345, 0.99995, 0.00005, 0.85, 0.84995, -0.12345, -0.00001)
        for y in (np.nextafter(x, -np.inf), x, np.nextafter(x, np.inf))
    ]
    want = spark.range(1).select(
        *[F.round(F.lit(float(x)), 4).alias(f"x{i}") for i, x in enumerate(xs)]
    ).first()
    # repr tells 0.0 from -0.0
    assert list(map(repr, spark_round(np.array(xs)).tolist())) == list(map(repr, want))


def test_snapshot_scores_are_spark_dot_bit_for_bit(spark, tmp_path):
    """Unrounded, the resident scores equal Spark's dot product of the
    float vectors with the probe as a double literal, to the last bit
    (float32 products, or a BLAS sum in another order, would not)."""
    rng = np.random.default_rng(5)
    vecs = rng.standard_normal((50, 48)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    d = str(tmp_path / "idx")
    spark.createDataFrame(
        [(f"d{i}", v.tolist()) for i, v in enumerate(vecs)],
        "doc_id string, vector array<float>",
    ).write.parquet(d)
    snap = Snapshot.read(d, visible_parquet_files(d))
    emb = spark.read.parquet(d)
    for i in (0, 17, 49):
        probe = F.array(*[F.lit(float(x)) for x in vecs[i]])
        want = dict(emb.select("doc_id", dot(F.col("vector"), probe)).collect())
        got = dict(zip(snap.doc_ids, snap.scores(snap.rows(f"d{i}")[0]).tolist()))
        assert got == want


def test_find_similar_equals_spark_plan_with_ties(spark, docs, tmp_path):
    """At dim 4 many similarities tie after rounding, so the k-th place
    is shared and doc_id decides: the resident top-k equals the Spark
    plan (TopKSimilar) for every probe."""
    svc = SimilarityService(spark, str(tmp_path / "idx"), dim=4)
    svc.index(docs.where(F.col("doc_id") < 60), repository="r/a")
    topk = TopKSimilar(spark.read.parquet(svc.index_dir))
    for doc_id in map(str, range(60)):
        rows = topk(F.col("probe_id") == doc_id, 7).collect()
        want = [(r.doc_id, r.similarity) for r in rows if not r.is_self][:7]
        assert _pairs(svc.find_similar(doc_id, top_k=7)) == want, doc_id
