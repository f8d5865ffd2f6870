"""End-to-end KG pipeline over the synthesized repos table: triples
exist per predicate, per-row sha256 lineage holds, re-run is
idempotent, resume skips completed partitions."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from deja_view_spark.datagen import generate_repos
from deja_view_spark.plans.lineage import read_lineage
from deja_view_spark.plans.pipeline import KGPipeline

N_ROWS = 400


@pytest.fixture(scope="module")
def out_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("kg_out")
    yield str(d)
    shutil.rmtree(str(d), ignore_errors=True)


@pytest.fixture(scope="module")
def built(spark, out_dir):
    src = generate_repos(spark, N_ROWS)
    pipe = KGPipeline(spark, src, out_dir, threshold=0.8, method="lsh")
    triples = pipe.run()
    return src, pipe, triples


def test_datagen_shape(spark):
    df = generate_repos(spark, N_ROWS)
    assert df.columns == ["repo", "path", "commit", "lang", "content"]
    assert df.count() == N_ROWS
    # deterministic: same rows on regeneration
    a = df.orderBy("repo", "path").limit(5).collect()
    b = generate_repos(spark, N_ROWS).orderBy("repo", "path").limit(5).collect()
    assert a == b
    # hot repo ~30% (FIXTURES.md: skew knob)
    hot = df.where(F.col("repo") == "bigcorp/monorepo").count()
    assert 0.2 * N_ROWS < hot < 0.4 * N_ROWS
    # 40-hex commits
    assert df.where(~F.col("commit").rlike("^[0-9a-f]{40}$")).count() == 0


def test_all_predicates_present(built):
    _, _, triples = built
    preds = {r.pred for r in triples.select("pred").distinct().collect()}
    assert {"contains", "mentions", "duplicates", "same_as"} <= preds


def test_sha256_lineage_per_row(spark, built):
    """input_hint invariant: sha256(content) equality vs source, every row."""
    src, pipe, _ = built
    emb = spark.read.parquet(pipe._emb_path())
    joined = (
        src.withColumn("doc_id", F.concat_ws("/", "repo", "path"))
        .withColumn("src_sha", F.sha2(F.col("content"), 256))
        .join(emb.select("doc_id", "sha256"), "doc_id")
    )
    assert joined.count() == N_ROWS
    assert joined.where(F.col("src_sha") != F.col("sha256")).count() == 0


def test_duplicate_edges_exist_and_thresholded(built):
    _, _, triples = built
    dups = triples.where(F.col("pred") == "duplicates")
    assert dups.count() > 0
    assert dups.where(F.col("weight") < 0.8).count() == 0


def test_mentions_extracted(built):
    _, _, triples = built
    m = triples.where(F.col("pred") == "mentions")
    assert m.count() > 0
    # every mention object is path-shaped
    assert m.where(~F.col("obj").rlike(r"^[A-Za-z0-9_\-/]+\.[A-Za-z]+$")).count() == 0


def test_idempotent_rerun(spark, built, out_dir):
    """Re-running the whole build converges to the same triple set
    (upsert semantics, reference github_similarity_service.py:365-369)."""
    src, _, triples = built
    before = triples.groupBy("pred").count().collect()
    pipe2 = KGPipeline(spark, src, out_dir, threshold=0.8, method="lsh")
    after_df = pipe2.run()
    after = after_df.groupBy("pred").count().collect()
    assert sorted(map(tuple, before)) == sorted(map(tuple, after))


def test_resume_skips_completed(spark, built, out_dir):
    src, _, _ = built
    pipe3 = KGPipeline(spark, src, out_dir, threshold=0.8, method="lsh")
    pipe3.build_embeddings(resume=True)
    assert pipe3.metrics["embeddings"]["input_rows"] == 0


def test_lineage_rows_recorded(spark, built, out_dir):
    lin = read_lineage(spark, out_dir)
    stages = {r.stage for r in lin.select("stage").distinct().collect()}
    assert {"embeddings", "triples"} <= stages
    emb_lin = lin.where(F.col("stage") == "embeddings")
    # one part per repo, counts sum to the source size (first full run)
    first_run = emb_lin.groupBy("run_id").agg(
        F.sum("input_rows").alias("n")).orderBy(F.desc("n")).head()
    assert first_run.n == N_ROWS


def test_build_components_keep_one_way_topk_edge(spark, tmp_path):
    """x3's only top-k edge is x3 -> x2 (x2 keeps x1 at top_k=1): the
    build must still write x3's same_as triple."""
    import numpy as np

    ang = {"x1": 0.0, "x2": np.arccos(0.9)}
    ang["x3"] = ang["x2"] + np.arccos(0.8)
    rows = [
        ("r/a", k, f"r/a/{k}", [float(np.cos(a)), float(np.sin(a)), 0.0], [1, 2])
        for k, a in ang.items()
    ]
    emb = spark.createDataFrame(
        rows,
        "repo string, path string, doc_id string, vector array<float>, "
        "bands array<bigint>",
    ).select(
        "*",
        F.sha2("doc_id", 256).alias("sha256"),
        F.array().cast("array<string>").alias("mentions"),
    )
    pipe = KGPipeline(
        spark, emb, str(tmp_path), threshold=0.75, top_k=1,
        convention="service",
    )
    tri = pipe.build_triples(emb)
    pipe._join_bg()
    got = {
        (r.pred, r.subj, r.obj)
        for r in tri.where(F.col("pred").isin("duplicates", "same_as")).collect()
    }
    assert got == {
        ("duplicates", "r/a/x1", "r/a/x2"),
        ("duplicates", "r/a/x2", "r/a/x1"),
        ("duplicates", "r/a/x3", "r/a/x2"),
    } | {("same_as", f"r/a/x{i}", "r/a/x1") for i in (1, 2, 3)}
    assert pipe.metrics["triples"]["n_triples"] == tri.count()


def test_repeated_doc_id_is_rejected_before_any_write(spark, tmp_path):
    """A source row repeated would write its duplicates edges twice; the
    build raises naming the doc_id, and writes no triples or lineage."""
    src = generate_repos(spark, 60)
    first = src.orderBy("repo", "path").limit(1)
    doc = "/".join(first.select("repo", "path").head())
    out = str(tmp_path / "kg")
    with pytest.raises(ValueError, match=doc):
        KGPipeline(spark, src.unionByName(first), out).run()
    assert not os.path.exists(os.path.join(out, "kg_triples"))
    assert not os.path.exists(os.path.join(out, "kg_lineage"))


@pytest.fixture(scope="module")
def warm_build(spark, tmp_path_factory):
    """A second build of the default pipeline in one session: its Spark
    jobs (pool threads included, by job group) and its Janino compiles."""
    src = generate_repos(spark, N_ROWS).localCheckpoint(eager=True)
    d = tmp_path_factory.mktemp("kg_warm")
    KGPipeline(spark, src, str(d / "a")).run()
    sc = spark.sparkContext
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    before = compiles.METRIC_COMPILATION_TIME().getCount()
    try:
        sc.setJobGroup("kg-warm-build", "kg-warm-build")
        KGPipeline(spark, src, str(d / "b")).run()
        jobs = sc.statusTracker().getJobIdsForGroup("kg-warm-build")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    yield len(jobs), compiles.METRIC_COMPILATION_TIME().getCount() - before
    shutil.rmtree(str(d), ignore_errors=True)


def test_warm_build_runs_at_most_21_jobs_in_its_group(warm_build):
    """Featurize, per-repo aggregate, embeddings write, band join +
    verify, components, two triple writes; background-thread jobs run
    in the caller's job group, and lineage is one driver-side append."""
    jobs, _ = warm_build
    assert 1 <= jobs <= 21


def test_warm_build_compiles_no_code(warm_build):
    """The session's generated-code cache holds every class one build
    compiles, so a repeat build compiles none."""
    _, compiles = warm_build
    assert compiles == 0
