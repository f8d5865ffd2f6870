"""IncrementalDuplicates (operators/incremental_edges.py): the
incremental duplicate-edge store must equal the from-scratch
duplicate_edges(method='stored') + connected_components over the full
table, with REAL cross-batch duplicates (the datagen clusters are
split across batches by doc-id hash) and with a hot bucket, with or
without a scope; batch replay must be a no-op, and a doc_id ingested
twice must be rejected."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from deja_view_spark.datagen import generate_repos
from deja_view_spark.functions.embedding import make_embed_udf
from deja_view_spark.functions.hashing import make_minhash_bands_udf
from deja_view_spark.functions.text import truncate_body
from deja_view_spark.operators.components import connected_components
from deja_view_spark.operators.incremental_edges import IncrementalDuplicates
from deja_view_spark.operators.selfjoin import duplicate_edges

KNOBS = dict(threshold=0.85, top_k=3, convention="report")


def _featurized(spark, n_rows=240):
    embed = make_embed_udf(dim=64)
    mh = make_minhash_bands_udf(bands=16, rows=4, seed=1337)
    docs = generate_repos(spark, n_rows).select(
        F.concat_ws("/", "repo", "path").alias("doc_id"),
        truncate_body(F.col("content")).alias("doc_text"),
    )
    return docs.select(
        "doc_id",
        embed("doc_text").alias("vector"),
        mh("doc_text").alias("bands"),
    ).localCheckpoint(eager=True)


def _expected(full):
    edges = duplicate_edges(full, method="stored", scope_col=None, **KNOBS)
    comp = connected_components(
        edges.where(F.col("src") < F.col("dst")), None, "src", "dst"
    )
    return (
        {(r.src, r.dst, r.similarity, r.rank) for r in edges.collect()},
        {(r.id, r.component) for r in comp.collect()},
    )


def test_incremental_equals_full_selfjoin(spark, tmp_path):
    full = _featurized(spark)
    splits = [
        full.where(F.pmod(F.xxhash64("doc_id"), F.lit(3)) == i)
        for i in range(3)
    ]
    inc = IncrementalDuplicates(spark, str(tmp_path / "st"), **KNOBS)
    for i, b in enumerate(splits):
        inc.add_batch(b, i)

    exp_edges, exp_comp = _expected(full)
    got_edges = {
        (r.src, r.dst, r.similarity, r.rank) for r in inc.edges().collect()
    }
    got_comp = {(r.id, r.component) for r in inc.components().collect()}
    assert got_edges == exp_edges and len(got_edges) > 0
    assert got_comp == exp_comp

    # the test is only meaningful if duplicates actually CROSS batches
    membership = {}
    for i, b in enumerate(splits):
        for r in b.select("doc_id").collect():
            membership[r.doc_id] = i
    cross = [
        (s, d)
        for (s, d, _, _) in got_edges
        if membership[s] != membership[d]
    ]
    assert cross, "corpus split produced no cross-batch duplicates"


def test_incremental_replay_is_idempotent(spark, tmp_path):
    full = _featurized(spark, n_rows=120)
    b0 = full.where(F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 0)
    b1 = full.where(F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 1)
    inc = IncrementalDuplicates(spark, str(tmp_path / "st"), **KNOBS)
    inc.add_batch(b0, 0)
    m = inc.add_batch(b1, 1)
    before = {
        (r.src, r.dst, r.similarity) for r in inc.pairs().collect()
    }
    m2 = inc.add_batch(b1, 1)  # crash-replay of the same batch
    after = {(r.src, r.dst, r.similarity) for r in inc.pairs().collect()}
    assert after == before
    assert m2["new_pairs"] == m["new_pairs"]  # regenerated, not lost


def test_incremental_stream_availablenow(spark, tmp_path):
    """The foreachBatch wiring drains a featurized file stream and
    lands the same edges as the full self-join over everything."""
    full = _featurized(spark, n_rows=160)
    src = str(tmp_path / "in")
    full.where(F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 0).write.parquet(
        src + "/p0.parquet"
    )
    full.where(F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 1).write.parquet(
        src + "/p1.parquet"
    )
    stream = (
        spark.readStream.schema(
            "doc_id string, vector array<float>, bands array<bigint>"
        )
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    inc = IncrementalDuplicates(spark, str(tmp_path / "st"), **KNOBS)
    q = inc.attach_stream(stream, str(tmp_path / "ckpt"))
    q.awaitTermination(180)
    exp_edges, _ = _expected(full)
    got = {(r.src, r.dst, r.similarity, r.rank) for r in inc.edges().collect()}
    assert got == exp_edges and len(got) > 0


def _synthetic(spark, scope_col=None, n_hot=260, n_bg=120, dim=32):
    """Featurized rows with one HOT band bucket: ``n_hot`` near-duplicate
    docs share band key 7, more than the 200-member bucket limit of the
    salted self-join path. With ``scope_col`` the docs alternate
    between two repositories, so the hot bucket spans both scopes."""
    rng = np.random.default_rng(5)
    base = rng.standard_normal(dim)
    rows = []
    for i in range(n_hot + n_bg):
        hot = i < n_hot
        v = rng.standard_normal(dim) + (base / 0.35 if hot else 0.0)
        v = (v / np.linalg.norm(v)).astype(np.float32)
        bands = [7 if hot else int(rng.integers(1 << 40))] + [
            (b << 32) | int(rng.integers(1 << 20)) for b in range(1, 4)
        ]
        row = (f"d{i:04d}", [float(x) for x in v], bands)
        rows.append(row + ((f"r/{i % 2}",) if scope_col else ()))
    schema = "doc_id string, vector array<float>, bands array<bigint>"
    if scope_col:
        schema += f", {scope_col} string"
    return spark.createDataFrame(rows, schema)


def _pair_set(rows):
    return {(r.src, r.dst, r.similarity) for r in rows}


@pytest.mark.parametrize("scope_col", [None, "repo"])
def test_probe_join_equals_full_selfjoin_hot_bucket(
    spark, tmp_path, scope_col
):
    """The pair store equals a from-scratch stored-band self-join over
    the union when a batch doc shares a bucket with > 200 stored docs
    (the shape the self-join salts), with and without a scope."""
    full = _synthetic(spark, scope_col).localCheckpoint(eager=True)
    k = F.pmod(F.xxhash64("doc_id"), F.lit(4))
    inc = IncrementalDuplicates(
        spark, str(tmp_path / "st"), scope_col=scope_col, **KNOBS
    )
    inc.add_batch(full.where(k != 0), 0)
    inc.add_batch(full.where(k == 0), 1)

    edges = duplicate_edges(
        full, method="stored", scope_col=scope_col,
        **{**KNOBS, "top_k": 10**6},
    )
    exp = _pair_set(edges.where(F.col("src") < F.col("dst")).collect())
    got = _pair_set(inc.pairs().collect())
    assert got == exp
    hot_new = full.where((k == 0) & F.array_contains("bands", 7)).count()
    assert hot_new > 0 and len(exp) > 200 * hot_new
    if scope_col:
        scope = {r.doc_id: r[scope_col] for r in full.collect()}
        assert all(scope[s] == scope[d] for s, d, _ in got)


def test_doc_id_ingested_twice_is_rejected(spark, tmp_path):
    """A doc_id stored under another batch_id, or repeated inside one
    batch, raises before either store is touched; replaying a batch_id
    is still allowed."""
    full = _featurized(spark, n_rows=200)
    inc = IncrementalDuplicates(spark, str(tmp_path / "st"), **KNOBS)
    inc.add_batch(full, 0)
    before = _pair_set(inc.pairs().collect())
    again = full.orderBy("doc_id").limit(20)
    with pytest.raises(ValueError, match="already stored"):
        inc.add_batch(again, 1)
    fresh = IncrementalDuplicates(spark, str(tmp_path / "st2"), **KNOBS)
    with pytest.raises(ValueError, match="more than once"):
        fresh.add_batch(again.unionByName(again), 0)
    assert not os.listdir(tmp_path / "st2" / "emb_store")
    assert not os.path.exists(tmp_path / "st" / "emb_store" / "batch_1")
    assert not os.path.exists(tmp_path / "st" / "pair_store" / "batch_1")
    assert _pair_set(inc.pairs().collect()) == before
    assert inc.embeddings().count() == 200

    assert inc.add_batch(full, 0)["new_pairs"] == len(before)  # replay
    assert _pair_set(inc.pairs().collect()) == before
    assert not any(s == d for s, d, _ in before)


def test_warm_add_batch_runs_at_most_seven_jobs(spark, tmp_path):
    """One probe-join plan per batch: the doc_id check, the batch write
    and the pair plan's broadcasts and write are the only Spark jobs."""
    full = _featurized(spark)
    k = F.pmod(F.xxhash64("doc_id"), F.lit(4))
    inc = IncrementalDuplicates(spark, str(tmp_path / "st"), **KNOBS)
    inc.add_batch(full.where(k != 0), 0)
    batch = full.where(k == 0).localCheckpoint(eager=True)
    inc.add_batch(batch, 1)
    sc = spark.sparkContext
    try:
        sc.setJobGroup("warm-add-batch", "warm-add-batch")
        inc.add_batch(batch, 1)
        jobs = sc.statusTracker().getJobIdsForGroup("warm-add-batch")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert 1 <= len(jobs) <= 7
