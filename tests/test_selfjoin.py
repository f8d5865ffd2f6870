"""Flagship operator: LSH self-join vs exact oracle (P/R gate),
reference-semantics invariants (self-exclusion, threshold, top-3,
mirroring)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from deja_view_spark.functions.embedding import embed_numpy
from deja_view_spark.operators.selfjoin import duplicate_edges, duplicate_report

TEXTS = {
    # two near-dup clusters + singletons
    "d1": "the scheduler starves low priority jobs under heavy load always",
    "d2": "the scheduler starves low priority jobs under heavy load often",
    "d3": "the scheduler starves low priority jobs under heavy load",
    "d4": "pagination returns duplicate entries across page boundaries",
    "d5": "pagination returns duplicated entries across page boundaries too",
    "d6": "completely different text about websocket connection drops",
    "d7": "another unrelated note regarding metrics counters resetting",
}


@pytest.fixture(scope="module")
def emb(spark):
    ids = list(TEXTS)
    vecs = embed_numpy([TEXTS[i] for i in ids])
    rows = [(i, [float(x) for x in v]) for i, v in zip(ids, vecs)]
    return spark.createDataFrame(rows, "doc_id string, vector array<float>").cache()


def test_exact_edges_semantics(emb):
    edges = duplicate_edges(emb, threshold=0.8, top_k=3, method="exact",
                            convention="report").collect()
    assert edges, "expected duplicate edges in clustered fixture"
    by_src = {}
    for r in edges:
        assert r.src != r.dst                      # self-exclusion
        assert r.similarity >= 0.8                 # threshold (cli.py:552)
        by_src.setdefault(r.src, []).append(r)
    for src, rs in by_src.items():
        assert len(rs) <= 3                        # top-3 (cli.py:571)
        ranks = sorted(x.rank for x in rs)
        assert ranks == list(range(1, len(rs) + 1))
    # mirroring: d1-d2 must appear in both directions
    pairs = {(r.src, r.dst) for r in edges}
    assert ("d1", "d2") in pairs and ("d2", "d1") in pairs


def test_lsh_matches_exact(emb):
    exact = {(r.src, r.dst) for r in duplicate_edges(
        emb, threshold=0.8, method="exact", convention="report").collect()}
    lsh = {(r.src, r.dst) for r in duplicate_edges(
        emb, threshold=0.8, method="lsh", convention="report").collect()}
    # at this tiny scale LSH must achieve full recall and precision
    assert lsh == exact


def test_service_vs_report_convention(emb):
    svc = duplicate_edges(emb, threshold=0.8, method="exact",
                          convention="service")
    rep = duplicate_edges(emb, threshold=0.8, method="exact",
                          convention="report")
    svc_rows = {(r.src, r.dst): r.similarity for r in svc.collect()}
    rep_rows = {(r.src, r.dst): r.similarity for r in rep.collect()}
    for k in set(svc_rows) & set(rep_rows):
        cos_svc = svc_rows[k]                  # sim = cos
        cos_rep = 2 * rep_rows[k] - 1          # sim = (1+cos)/2
        assert abs(cos_svc - cos_rep) < 2e-3   # 4dp rounding slack


def test_duplicate_report_rollup(emb):
    edges = duplicate_edges(emb, threshold=0.8, method="exact",
                            convention="report")
    rep = duplicate_report(edges).collect()
    sims = {}
    for r in edges.collect():
        sims.setdefault(r.src, []).append(r.similarity)
    for row in rep:
        assert row.max_similarity == max(sims[row.src])   # cli.py:572
        assert row.band in ("very_high", "high", "below")


def test_lsh_recall_on_random_corpus(spark):
    """P/R gate at a few hundred docs: LSH candidates must recover
    >=0.95 of exact edges at threshold 0.8 (SURVEY §7.4.3)."""
    rng = np.random.default_rng(7)
    base = rng.standard_normal((60, 64))
    rows = []
    k = 0
    for i, b in enumerate(base):
        for j in range(4):  # clusters of 4 noisy variants
            v = b + rng.standard_normal(64) * 0.22
            v = v / np.linalg.norm(v)
            rows.append((f"c{i}_{j}", [float(x) for x in v]))
            k += 1
    emb = spark.createDataFrame(rows, "doc_id string, vector array<float>")
    exact = {(r.src, r.dst) for r in duplicate_edges(
        emb, threshold=0.8, method="exact", convention="report",
        top_k=10).collect()}
    lsh = {(r.src, r.dst) for r in duplicate_edges(
        emb, threshold=0.8, method="lsh", convention="report",
        top_k=10).collect()}
    assert exact, "fixture should produce edges"
    recall = len(lsh & exact) / len(exact)
    precision = len(lsh & exact) / max(1, len(lsh))
    assert recall >= 0.95, f"recall {recall:.3f}"
    assert precision >= 0.95, f"precision {precision:.3f}"


def test_band_join_matches_brute_force(spark):
    """The band join emits exactly the pairs that share a band within a
    scope (or anywhere, unscoped), each once as (src < dst) — including
    a 260-member hot bucket, which AQE may split but never drops."""
    import itertools

    from deja_view_spark.operators.selfjoin import candidate_pairs_stored

    rng = np.random.default_rng(11)
    rows = []
    for i in range(300):
        repo = "r1" if i < 270 else "r2"
        bands = [int(b) for b in rng.integers(100, 140, size=3)]
        if i < 260 or i >= 290:  # hot bucket: 260 in r1, 10 in r2
            bands.append(7)
        rows.append((f"d{i:03d}", repo, bands))
    emb = spark.createDataFrame(
        rows, "doc_id string, repo string, bands array<bigint>"
    )
    for scope in (None, "repo"):
        expect = {
            (a[0], b[0])
            for a, b in itertools.combinations(rows, 2)
            if set(a[2]) & set(b[2]) and (scope is None or a[1] == b[1])
        }
        got = [tuple(r) for r in candidate_pairs_stored(emb, scope).collect()]
        assert len(got) == len(set(got))
        assert set(got) == expect
    assert ("d000", "d259") in expect and ("d000", "d290") not in expect
