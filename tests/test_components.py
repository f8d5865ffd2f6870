"""Connected components: canonical id = min id per component."""

import random

import networkx as nx
import pytest

from deja_view_spark.operators import components
from deja_view_spark.operators.components import connected_components


def _labels(df, vertices=None):
    return {r.id: r.component for r in connected_components(df, vertices).collect()}


def _oracle(pairs, vertices=()):
    g = nx.Graph()
    g.add_nodes_from(vertices)
    g.add_edges_from(pairs)
    return {v: min(c) for c in nx.connected_components(g) for v in c}


def _shuffled_path(n, seed):
    ids = list(range(n))
    random.Random(seed).shuffle(ids)
    return list(zip(ids, ids[1:]))


def test_two_components_and_isolated(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "src string, dst string"
    )
    verts = spark.createDataFrame([("a",), ("b",), ("c",), ("x",), ("y",), ("z",)],
                                  "id string")
    assert _labels(edges, verts) == {
        "a": "a", "b": "a", "c": "a", "x": "x", "y": "x", "z": "z"
    }


def test_alternating_two_components_and_isolated(spark):
    """The same graph given with reversed and duplicated edges, custom
    column names, and a vertex list that overlaps the edges."""
    edges = spark.createDataFrame(
        [("b", "a"), ("a", "b"), ("c", "b"), ("y", "x"), ("x", "y")],
        "left string, right string",
    )
    verts = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("x",), ("y",), ("z",)], "id string"
    )
    got = {
        r.id: r.component
        for r in connected_components(
            edges, vertices=verts, src="left", dst="right"
        ).collect()
    }
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x", "z": "z"}


def test_chain_converges(spark):
    # a long path exercises multi-round propagation
    edges = spark.createDataFrame(
        [(f"n{i}", f"n{i+1}") for i in range(9)], "src string, dst string"
    )
    got = _labels(edges)
    assert set(got.values()) == {"n0"}
    assert len(got) == 10


def test_self_loop_only_vertex_labels_itself(spark):
    """A vertex whose only edge is a self-loop is still labelled, and a
    self-loop on a connected vertex changes nothing."""
    edges = spark.createDataFrame([(7, 7), (1, 2), (2, 2)], "src long, dst long")
    assert _labels(edges) == {7: 7, 1: 1, 2: 1}


def test_matches_networkx_random(spark):
    """Seeded random graphs with isolated vertices (some also on edges)
    and a self-loop vertex, against networkx on the driver."""
    verts = [2000, 2001, 5, 17]
    vdf = spark.createDataFrame([(v,) for v in verts], "id long")
    for seed in (42, 7, 2024):
        rng = random.Random(seed)
        pairs = [(rng.randrange(300), rng.randrange(300)) for _ in range(350)]
        pairs.append((1000, 1000))
        got = _labels(spark.createDataFrame(pairs, "src long, dst long"), vdf)
        assert got == _oracle(pairs, verts), seed


def test_path_61_is_one_component(spark):
    """A 61-node path in id order: a 20-round label propagation stops
    with 41 components here; the star loop must not stop early."""
    got = _labels(
        spark.createDataFrame([(i, i + 1) for i in range(60)], "src long, dst long")
    )
    assert len(got) == 61
    assert set(got.values()) == {0}


def test_path_300_shuffled_is_one_component(spark):
    pairs = _shuffled_path(300, seed=3)
    got = _labels(spark.createDataFrame(pairs, "src long, dst long"))
    assert len(got) == 300
    assert set(got.values()) == {0}


def test_round_cap_raises(spark, monkeypatch):
    """Hitting the round cap raises instead of returning a partial
    labeling."""
    monkeypatch.setattr(components, "MAX_ROUNDS", 1)
    edges = spark.createDataFrame(_shuffled_path(300, seed=3), "src long, dst long")
    with pytest.raises(RuntimeError, match="after 1 rounds"):
        connected_components(edges)


def _labels_and_jobs(spark, pairs, group):
    """Labels plus the number of Spark jobs the labelling took (its own
    job group, as in test_service.py)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        got = _labels(spark.createDataFrame(pairs, "src long, dst long"))
        return got, len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_star_forest_takes_zero_rounds_and_few_jobs(spark, monkeypatch):
    """Disjoint pairs and stars centred on their minimum pass the first
    check: no round runs (at cap 0 a round would raise), so the
    labelling is the checkpointing job pair plus the collect, 3 jobs.
    Twenty-round label propagation took 19 jobs on this graph in the
    same session."""
    monkeypatch.setattr(components, "MAX_ROUNDS", 0)
    pairs = [(2 * i, 2 * i + 1) for i in range(50)]
    for c in range(1000, 1400, 4):
        pairs += [(c, c + 1), (c, c + 2), (c + 3, c)]
    got, jobs = _labels_and_jobs(spark, pairs, "cc-star-forest")
    assert got == _oracle(pairs)
    assert jobs <= 3


def test_pairs_and_triangles_take_one_round_and_few_jobs(spark, monkeypatch):
    """A triangle is not a star (its middle vertex has two neighbours),
    so disjoint pairs and triangles take exactly one round: 3 more jobs,
    6 in all. Twenty-round label propagation took 19 here."""
    monkeypatch.setattr(components, "MAX_ROUNDS", 1)
    pairs = [(2 * i, 2 * i + 1) for i in range(50)]
    for t in range(1000, 1300, 3):
        pairs += [(t, t + 1), (t, t + 2), (t + 1, t + 2)]
    got, jobs = _labels_and_jobs(spark, pairs, "cc-triangles")
    assert got == _oracle(pairs)
    assert jobs <= 6
