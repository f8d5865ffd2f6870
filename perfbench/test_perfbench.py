"""Tests of the benchmark itself (not of the engine).

    python3 -m pytest perfbench -q

The generator and oracle tests are pure NumPy. The smoke tests run
``run.py --smoke`` end to end (about a minute each) and check that every
metric named in BENCHMARK.json is emitted with its unit.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ------------------------------------------------------------ generator
def test_same_seed_same_input():
    a, b = gen.repos_columns(5, 300), gen.repos_columns(5, 300)
    for k in a:
        assert list(a[k]) == list(b[k])


def test_seed_changes_documents_not_just_order():
    a, b = gen.repos_columns(1, 400), gen.repos_columns(2, 400)
    for col in ("path", "content", "commit"):
        assert not set(a[col]) & set(b[col]), col
    assert sorted(a["repo"]) != sorted(b["repo"])


def test_generator_shape():
    c = gen.repos_columns(3, 4000)
    hot = np.mean(c["repo"] == gen.HOT_REPO)
    clustered = np.mean(c["cluster"] >= 0)
    assert 0.25 < hot < 0.35
    assert 0.35 < clustered < 0.45
    ids = [f"{r}/{p}" for r, p in zip(c["repo"], c["path"])]
    assert len(set(ids)) == len(ids)
    # cluster members share repo and all text but mention and variant tail
    members = np.nonzero(c["cluster"] == c["cluster"][c["cluster"] >= 0][0])[0]
    assert len(set(c["repo"][members])) == 1
    assert len({t.rsplit("\n\n", 2)[0] for t in c["content"][members]}) == 1


def test_parquet_roundtrip(tmp_path):
    import pyarrow.parquet as pq

    c = gen.repos_columns(4, 50)
    gen.write_parquet(gen.to_table(c, np.arange(10, 30)), str(tmp_path / "t"))
    t = pq.read_table(str(tmp_path / "t"))
    assert t.schema.names == ["repo", "path", "commit", "lang", "content"]
    assert sorted(t.column("path").to_pylist()) == sorted(c["path"][10:30])


# --------------------------------------------------------------- oracle
def _unit(rows):
    v = np.asarray(rows, dtype=np.float32)
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def test_topk_accepts_near_ties_and_rejects_misses():
    vecs = _unit([[1, 0], [1, 0.001], [1, -0.001], [0, 1], [1, 1]])
    top = oracle.TopK(["q", "a", "b", "c", "d"], vecs)
    s = top.sims("q")
    assert top.check("q", [("a", s[1]), ("b", s[2])], 2)
    assert top.check("q", [("b", s[2]), ("a", s[1])], 2)
    assert not top.check("q", [("a", s[1]), ("d", s[4])], 2)
    assert not top.check("q", [("a", s[1])], 2)
    assert not top.check("q", [("q", 1.0), ("a", s[1])], 2)


def test_exact_duplicate_edges_scope_threshold_topk():
    vecs = _unit([[1, 0], [1, 0.05], [1, 0.1], [1, 0.02], [0, 1]])
    ids = ["r/a", "r/b", "r/c", "s/d", "r/e"]
    repos = ["r", "r", "r", "s", "r"]
    got = oracle.exact_duplicate_edges(ids, repos, vecs, [0, 3], 0.85, 1)
    # r/a's nearest in-repo neighbour is r/b; s/d has no in-repo peer
    assert got == {("r/a", "r/b")}


# ---------------------------------------------------------------- smoke
@pytest.mark.parametrize("workload", [w["name"] for w in spec()["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_emits_every_metric(workload, trace):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--smoke", "--workload", workload,
         "--seed", "3", "--seconds", "2", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True, proc.stderr[-3000:]
    assert res["attempted"] >= 1 and res["failed"] == 0
    want = spec()["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {
        m["name"]: m["unit"] for m in want
    }
    for v in res["metrics"].values():
        assert math.isfinite(v["value"])
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_runs"))


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "kg_build",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
