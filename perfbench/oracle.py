"""NumPy oracles the benchmark checks the engine's outputs against.

Both use the engine's own embedder (``embed_numpy``: same math as the
pandas UDF), so a mismatch is an operator defect, not an embedding
difference.
"""

from __future__ import annotations

from collections import defaultdict

import numpy as np

# Similarity scores are rounded to 4 decimals by the engine; a score
# within this distance of another may legitimately order either way.
SIM_TOL = 1.5e-4


def exact_duplicate_edges(
    doc_ids: list[str],
    repos: list[str],
    vecs: np.ndarray,
    sample: list[int],
    threshold: float,
    top_k: int,
) -> set[tuple[str, str]]:
    """Directed duplicate edges (src, dst) for the ``sample`` sources,
    with the pipeline's semantics: scoped per repo, report convention
    sim = (1 + cos) / 2 rounded to 4 dp, threshold, top-k per source
    with ties broken by dst ascending (``tools/tune_lsh.py``)."""
    by_repo: dict[str, list[int]] = defaultdict(list)
    for i, r in enumerate(repos):
        by_repo[r].append(i)
    edges = set()
    for i in sample:
        members = np.array(by_repo[repos[i]])
        sim = np.round((1.0 + vecs[members] @ vecs[i].astype(np.float64)) / 2.0, 4)
        cand = [
            (s, doc_ids[j]) for s, j in zip(sim, members)
            if j != i and s >= threshold
        ]
        cand.sort(key=lambda t: (-t[0], t[1]))
        edges.update((doc_ids[i], dst) for _s, dst in cand[:top_k])
    return edges


def precision_recall(got: set, exp: set) -> tuple[float, float]:
    tp = len(got & exp)
    return tp / max(1, len(got)), tp / max(1, len(exp))


class TopK:
    """Exact top-k cosine neighbours over an embedded collection — the
    semantics of ``SimilarityService.find_similar`` (service convention,
    4 dp, self excluded, ties by doc_id ascending)."""

    def __init__(self, doc_ids: list[str], vecs: np.ndarray):
        self.doc_ids = doc_ids
        self.index = {d: i for i, d in enumerate(doc_ids)}
        self.vecs = vecs.astype(np.float64)

    def sims(self, doc_id: str) -> np.ndarray:
        return np.round(self.vecs @ self.vecs[self.index[doc_id]], 4)

    def check(self, doc_id: str, got: list[tuple[str, float]], top_k: int) -> bool:
        """True when ``got`` is a correct top-k answer: every returned
        score is the document's true score, and the score sequence
        equals the exact top-k's (so a missed neighbour shows, while
        near-ties may come in either order)."""
        sims = self.sims(doc_id)
        sims[self.index[doc_id]] = -np.inf
        exp = np.sort(sims)[::-1][:top_k]
        if len(got) != len(exp):
            return False
        for (d, s), e in zip(got, exp):
            j = self.index.get(d)
            if j is None or d == doc_id:
                return False
            if abs(sims[j] - s) > SIM_TOL or abs(e - s) > SIM_TOL:
                return False
        return True
