"""Seeded input generator: a repos-shaped table (the schema of
``deja_view_spark.datagen.generate_repos``) built with NumPy and written
as parquet by pyarrow, so the engine sees only files and the benchmark
controls every property that the engine's behaviour depends on.

Properties, all pure functions of ``(seed, n_rows)``:

- ``HOT_REPO`` holds ~30% of rows (the skew case of the band join);
- rows come in blocks of 4; ~40% of blocks are near-duplicate clusters
  whose members share repo, template text and ~60 identifier tokens and
  differ only in a short variant tail (cos ~0.95), while unrelated
  documents draw identifiers from a ~16M-token space (cos ~0 ± 0.09 in
  the engine's 128-dim hashed embedding), so the 0.85 report-convention
  threshold separates duplicates cleanly;
- every document mentions one other document's path, so ``mentions``
  triples are non-empty;
- paths carry a seeded number, so another seed changes the documents
  themselves, not only their order.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HOT_REPO = "bigcorp/monorepo"
REPOS = [
    HOT_REPO,
    "acme/frontend",
    "acme/backend",
    "octo/tools",
    "octo/docs",
    "zen/ml-platform",
    "zen/data-pipeline",
    "kite/cli",
    "kite/sdk",
    "nova/website",
]
_LANGS = ["python", "typescript", "go", "markdown", "rust", "java"]
_EXT = ["py", "ts", "go", "md", "rs", "java"]
_DIRS = ["core", "src", "lib", "pkg", "services", "internal", "app", "utils",
         "api", "tests"]
_NAMES = ["index", "main", "handler", "client", "server", "config", "parser",
          "model", "worker", "router", "cache", "auth", "store", "engine",
          "codec", "queue"]
_TOPICS = [
    "the authentication flow times out when the session token expires",
    "memory usage grows without bound during long indexing runs",
    "the parser rejects unicode identifiers in imported modules",
    "websocket connections drop silently behind the load balancer",
    "the scheduler starves low priority jobs under heavy load",
    "configuration reload loses custom environment overrides",
    "the cache invalidation races with concurrent writers",
    "pagination returns duplicate entries across page boundaries",
    "retries multiply outbound requests while the upstream is down",
    "the file watcher leaks handles after every restart",
    "the planner picks a sequential scan over the available index",
    "counters reset to zero after a rolling deploy",
    "optional fields vanish when records are serialized twice",
    "workers deadlock once the queue outgrows the thread pool",
    "readiness checks flap while containers start cold",
    "moved code blocks are reported as deleted lines in diffs",
]
_ACTIONS = [
    "we should add a regression test covering this scenario",
    "a workaround is to restart the worker pool every hour",
    "profiling shows most time spent in the hashing routine",
    "the fix needs to land before the next release train",
    "this only reproduces with the feature flag enabled",
    "logs show repeated timeouts from the downstream service",
    "rolling back the previous refactor hides the symptom",
    "a larger buffer only postpones the crash",
    "users see a generic server error page",
    "both staging and production are affected",
    "a bisect lands on last month's dependency bump",
    "extra tracing confirmed the suspected race",
]
_DETAILS = [
    "steps to reproduce are documented in the runbook",
    "the stack trace implicates the connection pool shutdown path",
    "latency percentiles regress by forty percent at peak",
    "observability dashboards show a step change after deploy",
    "backporting to the maintenance branch needs approval",
    "a minimal reproduction is attached to the ticket",
    "the postmortem rated this incident as high severity",
    "the design review discussed this trade off at length",
    "the patch touches both the encoder and the decoder",
    "the rollout starts behind a small canary",
]
_TAILS = [
    "reported from the nightly build pipeline",
    "observed again after the weekend deploy window",
    "confirmed on the arm64 runners as well",
    "reproduced locally with the sanitizer enabled",
]
N_IDENTS = 60
CLUSTER = 4


def repos_columns(seed: int, n_rows: int) -> dict[str, np.ndarray]:
    """The table as columns, plus ``cluster`` (block id for duplicate
    clusters, -1 for singletons) for the benchmark's own bookkeeping."""
    rng = np.random.default_rng([seed, n_rows])
    n_blocks = -(-n_rows // CLUSTER)
    blk = np.arange(n_rows) // CLUSTER
    is_cluster = (rng.random(n_blocks) < 0.4)[blk]
    hot = rng.random(n_rows) < 0.3
    block_hot = (rng.random(n_blocks) < 0.3)[blk]
    other = rng.integers(1, len(REPOS), n_rows)
    block_other = rng.integers(1, len(REPOS), n_blocks)[blk]
    repo_idx = np.where(
        is_cluster,
        np.where(block_hot, 0, block_other),
        np.where(hot, 0, other),
    )
    # template key: cluster members share their block's, singletons own
    tpl = np.where(is_cluster, blk, n_blocks + np.arange(n_rows))
    n_tpl = n_blocks + n_rows
    title = rng.integers(0, len(_TOPICS), n_tpl)
    topic = rng.integers(0, len(_TOPICS), n_tpl)
    action = rng.integers(0, len(_ACTIONS), n_tpl)
    detail = rng.integers(0, len(_DETAILS), n_tpl)
    tail = rng.integers(0, len(_TAILS), n_rows)
    lang = rng.integers(0, len(_LANGS), n_rows)
    dirs = rng.integers(0, len(_DIRS), n_rows)
    names = rng.integers(0, len(_NAMES), n_rows)
    serial = np.arange(n_rows) * 1000 + rng.integers(0, 1000, n_rows)
    mention = rng.integers(0, n_rows, n_rows)
    ident_name = rng.integers(0, len(_NAMES), (n_tpl, N_IDENTS))
    ident_hex = rng.integers(0, 1 << 20, (n_tpl, N_IDENTS))
    commit_hex = rng.bytes(20 * n_rows).hex()

    paths = [
        f"{_DIRS[d]}/{_NAMES[m]}_{s}.{_EXT[g]}"
        for d, m, s, g in zip(dirs, names, serial, lang)
    ]
    idents: dict[int, str] = {}
    content = []
    for i in range(n_rows):
        t = tpl[i]
        words = idents.get(t)
        if words is None:
            words = " ".join(
                f"{_NAMES[a]}_{b:x}" for a, b in zip(ident_name[t], ident_hex[t])
            )
            idents[t] = words
        content.append(
            "\n\n".join((
                f"Issue: {_TOPICS[title[t]]}",
                _TOPICS[topic[t]],
                _ACTIONS[action[t]],
                _DETAILS[detail[t]],
                words,
                f"see also {paths[mention[i]]}",
                _TAILS[tail[i]] if is_cluster[i] else "",
            ))
        )
    return {
        "repo": np.array([REPOS[r] for r in repo_idx], dtype=object),
        "path": np.array(paths, dtype=object),
        "commit": np.array(
            [commit_hex[40 * i : 40 * i + 40] for i in range(n_rows)], dtype=object
        ),
        "lang": np.array([_LANGS[g] for g in lang], dtype=object),
        "content": np.array(content, dtype=object),
        "cluster": np.where(is_cluster, blk, -1),
    }


SCHEMA = pa.schema([
    ("repo", pa.string()),
    ("path", pa.string()),
    ("commit", pa.string()),
    ("lang", pa.string()),
    ("content", pa.string()),
])


def to_table(cols: dict[str, np.ndarray], rows: np.ndarray | None = None) -> pa.Table:
    """Arrow table of the five source columns (optionally a row subset)."""
    pick = (lambda a: a) if rows is None else (lambda a: a[rows])
    return pa.table(
        {name: pa.array(list(pick(cols[name])), pa.string()) for name in SCHEMA.names},
        schema=SCHEMA,
    )


def write_parquet(table: pa.Table, path: str, files: int = 4) -> None:
    """Write ``table`` as a parquet directory of ``files`` files, so a
    scan has as many input splits as there are cores."""
    import os

    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    for k in range(files):
        part = table.slice(k * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{k:05d}.parquet"))
