"""Distribution/drift/trend statistics (queries_stats.py).

Each operator is checked against an independent mathematical invariant
or a numpy/python re-derivation on engine-synthesized or testdata
inputs (the registry queries' DuckDB value-hash parity is the driver's
job):

- decayed trending: exact dyadic weights, bounds, and a planted
  recent-vs-stale ordering;
- OLS by moments: recovers a planted exact linear relationship and
  matches numpy.polyfit on the real corpus;
- Gini: 0 for a planted uniform distribution, → (n-1)/n-scaled
  extreme for total concentration, matches a python re-derivation;
- JS drift: zero for an identical split, bounded by 1 bit, matches a
  scipy-free python re-derivation on a small planted vocabulary.
"""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from deja_view_spark.queries_stats import (
    DECAY_Q,
    DECAY_SCALE,
    q_docs_quality_regression,
    q_docs_split_drift,
    q_events_decayed_trending,
    q_events_gini,
)

SF = "/root/testdata/sf0.001"


# ----------------------------------------------------- decayed trending
def test_decayed_weights_exact_and_bounded(spark):
    out = q_events_decayed_trending(spark, SF).collect()
    assert out, "trending returned no rows"
    for r in out:
        # score is a sum of n_events dyadic weights in [2^0, 2^20]
        assert 0 < r.score_q20 <= r.n_events * DECAY_SCALE
        assert 0 <= r.recency_ppm <= 10**6
    # descending score order with deterministic item tiebreak
    scores = [(r.score_q20, -r.item) for r in out]
    assert scores == sorted(scores, reverse=True)


def test_decayed_trending_prefers_recent(spark):
    # two items, same event count; one all-new, one all-stale
    rows = [(1, "2024-01-30") for _ in range(10)] + [
        (2, "2024-01-01") for _ in range(10)
    ]
    df = spark.createDataFrame(rows, "item long, d string").select(
        "item", F.col("d").cast("date").alias("d")
    )
    anchor = df.agg(F.max("d").alias("anchor"))
    scored = (
        df.crossJoin(F.broadcast(anchor))
        .select(
            "item",
            F.least(F.datediff("anchor", "d"), F.lit(DECAY_Q)).alias("dd"),
        )
        .select(
            "item",
            F.expr(
                f"shiftright(CAST({DECAY_SCALE} AS BIGINT), CAST(dd AS INT))"
            ).alias("w"),
        )
        .groupBy("item")
        .agg(F.sum("w").alias("s"))
        .collect()
    )
    by_item = {r.item: r.s for r in scored}
    assert by_item[1] == 10 * DECAY_SCALE  # zero days old: full weight
    assert by_item[2] == 10 * (DECAY_SCALE >> 20)  # 29 days, clamped to 20
    assert by_item[1] > by_item[2]


# ------------------------------------------------------- OLS by moments
def test_regression_recovers_planted_line(spark):
    # y = 3x + 7 exactly: slope/intercept must come back exact, r2 = 1
    rows = [("xx", "w " * (3 * x + 7 - 1) + "w", x) for x in range(10, 60)]
    df = spark.createDataFrame(rows, "lang string, text string, n_chars long")
    df.createOrReplaceTempView("_plant_docs")
    from deja_view_spark.queries_text import TOKEN_RE

    feats = df.select(
        "lang",
        F.col("n_chars").alias("x"),
        F.size(F.regexp_extract_all(F.lower("text"), F.lit(TOKEN_RE), 0))
        .cast("long")
        .alias("y"),
    )
    m = feats.groupBy("lang").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.expr("x*x")).alias("sxx"),
        F.sum(F.expr("x*y")).alias("sxy"),
        F.sum(F.expr("y*y")).alias("syy"),
    ).collect()[0]
    cov = m.n * m.sxy - m.sx * m.sy
    varx = m.n * m.sxx - m.sx * m.sx
    vary = m.n * m.syy - m.sy * m.sy
    assert cov / varx == pytest.approx(3.0, abs=1e-12)
    assert (m.sy - (cov / varx) * m.sx) / m.n == pytest.approx(7.0, abs=1e-9)
    assert (cov / varx) * (cov / vary) == pytest.approx(1.0, abs=1e-12)


def test_regression_matches_numpy_on_corpus(spark):
    out = {r.lang: r for r in q_docs_quality_regression(spark, SF).collect()}
    assert out, "no languages"
    import duckdb

    from deja_view_spark.queries_text import TOKEN_RE

    con = duckdb.connect()
    ref = con.sql(
        f"""SELECT lang, CAST(n_chars AS DOUBLE) AS x,
                   CAST(length(regexp_extract_all(lower(text),
                        '{TOKEN_RE}')) AS DOUBLE) AS y
            FROM read_parquet('{SF}/documents.parquet')"""
    ).df()
    for lang, g in ref.groupby("lang"):
        slope, intercept = np.polyfit(g.x, g.y, 1)
        assert out[lang].slope == pytest.approx(slope, rel=1e-4)
        assert out[lang].intercept == pytest.approx(intercept, rel=1e-3, abs=1e-2)
        r = np.corrcoef(g.x, g.y)[0, 1]
        assert out[lang].r2 == pytest.approx(r * r, rel=1e-4)
        assert 0.0 <= out[lang].r2 <= 1.0


# ------------------------------------------------------------------ Gini
def _gini_py(counts):
    xs = sorted(counts)
    n, t = len(xs), sum(xs)
    sr = sum((i + 1) * x for i, x in enumerate(xs))
    return (2 * sr - (n + 1) * t) * 10**6 // (n * t)


def test_gini_uniform_is_zero(spark):
    rows = [("a", u, 5) for u in range(100)]
    df = spark.createDataFrame(rows, "event_type string, user_id long, cnt long")
    from pyspark.sql.window import Window

    w = Window.partitionBy("event_type").orderBy("cnt", "user_id")
    got = (
        df.select("event_type", "cnt", F.row_number().over(w).alias("r"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("cnt").alias("t"),
            F.sum(F.expr("r*cnt")).alias("sr"),
        )
        .select(F.expr("CAST((2*sr-(n+1)*t)*1000000 DIV (n*t) AS BIGINT)").alias("g"))
        .collect()[0]
        .g
    )
    assert got == 0 == _gini_py([5] * 100)


def test_gini_total_concentration(spark):
    counts = [0] * 0 + [1] * 99 + [9901]  # one user dominates
    assert _gini_py(counts) > 950_000  # near-maximal concentration


def test_gini_query_matches_python(spark):
    out = {r.event_type: r for r in q_events_gini(spark, SF).collect()}
    assert "__all__" in out
    import duckdb

    con = duckdb.connect()
    per = con.sql(
        f"""SELECT event_type, user_id, count(*) AS c
            FROM read_parquet('{SF}/events.parquet') GROUP BY 1,2"""
    ).df()
    for et, g in per.groupby("event_type"):
        # python re-derivation orders ties by user_id, same as the query
        xs = [c for _, c in sorted(zip(g.user_id, g.c), key=lambda p: (p[1], p[0]))]
        assert out[et].gini_ppm == _gini_py(xs)
        assert 0 <= out[et].gini_ppm < 10**6
    allx = per.groupby("user_id").c.sum()
    xs = [c for _, c in sorted(zip(allx.index, allx.values), key=lambda p: (p[1], p[0]))]
    assert out["__all__"].gini_ppm == _gini_py(list(xs))


# ------------------------------------------------------------- JS drift
def _jsd_bits(p_counts, q_counts):
    np_, nq = sum(p_counts.values()), sum(q_counts.values())
    toks = set(p_counts) | set(q_counts)
    j = 0.0
    for t in toks:
        p = p_counts.get(t, 0) / np_
        q = q_counts.get(t, 0) / nq
        m = (p + q) / 2
        if p:
            j += 0.5 * p * math.log2(p / m)
        if q:
            j += 0.5 * q * math.log2(q / m)
    return j


def test_jsd_identical_split_is_zero(spark):
    c = {"a": 3, "b": 2, "c": 5}
    assert _jsd_bits(c, c) == pytest.approx(0.0, abs=1e-12)


def test_jsd_disjoint_is_one_bit(spark):
    assert _jsd_bits({"a": 4}, {"b": 4}) == pytest.approx(1.0, abs=1e-12)


def test_split_drift_matches_python(spark):
    out = {r.source: r for r in q_docs_split_drift(spark, SF).collect()}
    assert out
    import collections
    import re

    import duckdb

    con = duckdb.connect()
    docs = con.sql(
        f"SELECT source, lower(text) AS t FROM read_parquet('{SF}/documents.parquet')"
    ).df()
    tok_re = re.compile(r"[a-z0-9_]+")
    per_src: dict = collections.defaultdict(collections.Counter)
    for _, row in docs.iterrows():
        per_src[row.source].update(tok_re.findall(row.t))
    corpus = collections.Counter()
    for c in per_src.values():
        corpus.update(c)
    for src, cnts in per_src.items():
        want = _jsd_bits(cnts, corpus)
        assert out[src].jsd_bits == pytest.approx(want, abs=2e-4)
        assert 0.0 <= out[src].jsd_bits <= 1.0
        assert out[src].n_tokens == sum(cnts.values())
        assert out[src].vocab == len(cnts)


# ------------------------------------------------- chunk windows
def test_chunk_windows_cover_and_reconstruct(spark):
    from deja_view_spark.queries_corpus import (
        CHUNK_S,
        CHUNK_W,
        q_docs_chunk_windows,
    )

    rows = q_docs_chunk_windows(spark, SF).collect()
    assert rows
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    import duckdb
    import re as _re

    con = duckdb.connect()
    docs = con.sql(
        f"SELECT doc_id, lower(text) AS t FROM read_parquet('{SF}/documents.parquet')"
    ).df()
    tok_re = _re.compile(r"[a-z0-9_]+")
    for _, d in docs.iterrows():
        toks = tok_re.findall(d.t)
        if not toks:
            assert d.doc_id not in by_doc
            continue
        chunks = sorted(by_doc[d.doc_id], key=lambda r: r.chunk_idx)
        n = len(toks)
        want_k = 1 if n <= CHUNK_W else -((-(n - CHUNK_W)) // CHUNK_S) + 1
        assert len(chunks) == want_k
        # full coverage: chunk 0 starts at 1, last chunk reaches n
        assert chunks[0].tok_start == 1
        assert chunks[-1].tok_end == n
        for c in chunks:
            # content matches the planted tokenization exactly
            assert c.chunk_text == " ".join(toks[c.tok_start - 1 : c.tok_end])
            assert c.chunk_tokens == c.tok_end - c.tok_start + 1
        # consecutive chunks overlap by exactly W - S (interior)
        for a, b in zip(chunks, chunks[1:]):
            assert b.tok_start == a.tok_start + CHUNK_S


# ------------------------------------------------- token entropy
def test_entropy_uniform_and_degenerate(spark):
    from deja_view_spark.queries_stats import q_docs_token_entropy

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),  # all-distinct: H = log2(4) = 2
            (2, "word word word word"),  # degenerate: H = 0
        ],
        "doc_id long, text string",
    )
    df.createOrReplaceTempView("documents")
    # run the same expressions directly on the planted frame
    toks = df.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9_]+"), 0)
        ).alias("tok"),
    )
    got = {
        r.doc_id: r
        for r in toks.groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n"),
            F.count("*").alias("v"),
            F.sum(F.expr("c * log2(c)")).alias("s"),
        )
        .select(
            "doc_id",
            F.expr("round(log2(CAST(n AS DOUBLE)) - s / n, 4)").alias("h"),
        )
        .collect()
    }
    assert got[1].h == pytest.approx(2.0, abs=1e-9)
    assert got[2].h == pytest.approx(0.0, abs=1e-9)


def test_entropy_matches_python(spark):
    from deja_view_spark.queries_stats import q_docs_token_entropy

    out = {r.doc_id: r for r in q_docs_token_entropy(spark, SF).collect()}
    import collections
    import re as _re

    import duckdb

    con = duckdb.connect()
    docs = con.sql(
        f"SELECT doc_id, lower(text) AS t FROM read_parquet('{SF}/documents.parquet')"
    ).df()
    tok_re = _re.compile(r"[a-z0-9_]+")
    checked = 0
    for _, d in docs.iterrows():
        toks = tok_re.findall(d.t)
        if not toks:
            continue
        cnt = collections.Counter(toks)
        n = len(toks)
        h = -sum((c / n) * math.log2(c / n) for c in cnt.values())
        r = out[d.doc_id]
        assert r.entropy_bits == pytest.approx(h, abs=2e-4)
        assert r.n_tokens == n and r.vocab == len(cnt)
        if len(cnt) > 1:
            assert 0 <= r.norm_ppm <= 10**6
            assert r.norm_ppm == pytest.approx(
                h / math.log2(len(cnt)) * 1e6, abs=2
            )
        checked += 1
    assert checked > 0


# ---------------------------------------------------- random walks
def test_random_walks_deterministic_and_valid(spark):
    from deja_view_spark.queries_graph import (
        WALK_STEPS,
        _chain_edges,
        q_events_random_walks,
    )

    walks = q_events_random_walks(spark, SF).collect()
    assert walks, "no walks"
    edges = {
        (r.src, r.dst) for r in _chain_edges(spark, SF).collect()
    }
    out_nodes = {s for s, _ in edges}
    # one walk per node with out-edges, starting at itself
    assert {w.walk_id for w in walks} == out_nodes
    for w in walks:
        assert w.step0 == w.walk_id
        path = [getattr(w, f"step{t}") for t in range(WALK_STEPS + 1)]
        for a, b in zip(path, path[1:]):
            if b is None:
                # dead end: every later step must stay NULL and the
                # stalled node must have no out-edges
                assert a is None or a not in out_nodes
            else:
                assert (a, b) in edges  # every hop is a real edge
    # determinism across a second evaluation (same hash choices)
    again = q_events_random_walks(spark, SF).collect()
    assert walks == again


def test_random_walk_choice_is_hash_stable(spark):
    # the step-1 choice must follow the documented md5-prefix formula
    from deja_view_spark.queries_graph import (
        _WALK_SALT,
        _chain_edges,
        q_events_random_walks,
    )
    import hashlib

    walks = {w.walk_id: w for w in q_events_random_walks(spark, SF).collect()}
    adj: dict = {}
    for r in _chain_edges(spark, SF).collect():
        adj.setdefault(r.src, []).append(r.dst)
    checked = 0
    for node, nbrs in adj.items():
        nbrs = sorted(nbrs)
        h = int(
            hashlib.md5(f"{_WALK_SALT}:{node}:1".encode()).hexdigest()[:12], 16
        )
        want = nbrs[h % len(nbrs)]
        assert walks[node].step1 == want
        checked += 1
    assert checked > 0


# ------------------------------------------------- crossval folds
def test_crossval_folds_partition_and_balance(spark):
    from deja_view_spark.queries_corpus import CV_FOLDS, q_docs_crossval_folds
    import duckdb

    out = q_docs_crossval_folds(spark, SF).collect()
    assert out
    assert {r.fold for r in out} <= set(range(CV_FOLDS))
    con = duckdb.connect()
    lang_counts = dict(
        con.sql(
            f"SELECT lang, count(*) FROM read_parquet('{SF}/documents.parquet') GROUP BY lang"
        ).fetchall()
    )
    # folds PARTITION each language: per-lang doc counts re-add exactly
    per_lang: dict = {}
    for r in out:
        per_lang[r.lang] = per_lang.get(r.lang, 0) + r.n_docs
        assert 0 < r.share_ppm <= 10**6
    assert per_lang == lang_counts
    # shares within a language sum to <= 1e6 (floor division) and
    # > 1e6 - CV_FOLDS (each cell floors away < 1 ppm-unit)
    shares: dict = {}
    for r in out:
        shares[r.lang] = shares.get(r.lang, 0) + r.share_ppm
    for lang, s in shares.items():
        assert 10**6 - CV_FOLDS < s <= 10**6


# -------------------------------------------------- CLI verbs (wave 9)
def test_wave9_cli_verbs(capsys):
    import cli

    for verb, marker in (
        ("trending", "'score_q20'"),
        ("regression", "'slope'"),
        ("gini", "'gini_ppm'"),
        ("drift", "'jsd_bits'"),
        ("chunk", "'chunk_sha'"),
        ("entropy", "'entropy_bits'"),
        ("walks", "'step1'"),
        ("folds", "'share_ppm'"),
    ):
        assert (
            cli.main(["corpus", verb, "--data", SF, "--limit", "2"]) == 0
        )
        assert marker in capsys.readouterr().out


# -------------------------------------------------- skew report
def test_skew_report_matches_python(spark):
    from deja_view_spark.queries_stats import q_events_skew_report
    import collections
    import duckdb

    out = {r.key_col: r for r in q_events_skew_report(spark, SF).collect()}
    assert set(out) == {"user_id", "item"}
    con = duckdb.connect()
    rows = con.sql(
        f"""SELECT user_id, CAST(json_extract_string(props, '$.k') AS BIGINT)
            FROM read_parquet('{SF}/events.parquet')"""
    ).fetchall()
    for col, idx in (("user_id", 0), ("item", 1)):
        cnt = collections.Counter(r[idx] for r in rows if r[idx] is not None)
        r = out[col]
        assert r.n_rows == sum(cnt.values())
        assert r.n_keys == len(cnt)
        assert r.max_cnt == max(cnt.values())
        assert r.top_share_ppm == r.max_cnt * 10**6 // r.n_rows
        # uniform corpus -> factor near 1e6; always >= 1e6 by def of max
        assert r.skew_factor_ppm >= 10**6 - len(cnt)
