"""Text-analysis / dedup / scoring query registry (driver-checkable).

These are the training-data-pipeline operators (dedup families,
similarity search, text analysis) plus the reference's scoring banks
(github_similarity_service.py:451-547), each as a (spark_fn, oracle_sql)
pair over the driver's pre-registered parquet views.

Oracle-parity discipline: the DuckDB SQL is GENERATED from the same
pattern/keyword lists the Spark expressions use (single source of
truth), md5 is the cross-engine hash, and float outputs are rounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from deja_view_spark.functions import scoring as S
from deja_view_spark.functions.similarity import cosine_sim, duckdb_cosine_sql
from deja_view_spark.sources.catalog import load_table

TOKEN_RE = "[a-z0-9_]+"


# ------------------------------------------------------------- scoring (F8-F10)
def q_docs_discussion_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference discussion-suitability scoring over the documents
    corpus: pattern banks, keyword scaling, bug penalty, open-state
    bonus, clamp, confidence bucket — all whole-stage-codegen columns
    (no UDF). title := first 60 chars, state := deterministic split."""
    docs = load_table(spark, sf_dir, "documents")
    title = F.substring(F.col("text"), 1, 60)
    state = F.when(F.col("doc_id") % 3 == 0, F.lit("closed")).otherwise(
        F.lit("open")
    )
    score = S.discussion_score(title, F.col("text"), state=state)
    rounded, conf = S.score_with_confidence(score)
    return (
        docs.select(
            "doc_id",
            rounded.alias("score"),
            conf.alias("confidence"),
        )
        .orderBy("doc_id")
    )


def _sql_bank(patterns: list[str], col: str) -> str:
    ors = " OR ".join(f"regexp_matches({col}, '{p}')" for p in patterns)
    return f"(CASE WHEN {ors} THEN 1 ELSE 0 END)"


def _sql_contains_any(words: list[str], col: str) -> str:
    ors = " OR ".join(f"contains({col}, '{w}')" for w in words)
    return f"(CASE WHEN {ors} THEN 1 ELSE 0 END)"


def _sql_kw_count(words: list[str], col: str) -> str:
    terms = " + ".join(
        f"(CASE WHEN contains({col}, '{w}') THEN 1 ELSE 0 END)" for w in words
    )
    return f"({terms})"


ORACLE_DISCUSSION_SCORES = f"""
WITH base AS (
  SELECT doc_id,
         lower(substr(text, 1, 60)) AS title_l,
         concat_ws(' ', lower(substr(text, 1, 60)), lower(text)) AS combined,
         CASE WHEN doc_id % 3 = 0 THEN 'closed' ELSE 'open' END AS state
  FROM documents),
scored AS (
  SELECT doc_id,
    {_sql_bank(S.QUESTION_PATTERNS, 'combined')} * 0.4
    + {_sql_bank(S.FEATURE_PATTERNS, 'combined')} * 0.35
    + {_sql_bank(S.PROPOSAL_PATTERNS, 'combined')} * 0.45
    + {_sql_bank(S.DISCUSSION_PHRASES, 'combined')} * 0.3
    + least(0.3, {_sql_kw_count(S.DISCUSSION_KEYWORDS, 'combined')} * 0.1)
    - {_sql_contains_any(S.BUG_KEYWORDS, 'combined')} * 0.15
    + {_sql_contains_any(S.NON_BUG_INDICATORS, 'title_l')} * 0.2
    + {_sql_bank(S.TITLE_DISCUSSION_PATTERNS, 'title_l')} * 0.25
    + (CASE WHEN state = 'open' THEN 0.15 ELSE 0 END) AS raw
  FROM base)
SELECT doc_id,
       round(greatest(0.0, least(1.0, raw)), 3) AS score,
       CASE WHEN greatest(0.0, least(1.0, raw)) >= 0.7 THEN 'high'
            WHEN greatest(0.0, least(1.0, raw)) >= 0.5 THEN 'medium'
            ELSE 'low' END AS confidence
FROM scored
ORDER BY doc_id
"""


# ------------------------------------------------------- quality / lang-id
_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it"]


def q_docs_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring per language: token stats, stopword ratio,
    numeric-token ratio — the standard pre-training corpus filters,
    computed in one JVM pass and aggregated per lang."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_RE), 0)
    stop_arr = F.array(*[F.lit(w) for w in _STOPWORDS])
    n_tok = F.size(toks)
    n_stop = F.size(F.array_intersect(toks, stop_arr))  # distinct-stopword presence
    n_num = F.size(F.filter(toks, lambda t: t.rlike("^[0-9]+$")))
    enriched = docs.select(
        "lang",
        n_tok.alias("n_tokens"),
        n_stop.alias("n_stop_kinds"),
        n_num.alias("n_numeric"),
        (F.length("text") / n_tok).alias("chars_per_token"),
    )
    return (
        enriched.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
            F.round(F.avg("n_stop_kinds"), 4).alias("avg_stop_kinds"),
            F.round(F.avg("n_numeric"), 4).alias("avg_numeric"),
            F.round(F.avg("chars_per_token"), 4).alias("avg_chars_per_token"),
        )
        .orderBy("lang")
    )


ORACLE_DOCS_QUALITY = f"""
WITH t AS (
  SELECT lang,
         regexp_extract_all(lower(text), '{TOKEN_RE}') AS toks,
         length(text) AS n_chars
  FROM documents),
e AS (
  SELECT lang,
         len(toks) AS n_tokens,
         len(list_intersect(toks, {_STOPWORDS!r})) AS n_stop_kinds,
         len(list_filter(toks, x -> regexp_matches(x, '^[0-9]+$'))) AS n_numeric,
         n_chars * 1.0 / len(toks) AS chars_per_token
  FROM t)
SELECT lang,
       count(*) AS n_docs,
       round(avg(n_tokens), 4) AS avg_tokens,
       round(avg(n_stop_kinds), 4) AS avg_stop_kinds,
       round(avg(n_numeric), 4) AS avg_numeric,
       round(avg(chars_per_token), 4) AS avg_chars_per_token
FROM e
GROUP BY lang
ORDER BY lang
"""


# ------------------------------------------------------ fingerprint (shingles)
def _shingle_col(text_col, k: int = 3):
    """k-token shingles as an array column (JVM higher-order fns)."""
    toks = F.regexp_extract_all(F.lower(text_col), F.lit(TOKEN_RE), 0)
    return _shingles_from_toks(toks, k)


def _shingles_from_toks(toks, k: int = 3):
    """Shingles from an already-materialized token array column —
    lets single-pass pipelines tokenize once (queries_corpus)."""
    idx = F.sequence(F.lit(1), F.size(toks) - (k - 1))
    shingles = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + j) for j in range(k)]
        ),
    )
    return F.when(F.size(toks) >= k, shingles).otherwise(
        F.array().cast("array<string>")
    )


def q_docs_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: min-hash-of-shingles (winnowing-style
    1-fingerprint summary; md5 as the cross-engine rolling hash).
    Identical fingerprints <=> shared minimal shingle."""
    docs = load_table(spark, sf_dir, "documents")
    sh = _shingle_col(F.col("text"))
    # explode -> top-level md5 -> groupBy min: every step whole-stage
    # codegen (md5 inside a transform() lambda falls back to
    # interpreted eval — measured 3x slower)
    return (
        docs.select("doc_id", F.explode(sh).alias("sh"))
        .select("doc_id", F.md5("sh").alias("h"))
        .groupBy("doc_id")
        .agg(F.min("h").alias("fingerprint"))
        .orderBy("doc_id")
    )


ORACLE_DOCS_FINGERPRINT = f"""
WITH t AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE}') AS toks
  FROM documents),
s AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(toks) - 2),
                i -> md5(concat_ws(' ', toks[i], toks[i+1], toks[i+2])))) AS h
  FROM t WHERE len(toks) >= 3)
SELECT doc_id, min(h) AS fingerprint
FROM s GROUP BY doc_id ORDER BY doc_id
"""


# ------------------------------------------------- exact n-gram Jaccard dedup
# Document-frequency cutoff: shingles appearing in more than this many
# documents are dropped BEFORE pair generation, on BOTH engines. A
# shingle in k docs makes k(k-1)/2 join rows — at corpus scale one
# boilerplate shingle is a job-killer; rare shingles are what carry
# near-duplicate signal. Jaccard is computed over the RETAINED shingle
# sets (sizes counted after the cutoff), so both engines agree exactly.
JACCARD_DF_CUTOFF = 100


def q_docs_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-gram Jaccard near-duplicate pairs (threshold 0.2, df-cutoff
    inverted index) — the exact-counterpart/oracle twin of the MinHash
    LSH path.

    Scale shape: shingles are hashed to longs (xxhash64 — fixed-width
    8B shuffle keys, never shingle strings); ONE shuffle groups the
    inverted index into per-shingle posting arrays; the df cutoff drops
    oversized postings; pairs are generated bucket-locally with
    posexplode+slice (whole-stage codegen, no self-join). A hash
    collision (~#shingles²/2⁶⁴) could merge two shingles; at oracle
    scale this is unobservable."""
    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select(
        F.col("doc_id"),
        F.explode(F.array_distinct(_shingle_col(F.col("text")))).alias("sh"),
    ).select("doc_id", F.xxhash64("sh").alias("h"))
    # one shuffle on the hashed shingle: posting arrays, df cutoff
    postings = sh.groupBy("h").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ids")
    ).where(F.size("ids") <= JACCARD_DF_CUTOFF)
    # retained-set sizes per doc (postings already materialized the
    # shuffle; this re-explodes the arrays — no second scan of text)
    sizes = (
        postings.select(F.explode("ids").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"))
    )
    # bucket-local pair generation: (ids[i], ids[j]) for i<j, codegen
    pairs = (
        postings.where(F.size("ids") >= 2)
        .select(F.posexplode("ids").alias("_i", "src_doc"), F.col("ids"))
        .select(
            "src_doc",
            F.explode(
                F.slice(F.col("ids"), F.col("_i") + 2, F.size("ids"))
            ).alias("dst_doc"),
        )
    )
    common = pairs.groupBy("src_doc", "dst_doc").agg(F.count("*").alias("c"))
    jac = (
        common.join(F.broadcast(sizes.withColumnRenamed("doc_id", "src_doc").withColumnRenamed("n", "na")), "src_doc")
        .join(F.broadcast(sizes.withColumnRenamed("doc_id", "dst_doc").withColumnRenamed("n", "nb")), "dst_doc")
        .withColumn("jaccard", F.round(F.col("c") / (F.col("na") + F.col("nb") - F.col("c")), 4))
        .where(F.col("jaccard") >= 0.2)
    )
    return jac.select("src_doc", "dst_doc", "jaccard").orderBy("src_doc", "dst_doc")


ORACLE_DOCS_JACCARD = f"""
WITH t AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE}') AS toks
  FROM documents),
s AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, len(toks) - 2),
                i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS sh
  FROM t WHERE len(toks) >= 3),
kept AS (
  SELECT doc_id, sh
  FROM (SELECT doc_id, sh, count(*) OVER (PARTITION BY sh) AS df FROM s)
  WHERE df <= {JACCARD_DF_CUTOFF}),
sz AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS src_doc, b.doc_id AS dst_doc, count(*) AS c
  FROM kept a JOIN kept b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT src_doc, dst_doc,
       round(c * 1.0 / (x.n + y.n - c), 4) AS jaccard
FROM common
JOIN sz x ON src_doc = x.doc_id
JOIN sz y ON dst_doc = y.doc_id
WHERE c * 1.0 / (x.n + y.n - c) >= 0.2
ORDER BY src_doc, dst_doc
"""


# ---------------------------------------------- asymmetric containment
# Containment C(A in B) = |A ∩ B| / |A| — the DIRECTED overlap that
# catches quote/excerpt/subset relationships symmetric Jaccard misses:
# a 40-token excerpt inside a 400-token original has J ~= 0.1 (below
# any dedup threshold) but containment 1.0. The corpus has no planted
# excerpts, so every 31st doc is re-ingested as its own first-40-token
# excerpt (doc_id + 40M) — the press-quote / LLM-training "document
# contains another document" shape. Same xxhash64 df-cutoff inverted
# index as docs_jaccard_pairs; the emitted score is containment of the
# SMALLER side in the larger (max of the two directions), with the
# Jaccard alongside to show what the symmetric score would have said.
CONTAIN_MIN = 0.8
CONTAIN_EXCERPT_TOKENS = 40


def q_docs_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.lower("text"), F.lit(TOKEN_RE), 0)
    excerpts = (
        docs.where(F.col("doc_id") % 31 == 0)
        .select(
            (F.col("doc_id") + 40_000_000).alias("doc_id"),
            F.concat_ws(
                " ", F.slice(toks, 1, CONTAIN_EXCERPT_TOKENS)
            ).alias("text"),
        )
    )
    corpus = docs.select("doc_id", "text").unionByName(excerpts)
    sh = corpus.select(
        F.col("doc_id"),
        F.explode(F.array_distinct(_shingle_col(F.col("text")))).alias("sh"),
    ).select("doc_id", F.xxhash64("sh").alias("h"))
    postings = sh.groupBy("h").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ids")
    ).where(F.size("ids") <= JACCARD_DF_CUTOFF)
    sizes = (
        postings.select(F.explode("ids").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"))
    )
    pairs = (
        postings.where(F.size("ids") >= 2)
        .select(F.posexplode("ids").alias("_i", "src_doc"), F.col("ids"))
        .select(
            "src_doc",
            F.explode(
                F.slice(F.col("ids"), F.col("_i") + 2, F.size("ids"))
            ).alias("dst_doc"),
        )
    )
    common = pairs.groupBy("src_doc", "dst_doc").agg(F.count("*").alias("c"))
    return (
        common.join(
            F.broadcast(
                sizes.withColumnRenamed("doc_id", "src_doc")
                .withColumnRenamed("n", "na")
            ),
            "src_doc",
        )
        .join(
            F.broadcast(
                sizes.withColumnRenamed("doc_id", "dst_doc")
                .withColumnRenamed("n", "nb")
            ),
            "dst_doc",
        )
        .withColumn(
            "containment",
            F.round(F.col("c") / F.least("na", "nb"), 4),
        )
        .withColumn(
            "jaccard",
            F.round(F.col("c") / (F.col("na") + F.col("nb") - F.col("c")), 4),
        )
        .where(F.col("containment") >= CONTAIN_MIN)
        .select("src_doc", "dst_doc", "containment", "jaccard")
        .orderBy("src_doc", "dst_doc")
    )


ORACLE_DOCS_CONTAINMENT = f"""
WITH base AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 40000000 AS doc_id,
         array_to_string(
           list_slice(regexp_extract_all(lower(text), '{TOKEN_RE}'),
                      1, {CONTAIN_EXCERPT_TOKENS}), ' ') AS text
  FROM documents WHERE doc_id % 31 = 0),
t AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE}') AS toks
  FROM base),
s AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, len(toks) - 2),
                i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS sh
  FROM t WHERE len(toks) >= 3),
kept AS (
  SELECT doc_id, sh
  FROM (SELECT doc_id, sh, count(*) OVER (PARTITION BY sh) AS df FROM s)
  WHERE df <= {JACCARD_DF_CUTOFF}),
sz AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS src_doc, b.doc_id AS dst_doc, count(*) AS c
  FROM kept a JOIN kept b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT src_doc, dst_doc,
       round(c * 1.0 / least(x.n, y.n), 4) AS containment,
       round(c * 1.0 / (x.n + y.n - c), 4) AS jaccard
FROM common
JOIN sz x ON src_doc = x.doc_id
JOIN sz y ON dst_doc = y.doc_id
WHERE round(c * 1.0 / least(x.n, y.n), 4) >= {CONTAIN_MIN}
ORDER BY src_doc, dst_doc
"""

# -------------------------------------------------- edit-distance verify
# Candidate generation is the SAME df-cutoff inverted index as
# docs_jaccard_pairs; the verify stage replaces set-overlap Jaccard
# with character-level Levenshtein similarity
#   edit_sim = 1 - lev(a, b) / max(len(a), len(b))
# — the fuzzy-dedup verifier for OCR noise / minor edits where token
# sets diverge but the byte stream barely moved. Both engines implement
# the classic unit-cost DP (no transpositions), so values agree
# exactly.
EDIT_SIM_MIN = 0.3


def q_docs_editdistance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein near-duplicate pairs over Jaccard-candidate pairs
    (threshold {EDIT_SIM_MIN} on normalized edit similarity).

    Scale shape: candidates come from the one-shuffle hashed-shingle
    inverted index (df cutoff bounds the quadratic term); the O(len²)
    Levenshtein DP runs ONLY on the candidate pairs — never all-pairs —
    after a broadcast of the (small) candidate list into two text
    lookups. At 100 TB the candidate count, not the corpus, bounds the
    verify cost, which is the only sane place for a quadratic-in-length
    kernel."""
    docs = load_table(spark, sf_dir, "documents")
    cands = q_docs_jaccard_pairs(spark, sf_dir).select("src_doc", "dst_doc")
    a = docs.select(F.col("doc_id").alias("src_doc"), F.col("text").alias("_ta"))
    b = docs.select(F.col("doc_id").alias("dst_doc"), F.col("text").alias("_tb"))
    scored = (
        a.join(F.broadcast(cands), "src_doc")
        .join(b, "dst_doc")
        .select(
            "src_doc",
            "dst_doc",
            F.levenshtein("_ta", "_tb").alias("lev"),
            F.round(
                1
                - F.levenshtein("_ta", "_tb")
                / F.greatest(F.length("_ta"), F.length("_tb")),
                4,
            ).alias("edit_sim"),
        )
        .where(F.col("edit_sim") >= EDIT_SIM_MIN)
    )
    return scored.orderBy("src_doc", "dst_doc")


_JACCARD_CAND_SQL = ORACLE_DOCS_JACCARD.rsplit("ORDER BY", 1)[0]

ORACLE_DOCS_EDITDISTANCE = f"""
WITH cand AS ({_JACCARD_CAND_SQL}),
scored AS (
  SELECT src_doc, dst_doc,
         levenshtein(a.text, b.text) AS lev,
         round(1 - levenshtein(a.text, b.text) * 1.0 /
               greatest(length(a.text), length(b.text)), 4) AS edit_sim
  FROM cand
  JOIN documents a ON cand.src_doc = a.doc_id
  JOIN documents b ON cand.dst_doc = b.doc_id)
SELECT src_doc, dst_doc, lev, edit_sim
FROM scored
WHERE edit_sim >= {EDIT_SIM_MIN}
ORDER BY src_doc, dst_doc
"""


# ------------------------------------------------------ embedding near-dup
def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (threshold 0.4),
    brute-force within the (small) embeddings table; ranks/ids + 4dp
    cosine compared. The LSH-bucketed variant (queries_ann) is the
    scale path; this is its exact baseline."""
    from deja_view_spark.functions.similarity import dot_over_norms, l2_norm

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", l2_norm(F.col("embedding")).alias("nrm")
    )
    a = emb.select(
        F.col("vec_id").alias("src_vec"),
        F.col("embedding").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = emb.select(
        F.col("vec_id").alias("dst_vec"),
        F.col("embedding").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    cos = dot_over_norms(F.col("va"), F.col("vb"), F.col("na"), F.col("nb"))
    return (
        a.join(b, F.col("src_vec") < F.col("dst_vec"))
        .withColumn("cos", F.round(cos, 4))
        .where(F.col("cos") >= 0.4)
        .select("src_vec", "dst_vec", "cos")
        .orderBy("src_vec", "dst_vec")
    )


ORACLE_EMBEDDING_NEAR_DUP = f"""
SELECT a.vec_id AS src_vec, b.vec_id AS dst_vec,
       round({duckdb_cosine_sql('a.embedding', 'b.embedding')}, 4) AS cos
FROM embeddings a, embeddings b
WHERE a.vec_id < b.vec_id
  AND round({duckdb_cosine_sql('a.embedding', 'b.embedding')}, 4) >= 0.4
ORDER BY src_vec, dst_vec
"""


# --------------------------------------------- winnowing fingerprints
# Schleimer-Wilkerson-Aiken 2003 (MOSS): slide a window of WINNOW_W
# consecutive k-gram hashes over each document and keep each window's
# minimum — a locality-sensitive *selection* that guarantees any match
# of length >= W+K-1 tokens shares at least one selected fingerprint,
# while storing only ~2/(W+1) of the hashes. The selected-hash sets
# then feed the same df-cutoff inverted index as docs_jaccard_pairs,
# so pair generation is bucket-local — but over the winnowed ~25%
# subset, which is the point at 100 TB: the index is 4x smaller for
# the same guaranteed-match length. Fingerprint identity is the hash
# VALUE (sets are deduped), so the window min needs no positional
# tie-break — both engines take a plain min per window.
#
# The hash must agree across engines bit-for-bit because it decides
# WHICH shingles survive: md5-prefix 60-bit (the KMV/HLL shared hash),
# not xxhash64 (absent in DuckDB).
WINNOW_W = 4          # window length in shingles
WINNOW_MIN_SHARED = 3  # emit pairs sharing >= this many fingerprints
WINNOW_DF_CUTOFF = 100  # drop fingerprints hitting more docs (boilerplate)


def _sql_hex60(col: str) -> str:
    """DuckDB: numeric value of the first 15 hex digits of ``col``
    (md5 hex string) — digit-positional sum, BIGINT-safe (< 2^60).
    Twin of Spark's ``conv(substr(md5(..), 1, 15), 16, 10)``."""
    terms = " + ".join(
        f"(strpos('0123456789abcdef', substr({col}, {i + 1}, 1)) - 1)"
        f" * {16 ** (14 - i)}::BIGINT"
        for i in range(15)
    )
    return f"({terms})"


def q_docs_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowed-fingerprint overlap pairs: docs sharing >=
    WINNOW_MIN_SHARED selected hashes, scored by containment of the
    smaller fingerprint set.

    Scale shape: the whole select-the-window-minima pass is in-row
    (nested higher-order functions over the shingle-hash array — one
    projection, whole-stage codegen, no explode until the fingerprint
    set is already winnowed to ~2/(W+1) of the shingles); ONE shuffle
    builds the per-fingerprint posting arrays; the df cutoff bounds
    posting size; pairs generate bucket-locally via posexplode+slice
    exactly like docs_jaccard_pairs."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_RE), 0)
    # token-count guard BEFORE building shingles: sequence(1, n-2)
    # silently descends for n < 3 (Spark picks step -1), so short docs
    # must never reach _shingles_from_toks
    tk = docs.select("doc_id", toks.alias("tk")).where(
        F.size("tk") >= WINNOW_W + 2
    )
    h_arr = F.transform(
        _shingles_from_toks(F.col("tk"), 3),
        lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long"),
    )
    with_h = tk.select("doc_id", h_arr.alias("hs"))
    starts = F.sequence(F.lit(1), F.size("hs") - (WINNOW_W - 1))
    fps = F.array_distinct(
        F.transform(
            starts, lambda st: F.array_min(F.slice("hs", st, WINNOW_W))
        )
    )
    fp = with_h.select("doc_id", F.explode(fps).alias("h"))
    postings = (
        fp.groupBy("h")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .where(F.size("ids") <= WINNOW_DF_CUTOFF)
    )
    sizes = (
        postings.select(F.explode("ids").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"))
    )
    pairs = (
        postings.where(F.size("ids") >= 2)
        .select(F.posexplode("ids").alias("_i", "src_doc"), F.col("ids"))
        .select(
            "src_doc",
            F.explode(
                F.slice(F.col("ids"), F.col("_i") + 2, F.size("ids"))
            ).alias("dst_doc"),
        )
    )
    common = pairs.groupBy("src_doc", "dst_doc").agg(
        F.count("*").alias("n_shared")
    )
    na = sizes.select(
        F.col("doc_id").alias("src_doc"), F.col("n").alias("_na")
    )
    nb = sizes.select(
        F.col("doc_id").alias("dst_doc"), F.col("n").alias("_nb")
    )
    return (
        common.where(F.col("n_shared") >= WINNOW_MIN_SHARED)
        .join(F.broadcast(na), "src_doc")
        .join(F.broadcast(nb), "dst_doc")
        .select(
            "src_doc",
            "dst_doc",
            "n_shared",
            F.round(
                F.col("n_shared") / F.least("_na", "_nb"), 4
            ).alias("fp_containment"),
        )
        .orderBy("src_doc", "dst_doc")
    )


ORACLE_DOCS_WINNOW = f"""
WITH t AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE}') AS toks
  FROM documents),
hx AS (
  SELECT doc_id,
         list_transform(
           list_transform(generate_series(1, len(toks) - 2),
                i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])),
           s -> {_sql_hex60('md5(s)')}) AS hs
  FROM t WHERE len(toks) - 2 >= {WINNOW_W}),
sel AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, len(hs) - {WINNOW_W - 1}),
           st -> list_aggregate(hs[st:st + {WINNOW_W - 1}], 'min'))) AS fps
  FROM hx),
fp AS (SELECT doc_id, unnest(fps) AS h FROM sel),
kept AS (
  SELECT doc_id, h
  FROM (SELECT doc_id, h, count(*) OVER (PARTITION BY h) AS df FROM fp)
  WHERE df <= {WINNOW_DF_CUTOFF}),
sz AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS src_doc, b.doc_id AS dst_doc, count(*) AS n_shared
  FROM kept a JOIN kept b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT src_doc, dst_doc, n_shared,
       round(n_shared * 1.0 / least(x.n, y.n), 4) AS fp_containment
FROM common
JOIN sz x ON src_doc = x.doc_id
JOIN sz y ON dst_doc = y.doc_id
WHERE n_shared >= {WINNOW_MIN_SHARED}
ORDER BY src_doc, dst_doc
"""


# ----------------------------------------------------------------- registry
QUERIES = {
    "docs_discussion_scores": q_docs_discussion_scores,
    "docs_quality": q_docs_quality,
    "docs_fingerprint": q_docs_fingerprint,
    "docs_jaccard_pairs": q_docs_jaccard_pairs,
    "docs_editdistance_pairs": q_docs_editdistance_pairs,
    "embedding_near_dup": q_embedding_near_dup,
}

ORACLES = {
    "docs_discussion_scores": ORACLE_DISCUSSION_SCORES,
    "docs_quality": ORACLE_DOCS_QUALITY,
    "docs_fingerprint": ORACLE_DOCS_FINGERPRINT,
    "docs_jaccard_pairs": ORACLE_DOCS_JACCARD,
    "docs_editdistance_pairs": ORACLE_DOCS_EDITDISTANCE,
    "embedding_near_dup": ORACLE_EMBEDDING_NEAR_DUP,
}


# ------------------------------------------------ similarity bands (F5/F16/F17)
def q_similarity_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-report banding (reference cli.py:572,576,589-590 /
    find_similar_issues.py:160-161): per probe, max similarity under
    the REPORT convention sim = 1 - d/2 = (1+cos)/2 (F5), banded and
    counted (A4). Thresholds parametrized to this corpus' similarity
    range; the when/otherwise band logic is the reference's."""
    from deja_view_spark.functions.similarity import dot_over_norms, l2_norm

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", l2_norm(F.col("embedding")).alias("nrm")
    )
    probes = emb.where(F.col("vec_id") < 100).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("pvec"),
        F.col("nrm").alias("pn"),
    )
    cand = emb.select(F.col("vec_id").alias("nid"), "embedding", "nrm")
    sim = (
        F.lit(1.0)
        + dot_over_norms(F.col("embedding"), F.col("pvec"), F.col("nrm"), F.col("pn"))
    ) / 2.0
    per_probe = (
        cand.join(F.broadcast(probes), F.col("nid") != F.col("probe_id"))
        .groupBy("probe_id")
        .agg(F.round(F.max(sim), 4).alias("max_similarity"))
    )
    band = (
        F.when(F.col("max_similarity") >= 0.72, F.lit("very_high"))
        .when(F.col("max_similarity") >= 0.70, F.lit("high"))
        .otherwise(F.lit("below"))
    )
    return (
        per_probe.select(band.alias("band"))
        .groupBy("band")
        .agg(F.count("*").alias("n_probes"))
        .orderBy("band")
    )


ORACLE_SIMILARITY_BANDS = f"""
WITH per_probe AS (
  SELECT p.vec_id AS probe_id,
         round(max((1.0 + {duckdb_cosine_sql('p.embedding', 'e.embedding')}) / 2.0), 4)
           AS max_similarity
  FROM embeddings p JOIN embeddings e ON e.vec_id <> p.vec_id
  WHERE p.vec_id < 100
  GROUP BY p.vec_id)
SELECT CASE WHEN max_similarity >= 0.72 THEN 'very_high'
            WHEN max_similarity >= 0.70 THEN 'high'
            ELSE 'below' END AS band,
       count(*) AS n_probes
FROM per_probe
GROUP BY 1
ORDER BY 1
"""


QUERIES["similarity_bands"] = q_similarity_bands
ORACLES["similarity_bands"] = ORACLE_SIMILARITY_BANDS
QUERIES["docs_containment_pairs"] = q_docs_containment_pairs
ORACLES["docs_containment_pairs"] = ORACLE_DOCS_CONTAINMENT


# ------------------------------------------------------------ language ID
# stopword-profile n-gram heuristic: score each candidate language by
# distinct-stopword presence, argmax with deterministic tie-break on
# profile order. (The synthetic corpus is English-vocab for every lang
# label — the op's contract is deterministic prediction, not accuracy.)
_LANG_PROFILES = [
    ("en", ["the", "a", "of", "and", "is"]),
    ("de", ["der", "die", "und", "nicht", "ist"]),
    ("fr", ["le", "la", "et", "les", "est"]),
    ("es", ["el", "los", "y", "que", "es"]),
]


def q_docs_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: per-language stopword hit counts (columns
    only, one pass), argmax via greatest + chained when; confusion
    counts vs the labeled lang."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_RE), 0)
    scores = {
        lang: F.size(
            F.array_intersect(toks, F.array(*[F.lit(w) for w in words]))
        )
        for lang, words in _LANG_PROFILES
    }
    best = F.greatest(*scores.values())
    pred = F.lit("unknown")
    # first profile in declaration order wins ties (reversed fold)
    for lang, _ in reversed(_LANG_PROFILES):
        pred = F.when((best > 0) & (scores[lang] == best), F.lit(lang)).otherwise(pred)
    return (
        docs.select(F.col("lang").alias("labeled"), pred.alias("predicted"))
        .groupBy("labeled", "predicted")
        .agg(F.count("*").alias("n"))
        .orderBy("labeled", "predicted")
    )


def _sql_lang_score(words: list[str]) -> str:
    return f"len(list_intersect(toks, {words!r}))"


_SQL_SCORES = {lang: _sql_lang_score(words) for lang, words in _LANG_PROFILES}
_SQL_BEST = "greatest(" + ", ".join(f"s_{k}" for k in _SQL_SCORES) + ")"
_SQL_PRED = "CASE WHEN " + " WHEN ".join(
    f"best > 0 AND s_{lang} = best THEN '{lang}'" for lang, _ in _LANG_PROFILES
) + " ELSE 'unknown' END"

ORACLE_DOCS_LANG_ID = f"""
WITH t AS (
  SELECT lang AS labeled,
         regexp_extract_all(lower(text), '{TOKEN_RE}') AS toks
  FROM documents),
s AS (
  SELECT labeled,
         {", ".join(f"{sql} AS s_{lang}" for lang, sql in _SQL_SCORES.items())}
  FROM t),
p AS (
  SELECT labeled, {_SQL_BEST} AS best, * FROM s)
SELECT labeled, {_SQL_PRED} AS predicted, count(*) AS n
FROM p
GROUP BY labeled, predicted
ORDER BY labeled, predicted
"""

QUERIES["docs_lang_id"] = q_docs_lang_id
ORACLES["docs_lang_id"] = ORACLE_DOCS_LANG_ID


# ------------------------------------------- SimHash dedup (expression-based)
# 48-bit simhash computed ENTIRELY as column expressions (no UDF): the
# per-token hash is conv(substr(md5(tok),1,12),16,10) — byte-identical
# in DuckDB as CAST(concat('0x', substr(md5(tok),1,12)) AS UBIGINT) —
# so the WHOLE op (fingerprint, banding, hamming verify) has an exact
# cross-engine oracle. Banding is 4×12-bit chunks: hamming <= 3 over 48
# bits pigeonholes at least one chunk equal, so candidate generation is
# COMPLETE (not probabilistic) and engine output == the exhaustive
# hamming-<=3 pair set. The 64-bit token-weighted UDF variant
# (operators/dedup.simhash_dedup_pairs) remains the KG-pipeline path;
# this is its oracle-checkable registry twin.
SIMHASH_BITS = 48
SIMHASH_CHUNK_BITS = 12
SIMHASH_MAX_HAMMING = 3


def _simhash_fp_expr(docs: DataFrame) -> DataFrame:
    """(doc_id, fp): 48-bit simhash over DISTINCT 3-gram shingles,
    weight 1 (shingles, not unigrams — unigram fingerprints collapse on
    a shared-vocabulary corpus; measured 4479 vs 25 hamming-pairs at
    sf0.01). One explode + one groupBy shuffle; 48 conditional sums +
    the bit fold are all whole-stage codegen."""
    t = docs.select(
        F.col("doc_id"),
        F.explode(F.array_distinct(_shingle_col(F.col("text")))).alias("tok"),
    )
    h = F.conv(F.substring(F.md5("tok"), 1, 12), 16, 10).cast("bigint")
    t = t.select("doc_id", h.alias("h"))
    sums = [
        F.sum(
            F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) * 2 - 1
        ).alias(f"b{i}")
        for i in range(SIMHASH_BITS)
    ]
    bits = t.groupBy("doc_id").agg(*sums)
    fp = None
    for i in range(SIMHASH_BITS):
        term = F.when(F.col(f"b{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return bits.select("doc_id", fp.cast("bigint").alias("fp"))


def q_docs_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate pairs: 48-bit expression fingerprint,
    4×12-bit chunk banding (pigeonhole-complete for hamming <= 3),
    xor+bit_count verify — zero Python, full DuckDB oracle."""
    docs = load_table(spark, sf_dir, "documents")
    fp = _simhash_fp_expr(docs).localCheckpoint(eager=True)
    mask = (1 << SIMHASH_CHUNK_BITS) - 1
    chunks = fp.select(
        "doc_id",
        "fp",
        F.explode(
            F.array(
                *[
                    F.shiftright(F.col("fp"), SIMHASH_CHUNK_BITS * i)
                    .bitwiseAND(F.lit(mask))
                    + F.lit(i * (1 << SIMHASH_CHUNK_BITS))
                    for i in range(SIMHASH_BITS // SIMHASH_CHUNK_BITS)
                ]
            )
        ).alias("chunk"),
    )
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("src_doc"),
            F.col("b.doc_id").alias("dst_doc"),
            F.col("a.fp").alias("fa"),
            F.col("b.fp").alias("fb"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("fa").bitwiseXOR(F.col("fb")))
        )
        .where(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .select("src_doc", "dst_doc", "hamming")
        .orderBy("src_doc", "dst_doc")
    )


_SQL_BIT_SUMS = ", ".join(
    f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
    for i in range(SIMHASH_BITS)
)
_SQL_FP = " + ".join(
    f"(CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(SIMHASH_BITS)
)
_SQL_CHUNKS = ", ".join(
    f"((fp >> {SIMHASH_CHUNK_BITS * i}) & {(1 << SIMHASH_CHUNK_BITS) - 1})"
    f" + {i * (1 << SIMHASH_CHUNK_BITS)}"
    for i in range(SIMHASH_BITS // SIMHASH_CHUNK_BITS)
)

ORACLE_DOCS_SIMHASH = f"""
WITH tk AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE}') AS toks
  FROM documents),
t AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, len(toks) - 2),
                i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS tok
  FROM tk WHERE len(toks) >= 3),
h AS (
  SELECT doc_id,
         CAST(CAST(concat('0x', substr(md5(tok), 1, 12)) AS UBIGINT) AS BIGINT) AS h
  FROM t),
b AS (SELECT doc_id, {_SQL_BIT_SUMS} FROM h GROUP BY doc_id),
fp AS (SELECT doc_id, CAST({_SQL_FP} AS BIGINT) AS fp FROM b),
chunks AS (
  SELECT doc_id, fp, unnest([{_SQL_CHUNKS}]) AS chunk FROM fp),
cand AS (
  SELECT DISTINCT a.doc_id AS src_doc, b.doc_id AS dst_doc,
         a.fp AS fa, b.fp AS fb
  FROM chunks a JOIN chunks b
    ON a.chunk = b.chunk AND a.doc_id < b.doc_id)
SELECT src_doc, dst_doc, CAST(bit_count(xor(fa, fb)) AS INT) AS hamming
FROM cand
WHERE bit_count(xor(fa, fb)) <= {SIMHASH_MAX_HAMMING}
ORDER BY src_doc, dst_doc
"""

QUERIES["docs_simhash_pairs"] = q_docs_simhash_pairs
ORACLES["docs_simhash_pairs"] = ORACLE_DOCS_SIMHASH


# -------------------------------------------- BPE-ish token counting
# GPT-2-style pre-tokenizer shape: contraction suffixes, space-prefixed
# word/number/punct runs, whitespace runs. No lookarounds — the pattern
# evaluates identically under Java regex (Spark) and RE2 (DuckDB),
# which the value-hash oracle asserts. This is the "how many tokens
# will the LLM see" estimator a pre-training pipeline budgets with
# (true BPE merges happen in the trainer; the pre-tokenizer defines
# the count's order of magnitude).
BPE_RE = r"'[a-z]{1,2}| ?[a-zA-Z]+| ?[0-9]+| ?[^\sa-zA-Z0-9]+|\s+"


def q_docs_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bpe = F.regexp_extract_all(F.col("text"), F.lit(BPE_RE), 0)
    ws = F.split(F.trim(F.col("text")), r"\s+")
    t = docs.select(
        "lang",
        F.size(bpe).alias("n_bpe"),
        F.size(ws).alias("n_ws"),
        F.length("text").alias("n_chars"),
    )
    return (
        t.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_bpe").alias("total_bpe_tokens"),
            F.round(F.avg("n_bpe"), 4).alias("avg_bpe_tokens"),
            F.round(F.avg(F.col("n_chars") / F.col("n_bpe")), 4).alias(
                "chars_per_bpe_token"
            ),
            F.round(F.avg(F.col("n_bpe") / F.col("n_ws")), 4).alias(
                "bpe_per_ws_token"
            ),
        )
        .orderBy("lang")
    )


ORACLE_DOCS_BPE_TOKEN_STATS = f"""
WITH t AS (
  SELECT lang,
         len(regexp_extract_all(text, '{BPE_RE.replace("'", "''")}')) AS n_bpe,
         len(regexp_split_to_array(trim(text), '\\s+')) AS n_ws,
         length(text) AS n_chars
  FROM documents)
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(n_bpe) AS BIGINT) AS total_bpe_tokens,
       round(avg(n_bpe), 4) AS avg_bpe_tokens,
       round(avg(n_chars * 1.0 / n_bpe), 4) AS chars_per_bpe_token,
       round(avg(n_bpe * 1.0 / n_ws), 4) AS bpe_per_ws_token
FROM t
GROUP BY lang
ORDER BY lang
"""

QUERIES["docs_bpe_token_stats"] = q_docs_bpe_token_stats
ORACLES["docs_bpe_token_stats"] = ORACLE_DOCS_BPE_TOKEN_STATS


# ------------------------------------------------ BPE merge-pair census
# One step of BPE vocabulary induction: the corpus-wide frequency of
# adjacent token pairs — the statistic a BPE trainer maximizes when
# choosing the next merge. Top-K with a full deterministic tie-break.
# Scale shape: the pair stream is generated in-row from the token
# array (no self-join), partial-aggregates map-side, and the global
# top-K is a TakeOrdered over the (pair, count) aggregate — the same
# two-shuffle plan at any corpus size.
BPE_MERGE_TOP_K = 20


def q_docs_bpe_merge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.lower("text"), F.lit(TOKEN_RE), 0)
    pair_idx = F.when(
        F.size("toks") > 1, F.sequence(F.lit(1), F.size("toks") - 1)
    ).otherwise(F.array().cast("array<int>"))
    pairs = docs.select(toks.alias("toks")).select(
        F.explode(
            F.transform(
                pair_idx,
                lambda i: F.concat_ws(
                    " ", F.element_at("toks", i), F.element_at("toks", i + 1)
                ),
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(BPE_MERGE_TOP_K)
    )


ORACLE_DOCS_BPE_MERGE = f"""
WITH t AS (
  SELECT regexp_extract_all(lower(text), '{TOKEN_RE}') AS toks
  FROM documents),
pairs AS (
  SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
                i -> concat_ws(' ', toks[i], toks[i+1]))) AS pair
  FROM t WHERE len(toks) >= 2)
SELECT pair, count(*) AS n
FROM pairs
GROUP BY pair
ORDER BY n DESC, pair ASC
LIMIT {BPE_MERGE_TOP_K}
"""

QUERIES["docs_bpe_merge_pairs"] = q_docs_bpe_merge_pairs
ORACLES["docs_bpe_merge_pairs"] = ORACLE_DOCS_BPE_MERGE


# ----------------------------------------------- INTERSECT / EXCEPT
# Set-operator breadth: which (lang, source) combinations appear among
# BOTH short and long documents, and which only on one side — Spark
# intersect()/subtract() against their ANSI INTERSECT/EXCEPT twins.
# Scale shape: both legs are distinct-aggregates over a two-column
# key; Catalyst plans intersect/except as semi/anti joins on the
# deduplicated sides — no full-table materialization, partial aggs
# map-side.
SETOP_SHORT_MAX = 250  # n_chars


def q_docs_source_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    short = docs.where(F.col("n_chars") < SETOP_SHORT_MAX).select(
        "lang", "source"
    ).distinct()
    longd = docs.where(F.col("n_chars") >= SETOP_SHORT_MAX).select(
        "lang", "source"
    ).distinct()
    both = short.intersect(longd).withColumn("which", F.lit("both"))
    short_only = short.subtract(longd).withColumn(
        "which", F.lit("short_only")
    )
    long_only = longd.subtract(short).withColumn("which", F.lit("long_only"))
    return both.unionByName(short_only).unionByName(long_only).orderBy(
        "which", "lang", "source"
    )


ORACLE_DOCS_SOURCE_SETOPS = f"""
WITH short AS (
  SELECT DISTINCT lang, source FROM documents
  WHERE n_chars < {SETOP_SHORT_MAX}),
longd AS (
  SELECT DISTINCT lang, source FROM documents
  WHERE n_chars >= {SETOP_SHORT_MAX})
SELECT lang, source, 'both' AS which
  FROM (SELECT * FROM short INTERSECT SELECT * FROM longd)
UNION ALL
SELECT lang, source, 'short_only'
  FROM (SELECT * FROM short EXCEPT SELECT * FROM longd)
UNION ALL
SELECT lang, source, 'long_only'
  FROM (SELECT * FROM longd EXCEPT SELECT * FROM short)
ORDER BY which, lang, source
"""

QUERIES["docs_source_setops"] = q_docs_source_setops
ORACLES["docs_source_setops"] = ORACLE_DOCS_SOURCE_SETOPS


# ------------------------------------------------------------ SemDeDup
def q_docs_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al., arXiv:2303.09540) over the embeddings
    table: cluster the embedding space (16 deterministic md5-medoid
    centroids — the oracle-reproducible twin of the production
    sample-fit KMeans, exactly the ann_ivf_topk arrangement), confine
    the O(n^2) cosine matrix to cluster-local blocks, and drop every
    vector eps-dominated (eps=0.4 on this corpus) by a same-cluster
    partner closer to the centroid. Output: one row per DROPPED
    vector with its cluster, kept partner, and cosine. The reference's
    serving-time duplicate probe (github_similarity_service.py:380-430)
    answers one issue at a time; this is the corpus-scale batch
    formulation a training-data pipeline runs."""
    from deja_view_spark.operators.semdedup import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(emb, n_centroids=16, eps=0.4)


def _oracle_semantic_dedup() -> str:
    d2 = (
        "(list_dot_product({v}, {v})"
        " - 2.0 * list_dot_product({v}, cvec))"
        " + list_dot_product(cvec, cvec)"
    )
    return f"""
WITH cents AS (
  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1
           AS bucket,
         embedding::DOUBLE[] AS cvec
  FROM embeddings
  ORDER BY md5(CAST(vec_id AS VARCHAR))
  LIMIT 16),
mem AS (
  SELECT vec_id AS id, v, bucket,
         round({duckdb_cosine_sql('v', 'cvec')}, 4) AS ccos
  FROM (
    SELECT e.vec_id, e.embedding AS v, c.bucket, c.cvec,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {d2.format(v='(e.embedding::DOUBLE[])')} ASC,
                      c.bucket ASC) AS _r
    FROM embeddings e CROSS JOIN cents c) t
  WHERE _r = 1),
pairs AS (
  SELECT a.id AS ida, b.id AS idb, a.bucket,
         round({duckdb_cosine_sql('a.v', 'b.v')}, 4) AS cos,
         a.ccos AS ccosa, b.ccos AS ccosb
  FROM mem a JOIN mem b ON a.bucket = b.bucket AND a.id < b.id
  WHERE round({duckdb_cosine_sql('a.v', 'b.v')}, 4) >= 0.4),
dominated AS (
  SELECT CASE WHEN ccosa > ccosb OR (ccosa = ccosb AND ida > idb)
              THEN ida ELSE idb END AS vec_id,
         CASE WHEN ccosa > ccosb OR (ccosa = ccosb AND ida > idb)
              THEN idb ELSE ida END AS kept_id,
         bucket, cos
  FROM pairs)
SELECT vec_id, bucket, kept_id, cos
FROM (
  SELECT vec_id, bucket, kept_id, cos,
         row_number() OVER (
           PARTITION BY vec_id ORDER BY cos DESC, kept_id ASC) AS _r
  FROM dominated) t
WHERE _r = 1
ORDER BY vec_id
"""


ORACLE_DOCS_SEMANTIC_DEDUP = _oracle_semantic_dedup()

QUERIES["docs_semantic_dedup"] = q_docs_semantic_dedup
ORACLES["docs_semantic_dedup"] = ORACLE_DOCS_SEMANTIC_DEDUP


# ------------------------------------------------------ k-means (Lloyd's)
KMEANS_K = 8
KMEANS_ROUNDS = 2
KMEANS_DIM = 64
KMEANS_DECIMALS = 4


def q_embeddings_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed quantized Lloyd's k-means over the embeddings table
    (operators/kmeans.py): md5-medoid init, KMEANS_ROUNDS broadcast-
    assign + partial-agg-mean updates (centroids rounded to 4dp each
    round — the quantization that makes the whole iteration
    bit-reproducible in DuckDB), final per-vector assignment with the
    cosine to the own centroid. The fully-distributed build-side of the
    IVF coarse quantizer ann_ivf_topk sample-fits."""
    from deja_view_spark.operators.kmeans import kmeans_assignments

    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_assignments(
        emb, k=KMEANS_K, rounds=KMEANS_ROUNDS,
        dim=KMEANS_DIM, decimals=KMEANS_DECIMALS,
    )


def _oracle_kmeans() -> str:
    d2 = (
        "(list_dot_product({v}, {v})"
        " - 2.0 * list_dot_product({v}, {c}))"
        " + list_dot_product({c}, {c})"
    )

    def assign_cte(name: str, cents: str) -> str:
        dd = d2.format(v="p.v", c="c.cvec")
        return f"""{name} AS (
  SELECT id, v, bucket FROM (
    SELECT p.id, p.v, c.bucket,
           row_number() OVER (PARTITION BY p.id
             ORDER BY {dd} ASC, c.bucket ASC) AS _r
    FROM pts p CROSS JOIN {cents} c) t
  WHERE _r = 1)"""

    def update_cte(name: str, assigned: str) -> str:
        means = ", ".join(
            f"round(avg(v[{i + 1}]), {KMEANS_DECIMALS})"
            for i in range(KMEANS_DIM)
        )
        return f"""{name} AS (
  SELECT bucket, [{means}]::DOUBLE[] AS cvec
  FROM {assigned} GROUP BY bucket)"""

    ctes = [
        """pts AS (
  SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings)""",
        f"""c0 AS (
  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1
           AS bucket,
         embedding::DOUBLE[] AS cvec
  FROM embeddings
  ORDER BY md5(CAST(vec_id AS VARCHAR))
  LIMIT {KMEANS_K})""",
    ]
    for r in range(KMEANS_ROUNDS):
        ctes.append(assign_cte(f"a{r}", f"c{r}"))
        ctes.append(update_cte(f"c{r + 1}", f"a{r}"))
    ctes.append(assign_cte("afinal", f"c{KMEANS_ROUNDS}"))
    cos = duckdb_cosine_sql("a.v", "c.cvec")
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT a.id AS vec_id, a.bucket, round({cos}, 4) AS ccos
FROM afinal a JOIN c{KMEANS_ROUNDS} c USING (bucket)
ORDER BY vec_id
"""
    )


ORACLE_EMBEDDINGS_KMEANS = _oracle_kmeans()


# ------------------------------------------------ product quantization
PQ_M = 4        # sub-blocks
PQ_SUBDIM = 16  # dims per block (m * subdim = KMEANS_DIM)
PQ_K = 8        # centroids per block codebook
PQ_ROUNDS = 1   # quantized Lloyd's rounds per block


def q_embeddings_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ(4x8) encode of the embeddings table
    (operators/kmeans.pq_assignments): per-block quantized-Lloyd's
    codebooks, per-vector code string + per-block squared
    reconstruction error. The compression half of the IVF-PQ index
    story — a 512-byte float vector becomes a 4-id code against a
    metadata-sized codebook, which is what an ANN index actually
    stores at corpus scale."""
    from deja_view_spark.operators.kmeans import pq_assignments

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_assignments(
        emb, m=PQ_M, subdim=PQ_SUBDIM, k=PQ_K, rounds=PQ_ROUNDS,
        decimals=KMEANS_DECIMALS,
    )


def _oracle_pq() -> str:
    d2t = (
        "(list_dot_product({v}, {v})"
        " - 2.0 * list_dot_product({v}, {c}))"
        " + list_dot_product({c}, {c})"
    )

    def assign_cte(name: str, pts: str, cents: str, final: bool) -> str:
        dd = d2t.format(v="p.v", c="c.cvec")
        extra = f", round(_dd, {KMEANS_DECIMALS}) AS d2" if final else ", v"
        return f"""{name} AS (
  SELECT id, bucket{extra} FROM (
    SELECT p.id, p.v, c.bucket, {dd} AS _dd,
           row_number() OVER (PARTITION BY p.id
             ORDER BY {dd} ASC, c.bucket ASC) AS _r
    FROM {pts} p CROSS JOIN {cents} c) t
  WHERE _r = 1)"""

    ctes = []
    for b in range(PQ_M):
        off = b * PQ_SUBDIM
        ctes.append(f"""p{b} AS (
  SELECT vec_id AS id,
         list_slice(embedding::DOUBLE[], {off + 1}, {off + PQ_SUBDIM}) AS v
  FROM embeddings)""")
        ctes.append(f"""c{b}_0 AS (
  SELECT row_number() OVER (ORDER BY md5(CAST(id AS VARCHAR))) - 1
           AS bucket,
         v AS cvec
  FROM p{b} ORDER BY md5(CAST(id AS VARCHAR)) LIMIT {PQ_K})""")
        means = ", ".join(
            f"round(avg(v[{i + 1}]), {KMEANS_DECIMALS})"
            for i in range(PQ_SUBDIM)
        )
        for r in range(PQ_ROUNDS):
            ctes.append(
                assign_cte(f"a{b}_{r}", f"p{b}", f"c{b}_{r}", final=False)
            )
            ctes.append(f"""c{b}_{r + 1} AS (
  SELECT bucket, [{means}]::DOUBLE[] AS cvec
  FROM a{b}_{r} GROUP BY bucket)""")
        ctes.append(
            assign_cte(f"f{b}", f"p{b}", f"c{b}_{PQ_ROUNDS}", final=True)
        )
    code = ", ".join(f"f{b}.bucket" for b in range(PQ_M))
    d2s = ",\n       ".join(f"f{b}.d2 AS d2_{b}" for b in range(PQ_M))
    joins = " ".join(f"JOIN f{b} USING (id)" for b in range(1, PQ_M))
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT f0.id AS vec_id,
       concat_ws('-', {code}) AS pq_code,
       {d2s}
FROM f0 {joins}
ORDER BY vec_id
"""
    )


ORACLE_EMBEDDINGS_PQ = _oracle_pq()

QUERIES["embeddings_pq"] = q_embeddings_pq
ORACLES["embeddings_pq"] = ORACLE_EMBEDDINGS_PQ

QUERIES["embeddings_kmeans"] = q_embeddings_kmeans
ORACLES["embeddings_kmeans"] = ORACLE_EMBEDDINGS_KMEANS


# ------------------------------------------- incremental SemDeDup probe
def q_docs_incremental_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving-time semantic dedup: the 10% newest vectors (vec_id %
    10 == 0 — the deterministic batch split both engines compute)
    probed against the indexed 90% corpus. The semantic twin of
    docs_incremental_dedup; reference semantics =
    github_similarity_service.py:380-430's per-issue probe, batched.
    The corpus side never shuffles (batch assignment broadcasts into
    the map-side candidate join)."""
    from deja_view_spark.operators.semdedup import incremental_semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    batch = emb.where(F.col("vec_id") % 10 == 0)
    corpus = emb.where(F.col("vec_id") % 10 != 0)
    return incremental_semantic_dedup(batch, corpus, n_centroids=16, eps=0.4)


def _oracle_incremental_semdedup() -> str:
    d2 = (
        "(list_dot_product({v}, {v})"
        " - 2.0 * list_dot_product({v}, cvec))"
        " + list_dot_product(cvec, cvec)"
    )

    def assign(name: str, src: str) -> str:
        dd = d2.format(v="(e.embedding::DOUBLE[])")
        return f"""{name} AS (
  SELECT vec_id AS id, v, bucket FROM (
    SELECT e.vec_id, e.embedding AS v, c.bucket,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {dd} ASC, c.bucket ASC) AS _r
    FROM {src} e CROSS JOIN cents c) t
  WHERE _r = 1)"""

    cos = duckdb_cosine_sql("b.v", "c.v")
    return f"""
WITH corpus AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 <> 0),
batch AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0),
cents AS (
  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1
           AS bucket,
         embedding::DOUBLE[] AS cvec
  FROM corpus
  ORDER BY md5(CAST(vec_id AS VARCHAR))
  LIMIT 16),
{assign('cm', 'corpus')},
{assign('bm', 'batch')},
pairs AS (
  SELECT b.id AS bid, b.bucket, c.id AS cid,
         round({cos}, 4) AS cos
  FROM bm b JOIN cm c USING (bucket)
  WHERE round({cos}, 4) >= 0.4)
SELECT bid AS vec_id, bucket, cid AS kept_id, cos
FROM (
  SELECT bid, bucket, cid, cos,
         row_number() OVER (
           PARTITION BY bid ORDER BY cos DESC, cid ASC) AS _r
  FROM pairs) t
WHERE _r = 1
ORDER BY vec_id
"""


ORACLE_DOCS_INCREMENTAL_SEMDEDUP = _oracle_incremental_semdedup()

QUERIES["docs_incremental_semdedup"] = q_docs_incremental_semdedup
ORACLES["docs_incremental_semdedup"] = ORACLE_DOCS_INCREMENTAL_SEMDEDUP
QUERIES["docs_winnow_pairs"] = q_docs_winnow_pairs
ORACLES["docs_winnow_pairs"] = ORACLE_DOCS_WINNOW


# ------------------------------------- prefix-filter similarity join
# Xiao-Wang-Lin-Yu 2008 (PPJoin's prefix filter): order every record's
# element set by GLOBAL rarity (df asc, element asc) and index only
# each set's first n - ceil(t*n) + 1 elements — if two sets have
# Jaccard >= t they MUST share a prefix element under the same global
# order (pigeonhole on the (1-t)*n elements a match may miss), so
# candidate generation from the prefix index alone is provably
# COMPLETE for the exact join at threshold t. Rare-first ordering is
# what bounds the postings: hot boilerplate elements land in suffixes
# and never generate candidates — the opposite trade from
# docs_jaccard_pairs' df CUTOFF, which silently loses pairs whose
# overlap lives in hot shingles. This is the exact-join machinery for
# the 100-TB regime where recall must be provably 1.0 and a MinHash
# or cutoff miss is not acceptable. Elements are the same 3-gram
# shingles as the LSH/cutoff paths, hashed to the shared md5-60 longs
# so the global order is engine-exact and shuffle keys stay 8 bytes.
PP_T = 0.7  # shingle-set Jaccard threshold


def q_docs_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shingle-set similarity join at Jaccard >= PP_T via the
    prefix filter: complete by construction, verified by exact
    intersection sizes — the provably-lossless twin of
    docs_jaccard_pairs' df-cutoff index.

    Scale shape: df ranks come from ONE (doc, shingle-hash) distinct
    stream agg; per-doc canonical order is a sort_array over in-row
    structs (codegen, no window); the prefix index is the only posting
    table built — ~(1-t) of the full index — and pairs generate
    bucket-locally (posexplode+slice, no self-join); verification
    re-joins the two candidates' hash sets by doc_id (hash joins) and
    computes exact Jaccard in-row. No corpus-wide window, no
    cartesian, no Python."""
    docs = load_table(spark, sf_dir, "documents")
    h_arr = F.array_distinct(
        F.transform(
            _shingle_col(F.col("text")),
            lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast(
                "long"
            ),
        )
    )
    # the hashed set table feeds THREE consumers (the df stream and
    # both verify sides); checkpoint it once so the md5 pass over the
    # corpus runs once, not three times (CollapseProject would inline
    # the transform() per consumer otherwise) — at 100 TB this is the
    # materialized shingle-set table every dedup path shares
    sets = (
        docs.select("doc_id", h_arr.alias("ts"))
        .where(F.size("ts") >= 1)
        .localCheckpoint(eager=False)
    )
    stream = sets.select("doc_id", F.explode("ts").alias("h"))
    dfreq = stream.groupBy("h").agg(F.count("*").alias("df"))
    ranked = (
        stream.join(dfreq, "h")
        .groupBy("doc_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("df"), F.col("h")))
            ).alias("ord")
        )
    )
    n = F.size("ord")
    plen = (n - F.ceil(F.lit(PP_T) * n) + 1).cast("int")
    prefix = ranked.select(
        "doc_id",
        F.explode(
            F.transform(F.slice("ord", F.lit(1), plen), lambda s: s["h"])
        ).alias("h"),
    )
    postings = prefix.groupBy("h").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ids")
    )
    cands = (
        postings.where(F.size("ids") >= 2)
        .select(F.posexplode("ids").alias("_i", "src_doc"), F.col("ids"))
        .select(
            "src_doc",
            F.explode(
                F.slice(F.col("ids"), F.col("_i") + 2, F.size("ids"))
            ).alias("dst_doc"),
        )
        .distinct()
    )
    a = sets.select(F.col("doc_id").alias("src_doc"), F.col("ts").alias("_ta"))
    b = sets.select(F.col("doc_id").alias("dst_doc"), F.col("ts").alias("_tb"))
    inter = F.size(F.array_intersect("_ta", "_tb"))
    uni = F.size("_ta") + F.size("_tb") - inter
    return (
        cands.join(a, "src_doc")
        .join(b, "dst_doc")
        .withColumn("jaccard", F.round(inter / uni, 4))
        .where(F.col("jaccard") >= PP_T)
        .select("src_doc", "dst_doc", "jaccard")
        .orderBy("src_doc", "dst_doc")
    )


ORACLE_DOCS_PREFIX_JOIN = f"""
WITH t AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE}') AS toks
  FROM documents),
sets AS (
  SELECT doc_id,
         list_distinct(list_transform(
           list_transform(generate_series(1, len(toks) - 2),
                i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])),
           s -> {_sql_hex60('md5(s)')})) AS ts
  FROM t WHERE len(toks) >= 3),
stream AS (SELECT doc_id, unnest(ts) AS h FROM sets),
dfreq AS (SELECT h, count(*) AS df FROM stream GROUP BY h),
ranked AS (
  SELECT s.doc_id, array_agg(s.h ORDER BY d.df, s.h) AS ord
  FROM stream s JOIN dfreq d USING (h) GROUP BY s.doc_id),
prefix AS (
  SELECT doc_id,
         unnest(ord[1:(len(ord) - CAST(ceil({PP_T} * len(ord)) AS INT)
                      + 1)]) AS h
  FROM ranked),
cand AS (
  SELECT DISTINCT a.doc_id AS src_doc, b.doc_id AS dst_doc
  FROM prefix a JOIN prefix b
    ON a.h = b.h AND a.doc_id < b.doc_id),
scored AS (
  SELECT src_doc, dst_doc,
         round(len(list_intersect(x.ts, y.ts)) * 1.0
               / (len(x.ts) + len(y.ts)
                  - len(list_intersect(x.ts, y.ts))), 4) AS jaccard
  FROM cand
  JOIN sets x ON src_doc = x.doc_id
  JOIN sets y ON dst_doc = y.doc_id)
SELECT src_doc, dst_doc, jaccard FROM scored
WHERE jaccard >= {PP_T}
ORDER BY src_doc, dst_doc
"""


QUERIES["docs_prefix_join"] = q_docs_prefix_join
ORACLES["docs_prefix_join"] = ORACLE_DOCS_PREFIX_JOIN


# ----------------------------------------------------- BPE training loop
# Actual BPE vocabulary induction (Sennrich 2016), not just the census:
# BPE_TRAIN_ROUNDS rounds of [pair census -> argmax merge -> re-segment]
# over the WORD-FREQUENCY table — the standard scale trick: the corpus
# is touched once to build (word, count); every training round then
# runs on the |vocab|-sized state, never the corpus. The re-segmentation
# is a left-to-right non-overlapping fold (aggregate/list_reduce over
# the symbol array) that matches reference BPE semantics exactly:
# "x x x" + (x,x) -> "xx x", and a token merged THIS round cannot
# re-merge (chr(1) marker, stripped per round) — verified identical in
# both engines on the boundary cases. Argmax is fully tie-broken
# (count DESC, pair ASC). Output: the learned merge table, the BPE
# artifact itself.
#
# Scale shape per round: in-row pair stream (no self-join) + one
# partial-agg census + a 1-row TakeOrdered argmax broadcast back into
# a map-side fold. Round state is localCheckpoint'ed so lineage stays
# linear (the PageRank/kmeans discipline).
BPE_TRAIN_ROUNDS = 5


def _bpe_fold_spark() -> str:
    return """
  trim(replace(
    aggregate(
      slice(split(seg, ' '), 2, size(split(seg, ' ')) - 1),
      split(seg, ' ')[0],
      (acc, cur) -> CASE
        WHEN endswith(concat(' ', acc), concat(' ', pa)) AND cur = pb
        THEN concat(substr(acc, 1, length(acc) - length(pa)), chr(1), pa, pb)
        ELSE concat(acc, ' ', cur) END),
    chr(1), ''))"""


def q_docs_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(
            F.explode(
                F.regexp_extract_all(F.lower("text"), F.lit(TOKEN_RE), 0)
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    seg = vocab.select(
        F.expr("trim(regexp_replace(word, '(.)', '$1 '))").alias("seg"),
        "cnt",
    ).localCheckpoint(eager=True)
    merges = None
    for rnd in range(1, BPE_TRAIN_ROUNDS + 1):
        syms = F.split("seg", " ")
        pair_idx = F.when(
            F.size(syms) > 1, F.sequence(F.lit(1), F.size(syms) - 1)
        ).otherwise(F.array().cast("array<int>"))
        census = (
            seg.select(
                F.explode(
                    F.transform(
                        pair_idx,
                        lambda i: F.struct(
                            F.element_at(syms, i).alias("pa"),
                            F.element_at(syms, i + 1).alias("pb"),
                        ),
                    )
                ).alias("p"),
                "cnt",
            )
            .groupBy("p.pa", "p.pb")
            .agg(F.sum("cnt").alias("pair_count"))
        )
        best = (
            census.orderBy(F.desc("pair_count"), "pa", "pb")
            .limit(1)
            .select(F.lit(rnd).alias("round"), "pa", "pb", "pair_count")
            .localCheckpoint(eager=True)  # 1 row; pins the argmax
        )
        merges = best if merges is None else merges.unionByName(best)
        seg = (
            seg.crossJoin(F.broadcast(best.select("pa", "pb")))
            .select(F.expr(_bpe_fold_spark()).alias("seg"), "cnt")
            .localCheckpoint(eager=True)
        )
    return merges.orderBy("round")


def _oracle_bpe_train() -> str:
    fold = """
  trim(replace(
    list_reduce(
      string_split(seg, ' '),
      (acc, cur) -> CASE
        WHEN ends_with(' ' || acc, ' ' || pa) AND cur = pb
        THEN substr(acc, 1, length(acc) - length(pa)) || chr(1) || pa || pb
        ELSE acc || ' ' || cur END),
    chr(1), ''))"""
    rounds = []
    prev = "v0"
    for r in range(1, BPE_TRAIN_ROUNDS + 1):
        rounds.append(f"""
c{r} AS (
  SELECT s[i] AS pa, s[i + 1] AS pb, CAST(sum(cnt) AS BIGINT) AS pair_count
  FROM (
    SELECT string_split(seg, ' ') AS s, cnt,
           unnest(generate_series(1, len(string_split(seg, ' ')) - 1)) AS i
    FROM {prev} WHERE len(string_split(seg, ' ')) > 1)
  GROUP BY 1, 2),
b{r} AS (
  SELECT {r} AS round, pa, pb, pair_count
  FROM c{r} ORDER BY pair_count DESC, pa, pb LIMIT 1),
v{r} AS (
  SELECT {fold} AS seg, cnt FROM {prev} CROSS JOIN b{r})""")
        prev = f"v{r}"
    chain = ",".join(rounds)
    union = "\nUNION ALL\n".join(
        f"SELECT round, pa, pb, pair_count FROM b{r}"
        for r in range(1, BPE_TRAIN_ROUNDS + 1)
    )
    return f"""
WITH w AS (
  SELECT unnest(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS word
  FROM documents),
vocab AS (SELECT word, count(*) AS cnt FROM w GROUP BY word),
v0 AS (
  SELECT trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS seg, cnt
  FROM vocab),{chain}
SELECT * FROM ({union}) ORDER BY round
"""


ORACLE_DOCS_BPE_TRAIN = _oracle_bpe_train()


QUERIES["docs_bpe_train"] = q_docs_bpe_train
ORACLES["docs_bpe_train"] = ORACLE_DOCS_BPE_TRAIN


# --------------------------------------------------- score calibration
# Reliability table for the discussion-suitability score: fixed-width
# score bins (0.05) against the closed-state outcome — the calibration
# diagram a score consumer checks before trusting thresholds (a
# well-calibrated score's outcome rate moves monotonically across
# bins; a flat table means the score carries no signal for this
# outcome). Fixed-width binning rather than ntile/percent_rank BY
# DESIGN: deciles need a corpus-sized global sort window, bins are
# map-side arithmetic over the already-hash-green rounded score — one
# partial-agg groupBy at any corpus size. Outcome rate in exact ppm.
CAL_BIN_W = 0.05  # score-bin width


def q_docs_score_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = q_docs_discussion_scores(spark, sf_dir)
    closed = F.col("doc_id") % 3 == 0  # the corpus's deterministic state
    return (
        scored.select(
            F.expr(f"CAST(floor(score / {CAL_BIN_W}) AS BIGINT)").alias(
                "score_bin"
            ),
            closed.cast("long").alias("is_closed"),
        )
        .groupBy("score_bin")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("is_closed").alias("n_closed"),
        )
        .select(
            "score_bin",
            F.round(F.col("score_bin") * CAL_BIN_W, 2).alias("bin_lo"),
            "n_docs",
            "n_closed",
            F.expr("CAST(n_closed * 1000000 DIV n_docs AS BIGINT)").alias(
                "closed_rate_ppm"
            ),
        )
        .orderBy("score_bin")
    )


ORACLE_DOCS_SCORE_CALIBRATION = f"""
WITH scored AS ({ORACLE_DISCUSSION_SCORES.replace("ORDER BY doc_id", "")}),
cells AS (
  SELECT CAST(floor(score / {CAL_BIN_W}) AS BIGINT) AS score_bin,
         count(*) AS n_docs,
         CAST(sum(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_closed
  FROM scored GROUP BY 1)
SELECT score_bin, round(score_bin * {CAL_BIN_W}, 2) AS bin_lo,
       n_docs, n_closed,
       CAST(n_closed * 1000000 // n_docs AS BIGINT) AS closed_rate_ppm
FROM cells
ORDER BY score_bin
"""

QUERIES["docs_score_calibration"] = q_docs_score_calibration
ORACLES["docs_score_calibration"] = ORACLE_DOCS_SCORE_CALIBRATION


# ------------------------------------------------- RAKE keyphrases
# Rapid Automatic Keyword Extraction (Rose et al. 2010): candidate
# phrases are maximal stopword-free token runs; each word scores
# deg(w)/freq(w) where deg is the summed length of every phrase
# occurrence containing w and freq is its occurrence count; a phrase
# scores the sum over its words. Scoring is EXACT-INTEGER ppm
# (sum of deg*1e6 DIV freq) so the value is independent of float
# summation order across engines and partitionings — the same
# discipline as the KS/calibration ppm columns. Scale shape: the
# stopword fold is ONE map-side array expression per row (no UDF,
# no explode of the raw token stream); everything downstream rides
# the phrase table — two narrow aggs (word stats, phrase counts), a
# broadcast of the word-stats table (vocabulary-sized), and a
# TakeOrdered(k). No corpus-sized window, no all-pairs anything.
RAKE_MAX_PHRASE = 4  # longest candidate phrase, in words
RAKE_TOP_K = 50  # rows returned


def _rake_phrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-OCCURRENCE candidate phrases: fold the token stream into a
    '|'-delimited string at stopwords (one expression), split, trim,
    drop empties and over-long phrases."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_RE), 0)
    stop_arr = F.array(*[F.lit(w) for w in _STOPWORDS])
    folded = F.aggregate(
        toks,
        F.lit(""),
        lambda acc, cur: F.when(
            F.array_contains(stop_arr, cur), F.concat(acc, F.lit("|"))
        ).otherwise(F.concat(acc, F.lit(" "), cur)),
    )
    return (
        docs.select(F.explode(F.split(folded, r"\|")).alias("p"))
        .select(F.trim(F.col("p")).alias("phrase"))
        .where(
            (F.col("phrase") != "")
            & (F.size(F.split("phrase", " ")) <= RAKE_MAX_PHRASE)
        )
    )


def q_docs_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    phrases = _rake_phrases(spark, sf_dir)
    # word stats over phrase OCCURRENCES: deg = sum of phrase lengths,
    # freq = occurrence count
    stats = (
        phrases.select(
            F.size(F.split("phrase", " ")).alias("plen"),
            F.explode(F.split("phrase", " ")).alias("word"),
        )
        .groupBy("word")
        .agg(
            F.sum("plen").cast("long").alias("deg"),
            F.count("*").alias("freq"),
        )
    )
    # NOTE: per-OCCURRENCE phrase rows would multiply word scores by
    # the phrase's own frequency; aggregate per DISTINCT phrase content
    # instead: score = sum of word deg/freq, count = occurrences.
    per_phrase = (
        phrases.groupBy("phrase")
        .agg(F.count("*").alias("n_occurrences"))
        .select(
            "phrase",
            "n_occurrences",
            F.explode(F.split("phrase", " ")).alias("word"),
        )
        .join(F.broadcast(stats), "word")
        .groupBy("phrase", "n_occurrences")
        .agg(
            F.sum(F.expr("deg * 1000000 DIV freq"))
            .cast("long")
            .alias("rake_score_ppm")
        )
    )
    return per_phrase.orderBy(
        F.desc("rake_score_ppm"), F.desc("n_occurrences"), "phrase"
    ).limit(RAKE_TOP_K)


def _oracle_rake() -> str:
    stop_in = ", ".join(f"'{w}'" for w in _STOPWORDS)
    return f"""
WITH t AS (
  SELECT regexp_extract_all(lower(text), '{TOKEN_RE}') AS toks
  FROM documents),
folded AS (
  SELECT list_reduce(list_prepend('', toks), (acc, cur) ->
           CASE WHEN cur IN ({stop_in}) THEN acc || '|'
                ELSE acc || ' ' || cur END) AS s
  FROM t WHERE len(toks) >= 1),
phrases AS (
  SELECT trim(p) AS phrase
  FROM (SELECT unnest(string_split(s, '|')) AS p FROM folded)
  WHERE trim(p) <> ''
    AND len(string_split(trim(p), ' ')) <= {RAKE_MAX_PHRASE}),
words AS (
  SELECT phrase, len(string_split(phrase, ' ')) AS plen,
         unnest(string_split(phrase, ' ')) AS word
  FROM phrases),
stats AS (
  SELECT word, CAST(sum(plen) AS BIGINT) AS deg, count(*) AS freq
  FROM words GROUP BY word),
pc AS (
  SELECT phrase, count(*) AS n_occurrences FROM phrases GROUP BY phrase),
pw AS (
  SELECT pc.phrase, pc.n_occurrences,
         unnest(string_split(pc.phrase, ' ')) AS word
  FROM pc)
SELECT pw.phrase, pw.n_occurrences,
       CAST(sum(s.deg * 1000000 // s.freq) AS BIGINT) AS rake_score_ppm
FROM pw JOIN stats s ON pw.word = s.word
GROUP BY pw.phrase, pw.n_occurrences
ORDER BY rake_score_ppm DESC, n_occurrences DESC, phrase
LIMIT {RAKE_TOP_K}
"""


ORACLE_DOCS_RAKE = _oracle_rake()

QUERIES["docs_rake_keyphrases"] = q_docs_rake_keyphrases
ORACLES["docs_rake_keyphrases"] = ORACLE_DOCS_RAKE


# ------------------------------------------------ tokenizer fertility
# The mT5/XLM-R tokenizer-equity statistic: per language, BPE tokens
# per whitespace word (fertility) and bytes per BPE token — the
# numbers that decide whether a tokenizer under-serves a language
# (high fertility = more tokens per word = shorter effective context
# and higher training cost for that language). Uses the same GPT-2
# pre-tokenizer regex as docs_bpe_token_stats. All ratios in exact
# integer ppm over exact BIGINT sums — zero float on the comparison
# path. Scale shape: two map-side array sizes per doc, one partial-agg
# groupBy on lang; output is |languages| rows.
def q_docs_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "lang",
        F.size(F.split("text", " ")).cast("long").alias("n_words"),
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit(BPE_RE), 0)
        ).cast("long").alias("n_tokens"),
        F.octet_length("text").cast("long").alias("n_bytes"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_words").alias("total_words"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("n_bytes").alias("total_bytes"),
        )
        .select(
            "lang",
            "n_docs",
            "total_words",
            "total_tokens",
            F.expr("total_tokens * 1000000 DIV total_words").alias(
                "fertility_ppm"
            ),
            F.expr("total_bytes * 1000000 DIV total_tokens").alias(
                "bytes_per_token_ppm"
            ),
        )
        .orderBy("lang")
    )


ORACLE_DOCS_TOKENIZER_FERTILITY = f"""
WITH per_doc AS (
  SELECT lang,
         len(str_split(text, ' ')) AS n_words,
         len(regexp_extract_all(text, '{BPE_RE.replace("'", "''")}'))
           AS n_tokens,
         strlen(text) AS n_bytes
  FROM documents)
SELECT lang, count(*) AS n_docs,
       CAST(sum(n_words) AS BIGINT) AS total_words,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(sum(n_tokens) * 1000000 // sum(n_words) AS BIGINT)
         AS fertility_ppm,
       CAST(sum(n_bytes) * 1000000 // sum(n_tokens) AS BIGINT)
         AS bytes_per_token_ppm
FROM per_doc
GROUP BY lang
ORDER BY lang
"""

QUERIES["docs_tokenizer_fertility"] = q_docs_tokenizer_fertility
ORACLES["docs_tokenizer_fertility"] = ORACLE_DOCS_TOKENIZER_FERTILITY


# ------------------------------------------- classifier eval metrics
# Per-class precision / recall / F1 (exact ppm) for the heuristic
# language classifier, computed FROM the confusion matrix the
# oracle-checked docs_lang_id emits — composing that query unchanged,
# so the scorecard can never drift from the classifier it grades.
# The evaluation-harness shape every model-backed filter needs
# (quality classifiers, lang-id, PII detectors): tp/fp/fn as
# conditional sums over the |classes|^2 confusion table (metadata-
# sized), F1 as the exact-integer harmonic mean 2·P·R·1e6 DIV (P+R).
def q_docs_lang_id_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    conf = q_docs_lang_id(spark, sf_dir)
    per_label = conf.groupBy(F.col("labeled").alias("klass")).agg(
        F.sum("n").alias("n_labeled"),
        F.sum(
            F.when(F.col("predicted") == F.col("labeled"), F.col("n"))
            .otherwise(F.lit(0))
        ).alias("tp"),
    )
    per_pred = conf.groupBy(F.col("predicted").alias("klass")).agg(
        F.sum("n").alias("n_predicted")
    )
    return (
        per_label.join(F.broadcast(per_pred), "klass", "left")
        .select(
            "klass",
            "n_labeled",
            F.coalesce("n_predicted", F.lit(0)).alias("n_predicted"),
            "tp",
            F.expr(
                "CASE WHEN coalesce(n_predicted, 0) > 0"
                " THEN tp * 1000000 DIV n_predicted ELSE 0 END"
            ).alias("precision_ppm"),
            F.expr("tp * 1000000 DIV n_labeled").alias("recall_ppm"),
        )
        .withColumn(
            "f1_ppm",
            F.expr(
                "CASE WHEN precision_ppm + recall_ppm > 0"
                " THEN 2 * precision_ppm * recall_ppm"
                "      DIV (precision_ppm + recall_ppm)"
                " ELSE 0 END"
            ),
        )
        .orderBy("klass")
    )


ORACLE_DOCS_LANG_ID_METRICS = f"""
WITH conf AS ({ORACLE_DOCS_LANG_ID}),
per_label AS (
  SELECT labeled AS klass, CAST(sum(n) AS BIGINT) AS n_labeled,
         CAST(sum(CASE WHEN predicted = labeled THEN n ELSE 0 END)
              AS BIGINT) AS tp
  FROM conf GROUP BY labeled),
per_pred AS (
  SELECT predicted AS klass, CAST(sum(n) AS BIGINT) AS n_predicted
  FROM conf GROUP BY predicted),
m AS (
  SELECT klass, n_labeled, coalesce(n_predicted, 0) AS n_predicted, tp,
         CASE WHEN coalesce(n_predicted, 0) > 0
              THEN tp * 1000000 // n_predicted ELSE 0 END AS precision_ppm,
         tp * 1000000 // n_labeled AS recall_ppm
  FROM per_label LEFT JOIN per_pred USING (klass))
SELECT klass, n_labeled, n_predicted, tp,
       CAST(precision_ppm AS BIGINT) AS precision_ppm,
       CAST(recall_ppm AS BIGINT) AS recall_ppm,
       CAST(CASE WHEN precision_ppm + recall_ppm > 0
                 THEN 2 * precision_ppm * recall_ppm
                      // (precision_ppm + recall_ppm)
                 ELSE 0 END AS BIGINT) AS f1_ppm
FROM m
ORDER BY klass
"""

QUERIES["docs_lang_id_metrics"] = q_docs_lang_id_metrics
ORACLES["docs_lang_id_metrics"] = ORACLE_DOCS_LANG_ID_METRICS


# -------------------------------------------------- PMI collocations
# Collocation mining over the corpus vocabulary: normalized pointwise
# mutual information for pairs of the PMI_VOCAB_K most frequent
# terms, by document co-occurrence — the statistic that separates
# phrases ("machine learning") from chance co-occurrence, used for
# tokenizer-merge seeding and feature engineering. Pipeline: ONE
# tokenize pass -> distinct (doc, term) -> df census -> top-K vocab
# (broadcast) -> doc-local pair generation bounded by <= K terms per
# doc (the LSH bucket-local discipline) -> pair census. npmi =
# ln(N·c_xy/(c_x·c_y)) / ln(N/c_xy) evaluated ONCE per pair row on
# the metadata-sized pair table (token-identical float over exact
# integers), reported in ppm. Scale shape: the only corpus-sized
# shuffles are the distinct projection and the df census; everything
# after is vocab-bounded.
PMI_VOCAB_K = 40
PMI_MIN_PAIRS = 3


def q_docs_term_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    dt = (
        docs.select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.regexp_extract_all(
                        F.lower("text"), F.lit(TOKEN_RE), 0
                    )
                )
            ).alias("term"),
        )
    )
    df_census = dt.groupBy("term").agg(F.count("*").alias("c"))
    vocab = (
        df_census.orderBy(F.desc("c"), F.asc("term"))
        .limit(PMI_VOCAB_K)
        .select("term", "c")
    )
    in_vocab = dt.join(F.broadcast(vocab), "term").select(
        "doc_id", "term", "c"
    )
    a = in_vocab.select(
        "doc_id", F.col("term").alias("x"), F.col("c").alias("cx")
    )
    b = in_vocab.select(
        "doc_id", F.col("term").alias("y"), F.col("c").alias("cy")
    )
    pairs = (
        a.join(b, "doc_id")
        .where(F.col("x") < F.col("y"))
        .groupBy("x", "y")
        .agg(
            F.count("*").alias("c_xy"),
            F.min("cx").alias("c_x"),
            F.min("cy").alias("c_y"),
        )
        .where(F.col("c_xy") >= PMI_MIN_PAIRS)
    )
    # c_xy == N (a pair present in EVERY document) drives the npmi
    # denominator ln(N/c_xy) to 0; the limit is npmi = 1 — guard it
    # (surfaced by the sf1 stress corpus, whose sentence-bank text
    # makes top-vocab pairs universal)
    npmi = (
        f"CASE WHEN c_xy = {n_docs} THEN 1.0 ELSE "
        f"ln(CAST({n_docs} AS DOUBLE) * c_xy / (CAST(c_x AS DOUBLE) * c_y))"
        f" / ln(CAST({n_docs} AS DOUBLE) / c_xy) END"
    )
    return (
        pairs.select(
            "x",
            "y",
            "c_xy",
            "c_x",
            "c_y",
            F.expr(
                f"CAST(round(({npmi}) * 1000000, 0) AS BIGINT)"
            ).alias("npmi_ppm"),
        )
        .orderBy(F.desc("npmi_ppm"), F.asc("x"), F.asc("y"))
        .limit(50)
    )


def _oracle_term_pmi(n_docs_expr: str = "(SELECT count(*) FROM documents)") -> str:
    npmi = (
        f"CASE WHEN c_xy = n THEN 1.0 ELSE "
        f"ln(CAST(n AS DOUBLE) * c_xy / (CAST(c_x AS DOUBLE) * c_y))"
        f" / ln(CAST(n AS DOUBLE) / c_xy) END"
    )
    return f"""
WITH dt AS (
  SELECT DISTINCT doc_id, unnest(
    list_distinct(regexp_extract_all(lower(text), '{TOKEN_RE}'))) AS term
  FROM documents),
census AS (SELECT term, count(*) AS c FROM dt GROUP BY term),
vocab AS (
  SELECT term, c FROM census
  ORDER BY c DESC, term ASC LIMIT {PMI_VOCAB_K}),
iv AS (
  SELECT doc_id, term, c FROM dt JOIN vocab USING (term)),
pairs AS (
  SELECT a.term AS x, b.term AS y, count(*) AS c_xy,
         min(a.c) AS c_x, min(b.c) AS c_y
  FROM iv a JOIN iv b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING count(*) >= {PMI_MIN_PAIRS}),
nn AS (SELECT {n_docs_expr} AS n)
SELECT x, y, c_xy, CAST(c_x AS BIGINT) AS c_x, CAST(c_y AS BIGINT) AS c_y,
       CAST(round(({npmi}) * 1000000, 0) AS BIGINT) AS npmi_ppm
FROM pairs CROSS JOIN nn
ORDER BY npmi_ppm DESC, x ASC, y ASC
LIMIT 50
"""


ORACLE_DOCS_TERM_PMI = _oracle_term_pmi()

QUERIES["docs_term_pmi"] = q_docs_term_pmi
ORACLES["docs_term_pmi"] = ORACLE_DOCS_TERM_PMI


# ---------------------------------------------------- Heaps' law fit
# Vocabulary growth V(N) = K * N^beta over the ingest order — THE
# corpus-scaling statistic: the fitted (K, beta) extrapolates
# vocabulary (and so tokenizer size, hash-domain width, dedup index
# cardinality) from the measured corpus to the 100-TB one. Measured
# without any sequential scan: docs are ranked by id (the ingest
# order), each term contributes its FIRST-occurrence rank (one agg),
# cumulative vocabulary per decile is then a counting exercise over
# first-occurrence buckets, and cumulative tokens a running sum over
# the 10-row decile table. The log-log OLS fit runs on 10 points with
# logs rounded to 6dp (the established ln discipline) and OLS closed
# forms token-identical in both engines. Scale shape: one tokenize
# pass, one (term -> min rank) agg keyed on the term, ntile over the
# doc-count table only; everything after is 10 rows.
HEAPS_BUCKETS = 10


def q_docs_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ranked = docs.select(
        "doc_id",
        "text",
        F.row_number()
        .over(Window.orderBy("doc_id"))
        .alias("rk"),
    )
    n_docs = docs.count()
    bucket_of = F.least(
        F.lit(HEAPS_BUCKETS),
        F.ceil(F.col("rk") * HEAPS_BUCKETS / F.lit(float(n_docs))).cast(
            "int"
        ),
    )
    # vocabulary = 3-token shingles: the corpus's unigram vocabulary is
    # a fixed sentence bank that saturates in the first decile (flat
    # V(N) — a degenerate fit); shingles keep Heaps-style growth alive
    # and are exactly what dedup/index cardinality planning consumes
    toks = ranked.select(
        bucket_of.alias("bucket"),
        "rk",
        F.regexp_extract_all(F.lower("text"), F.lit(TOKEN_RE), 0).alias(
            "_t"
        ),
    ).select(
        "bucket",
        "rk",
        F.explode(
            F.expr(
                "transform(sequence(1, greatest(size(_t) - 2, 0)),"
                " i -> concat_ws(' ', _t[i - 1], _t[i], _t[i + 1]))"
            )
        ).alias("term"),
    )
    per_bucket_tokens = toks.groupBy("bucket").agg(
        F.count("*").alias("n_tokens")
    )
    first_occ = toks.groupBy("term").agg(F.min("rk").alias("first_rk"))
    first_bucket = first_occ.select(
        F.least(
            F.lit(HEAPS_BUCKETS),
            F.ceil(
                F.col("first_rk") * HEAPS_BUCKETS / F.lit(float(n_docs))
            ).cast("int"),
        ).alias("bucket")
    ).groupBy("bucket").agg(F.count("*").alias("new_terms"))
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, 0
    )
    pts = (
        per_bucket_tokens.join(first_bucket, "bucket", "left")
        .select(
            "bucket",
            F.sum("n_tokens").over(w).alias("tokens_cum"),
            F.sum(F.coalesce("new_terms", F.lit(0)))
            .over(w)
            .alias("vocab_cum"),
        )
    )
    logged = pts.select(
        "bucket",
        "tokens_cum",
        "vocab_cum",
        F.round(F.log("tokens_cum"), 6).alias("lx"),
        F.round(F.log("vocab_cum"), 6).alias("ly"),
    )
    fit = logged.agg(
        F.count("*").alias("m"),
        F.sum("lx").alias("sx"),
        F.sum("ly").alias("sy"),
        F.sum(F.expr("lx * lx")).alias("sxx"),
        F.sum(F.expr("lx * ly")).alias("sxy"),
    )
    beta = (
        "(CAST(m AS DOUBLE) * sxy - sx * sy)"
        " / (CAST(m AS DOUBLE) * sxx - sx * sx)"
    )
    return (
        logged.crossJoin(F.broadcast(fit))
        .select(
            "bucket",
            "tokens_cum",
            "vocab_cum",
            (F.round(F.expr(beta), 4) + F.lit(0.0)).alias("heaps_beta"),
            F.round(F.expr(f"exp((sy - ({beta}) * sx) / m)"), 4).alias(
                "heaps_k"
            ),
        )
        .orderBy("bucket")
    )


ORACLE_DOCS_HEAPS_LAW = f"""
WITH ranked AS (
  SELECT doc_id, text,
         row_number() OVER (ORDER BY doc_id) AS rk,
         count(*) OVER () AS n_docs
  FROM documents),
toks AS (
  SELECT bucket, rk,
         unnest(list_transform(
           generate_series(1, greatest(len(_t) - 2, 0)),
           i -> _t[i] || ' ' || _t[i + 1] || ' ' || _t[i + 2])) AS term
  FROM (
    SELECT least({HEAPS_BUCKETS},
                 CAST(ceil(rk * {HEAPS_BUCKETS}
                           / CAST(n_docs AS DOUBLE)) AS INT)) AS bucket,
           rk,
           regexp_extract_all(lower(text), '{TOKEN_RE}') AS _t
    FROM ranked)),
per_bucket AS (
  SELECT bucket, count(*) AS n_tokens FROM toks GROUP BY bucket),
first_occ AS (
  SELECT term, min(rk) AS first_rk FROM toks GROUP BY term),
nd AS (SELECT count(*) AS n_docs FROM documents),
first_bucket AS (
  SELECT least({HEAPS_BUCKETS},
               CAST(ceil(first_rk * {HEAPS_BUCKETS}
                         / CAST(n_docs AS DOUBLE)) AS INT)) AS bucket,
         count(*) AS new_terms
  FROM first_occ CROSS JOIN nd
  GROUP BY 1),
pts AS (
  SELECT p.bucket,
         CAST(sum(p.n_tokens) OVER (ORDER BY p.bucket
           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tokens_cum,
         CAST(sum(coalesce(f.new_terms, 0)) OVER (ORDER BY p.bucket
           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vocab_cum
  FROM per_bucket p LEFT JOIN first_bucket f USING (bucket)),
logged AS (
  SELECT bucket, tokens_cum, vocab_cum,
         round(ln(tokens_cum), 6) AS lx,
         round(ln(vocab_cum), 6) AS ly
  FROM pts),
fit AS (
  SELECT count(*) AS m, sum(lx) AS sx, sum(ly) AS sy,
         sum(lx * lx) AS sxx, sum(lx * ly) AS sxy
  FROM logged)
SELECT bucket, tokens_cum, vocab_cum,
       round((CAST(m AS DOUBLE) * sxy - sx * sy)
             / (CAST(m AS DOUBLE) * sxx - sx * sx), 4) + 0.0
         AS heaps_beta,
       round(exp((sy - ((CAST(m AS DOUBLE) * sxy - sx * sy)
                        / (CAST(m AS DOUBLE) * sxx - sx * sx)) * sx)
                 / m), 4) AS heaps_k
FROM logged CROSS JOIN fit
ORDER BY bucket
"""

QUERIES["docs_heaps_law"] = q_docs_heaps_law
ORACLES["docs_heaps_law"] = ORACLE_DOCS_HEAPS_LAW


# ---------------------------------------- cluster-quality silhouette
# Simplified (centroid-based) silhouette over the quantized k-means
# assignment — the cluster-quality audit a curation pipeline runs
# before trusting cluster-local operations (SemDeDup's blocks, IVF's
# probe lists): s_i = 1 - d1_i/d2_i where d1/d2 are the distances from
# point i to its two NEAREST centroids (b_i = min over other clusters
# reduces to the second-nearest centroid when a_i is the nearest —
# the classic O(n*k) simplification of the O(n^2) pairwise
# silhouette, the only version that scales).
#
# Determinism: centroids come from the same quantized Lloyd's rounds
# as ``embeddings_kmeans`` (4dp-rounded each update, bit-reproducible
# across engines); d^2 uses the shared token-identical expression; the
# two nearest are picked by sorting (d2, bucket) structs; and the
# per-point silhouette is scaled to an exact ppm BIGINT before any
# aggregation, so cluster means are order-independent integer sums.
#
# Scale shape: the k-row centroid table broadcasts; the n x k expand
# is map-side (collect_list of k=8 structs per point, bounded);
# one partial-agg groupBy bucket finishes. No window, no n^2 term.
def q_embeddings_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deja_view_spark.operators.kmeans import _d2, lloyd_kmeans

    emb = load_table(spark, sf_dir, "embeddings")
    cents = lloyd_kmeans(
        emb, k=KMEANS_K, rounds=KMEANS_ROUNDS,
        dim=KMEANS_DIM, decimals=KMEANS_DECIMALS,
    )
    pts = emb.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    expanded = pts.crossJoin(F.broadcast(cents)).select(
        "id",
        F.struct(
            _d2(F.col("v"), F.col("cvec")).alias("d2"),
            F.col("bucket").alias("bucket"),
        ).alias("dc"),
    )
    per_point = (
        expanded.groupBy("id")
        .agg(F.expr("sort_array(collect_list(dc))").alias("arr"))
        .select(
            "id",
            F.expr("element_at(arr, 1).bucket").alias("bucket"),
            # a collapsed clustering (k_effective == 1, e.g. an
            # all-identical corpus) has no second centroid: the CASE
            # guard defines silhouette = 0 there, mirrored in SQL
            F.expr(
                """
                CASE WHEN size(arr) >= 2
                      AND sqrt(greatest(try_element_at(arr, 2).d2, 0D)) > 0D
                THEN CAST(round(
                  (1.0D - sqrt(greatest(element_at(arr, 1).d2, 0D))
                        / sqrt(greatest(try_element_at(arr, 2).d2, 0D)))
                  * 1000000, 0) AS BIGINT)
                ELSE CAST(0 AS BIGINT) END
                """
            ).alias("sil_ppm"),
        )
    )
    return (
        per_point.groupBy("bucket")
        .agg(
            F.count("*").alias("n_points"),
            F.expr(
                "CAST(sum(sil_ppm) DIV count(*) AS BIGINT)"
            ).alias("mean_sil_ppm"),
            F.min("sil_ppm").alias("min_sil_ppm"),
            F.max("sil_ppm").alias("max_sil_ppm"),
        )
        .orderBy("bucket")
    )


def _oracle_silhouette() -> str:
    d2 = (
        "(list_dot_product({v}, {v})"
        " - 2.0 * list_dot_product({v}, {c}))"
        " + list_dot_product({c}, {c})"
    )

    def assign_cte(name: str, cents: str) -> str:
        dd = d2.format(v="p.v", c="c.cvec")
        return f"""{name} AS (
  SELECT id, v, bucket FROM (
    SELECT p.id, p.v, c.bucket,
           row_number() OVER (PARTITION BY p.id
             ORDER BY {dd} ASC, c.bucket ASC) AS _r
    FROM pts p CROSS JOIN {cents} c) t
  WHERE _r = 1)"""

    def update_cte(name: str, assigned: str) -> str:
        means = ", ".join(
            f"round(avg(v[{i + 1}]), {KMEANS_DECIMALS})"
            for i in range(KMEANS_DIM)
        )
        return f"""{name} AS (
  SELECT bucket, [{means}]::DOUBLE[] AS cvec
  FROM {assigned} GROUP BY bucket)"""

    ctes = [
        """pts AS (
  SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings)""",
        f"""c0 AS (
  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1
           AS bucket,
         embedding::DOUBLE[] AS cvec
  FROM embeddings
  ORDER BY md5(CAST(vec_id AS VARCHAR))
  LIMIT {KMEANS_K})""",
    ]
    for r in range(KMEANS_ROUNDS):
        ctes.append(assign_cte(f"a{r}", f"c{r}"))
        ctes.append(update_cte(f"c{r + 1}", f"a{r}"))
    dd = d2.format(v="p.v", c="c.cvec")
    return (
        "WITH " + ",\n".join(ctes) + f""",
expanded AS (
  SELECT p.id, {{'d2': {dd}, 'bucket': c.bucket}} AS dc
  FROM pts p CROSS JOIN c{KMEANS_ROUNDS} c),
scored AS (
  SELECT id,
         arr[1].bucket AS bucket,
         CASE WHEN len(arr) >= 2
               AND sqrt(greatest(arr[2].d2, 0)) > 0
         THEN CAST(round(
           (1.0 - sqrt(greatest(arr[1].d2, 0))
                / sqrt(greatest(arr[2].d2, 0))) * 1000000, 0) AS BIGINT)
         ELSE CAST(0 AS BIGINT) END AS sil_ppm
  FROM (SELECT id, list_sort(list(dc)) AS arr FROM expanded GROUP BY id))
SELECT bucket,
       count(*) AS n_points,
       CAST(sum(sil_ppm) // count(*) AS BIGINT) AS mean_sil_ppm,
       min(sil_ppm) AS min_sil_ppm,
       max(sil_ppm) AS max_sil_ppm
FROM scored
GROUP BY bucket
ORDER BY bucket
"""
    )


ORACLE_EMBEDDINGS_SILHOUETTE = _oracle_silhouette()

QUERIES["embeddings_silhouette"] = q_embeddings_silhouette
ORACLES["embeddings_silhouette"] = ORACLE_EMBEDDINGS_SILHOUETTE


# ------------------------------------------ mutual nearest neighbors
# Reciprocal top-1 matching between two embedding cohorts (label
# parity split — the deterministic stand-in for "snapshot A vs
# snapshot B"): a pair survives only if each side is the OTHER side's
# single nearest neighbor by full cosine. This is the alignment
# primitive behind dataset linking / translation-pair mining (MUSE-
# style) and a high-precision near-dup confirmer — reciprocity kills
# the hub matches that one-directional top-1 admits.
#
# Determinism: cosine uses the shared bit-identical expression
# (functions/similarity.duckdb_cosine_sql); argmax is min-of-struct
# over (-cos, id) so ties break to the smaller id in both engines; the
# emitted score is an exact ppm BIGINT.
#
# Scale shape: the audited baseline is the brute cross join (the same
# contract as knn_bruteforce — the exact reference every approximate
# path is scored against); at corpus scale the identical reciprocity
# filter composes with the LSH-bucketed candidate join of ann_lsh_topk
# (bucket-local argmin instead of the cross product). One cross
# product + two partial-agg argmins + one join — no window.
def q_embeddings_mutual_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deja_view_spark.functions.similarity import cosine_sim

    emb = load_table(spark, sf_dir, "embeddings")
    left = emb.where(F.col("label") % 2 == 0).select(
        F.col("vec_id").alias("lid"),
        F.col("embedding").cast("array<double>").alias("lv"),
    )
    right = emb.where(F.col("label") % 2 == 1).select(
        F.col("vec_id").alias("rid"),
        F.col("embedding").cast("array<double>").alias("rv"),
    )
    pairs = left.crossJoin(F.broadcast(right)).select(
        "lid",
        "rid",
        cosine_sim(F.col("lv"), F.col("rv")).alias("cos"),
    )
    nn_l = (
        pairs.groupBy("lid")
        .agg(
            F.min(
                F.struct(
                    (-F.col("cos")).alias("nc"),
                    F.col("rid").alias("rid"),
                )
            ).alias("m")
        )
        .select("lid", F.col("m.rid").alias("rid"), (-F.col("m.nc")).alias("cos"))
    )
    nn_r = (
        pairs.groupBy("rid")
        .agg(
            F.min(
                F.struct(
                    (-F.col("cos")).alias("nc"),
                    F.col("lid").alias("lid"),
                )
            ).alias("m")
        )
        .select(F.col("rid").alias("r_rid"), F.col("m.lid").alias("best_lid"))
    )
    return (
        nn_l.join(
            nn_r,
            (nn_l.rid == nn_r.r_rid) & (nn_l.lid == nn_r.best_lid),
        )
        .select(
            "lid",
            "rid",
            F.expr("CAST(round(cos * 1000000) AS BIGINT)").alias("cos_ppm"),
        )
        .orderBy("lid")
    )


def _oracle_mutual_nn() -> str:
    cos = duckdb_cosine_sql("l.v", "r.v")
    return f"""
WITH l AS MATERIALIZED (
  SELECT vec_id AS lid, embedding::DOUBLE[] AS v FROM embeddings
  WHERE label % 2 = 0),
r AS MATERIALIZED (
  SELECT vec_id AS rid, embedding::DOUBLE[] AS v FROM embeddings
  WHERE label % 2 = 1),
pairs AS MATERIALIZED (
  SELECT l.lid, r.rid, {cos} AS cos FROM l CROSS JOIN r),
nn_l AS (
  SELECT lid, rid, cos FROM (
    SELECT lid, rid, cos,
           row_number() OVER (PARTITION BY lid
             ORDER BY -(cos) ASC, rid ASC) AS _r
    FROM pairs) t WHERE _r = 1),
nn_r AS (
  SELECT rid, lid AS best_lid FROM (
    SELECT rid, lid,
           row_number() OVER (PARTITION BY rid
             ORDER BY -(cos) ASC, lid ASC) AS _r
    FROM pairs) t WHERE _r = 1)
SELECT a.lid, a.rid, CAST(round(a.cos * 1000000, 0) AS BIGINT) AS cos_ppm
FROM nn_l a JOIN nn_r b ON a.rid = b.rid AND a.lid = b.best_lid
ORDER BY a.lid
"""


ORACLE_EMBEDDINGS_MUTUAL_NN = _oracle_mutual_nn()

QUERIES["embeddings_mutual_nn"] = q_embeddings_mutual_nn
ORACLES["embeddings_mutual_nn"] = ORACLE_EMBEDDINGS_MUTUAL_NN


# ------------------------------------------- dedup transitivity audit
# Transitivity-gap audit of threshold near-duplicate pairs: Jaccard
# similarity is NOT transitive, yet duplicate-cluster assignment
# (docs_duplicate_clusters) merges by connected components — so every
# open wedge (a~b, b~c, but a!~c) is a place where clustering chains
# two documents the pairwise judge would keep apart. This query
# measures exactly that risk: wedge count, closed-triangle count, and
# the closure ratio in ppm (graph transitivity of the near-dup
# graph). A low closure ratio on a corpus is the quantitative
# argument for cluster-size caps or centroid re-verification before
# canonicalization (the kg_merge_audit attribute check is the
# symptom; this is the mechanism).
#
# Scale shape: the near-dup pair graph is tiny relative to the corpus
# (df-cutoff bounded); wedges are generated with the same
# degree-orientation discipline as events_triangles (each wedge
# centered at its middle node, pairs from sorted adjacency arrays —
# never an unbounded self-join), and closure is one join back against
# the canonical pair set.


def q_docs_dedup_transitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = q_docs_jaccard_pairs(spark, sf_dir).select(
        "src_doc", "dst_doc"
    )
    mirrored = pairs.unionByName(
        pairs.select(
            F.col("dst_doc").alias("src_doc"),
            F.col("src_doc").alias("dst_doc"),
        )
    )
    adj = mirrored.groupBy("src_doc").agg(
        F.sort_array(F.collect_list("dst_doc")).alias("nbrs")
    )
    wedges = (
        adj.select(
            F.posexplode("nbrs").alias("_i", "a"), F.col("nbrs")
        )
        .select(
            "a",
            F.explode(
                F.slice(F.col("nbrs"), F.col("_i") + 2, F.size("nbrs"))
            ).alias("c"),
        )
        .where(F.col("a") < F.col("c"))
    )
    closed = wedges.join(
        pairs.withColumnRenamed("src_doc", "a").withColumnRenamed(
            "dst_doc", "c"
        ),
        ["a", "c"],
        "left_semi",
    )
    n_pairs = pairs.agg(F.count("*").alias("n_pairs"))
    agg = (
        wedges.agg(F.count("*").alias("n_wedges"))
        .crossJoin(F.broadcast(closed.agg(F.count("*").alias("n_closed"))))
        .crossJoin(F.broadcast(n_pairs))
    )
    return agg.select(
        "n_pairs",
        "n_wedges",
        "n_closed",
        F.expr(
            "CASE WHEN n_wedges > 0 THEN n_closed * 1000000 DIV n_wedges"
            " ELSE CAST(0 AS BIGINT) END"
        ).alias("closure_ppm"),
    )


def _dedup_transitivity_oracle() -> str:
    return f"""
WITH pairs AS MATERIALIZED (
  SELECT src_doc, dst_doc FROM ({ORACLE_DOCS_JACCARD})),
mirrored AS (
  SELECT src_doc, dst_doc FROM pairs
  UNION ALL SELECT dst_doc, src_doc FROM pairs),
wedges AS (
  SELECT m1.dst_doc AS a, m2.dst_doc AS c
  FROM mirrored m1 JOIN mirrored m2
    ON m1.src_doc = m2.src_doc AND m1.dst_doc < m2.dst_doc),
closed AS (
  SELECT w.a, w.c FROM wedges w
  JOIN pairs p ON w.a = p.src_doc AND w.c = p.dst_doc),
agg AS (
  SELECT (SELECT count(*) FROM pairs) AS n_pairs,
         (SELECT count(*) FROM wedges) AS n_wedges,
         (SELECT count(*) FROM closed) AS n_closed)
SELECT n_pairs, n_wedges, n_closed,
       CASE WHEN n_wedges > 0
            THEN n_closed * 1000000 // n_wedges
            ELSE CAST(0 AS BIGINT) END AS closure_ppm
FROM agg
"""


QUERIES["docs_dedup_transitivity"] = q_docs_dedup_transitivity
ORACLES["docs_dedup_transitivity"] = _dedup_transitivity_oracle()


# ------------------------------------------- shingle-df cost census
# Document-frequency histogram of the 3-token shingle vocabulary with
# the CANDIDATE-PAIR MASS each log₂-df bucket would generate in an
# inverted-index join — the sizing statistic behind
# JACCARD_DF_CUTOFF: a shingle appearing in df docs makes
# df·(df−1)/2 join pairs, so the histogram's pair-mass column shows
# exactly how much quadratic work the boilerplate tail carries and
# what fraction the cutoff removes (the cut_bucket flag marks the
# buckets the blockers drop). This is the census a platform runs
# BEFORE picking a cutoff on a new corpus; the round-1→2 jaccard fix
# (20.5s → 2.6s) is this table's story in two numbers.
#
# Determinism note: the census keys shingle STRINGS (identical in
# both engines); the production blockers key xxhash64 longs — same
# distribution, fixed-width shuffle (docstring of
# docs_jaccard_pairs). Exact BIGINT arithmetic throughout.
#
# Scale shape: one tokenize pass + per-doc distinct explode, ONE
# (shingle) partial-agg df census, then a |buckets|-row rollup.

DF_HIST_MAX_BUCKET = 30


def q_docs_shingle_df_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id",
        F.explode(F.array_distinct(_shingle_col(F.col("text")))).alias(
            "sh"
        ),
    )
    df = sh.groupBy("sh").agg(F.count("*").alias("df"))
    bucket = F.lit(0)
    for b in range(1, DF_HIST_MAX_BUCKET):
        bucket = F.when(F.col("df") >= (1 << b), b).otherwise(bucket)
    per = (
        df.select(
            bucket.alias("bucket"),
            "df",
            (F.col("df") * (F.col("df") - 1) / 2).cast("long").alias(
                "pairs"
            ),
            (F.col("df") > JACCARD_DF_CUTOFF).cast("long").alias("cut"),
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum("df").alias("n_postings"),
            F.sum("pairs").alias("pair_mass"),
            F.max("cut").alias("cut_bucket"),
        )
    )
    tot = per.agg(F.sum("pair_mass").alias("total_pairs"))
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            F.expr("CAST(1 AS BIGINT) << bucket").alias("df_min"),
            "n_shingles",
            "n_postings",
            "pair_mass",
            F.expr(
                "CASE WHEN total_pairs > 0 THEN pair_mass * 1000000"
                " DIV total_pairs ELSE CAST(0 AS BIGINT) END"
            ).alias("pair_share_ppm"),
            "cut_bucket",
        )
        .orderBy("bucket")
    )


def _df_histogram_oracle() -> str:
    cases = " ".join(
        f"WHEN df >= {1 << b} THEN {b}"
        for b in range(DF_HIST_MAX_BUCKET - 1, 0, -1)
    )
    return f"""
WITH t AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE}') AS toks
  FROM documents),
s AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, len(toks) - 2),
                i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS sh
  FROM t WHERE len(toks) >= 3),
dfs AS (SELECT sh, count(*) AS df FROM s GROUP BY sh),
per AS (
  SELECT (CASE {cases} ELSE 0 END) AS bucket,
         count(*) AS n_shingles,
         CAST(sum(df) AS BIGINT) AS n_postings,
         CAST(sum(CAST(df * (df - 1) / 2 AS BIGINT)) AS BIGINT)
           AS pair_mass,
         CAST(max(CASE WHEN df > {JACCARD_DF_CUTOFF} THEN 1 ELSE 0 END)
              AS BIGINT) AS cut_bucket
  FROM dfs GROUP BY 1),
tot AS (SELECT CAST(sum(pair_mass) AS BIGINT) AS total_pairs FROM per)
SELECT bucket, CAST(1 AS BIGINT) << bucket AS df_min,
       n_shingles, n_postings, pair_mass,
       CASE WHEN total_pairs > 0
            THEN pair_mass * 1000000 // total_pairs
            ELSE CAST(0 AS BIGINT) END AS pair_share_ppm,
       cut_bucket
FROM per CROSS JOIN tot
ORDER BY bucket
"""


QUERIES["docs_shingle_df_histogram"] = q_docs_shingle_df_histogram
ORACLES["docs_shingle_df_histogram"] = _df_histogram_oracle()
