"""Watermark-bounded streaming dedup + stream-stream interval join,
driven with availableNow drains; batch operators are the equivalence
oracle, and dedup state must carry across separate query runs via the
checkpoint."""

from datetime import datetime

from pyspark.sql import functions as F

from deja_view_spark.streaming.dedup import (
    purchases_after_clicks,
    stream_dedup_docs,
    stream_purchases_after_clicks,
)

DOC_SCHEMA = "doc_id long, ts timestamp, text string"
EVT_SCHEMA = "user_id long, ts timestamp, event_type string, value double"


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, datetime.fromisoformat(t), x) for (i, t, x) in rows], DOC_SCHEMA
    )


def _events(spark, rows):
    return spark.createDataFrame(
        [(u, datetime.fromisoformat(t), e, v) for (u, t, e, v) in rows],
        EVT_SCHEMA,
    )


DOCS1 = [
    (1, "2024-01-01T00:00:00", "alpha text"),
    (2, "2024-01-01T01:00:00", "beta text"),
    (3, "2024-01-01T02:00:00", "alpha text"),  # dup of 1, within watermark
]
DOCS2 = [
    (4, "2024-01-01T03:00:00", "beta text"),  # dup of 2, across runs
    (5, "2024-01-01T04:00:00", "gamma text"),  # fresh
]


def test_stream_dedup_first_seen_and_cross_run_state(spark, tmp_path):
    in_dir, out_dir, ckpt = (
        str(tmp_path / "in"),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    _docs(spark, DOCS1).write.mode("append").parquet(in_dir)
    q = stream_dedup_docs(spark, in_dir, out_dir, ckpt, DOC_SCHEMA)
    q.awaitTermination(120)
    _docs(spark, DOCS2).write.mode("append").parquet(in_dir)
    q = stream_dedup_docs(spark, in_dir, out_dir, ckpt, DOC_SCHEMA)
    q.awaitTermination(120)

    rows = spark.read.parquet(out_dir).collect()
    # exactly one row per full-content sha256 (batch-distinct oracle);
    # which of docs 1/3 won "alpha" within batch 1 is arrival-order
    # arbitrary — the KEY set is the contract
    assert sorted(r["text"] for r in rows) == [
        "alpha text",
        "beta text",
        "gamma text",
    ]
    # cross-run state: "beta" was emitted in run 1 (doc 2 was its only
    # carrier), so run 2's doc 4 MUST have been dropped by checkpointed
    # state, and run 2's fresh "gamma" (doc 5) emitted
    by_text = {r["text"]: r["doc_id"] for r in rows}
    assert by_text["beta text"] == 2
    assert by_text["gamma text"] == 5
    assert all(r["sha256"] is not None for r in rows)


EVENTS = [
    (1, "2024-01-01T10:00:00", "click", 1.0),
    (1, "2024-01-01T10:30:00", "purchase", 9.0),  # 30 min after click -> match
    (1, "2024-01-01T12:30:00", "purchase", 8.0),  # 2.5h after click -> no match
    (2, "2024-01-01T10:05:00", "click", 2.0),
    (2, "2024-01-01T10:50:00", "click", 3.0),
    (2, "2024-01-01T11:00:00", "purchase", 7.0),  # matches BOTH user-2 clicks
    (3, "2024-01-01T09:00:00", "purchase", 6.0),  # no prior click
    (4, "2024-01-01T09:30:00", "click", 4.0),  # no purchase
]


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    in_dir, out_dir, ckpt = (
        str(tmp_path / "in"),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    _events(spark, EVENTS).write.mode("append").parquet(in_dir)
    q = stream_purchases_after_clicks(spark, in_dir, out_dir, ckpt, EVT_SCHEMA)
    q.awaitTermination(120)

    got = {
        (r["user_id"], r["click_value"], r["purchase_value"])
        for r in spark.read.parquet(out_dir).collect()
    }
    # batch equivalence: the same operator over a batch frame
    # (watermarks are no-ops in batch, the join condition is identical)
    batch = {
        (r["user_id"], r["click_value"], r["purchase_value"])
        for r in purchases_after_clicks(_events(spark, EVENTS)).collect()
    }
    assert got == batch
    assert got == {(1, 1.0, 9.0), (2, 2.0, 7.0), (2, 3.0, 7.0)}
