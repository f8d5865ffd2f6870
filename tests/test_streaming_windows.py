"""Streaming windowed aggregation (watermark + tumbling windows) and
the applyInPandasWithState running-count operator, driven with
availableNow drains over a watched parquet directory — state must
carry across separate query runs via the checkpoint."""

from datetime import datetime

import pytest

from pyspark.sql import functions as F

from deja_view_spark.streaming.windows import (
    stream_running_user_counts,
    stream_windowed_counts,
    windowed_event_counts,
)

SCHEMA = "user_id long, ts timestamp, event_type string, value double"


def _events(spark, rows):
    return spark.createDataFrame(
        [(u, datetime.fromisoformat(t), e, v) for (u, t, e, v) in rows], SCHEMA
    )


BATCH1 = [
    (1, "2024-01-01T06:00:00", "click", 1.0),
    (1, "2024-01-02T06:00:00", "view", 2.0),
    (2, "2024-01-03T06:00:00", "click", 3.0),
    (2, "2024-01-10T06:00:00", "click", 4.0),
]
BATCH2 = [
    (1, "2024-01-11T06:00:00", "view", 5.0),
    (3, "2024-01-25T06:00:00", "click", 6.0),  # advances watermark far
]


def test_windowed_counts_append_flushes_closed_windows(spark, tmp_path):
    in_dir, out_dir, ckpt = (
        str(tmp_path / "in"),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    _events(spark, BATCH1).write.mode("append").parquet(in_dir)
    q = stream_windowed_counts(spark, in_dir, out_dir, ckpt, SCHEMA)
    q.awaitTermination(120)
    _events(spark, BATCH2).write.mode("append").parquet(in_dir)
    q = stream_windowed_counts(spark, in_dir, out_dir, ckpt, SCHEMA)
    q.awaitTermination(120)

    got = spark.read.parquet(out_dir)
    # watermark after batch 2 = 2024-01-25 - 1 day; the first 7-day
    # windows (epoch-aligned: Dec 28-Jan 4, Jan 4-11) are closed and
    # must have been emitted with their full batch-computed contents.
    batch_all = windowed_event_counts(
        _events(spark, BATCH1 + BATCH2), watermark="1 day"
    )
    closed = batch_all.where(F.col("week_end") <= F.lit("2024-01-24"))
    missing = closed.exceptAll(
        got.select("week_start", "week_end", "event_type", "n_events", "total_value")
    )
    assert missing.count() == 0, missing.collect()
    # nothing fabricated: everything emitted exists in the batch result
    extra = got.select(
        "week_start", "week_end", "event_type", "n_events", "total_value"
    ).exceptAll(batch_all)
    assert extra.count() == 0, extra.collect()


def test_running_user_counts_state_survives_restarts(spark, tmp_path):
    in_dir, out_dir, ckpt = (
        str(tmp_path / "in"),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    _events(spark, BATCH1).write.mode("append").parquet(in_dir)
    q = stream_running_user_counts(spark, in_dir, out_dir, ckpt, SCHEMA)
    q.awaitTermination(120)
    _events(spark, BATCH2).write.mode("append").parquet(in_dir)
    q = stream_running_user_counts(spark, in_dir, out_dir, ckpt, SCHEMA)
    q.awaitTermination(120)

    got = spark.read.parquet(out_dir)
    final = {
        r["user_id"]: (r["n_events"], r["last_event_type"])
        for r in got.groupBy("user_id")
        .agg(F.max(F.struct("n_events", "last_event_type")).alias("s"))
        .select("user_id", "s.n_events", "s.last_event_type")
        .collect()
    }
    # cumulative across BOTH runs: user 1 saw 2 + 1 events, last 'view'
    assert final[1] == (3, "view")
    assert final[2] == (2, "click")
    assert final[3] == (1, "click")


def test_windowed_counts_batch_mode_matches_manual(spark):
    df = _events(spark, BATCH1 + BATCH2)
    got = {
        (r["week_start"].isoformat(), r["event_type"]): r["n_events"]
        for r in windowed_event_counts(df).collect()
    }
    manual = {}
    for u, t, e, v in BATCH1 + BATCH2:
        ts = datetime.fromisoformat(t)
        # epoch-aligned 7-day tumbling windows (Spark aligns to 1970-01-01)
        days = (ts - datetime(1970, 1, 1)).days
        start = datetime(1970, 1, 1).fromordinal(
            datetime(1970, 1, 1).toordinal() + days - days % 7
        )
        manual[(start.isoformat(), e)] = manual.get((start.isoformat(), e), 0) + 1
    assert got == manual


def test_sessionizer_stitches_sessions_across_batches(spark, tmp_path):
    """Custom stateful sessionizer: sessions split on a 1-hour gap;
    a session whose events arrive in TWO separate micro-batch drains
    is stitched via GroupState (not split at the batch boundary), and
    totals match the batch lag+running-sum sessionization."""
    from deja_view_spark.streaming.windows import stream_sessionize

    in_dir, out_dir, ckpt = (
        str(tmp_path / "sin"),
        str(tmp_path / "sout"),
        str(tmp_path / "sckpt"),
    )
    b1 = [
        (1, "2024-01-01T06:00:00", "click", 1.0),
        (1, "2024-01-01T06:20:00", "view", 1.0),
        (1, "2024-01-01T09:00:00", "click", 1.0),  # gap>1h: 2nd session
        (2, "2024-01-01T07:00:00", "click", 1.0),
    ]
    b2 = [
        (1, "2024-01-01T09:30:00", "view", 1.0),   # continues session 2
        (2, "2024-01-02T07:00:00", "click", 1.0),  # gap>1h: 2nd session
    ]
    _events(spark, b1).write.mode("append").parquet(in_dir)
    q = stream_sessionize(spark, in_dir, out_dir, ckpt, SCHEMA, gap_seconds=3600)
    q.awaitTermination(120)
    _events(spark, b2).write.mode("append").parquet(in_dir)
    q = stream_sessionize(spark, in_dir, out_dir, ckpt, SCHEMA, gap_seconds=3600)
    q.awaitTermination(120)

    rows = spark.read.parquet(out_dir).collect()
    closed = [r for r in rows if r["closed"] == "closed"]
    # exactly the two sessions that ENDED (one per user), each once
    assert sorted(
        (r["user_id"], str(r["session_start"]), r["n_events"]) for r in closed
    ) == [
        (1, "2024-01-01 06:00:00", 2),
        (2, "2024-01-01 07:00:00", 1),
    ]
    # last open row per user = the running session, stitched across
    # the batch boundary for user 1 (2 events in one session)
    last_batch = max(r["batch_id"] for r in rows)
    open_rows = {
        r["user_id"]: r
        for r in rows
        if r["closed"] == "open" and r["batch_id"] == last_batch
    }
    assert open_rows[1]["n_events"] == 2
    assert str(open_rows[1]["session_start"]) == "2024-01-01 09:00:00"
    assert open_rows[2]["n_events"] == 1
    # totals agree with the batch lag+running-sum semantics
    # (q_events_sessions shape, 1h gap): per user (n_sessions, n_events)
    assert len(closed) + len(open_rows) == 4  # sessions total: u1=2, u2=2


def test_streaming_hll_registers_match_batch(spark, tmp_path):
    """The streaming HLL register state, drained incrementally over
    two availableNow runs sharing a checkpoint, must equal the batch
    register table over the union — register-for-register (the state
    store IS the sketch)."""
    from deja_view_spark.streaming.windows import streaming_hll_registers

    schema = (
        "user_id long, ts timestamp, event_type string, value double,"
        " props string"
    )

    def ev(rows):
        return spark.createDataFrame(
            [
                (u, datetime.fromisoformat(t), e, v, p)
                for (u, t, e, v, p) in rows
            ],
            schema,
        )

    b1 = [
        (1, "2024-01-01T06:00:00", "click", 1.0, '{"k": 1}'),
        (2, "2024-01-01T07:00:00", "view", 2.0, '{"k": 2}'),
        (3, "2024-01-02T06:00:00", "click", 3.0, '{"k": 1}'),
    ]
    b2 = [
        (1, "2024-01-02T08:00:00", "view", 4.0, '{"k": 3}'),
        (4, "2024-01-03T06:00:00", "click", 5.0, '{"k": 2}'),
    ]
    in_dir, out_dir, ckpt = (
        str(tmp_path / "in"),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )

    def drain():
        stream = spark.readStream.schema(schema).parquet(in_dir)
        q = (
            streaming_hll_registers(stream)
            .writeStream.outputMode("complete")
            .foreachBatch(
                lambda df, _: df.write.mode("overwrite").parquet(out_dir)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    ev(b1).write.mode("append").parquet(in_dir)
    drain()
    got1 = {
        (str(r.day), r.reg): r.mr
        for r in spark.read.parquet(out_dir).collect()
    }
    want1 = {
        (str(r.day), r.reg): r.mr
        for r in streaming_hll_registers(ev(b1)).collect()
    }
    assert got1 == want1 and want1

    ev(b2).write.mode("append").parquet(in_dir)
    drain()
    got = {
        (str(r.day), r.reg): r.mr
        for r in spark.read.parquet(out_dir).collect()
    }
    want = {
        (str(r.day), r.reg): r.mr
        for r in streaming_hll_registers(ev(b1 + b2)).collect()
    }
    assert got == want
    assert len(want) > len(want1)  # batch 2 added register state
