"""Streaming quality gate + PII scrubber (streaming/quality.py):
availableNow drains with the BATCH transform as the equivalence oracle
(the two share the same column builders, so this pins the wiring, and
pure-Python re-checks pin the semantics)."""

import re

from deja_view_spark.queries_quality import PII_BANKS
from deja_view_spark.streaming.quality import (
    pii_scrub_transform,
    quality_gate_transform,
    stream_pii_scrub,
    stream_quality_gate,
)

SCHEMA = "doc_id long, text string"

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river"),
    (2, "spam spam spam spam spam spam spam spam spam spam spam spam"),
    (3, "reach me at jane.doe@example.com or on 555-0142 thanks"),
    (4, "server 10.1.2.3 and backup 192.168.0.77 are both down"),
    (5, "ok"),
]


def _write(spark, path):
    spark.createDataFrame(DOCS, SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(path)


def test_stream_gate_matches_batch(spark, tmp_path):
    in_dir, out_dir, ckpt = (
        str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ckpt"),
    )
    _write(spark, in_dir)
    q = stream_quality_gate(spark, in_dir, out_dir, ckpt, SCHEMA)
    q.awaitTermination(120)
    got = {
        r["doc_id"]: r.asDict() for r in spark.read.parquet(out_dir).collect()
    }
    want = {
        r["doc_id"]: r.asDict()
        for r in quality_gate_transform(
            spark.createDataFrame(DOCS, SCHEMA)
        ).collect()
    }
    assert got == want
    # semantics: diverse text passes, degenerate repetition fails
    assert got[1]["keep"] is True
    assert got[2]["keep"] is False
    assert got[2]["distinct_ratio"] < 0.1


def test_stream_gate_drop_mode(spark, tmp_path):
    in_dir, out_dir, ckpt = (
        str(tmp_path / "in"), str(tmp_path / "o2"), str(tmp_path / "c2"),
    )
    _write(spark, in_dir)
    q = stream_quality_gate(
        spark, in_dir, out_dir, ckpt, SCHEMA, drop_failed=True
    )
    q.awaitTermination(120)
    rows = spark.read.parquet(out_dir).collect()
    assert rows and all(r["keep"] for r in rows)
    assert 2 not in {r["doc_id"] for r in rows}


def test_stream_scrub_removes_pii(spark, tmp_path):
    in_dir, out_dir, ckpt = (
        str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ckpt"),
    )
    _write(spark, in_dir)
    q = stream_pii_scrub(spark, in_dir, out_dir, ckpt, SCHEMA)
    q.awaitTermination(120)
    got = {
        r["doc_id"]: r.asDict() for r in spark.read.parquet(out_dir).collect()
    }
    # nothing at the sink matches any bank pattern
    for r in got.values():
        for _n, pat, _t in PII_BANKS:
            assert not re.search(pat, r["text"])
    assert got[3]["n_email"] == 1 and got[3]["n_phone"] == 1
    assert got[4]["n_ipv4"] == 2
    assert "<EMAIL>" in got[3]["text"] and "<PHONE>" in got[3]["text"]
    assert got[4]["text"].count("<IP>") == 2
    assert got[1]["n_email"] == got[1]["n_ipv4"] == got[1]["n_phone"] == 0
    # batch equivalence through the shared transform
    want = {
        r["doc_id"]: r.asDict()
        for r in pii_scrub_transform(
            spark.createDataFrame(DOCS, SCHEMA)
        ).collect()
    }
    assert got == want
