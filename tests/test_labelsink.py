"""Label write-back sink (S10): foreachPartition push with batching,
spool-transport receipts match the input exactly."""

import glob
import json

from deja_view_spark.sources.labelsink import write_labels


def test_write_labels_spools_every_row(spark, tmp_path):
    spool = str(tmp_path / "spool")
    rows = [(f"repo/issues/{i}", f"label-{i % 3}") for i in range(57)]
    df = spark.createDataFrame(rows, "issue_id string, label string").repartition(4)
    n = write_labels(df, spool, batch_size=10)
    assert n == 57

    got = []
    files = glob.glob(f"{spool}/labels_*.jsonl")
    assert len(files) >= 1  # one spool file per non-empty partition
    for p in files:
        with open(p, encoding="utf-8") as f:
            got.extend(json.loads(line) for line in f)
    assert sorted((r["issue_id"], r["label"]) for r in got) == sorted(rows)


def test_write_labels_empty_frame(spark, tmp_path):
    spool = str(tmp_path / "spool")
    df = spark.createDataFrame([], "issue_id string, label string")
    assert write_labels(df, spool) == 0
    assert glob.glob(f"{spool}/labels_*.jsonl") == []


def test_create_then_assign_protocol(spark, tmp_path):
    """ensure_labels_exist semantics (reference
    github_similarity_service.py:641-697): every label that will be
    assigned gets exactly one ensure_label record, sent BEFORE any
    assignment, with configured colors where present."""
    from deja_view_spark.sources.labelsink import write_labels_with_create

    spool = str(tmp_path / "spool")
    rows = [(f"r/issues/{i}", ["potential-duplicate", "custom"][i % 2]) for i in range(20)]
    df = spark.createDataFrame(rows, "issue_id string, label string").repartition(3)
    out = write_labels_with_create(df, spool)
    assert out == {"labels_created": 2, "assignments": 20}

    create_file = f"{spool}/labels_label_create.jsonl"
    with open(create_file, encoding="utf-8") as f:
        creates = [json.loads(line) for line in f]
    assert [(c["label"], c["op"]) for c in creates] == [
        ("custom", "ensure_label"),
        ("potential-duplicate", "ensure_label"),
    ]
    # configured label keeps its color; unknown label gets the default
    by_label = {c["label"]: c["color"] for c in creates}
    assert by_label["potential-duplicate"] == "d93f0b"
    assert by_label["custom"] == "ededed"
    # assignments landed too (in the per-partition spools)
    n_assign = 0
    for p in glob.glob(f"{spool}/labels_*.jsonl"):
        if p == create_file:
            continue
        with open(p, encoding="utf-8") as f:
            n_assign += sum(1 for _ in f)
    assert n_assign == 20
