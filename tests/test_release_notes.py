"""Release-notes document sink (reference release_notes.py:118-219):
tier classification, section structure, contributor footer, CLI verb."""

import os

import pytest
from pyspark.sql import functions as F

from deja_view_spark.sources.release_notes import (
    classify_tier,
    format_for_changelog,
    generate_release_notes,
    release_items_data,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def items(spark):
    rows = [
        (1, "Add streaming ingestion", "alice", ["Tier 1", "feature"]),
        (2, "Speed up the band join", "bob", ["tier-2"]),
        (3, "Fix off-by-one in packer", "carol", ["TIER3", "bug"]),
        (4, "Fix NPE in report sink", "alice", ["tier 3"]),
        (5, "Update contributing guide", "dave", ["docs"]),
        (6, "New ANN operator", "bob", ["tier1"]),
    ]
    return spark.createDataFrame(
        rows, "number long, title string, author string, labels array<string>"
    )


def test_classify_tier_alias_sets(spark):
    """First tier whose alias set intersects wins, case-insensitive
    (release_notes.py:94-107); tier 1 beats a tier-3 label on the same
    item; no tier label -> 0."""
    rows = [
        (["Tier 1"], 1),
        (["tier-2"], 2),
        (["TIER3"], 3),
        (["bug", "tier 2"], 2),
        (["tier3", "tier 1"], 1),  # lowest tier wins
        (["bug", "docs"], 0),
        ([], 0),
    ]
    df = spark.createDataFrame(
        [(labels,) for labels, _ in rows], "labels array<string>"
    )
    got = [r[0] for r in df.select(classify_tier(F.col("labels"))).collect()]
    assert got == [t for _, t in rows]


def test_release_items_data_counts_match_tier_aggregate(items):
    tiered = release_items_data(items)
    assert {t: len(v) for t, v in tiered.items()} == {1: 2, 2: 1, 3: 2, 0: 1}
    # deterministic in-tier ordering by number
    assert [p["number"] for p in tiered[1]] == [1, 6]
    assert [p["number"] for p in tiered[3]] == [3, 4]


def test_format_for_changelog_snapshot(items):
    doc = generate_release_notes(
        items,
        version="v1.2.0",
        repo_name="acme/engine",
        released_on="January 05, 2026",
    )
    expected = """# Release v1.2.0

_Released on January 05, 2026_

## 🚀 Major Features

- **Add streaming ingestion** ([#1](https://github.com/acme/engine/pull/1)) by @alice
- **New ANN operator** ([#6](https://github.com/acme/engine/pull/6)) by @bob

## ✨ Improvements

- Speed up the band join ([#2](https://github.com/acme/engine/pull/2)) by @bob

## 🐛 Bug Fixes

- Fix off-by-one in packer ([#3](https://github.com/acme/engine/pull/3)) by @carol
- Fix NPE in report sink ([#4](https://github.com/acme/engine/pull/4)) by @alice

## 📝 Other Changes

- Update contributing guide ([#5](https://github.com/acme/engine/pull/5)) by @dave

## 👥 Contributors

Thanks to all contributors: @alice, @bob, @carol, @dave
"""
    assert doc == expected


def test_no_version_and_empty_tiers(spark):
    df = spark.createDataFrame(
        [(7, "solo change", "zed", ["tier-2"])],
        "number long, title string, author string, labels array<string>",
    )
    doc = generate_release_notes(df, released_on="D")
    assert doc.startswith("# Release Notes")
    assert "## ✨ Improvements" in doc
    assert "## 🚀 Major Features" not in doc  # empty tiers omitted
    assert "([#7](#7))" in doc  # no repo -> bare anchor


def test_section_counts_match_release_tiers_aggregate(spark):
    """The rendered document is the driver-checked `release_tiers`
    aggregate made visible: per-tier bullet counts must equal its
    n_items, and the contributor footer its distinct-author union."""
    from deja_view_spark.queries_events import _LABEL_CHOICES, q_release_tiers

    agg = {r["tier"]: r for r in q_release_tiers(spark, SF_DIR).collect()}
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    label = F.element_at(
        F.array(*[F.lit(x) for x in _LABEL_CHOICES]),
        (F.col("doc_id") % len(_LABEL_CHOICES) + 1).cast("int"),
    )
    items = docs.select(
        F.col("doc_id").alias("number"),
        F.col("text").alias("title"),
        F.col("source").alias("author"),
        F.array(label).alias("labels"),
    )
    tiered = release_items_data(items, max_per_tier=10_000)
    for t, row in agg.items():
        assert len(tiered[t]) == row["n_items"], t
        authors = sorted({p["author"] for p in tiered[t]})
        assert ",".join(authors) == row["contributors"], t


def test_cli_release_notes_smoke(spark, tmp_path, capsys):
    import cli

    out = str(tmp_path / "notes.md")
    rc = cli.main(
        [
            "release-notes",
            "--input",
            f"{SF_DIR}/documents.parquet",
            "--version",
            "v9",
            "--repo",
            "acme/engine",
            "--date",
            "TESTDATE",
            "--output",
            out,
        ]
    )
    assert rc == 0
    assert os.path.exists(out)
    doc = open(out, encoding="utf-8").read()
    assert doc.startswith("# Release v9")
    assert "_Released on TESTDATE_" in doc
    assert "## 👥 Contributors" in doc
    # rendering twice is byte-identical (injectable date, deterministic
    # ordering)
    rc2 = cli.main(
        [
            "release-notes",
            "--input",
            f"{SF_DIR}/documents.parquet",
            "--version",
            "v9",
            "--repo",
            "acme/engine",
            "--date",
            "TESTDATE",
            "--output",
            out + "2",
        ]
    )
    assert rc2 == 0
    assert doc == open(out + "2", encoding="utf-8").read()
