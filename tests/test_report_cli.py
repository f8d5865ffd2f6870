"""S9 report sinks + thin CLI smoke tests."""

import json
import os

import pytest
from pyspark.sql import functions as F

from deja_view_spark.operators.selfjoin import duplicate_report
from deja_view_spark.sources.report import (
    duplicate_report_data,
    render_json,
    render_markdown,
    write_duplicate_report,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def edges(spark):
    rows = [
        ("a", "b", 0.95, 1),
        ("a", "c", 0.91, 2),
        ("b", "a", 0.95, 1),
        ("c", "a", 0.91, 1),
        ("d", "e", 0.85, 1),
        ("e", "d", 0.85, 1),
        ("f", "g", 0.75, 1),
    ]
    return spark.createDataFrame(
        rows, "src string, dst string, similarity double, rank int"
    )


def test_report_data_matches_rollup(spark, edges):
    """Section counts in the rendered report equal the distributed
    duplicate_report rollup's band counts."""
    data = duplicate_report_data(edges)
    rollup = {r["src"]: r for r in duplicate_report(edges).collect()}
    assert len(data) == len(rollup)
    for d in data:
        assert d["band"] == rollup[d["src"]]["band"]
        assert d["max_similarity"] == rollup[d["src"]]["max_similarity"]
    # sorted by max_similarity desc, src asc
    keys = [(-d["max_similarity"], d["src"]) for d in data]
    assert keys == sorted(keys)


def test_markdown_sections(edges):
    data = duplicate_report_data(edges)
    md = render_markdown(data, "acme/repo", 0.7, n_analyzed=7)
    vh = [d for d in data if d["band"] == "very_high"]
    hi = [d for d in data if d["band"] == "high"]
    assert "# Duplicate Issues Report for acme/repo" in md
    assert f"- **Very High Similarity (>=90%):** {len(vh)} issues" in md
    assert f"- **High Similarity (80-89%):** {len(hi)} issues" in md
    assert f"- **Total Potential Duplicates:** {len(data)} issues" in md
    # very-high srcs get gh quick actions; high srcs appear in the table
    for d in vh:
        assert f"gh issue edit {d['src']}" in md
    for d in hi:
        assert f"| {d['src']} |" in md


def test_json_roundtrip(edges, tmp_path):
    out = tmp_path / "report.md"
    data = write_duplicate_report(
        edges, str(out), repository="acme/repo", threshold=0.7, also_json=True
    )
    parsed = json.loads((tmp_path / "report.json").read_text())
    assert parsed["repository"] == "acme/repo"
    assert parsed["duplicates_found"] == len(data)
    assert parsed["issues"][0]["duplicates"][0]["similarity"] >= parsed[
        "issues"
    ][0]["duplicates"][-1]["similarity"]
    assert out.read_text().startswith("# Duplicate Issues Report")


def test_cli_end_to_end(spark, tmp_path, capsys):
    """index -> find -> find-duplicates -> suggest-discussions ->
    metrics, all in-process on the sf0.001 corpus."""
    import cli

    docs = str(tmp_path / "docs.parquet")
    spark.read.parquet(f"{SF_DIR}/documents.parquet").write.parquet(docs)
    index = str(tmp_path / "index")

    assert cli.main(["index", "--input", docs, "--out", index, "--dim", "32"]) == 0
    n_indexed = spark.read.parquet(index).count()
    assert n_indexed == spark.read.parquet(docs).count()

    assert cli.main(["find", "3", "--index", index, "-k", "3"]) == 0
    out = capsys.readouterr().out
    assert "similar to 3" in out
    url = "https://github.com/acme/widgets/issues/3"
    assert cli.main(["find", url, "--index", index, "-k", "3"]) == 0
    assert capsys.readouterr().out in out
    with pytest.raises(SystemExit, match="not indexed"):
        cli.main(["find", "https://github.com/acme/widgets/issues/999999", "--index", index])

    report = str(tmp_path / "dups.md")
    assert (
        cli.main(
            [
                "find-duplicates",
                "--index",
                index,
                "--output",
                report,
                "--threshold",
                "0.8",
                "--json",
            ]
        )
        == 0
    )
    assert os.path.exists(report)
    assert os.path.exists(report.replace(".md", ".json"))

    assert cli.main(["suggest-discussions", "--input", docs, "-n", "5"]) == 0
    assert "suggestions" in capsys.readouterr().out

    mreport = str(tmp_path / "metrics.md")
    assert (
        cli.main(
            ["metrics", "--input", f"{SF_DIR}/documents.parquet", "--output", mreport]
        )
        == 0
    )
    text = open(mreport).read()
    assert "# Discussions Metrics Report" in text
    assert "Answer Rate" in text


def test_cli_graph_verbs(spark, tmp_path, capsys):
    """graph stats / clusters / neighbors / two-hop over a small built
    kg_triples dir."""
    import cli

    from deja_view_spark.datagen import generate_repos
    from deja_view_spark.plans.pipeline import KGPipeline

    out = str(tmp_path / "kg")
    pipe = KGPipeline(spark, generate_repos(spark, 300), out)
    pipe.run()
    tdir = pipe._triples_path()

    assert cli.main(["graph", "stats", "--triples", tdir]) == 0
    txt = capsys.readouterr().out
    for pred in ("contains", "mentions", "duplicates", "same_as"):
        assert pred in txt

    assert cli.main(["graph", "clusters", "--triples", tdir]) == 0
    assert "duplicate clusters" in capsys.readouterr().out

    assert (
        cli.main(
            ["graph", "neighbors", "--triples", tdir,
             "--node", "bigcorp/monorepo", "--pred", "contains"]
        )
        == 0
    )
    assert "-[contains" in capsys.readouterr().out

    assert (
        cli.main(
            ["graph", "two-hop", "--triples", tdir,
             "--pred", "duplicates", "--pred2", "mentions"]
        )
        == 0
    )
    assert (
        cli.main(
            ["graph", "pagerank", "--triples", tdir,
             "--pred", "duplicates", "--direction", "both", "--limit", "5"]
        )
        == 0
    )
    assert "PageRank" in capsys.readouterr().out

    # --direction in ranks over REVERSED edges (round-3 fix: it used to
    # silently equal out). `contains` is asymmetric (repo -> path), so
    # in-link PageRank must surface different top nodes than out-link.
    assert (
        cli.main(
            ["graph", "pagerank", "--triples", tdir,
             "--pred", "contains", "--direction", "out", "--limit", "3"]
        )
        == 0
    )
    out_txt = capsys.readouterr().out
    assert (
        cli.main(
            ["graph", "pagerank", "--triples", tdir,
             "--pred", "contains", "--direction", "in", "--limit", "3"]
        )
        == 0
    )
    in_txt = capsys.readouterr().out
    assert in_txt != out_txt

    # missing required args -> exit 2, not a traceback
    assert cli.main(["graph", "neighbors", "--triples", tdir]) == 2


def test_cli_corpus_verbs(spark, tmp_path, capsys):
    """corpus sample-weighted / kmeans / lm-filter over the sf0.001
    testdata dir — the registry operators behind a UX verb."""
    import cli

    out = str(tmp_path / "sample.parquet")
    assert (
        cli.main(
            ["corpus", "sample-weighted", "--data", SF_DIR, "--output", out]
        )
        == 0
    )
    n = spark.read.parquet(out).count()
    assert 0 < n <= 150  # ES_SAMPLE_K cap

    assert (
        cli.main(["corpus", "kmeans", "--data", SF_DIR, "--limit", "5"]) == 0
    )
    text = capsys.readouterr().out
    assert "'bucket'" in text and "showed 5 rows" in text

    assert (
        cli.main(["corpus", "lm-filter", "--data", SF_DIR, "--limit", "3"])
        == 0
    )
    assert "'ppl_bucket'" in capsys.readouterr().out


def test_cli_round3_verbs(spark, tmp_path, capsys):
    """corpus novelty / cross-source-dedup / pq-encode and the graph
    reach verb over a built triples dir."""
    import cli

    assert (
        cli.main(["corpus", "novelty", "--data", SF_DIR, "--limit", "3"])
        == 0
    )
    assert "'novelty_frac'" in capsys.readouterr().out

    assert (
        cli.main(
            ["corpus", "cross-source-dedup", "--data", SF_DIR, "--limit", "3"]
        )
        == 0
    )
    assert "'kept_source'" in capsys.readouterr().out

    assert (
        cli.main(["corpus", "pq-encode", "--data", SF_DIR, "--limit", "3"])
        == 0
    )
    assert "'pq_code'" in capsys.readouterr().out

    from deja_view_spark.datagen import generate_repos
    from deja_view_spark.plans.pipeline import KGPipeline

    out = str(tmp_path / "kg")
    pipe = KGPipeline(spark, generate_repos(spark, 300), out)
    pipe.run()
    tdir = pipe._triples_path()
    assert (
        cli.main(
            ["graph", "reach", "--triples", tdir,
             "--pred", "contains", "--hops", "2", "--limit", "5"]
        )
        == 0
    )
    txt = capsys.readouterr().out
    assert "2-hop reach" in txt


def test_cli_wave45_verbs(spark, capsys):
    """Smoke the wave-4/5 corpus verbs end-to-end through the CLI
    surface (one sketch, one dedup, one retrieval, one analytics)."""
    import cli

    for verb, marker in (
        ("hll-distinct", "'hll_est'"),
        ("prefix-join", "'jaccard'"),
        ("mmr", "'mmr_rank'"),
        ("cohort", "'retention'"),
        ("kmv-overlap", "'est_jaccard'"),
    ):
        assert (
            cli.main(["corpus", verb, "--data", SF_DIR, "--limit", "3"]) == 0
        )
        assert marker in capsys.readouterr().out


def test_cli_wave14_20_verbs(capsys):
    """The wave-14-20 UX verbs: KG analytics, SQ8 retrieval, CUPED,
    sessionization, robust stats — each routes to its oracle-checked
    registry operator."""
    import cli

    assert (
        cli.main(
            ["corpus", "kg-signatures", "--data", SF_DIR, "--limit", "3"]
        )
        == 0
    )
    assert "'subj_type'" in capsys.readouterr().out

    assert cli.main(["corpus", "cuped", "--data", SF_DIR]) == 0
    text = capsys.readouterr().out
    assert "'theta'" in text and "'var_ratio'" in text

    assert (
        cli.main(["corpus", "sq8-rerank", "--data", SF_DIR, "--limit", "3"])
        == 0
    )
    assert "'cos'" in capsys.readouterr().out

    assert (
        cli.main(
            ["corpus", "mad-outliers", "--data", SF_DIR, "--limit", "3"]
        )
        == 0
    )
    assert "'n_outliers'" in capsys.readouterr().out

    assert (
        cli.main(
            ["corpus", "seasonality", "--data", SF_DIR, "--limit", "3"]
        )
        == 0
    )
    assert "'chi2_uniform'" in capsys.readouterr().out


def test_cli_wave21_30_verbs(capsys):
    """Spot-check the wave-21-30 verbs route to their operators."""
    import cli

    for verb, col in [
        ("expectations", "'passed'"),
        ("powerlaw", "'alpha_mle'"),
        ("bootstrap-ci", "'ci_lo_centichars'"),
        ("changepoint", "'peak_cusum_events'"),
        ("top-paths", "'n_users'"),
    ]:
        assert (
            cli.main(["corpus", verb, "--data", SF_DIR, "--limit", "3"])
            == 0
        )
        assert col in capsys.readouterr().out
