"""As-of join (operators/asof.py) vs pandas.merge_asof as the oracle,
plus edge cases: no-match rows, equal-timestamp inclusivity, tie
resolution, and parallelism-invariance of the result set."""

import pandas as pd
from pyspark.sql import functions as F

from deja_view_spark.operators.asof import asof_join


def _mk(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


def test_asof_matches_pandas_merge_asof(spark):
    left_pd = pd.DataFrame(
        {
            "k": [1, 1, 1, 2, 2, 3],
            "lt": pd.to_datetime(
                [
                    "2024-01-01 00:00:05",
                    "2024-01-01 00:00:10",
                    "2024-01-01 00:00:02",
                    "2024-01-01 00:00:07",
                    "2024-01-01 00:00:01",
                    "2024-01-01 00:00:09",
                ]
            ),
            "lid": [10, 11, 12, 20, 21, 30],
        }
    )
    right_pd = pd.DataFrame(
        {
            "k": [1, 1, 2, 2, 4],
            "rt": pd.to_datetime(
                [
                    "2024-01-01 00:00:03",
                    "2024-01-01 00:00:08",
                    "2024-01-01 00:00:07",
                    "2024-01-01 00:00:04",
                    "2024-01-01 00:00:01",
                ]
            ),
            "rv": [1.0, 2.0, 3.0, 4.0, 5.0],
        }
    )
    expected = pd.merge_asof(
        left_pd.sort_values("lt"),
        right_pd.sort_values("rt"),
        left_on="lt",
        right_on="rt",
        by="k",
        direction="backward",
    ).sort_values("lid")

    left = spark.createDataFrame(left_pd)
    right = spark.createDataFrame(right_pd)
    got = (
        asof_join(left, right, on="k", left_ts="lt", right_ts="rt",
                  right_cols=["rt", "rv"])
        .orderBy("lid")
        .toPandas()
    )
    assert list(got["lid"]) == list(expected["lid"])
    for g, e in zip(got["asof_rv"].tolist(), expected["rv"].tolist()):
        assert (pd.isna(g) and pd.isna(e)) or g == e
    for g, e in zip(got["asof_rt"].tolist(), expected["rt"].tolist()):
        assert (pd.isna(g) and pd.isna(e)) or g == e


def test_asof_equal_ts_is_inclusive_and_ties_resolved(spark):
    left = _mk(spark, [(1, 100, 7)], "k long, t long, lid long")
    right = _mk(
        spark,
        [(1, 100, 1, 10.0), (1, 100, 2, 20.0), (1, 99, 3, 30.0)],
        "k long, t long, rid long, rv double",
    )
    got = asof_join(
        left, right, on="k", left_ts="t", right_ts="t",
        right_cols=["rid", "rv"], tie_col="rid",
    ).collect()
    assert len(got) == 1
    # right row at t==100 IS visible (inclusive); max rid wins the tie
    assert got[0]["asof_rid"] == 2 and got[0]["asof_rv"] == 20.0


def test_asof_no_match_yields_nulls(spark):
    left = _mk(spark, [(9, 5, 1)], "k long, t long, lid long")
    right = _mk(spark, [(9, 6, 1, 1.0)], "k long, t long, rid long, rv double")
    got = asof_join(
        left, right, on="k", left_ts="t", right_ts="t", right_cols=["rid", "rv"]
    ).collect()
    assert len(got) == 1
    assert got[0]["asof_rid"] is None and got[0]["asof_rv"] is None


def test_asof_parallelism_invariant(spark):
    rows_l = [(i % 5, i, i) for i in range(200)]
    rows_r = [(i % 5, i * 2 % 150, 1000 + i, float(i)) for i in range(100)]
    left = _mk(spark, rows_l, "k long, t long, lid long")
    right = _mk(spark, rows_r, "k long, t long, rid long, rv double")
    out1 = asof_join(
        left.repartition(1), right.repartition(1), on="k",
        left_ts="t", right_ts="t", right_cols=["rid", "rv"], tie_col="rid",
    )
    out8 = asof_join(
        left.repartition(8, "lid"), right.repartition(8, "rv"), on="k",
        left_ts="t", right_ts="t", right_cols=["rid", "rv"], tie_col="rid",
    )
    s1 = sorted(map(tuple, out1.collect()))
    s8 = sorted(map(tuple, out8.collect()))
    assert s1 == s8


def test_asof_plan_single_shuffle(spark):
    left = _mk(spark, [(1, 1, 1)], "k long, t long, lid long")
    right = _mk(spark, [(1, 1, 2, 1.0)], "k long, t long, rid long, rv double")
    plan = asof_join(
        left, right, on="k", left_ts="t", right_ts="t", right_cols=["rid", "rv"]
    )._jdf.queryExecution().executedPlan().toString()
    # union + running-last: exactly one exchange (on the key), no join node
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan
