"""Wave-7 operators: resource-allocation link prediction
(queries_graph.py), Markov event transitions and market-basket
association rules (queries_sequence.py).

Planted ground truth: a 4-cycle has exactly two non-adjacent pairs,
each with two degree-2 common neighbors (RA = 2 * SCALE/2 exactly); a
hand-built event log has closed-form transition counts and ppm
probabilities; a 7-user basket layout yields lift exactly 1e6 ppm.
DuckDB value-hash parity at sf0.01 is the driver's job."""

from datetime import datetime

from deja_view_spark.queries_graph import (
    LP_APEX_CAP,
    RA_SCALE,
    q_events_link_prediction,
)
from deja_view_spark.queries_sequence import (
    MB_MIN_PAIR,
    q_events_market_basket,
    q_events_transitions,
)

SF = "/root/testdata/sf0.001"

EV_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string,"
    " value double, props string"
)


def _write_events(spark, tmp_path, rows, name="ev"):
    d = str(tmp_path / name)
    spark.createDataFrame(rows, EV_SCHEMA).write.parquet(
        d + "/events.parquet"
    )
    return d


def _events_from_items(spark, tmp_path, items):
    rows = []
    eid = 0
    for item, users in items:
        for u in users:
            rows.append(
                (eid, datetime(2024, 1, 1), u, "view", 1.0, '{"k": %d}' % item)
            )
            eid += 1
    return _write_events(spark, tmp_path, rows)


# ------------------------------------------------------ link prediction
def test_link_prediction_four_cycle(spark, tmp_path):
    """Cycle 1-2-3-4-1: the two diagonals (1,3) and (2,4) are the only
    non-adjacent pairs; each sees two degree-2 common neighbors, so
    cn=2 and ra_fp = 2 * (RA_SCALE // 2) exactly."""
    d = _events_from_items(
        spark, tmp_path, [(0, (1, 2)), (1, (2, 3)), (2, (3, 4)), (3, (1, 4))]
    )
    got = {(r.src, r.dst): r for r in q_events_link_prediction(spark, d).collect()}
    assert set(got) == {(1, 3), (2, 4)}
    for r in got.values():
        assert r.common_neighbors == 2
        assert r.ra_fp == 2 * (RA_SCALE // 2)


def test_link_prediction_excludes_adjacent_pairs(spark, tmp_path):
    """Diamond + chord: once (1,3) is an actual edge it must not be
    predicted; (2,4)'s common neighbors 1 and 3 now have degree 3, so
    ra_fp = 2 * (RA_SCALE // 3) (integer division, exact)."""
    d = _events_from_items(
        spark,
        tmp_path,
        [(0, (1, 2)), (1, (2, 3)), (2, (3, 4)), (3, (1, 4)), (4, (1, 3))],
    )
    got = {(r.src, r.dst): r for r in q_events_link_prediction(spark, d).collect()}
    assert set(got) == {(2, 4)}
    assert got[(2, 4)].common_neighbors == 2
    assert got[(2, 4)].ra_fp == 2 * (RA_SCALE // 3)


def test_link_prediction_hub_suppressed(spark, tmp_path):
    """A star whose hub exceeds LP_APEX_CAP contributes no wedges: the
    leaves' only common neighbor is capped out, so no pair reaches
    LP_MIN_CN and the result is empty."""
    hub = 10_000
    items = [(i, (hub, 1 + i)) for i in range(LP_APEX_CAP + 2)]
    d = _events_from_items(spark, tmp_path, items)
    assert q_events_link_prediction(spark, d).count() == 0


# ----------------------------------------------------- transitions
def test_transitions_counts_and_ppm(spark, tmp_path):
    """User 1: A,B,A,B -> A->B x2, B->A x1. User 2: A,A -> A->A x1.
    Row totals: from A = 3, from B = 1; ppm = floor(c * 1e6 / total)."""
    t = datetime(2024, 1, 1)

    def ev(eid, u, typ, ts=t):
        return (eid, ts, u, typ, 1.0, "{}")

    rows = [
        ev(1, 1, "A", datetime(2024, 1, 1)),
        ev(2, 1, "B", datetime(2024, 1, 2)),
        ev(3, 1, "A", datetime(2024, 1, 3)),
        ev(4, 1, "B", datetime(2024, 1, 4)),
        ev(5, 2, "A", datetime(2024, 1, 1)),
        ev(6, 2, "A", datetime(2024, 1, 2)),
    ]
    d = _write_events(spark, tmp_path, rows)
    got = {
        (r.from_type, r.to_type): r
        for r in q_events_transitions(spark, d).collect()
    }
    assert got[("A", "B")].n_transitions == 2
    assert got[("A", "B")].prob_ppm == 666_666
    assert got[("A", "A")].n_transitions == 1
    assert got[("A", "A")].prob_ppm == 333_333
    assert got[("B", "A")].n_transitions == 1
    assert got[("B", "A")].prob_ppm == 1_000_000


def test_transitions_tiebreak_by_event_id(spark, tmp_path):
    """Equal timestamps: event_id orders the sequence, so the C->D
    transition is deterministic regardless of partitioning."""
    t = datetime(2024, 1, 1)
    rows = [(10, t, 7, "C", 1.0, "{}"), (11, t, 7, "D", 1.0, "{}")]
    d = _write_events(spark, tmp_path, rows)
    got = q_events_transitions(spark, d).collect()
    assert len(got) == 1
    assert (got[0].from_type, got[0].to_type) == ("C", "D")
    assert got[0].prob_ppm == 1_000_000


# --------------------------------------------------- market basket
def test_market_basket_closed_form(spark, tmp_path):
    """Users 1-5 touch {100, 200}; users 6,7 touch {100} only; item
    300 is infrequent (2 users) and must be pruned before pairing.
    supp_100=7, supp_200=5, pair=5, n_baskets=7:
    conf(100->200) = floor(5e6/7), conf(200->100) = 1e6,
    lift = floor(7*5*1e6 / 35) = exactly 1e6 (independence)."""
    items = [
        (100, (1, 2, 3, 4, 5, 6, 7)),
        (200, (1, 2, 3, 4, 5)),
        (300, (1, 2)),
    ]
    d = _events_from_items(spark, tmp_path, items)
    rows = q_events_market_basket(spark, d).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.item_x, r.item_y) == (100, 200)
    assert r.pair_users == 5
    assert (r.supp_x, r.supp_y) == (7, 5)
    assert r.conf_x_to_y_ppm == 5 * 10**6 // 7
    assert r.conf_y_to_x_ppm == 10**6
    assert r.lift_ppm == 10**6


def test_market_basket_min_pair_support(spark, tmp_path):
    """A pair co-touched by fewer than MB_MIN_PAIR users is dropped
    even when both items are individually frequent."""
    co = tuple(range(1, MB_MIN_PAIR))  # one short of the cutoff
    items = [
        (100, tuple(range(1, 10))),
        (200, co + tuple(range(20, 20 + 6))),  # frequent, small overlap
    ]
    d = _events_from_items(spark, tmp_path, items)
    assert q_events_market_basket(spark, d).count() == 0


# ----------------------------------------------------- registry smoke
def test_wave7_registry_shapes(spark):
    lp = q_events_link_prediction(spark, SF)
    assert lp.columns == ["src", "dst", "common_neighbors", "ra_fp"]
    tr = q_events_transitions(spark, SF).collect()
    assert all(0 <= r.prob_ppm <= 10**6 for r in tr)
    # each from_type's probabilities sum to ~1e6 (floor rounding)
    sums = {}
    for r in tr:
        sums[r.from_type] = sums.get(r.from_type, 0) + r.prob_ppm
    assert all(10**6 - len(tr) <= s <= 10**6 for s in sums.values())
    mb = q_events_market_basket(spark, SF).collect()
    assert all(r.item_x < r.item_y for r in mb)
    assert all(r.pair_users >= MB_MIN_PAIR for r in mb)


def test_cli_wave7_verbs(tmp_path, capsys):
    """The wave-6/7 corpus verbs resolve through the registry and run
    end-to-end on the sf0.001 layout."""
    import cli

    assert cli.main(["corpus", "transitions", "--data", SF, "--limit", "3"]) == 0
    out = capsys.readouterr().out
    assert "prob_ppm" in out
    assert (
        cli.main(["corpus", "link-predict", "--data", SF, "--limit", "3"]) == 0
    )
    out = capsys.readouterr().out
    assert "ra_fp" in out
    assert (
        cli.main(["corpus", "market-basket", "--data", SF, "--limit", "3"])
        == 0
    )
    assert "lift_ppm" in capsys.readouterr().out


# --------------------------------------------------- anomaly detection
def _anomalies_python(rows, w, min_n, z_t):
    """rows: [(event_id, value)] in time order for ONE user — the
    identical rolling-zscore arithmetic, sequentially."""
    import math

    out = []
    vals = [round(v, 4) for _, v in rows]
    for i, (eid, _) in enumerate(rows):
        lo = max(0, i - w)
        win = vals[lo:i]
        n = len(win)
        if n < min_n:
            continue
        s1, s2 = sum(win), sum(x * x for x in win)
        var = (s2 - s1 * s1 / n) / (n - 1)
        if var <= 0:
            continue
        z = round((vals[i] - s1 / n) / math.sqrt(var), 3)
        if abs(z) >= z_t:
            out.append((eid, z))
    return out


def test_anomalies_spike_over_alternating_baseline(spark, tmp_path):
    """25 events alternating 9/11 (var > 0, |z| ~ 1), then a 100.0
    spike: only the spike clears |z| >= 3; the result equals the
    sequential python twin exactly."""
    from deja_view_spark.queries_sequence import (
        ANOM_MIN_N,
        ANOM_W,
        ANOM_Z,
        q_events_anomalies,
    )

    seq = [(i, 9.0 if i % 2 else 11.0) for i in range(1, 26)] + [(26, 100.0)]
    rows = [
        (eid, datetime(2024, 1, 1, 0, 0, eid % 60), 1, "view", v, "{}")
        for eid, v in seq
    ]
    # a second user with too short a history: never scored
    rows += [
        (100 + i, datetime(2024, 1, 1, 0, 0, i), 2, "view", x, "{}")
        for i, x in enumerate([1.0, 1.0, 1.0, 1.0, 500.0])
    ]
    d = _write_events(spark, tmp_path, rows)
    got = [
        (r.event_id, r.zscore) for r in q_events_anomalies(spark, d).collect()
    ]
    expected = _anomalies_python(seq, ANOM_W, ANOM_MIN_N, ANOM_Z)
    assert got == expected
    assert len(got) == 1 and got[0][0] == 26
    assert all(eid < 100 for eid, _ in got)


# ------------------------------------------------- survival life table
def test_lifetable_censoring_and_hazard(spark, tmp_path):
    """u3 dies at t=0, u1 dies at t=2 (horizon gap exactly equals the
    censor window -> NOT censored, strict <), u2's last event IS the
    horizon -> censored at t=9. Reverse-cumulative at-risk counts and
    ppm hazards are closed-form."""
    from deja_view_spark.queries_sequence import q_events_lifetable

    def ev(eid, u, day):
        return (eid, datetime(2024, 1, 1 + day), u, "view", 1.0, "{}")

    rows = [
        ev(1, 1, 0), ev(2, 1, 2),          # u1: lifetime 2
        ev(3, 2, 0), ev(4, 2, 9),          # u2: lifetime 9, at horizon
        ev(5, 3, 0),                        # u3: lifetime 0
    ]
    d = _write_events(spark, tmp_path, rows)
    got = {r.t: r for r in q_events_lifetable(spark, d).collect()}
    assert set(got) == {0, 2, 9}
    assert (got[0].n_at_risk, got[0].n_deaths, got[0].n_censored) == (3, 1, 0)
    assert got[0].hazard_ppm == 333_333
    assert (got[2].n_at_risk, got[2].n_deaths) == (2, 1)
    assert got[2].hazard_ppm == 500_000
    assert (got[9].n_at_risk, got[9].n_deaths, got[9].n_censored) == (1, 0, 1)
    assert got[9].hazard_ppm == 0


# ------------------------------------------------- forecast backtest
def test_forecast_eval_seasonal_naive_gap_correct(spark, tmp_path):
    """Type A has counts 10/12/8 on days 1/8/15: two scored days, MAE
    = (2+4)/2. Type B has a GAP at day 8, so day 15 has no
    seasonal-naive prediction and B must be absent — the behavior a
    lag(7 ROWS) window would get wrong."""
    from deja_view_spark.queries_sequence import q_events_forecast_eval

    rows = []
    eid = 0
    for day, n in ((1, 10), (8, 12), (15, 8)):
        for _ in range(n):
            rows.append((eid, datetime(2024, 1, day), eid, "A", 1.0, "{}"))
            eid += 1
    for day in (1, 15):
        rows.append((eid, datetime(2024, 1, day), eid, "B", 1.0, "{}"))
        eid += 1
    d = _write_events(spark, tmp_path, rows)
    got = {r.event_type: r for r in q_events_forecast_eval(spark, d).collect()}
    assert set(got) == {"A"}
    a = got["A"]
    assert a.n_days == 2 and a.total_abs_err == 6
    assert a.mae_ppm == 3_000_000
    assert a.smape_ppm == (2_000_000 * 2 // 22 + 2_000_000 * 4 // 20) // 2


# ------------------------------------------------------ A/B test
def test_abtest_closed_form_contingency(spark, tmp_path):
    """A = users {2,4,6} with 2 converted, B = {1,3,5} with 1:
    chi2 = 6*(2*2-1*1)^2 / 3^4 = 0.6667 exactly; ppm rates floor."""
    from deja_view_spark.queries_sequence import q_events_abtest

    rows, eid = [], 0

    def add(u, purchases, views):
        nonlocal eid
        for _ in range(purchases):
            rows.append((eid, datetime(2024, 1, 1), u, "purchase", 1.0, "{}"))
            eid += 1
        for _ in range(views):
            rows.append((eid, datetime(2024, 1, 2), u, "view", 1.0, "{}"))
            eid += 1

    for u in (2, 4, 1):      # converted: purchase share 50% > 20%
        add(u, 1, 1)
    for u in (6, 3, 5):      # not converted: share 10% < 20%
        add(u, 1, 9)
    d = _write_events(spark, tmp_path, rows)
    r = q_events_abtest(spark, d).collect()[0]
    assert (r.a_conv, r.a_no, r.b_conv, r.b_no) == (2, 1, 1, 2)
    assert r.rate_a_ppm == 666_666 and r.rate_b_ppm == 333_333
    assert abs(r.chi2 - round(6 * 9 / 81, 4)) < 1e-9


def test_abtest_degenerate_marginal_guard(spark, tmp_path):
    """Every user converted -> the a_no+b_no marginal is 0 and chi2
    must be the guarded 0.0, not a division error."""
    from deja_view_spark.queries_sequence import q_events_abtest

    rows = [
        (i, datetime(2024, 1, 1), u, "purchase", 1.0, "{}")
        for i, u in enumerate((1, 2, 3, 4))
    ]
    d = _write_events(spark, tmp_path, rows)
    r = q_events_abtest(spark, d).collect()[0]
    assert (r.a_no, r.b_no) == (0, 0)
    assert r.chi2 == 0.0
    assert r.rate_a_ppm == 1_000_000 and r.rate_b_ppm == 1_000_000
