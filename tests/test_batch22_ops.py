"""Batch-22 operators (round-3 session 11): finance microstructure
(risk ratios, Roll spread, VPIN, second-price auctions), ML trainers
(NB, k-center, ALS, PBM, Huber, RANSAC), fairness/causal audits,
geometry, and SCC — hand-computed cases and invariants the oracle
hash checks can't express."""

import math

import pytest
from pyspark.sql import functions as F


def test_risk_ratios_hand_case(spark):
    from riptable_spark.operators.finance import risk_ratios

    # pnl = [1, 2, 3, -2]: n=4, S=4, Q=18, DQ=4
    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("a", 3), ("a", -2)], "k string, pnl long"
    )
    r = risk_ratios(df, ["k"], "pnl").collect()[0]
    assert (r.n, r.s, r.q, r.dq) == (4, 4, 18, 4)
    mean = 1.0
    m2 = 18 / 4 - 1.0
    sv = m2 * 4 / 3
    assert math.isclose(r.sharpe, mean / math.sqrt(sv), abs_tol=1e-15)
    assert math.isclose(r.sortino, mean / math.sqrt(4 / 4), abs_tol=1e-15)


def test_risk_ratios_no_losses_gives_null_sortino(spark):
    from riptable_spark.operators.finance import risk_ratios

    df = spark.createDataFrame([("a", 1), ("a", 2)], "k string, pnl long")
    r = risk_ratios(df, ["k"], "pnl").collect()[0]
    assert r.sortino is None


def test_roll_spread_alternating_bounce(spark):
    from riptable_spark.operators.finance import roll_spread

    # perfect bid-ask bounce of 1 cent: prices 100,101,100,101,... in
    # cents -> diffs alternate +1/-1, autocov = -1, spread = 2
    rows = [("a", i, 1.00 if i % 2 == 0 else 1.01) for i in range(10)]
    df = spark.createDataFrame(rows, "k string, t long, px double")
    r = roll_spread(df, ["k"], "px", ["t"], scale=100).collect()[0]
    assert r.autocov == -1.0
    assert math.isclose(r.spread_scaled, 2.0, abs_tol=1e-12)


def test_roll_spread_trending_gives_null(spark):
    from riptable_spark.operators.finance import roll_spread

    rows = [("a", i, float(i)) for i in range(10)]  # monotone: cov >= 0
    df = spark.createDataFrame(rows, "k string, t long, px double")
    r = roll_spread(df, ["k"], "px", ["t"], scale=100).collect()[0]
    assert r.spread_scaled is None


def test_vpin_alternating_and_oneside(spark):
    from riptable_spark.operators.finance import vpin

    # 8 nonzero ticks, bucket_size 4: alternating -> |2b-n|=0; all-up -> ppm 1e6
    rows = [("alt", i, float(100 + (1 if i % 2 == 0 else -1) * ((i + 2) // 2))) for i in range(9)]
    rows += [("up", i, float(100 + i)) for i in range(9)]
    df = spark.createDataFrame(rows, "k string, t long, px double")
    out = {(r.k, r.bucket): r for r in vpin(df, ["k"], ["t"], "px", bucket_size=4, window_buckets=2, scale=1).collect()}
    assert out[("alt", 0)].imb_ppm == 0
    assert out[("up", 0)].imb_ppm == 1_000_000
    assert out[("up", 1)].vpin_ppm == 1_000_000.0


def test_second_price_reserve_and_unsold(spark):
    from riptable_spark.operators.finance import second_price_auction

    rows = [
        ("lot1", 1, 100), ("lot1", 2, 80), ("lot1", 3, 90),
        ("lot2", 4, 100),            # single bid: clears at reserve
        ("lot3", 5, 40), ("lot3", 6, 30),  # top bid below reserve: unsold
    ]
    df = spark.createDataFrame(rows, "lot string, bidder long, bid long")
    out = {r.lot: r for r in second_price_auction(df, ["lot"], "bidder", "bid", reserve=50).collect()}
    assert out["lot1"].winner == 1 and out["lot1"].clearing_price == 90 and out["lot1"].sold
    assert out["lot2"].winner == 4 and out["lot2"].clearing_price == 50
    assert not out["lot3"].sold and out["lot3"].winner is None and out["lot3"].clearing_price is None


def test_second_price_tie_breaks_on_bidder(spark):
    from riptable_spark.operators.finance import second_price_auction

    df = spark.createDataFrame(
        [("l", 7, 100), ("l", 3, 100)], "lot string, bidder long, bid long"
    )
    r = second_price_auction(df, ["lot"], "bidder", "bid", reserve=0).collect()[0]
    assert r.winner == 3 and r.clearing_price == 100


def test_point_in_polygon_square(spark):
    from riptable_spark.operators.geo import point_in_polygon

    square = [(0, 0), (10, 0), (10, 10), (0, 10)]
    pts = [(1, 5, 5, True), (2, 15, 5, False), (3, -1, 5, False), (4, 9, 9, True),
           (5, 5, 15, False)]
    df = spark.createDataFrame([(i, x, y) for i, x, y, _ in pts], "id long, x long, y long")
    got = {r.id: r.inside for r in point_in_polygon(df, "x", "y", square).collect()}
    for i, _, _, expect in pts:
        assert got[i] == expect, i


def test_point_in_polygon_concave(spark):
    from riptable_spark.operators.geo import point_in_polygon

    # arrow shape: (5,5) sits in the concave notch -> outside
    poly = [(0, 0), (10, 0), (10, 10), (5, 4), (0, 10)]
    df = spark.createDataFrame([(1, 5, 5), (2, 5, 2), (3, 8, 6)], "id long, x long, y long")
    got = {r.id: r.inside for r in point_in_polygon(df, "x", "y", poly).collect()}
    assert got[1] is False and got[2] is True and got[3] is True


def test_scc_two_cycles_and_bridge(spark):
    from riptable_spark.operators.graph import scc_components

    # cycle {1,2,3}, cycle {10,11}, bridge 3->10 (one-way), isolate via 20->21
    edges = [(1, 2), (2, 3), (3, 1), (10, 11), (11, 10), (3, 10), (20, 21)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.component for r in scc_components(df).collect()}
    assert got[1] == got[2] == got[3] == 1
    assert got[10] == got[11] == 10
    assert got[1] != got[10]
    assert got[20] == 20 and got[21] == 21


def test_weighted_kappa_perfect_and_orthogonal(spark):
    from riptable_spark.functions.stats import weighted_kappa

    perfect = spark.createDataFrame([(i % 5, i % 5) for i in range(100)], "a long, b long")
    r = weighted_kappa(perfect, "a", "b").collect()[0]
    assert r.sum_w_obs == 0 and r.kappa_w == 1.0


def test_fairness_audit_perfect_classifier_has_zero_gaps(spark):
    from riptable_spark.functions.stats import fairness_audit

    rows = [(g, y, y) for g in range(3) for y in (0, 1) for _ in range(10)]
    df = spark.createDataFrame(rows, "grp long, y_true long, y_pred long")
    r = fairness_audit(df, "grp", "y_true", "y_pred").collect()[0]
    assert r.parity_gap_ppm == 0 and r.tpr_gap_ppm == 0 and r.fpr_gap_ppm == 0
    assert r.passes


def test_kcenter_picks_extremes_on_a_line(spark):
    from riptable_spark.operators.similarity import kcenter_greedy

    # colinear points at 0, 1, 10, 100: seed=min id (at 0), then 100, then 10
    rows = [(0, [0.0]), (1, [1.0]), (2, [10.0]), (3, [100.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.sel_round: r for r in kcenter_greedy(df, "vec_id", "embedding", k=3, scale=1).collect()}
    assert out[1].vec_id == 0
    assert out[2].vec_id == 3 and out[2].dist == 100 * 100
    assert out[3].vec_id == 2  # 10 is farthest from {0, 100}: min(100, 8100)=100... vs 1: min(1,9801)=1
    assert out[4].dist == 1  # coverage radius: point 1 at distance 1 from center 0


def test_huber_equals_ols_without_outliers(spark):
    from riptable_spark.functions.stats import huber_fit

    rows = [(i, i, 3 * i + 1) for i in range(1, 30)]
    df = spark.createDataFrame(rows, "id long, x long, y long")
    r = huber_fit(df, "id", "x", "y", k=10, n_rounds=2).collect()[0]
    # exact line: all residuals 0 <= k, weights all 1 -> every round == OLS
    for a, b in [(r.a0, r.b0), (r.a1, r.b1), (r.a2, r.b2)]:
        assert math.isclose(a, 3.0, abs_tol=1e-12) and math.isclose(b, 1.0, abs_tol=1e-9)


def test_ransac_finds_planted_line(spark):
    from riptable_spark.functions.stats import ransac_line

    rows = []
    for i in range(200):
        y = 2 * i + (1 if i % 3 == 0 else -1)          # inliers, |resid| <= 1
        if i % 20 == 0:
            y += 5000                                   # 5% gross outliers
        rows.append((i, i, y))
    df = spark.createDataFrame(rows, "id long, x long, y long")
    out = ransac_line(df, "id", "x", "y", n_rounds=3, threshold=10).collect()
    best = max(out, key=lambda r: r.n_inliers)
    assert best.is_best and best.n_inliers >= 150  # consensus dodges outliers


def test_markov_attribution_single_channel_path(spark):
    from riptable_spark.operators.mining import markov_attribution

    # every journey: click -> purchase; removing click must kill ALL conversion
    rows = []
    for u in range(10):
        rows.append((u, 0, "click"))
        rows.append((u, 1, "purchase"))
    df = spark.createDataFrame(rows, "user long, t long, et string")
    out = {r.channel: r for r in markov_attribution(df, "user", "et", ["t"], "purchase").collect()}
    assert math.isclose(out["click"].conv_full, 1.0, abs_tol=1e-12)
    assert out["click"].conv_removed == 0.0
    assert math.isclose(out["click"].removal_effect, 1.0, abs_tol=1e-12)
    for ch in ("error", "signup", "view"):
        assert out[ch].removal_effect == 0.0


def test_als_rank1_recovers_block_structure(spark):
    from riptable_spark.operators.mining import als_rank1

    # items 0/1 heavily consumed, items 2/3 lightly: v ordering must reflect it
    rows = []
    for u in range(20):
        rows += [(u, 0, 10), (u, 1, 8), (u, 2, 1), (u, 3, 1)]
    df = spark.createDataFrame(rows, "u long, j long, r long")
    out = {r.j: r.v for r in als_rank1(df, "u", "j", "r", n_rounds=2).collect()}
    assert out[0] > out[1] > out[2] and out[2] == out[3]


def test_naive_bayes_separable_vocab(spark):
    from riptable_spark.operators.text import naive_bayes_classify

    train = spark.createDataFrame(
        [(i, "apple banana fruit", "a") for i in range(0, 20, 2)]
        + [(i, "wheel motor engine", "b") for i in range(20, 40, 2)],
        "doc_id long, text string, lang string",
    )
    test = spark.createDataFrame(
        [(101, "apple fruit snack", "a"), (103, "engine wheel brake", "b")],
        "doc_id long, text string, lang string",
    )
    got = {r.doc_id: r.pred_lang for r in naive_bayes_classify(train, test).collect()}
    assert got == {101: "a", 103: "b"}


def test_position_bias_em_flat_when_unbiased(spark):
    from riptable_spark.operators.retrieval import position_bias_em

    # click depends only on item, never position -> theta identical across pos
    rows = []
    for item in range(4):
        for pos in (1, 2, 3):
            for k in range(20):
                rows.append((item, pos, 1 if k < 5 * (item + 1) else 0))
    df = spark.createDataFrame(rows, "item long, pos long, click long")
    out = position_bias_em(df, "item", "pos", "click").collect()
    thetas = {r.pos: r.theta2 for r in out}
    assert math.isclose(thetas[1], thetas[2], rel_tol=1e-12)
    assert math.isclose(thetas[2], thetas[3], rel_tol=1e-12)


def test_ps_stratified_ate_exact_effect_no_confounding(spark):
    from riptable_spark.functions.stats import ps_stratified_ate

    # outcome = 5 + 7*treat exactly, balanced treatment in every bucket
    rows = []
    for b in range(6):
        for t in (0, 1):
            for _ in range(10):
                rows.append((b, t, 5 + 7 * t))
    df = spark.createDataFrame(rows, "bkt long, t long, y long")
    r = ps_stratified_ate(df, "bkt", "t", "y", n_strata=3).collect()[0]
    assert r.n_total == 120
    assert math.isclose(r.ate, 7.0, abs_tol=1e-12)


def test_fd_violations_known_table(spark):
    from riptable_spark.operators.profile import fd_violations

    df = spark.createDataFrame(
        [(1, "x", 10), (1, "x", 10), (2, "y", 10), (2, "z", 20), (3, None, 30)],
        "k long, dep string, other long",
    )
    out = {
        (r.determinant, r.dependent): r
        for r in fd_violations(df, [("k", "dep"), ("k", "other")]).collect()
    }
    # k=2 maps to {y,z}: one violating group, excess 1; k=3 has NULL dep (clamped)
    r = out[("k", "dep")]
    assert r.n_groups == 3 and r.viol_groups == 1 and r.excess == 1 and not r.holds
    assert out[("k", "other")].viol_groups == 1  # k=2 -> {10, 20}


def test_hubness_star_configuration(spark):
    from riptable_spark.operators.similarity import hubness

    # center point is everyone's nearest neighbor: 5 spokes 72° apart at
    # radius 10 — inter-spoke chord 2·10·sin(36°) ≈ 11.76 > 10
    ang = 2 * math.pi / 5
    rows = [(0, [0.0, 0.0])] + [
        (i, [math.cos(i * ang) * 10, math.sin(i * ang) * 10]) for i in range(1, 6)
    ]
    df = spark.createDataFrame(
        [(i, [float(a) for a in v]) for i, v in rows], "vec_id long, embedding array<float>"
    )
    out = {r.vec_id: r.k_occurrences for r in hubness(df, k=1, scale=1000).collect()}
    assert out[0] == 5  # every spoke's top-1 is the center


def test_window_funnel_keeps_out_of_window_anchors(spark):
    from riptable_spark.operators.window import window_funnel

    rows = [
        # u1: full funnel inside the window
        (1, "a", 0), (1, "b", 10), (1, "c", 20),
        # u2: step-2 exists but OUTSIDE the window -> depth 1, anchor kept
        (2, "a", 0), (2, "b", 5000),
        # u3: two anchors; only the second completes
        (3, "a", 0), (3, "a", 100), (3, "b", 150),
    ]
    df = spark.createDataFrame(rows, "k long, t string, sec long").select(
        "k", "t", F.timestamp_seconds(F.col("sec")).alias("ts")
    )
    out = {r.k: r for r in window_funnel(df, "k", "t", "ts", ["a", "b", "c"], 1000).collect()}
    assert out[1].max_depth == 3 and out[1].n_anchors == 1
    assert out[2].max_depth == 1 and out[2].n_anchors == 1  # the fixed bug
    assert out[3].max_depth == 2 and out[3].n_anchors == 2


def test_window_funnel_strict_order(spark):
    from riptable_spark.operators.window import window_funnel

    # step-2 BEFORE the anchor must not count
    rows = [(1, "b", 0), (1, "a", 10)]
    df = spark.createDataFrame(rows, "k long, t string, sec long").select(
        "k", "t", F.timestamp_seconds(F.col("sec")).alias("ts")
    )
    r = window_funnel(df, "k", "t", "ts", ["a", "b"], 1000).collect()[0]
    assert r.max_depth == 1
