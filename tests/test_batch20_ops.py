"""Batch-20 operators (round-3 session 10): EOQ planning, beacon
detection, Gunning fog, p-chart SPC, stochastic oscillator."""

import math

from pyspark.sql import functions as F


def test_eoq_plan_hand_case(spark):
    from riptable_spark.operators.finance import eoq_plan

    # D=1000 units, S=5000 cents, H = 20% of 100 cents = 2000 hundredths
    # radicand = 2*5000*100*1000 / (20*100) = 500_000 -> EOQ = sqrt(5e5)
    df = spark.createDataFrame([("a", 400, 100), ("a", 600, 100)], "k string, q long, c long")
    r = eoq_plan(df, ["k"], "q", "c", order_cost_cents=5000, holding_rate_pct=20).collect()[0]
    assert r.demand == 1000 and r.unit_cost_cents == 100
    assert math.isclose(r.eoq_units, math.sqrt(500_000), rel_tol=0, abs_tol=0)
    assert math.isclose(r.orders_per_period, 1000 / math.sqrt(500_000), abs_tol=1e-12)


def test_beacon_detect_timer_vs_noise(spark):
    from riptable_spark.operators.mining import beacon_detect

    rows = [("bot", 1000 + 60 * i, i) for i in range(20)]
    rows += [("human", t, 100 + i) for i, t in enumerate([0, 7, 100, 130, 900, 905, 2000, 2300, 2400, 5000, 5100, 5110, 6000, 6500])]
    df = spark.createDataFrame(rows, "k string, sec long, oid long").select(
        "k", F.timestamp_seconds(F.col("sec")).alias("ts"), "oid"
    )
    out = {r.k: r for r in beacon_detect(df, ["k"], "ts", "oid", min_gaps=10).collect()}
    assert out["bot"].is_beacon and out["bot"].modal_gap_s == 60
    assert out["bot"].n_gaps == 19 and out["bot"].mean_gap_s == 60.0
    assert not out["human"].is_beacon


def test_beacon_modal_tie_breaks_smallest(spark):
    from riptable_spark.operators.mining import beacon_detect

    # gaps: 10,10,30,30 -> modal count tie at 2, break to smaller gap 10
    secs = [0, 10, 20, 50, 80]
    df = spark.createDataFrame(
        [("k", s, i) for i, s in enumerate(secs)], "k string, sec long, oid long"
    ).select("k", F.timestamp_seconds(F.col("sec")).alias("ts"), "oid")
    r = beacon_detect(df, ["k"], "ts", "oid", min_gaps=1).collect()[0]
    assert r.modal_gap_s == 10 and r.modal_count == 2


def test_gunning_fog_hand_case(spark):
    from riptable_spark.operators.text import gunning_fog

    txt = "The quick beautiful avocado arrangement runs. It is fine."
    df = spark.createDataFrame([(1, txt)], "doc_id long, text string")
    r = gunning_fog(df).collect()[0]
    # complex (>=3 vowel groups): beautiful, avocado, arrangement
    assert r.n_words == 9 and r.n_sentences == 2 and r.n_complex == 3
    assert math.isclose(r.fog, 0.4 * (9 / 2 + 100 * (3 / 9)), abs_tol=1e-12)


def test_p_chart_flags_shifted_subgroup(spark):
    from riptable_spark.operators.window import p_chart

    # 9 in-control subgroups at 5% plus one at 60%
    rows = []
    for g in range(9):
        rows += [("k", g, 1)] * 5 + [("k", g, 0)] * 95
    rows += [("k", 9, 1)] * 60 + [("k", 9, 0)] * 40
    df = spark.createDataFrame(rows, "k string, sub long, d long")
    out = {r.subgroup: r for r in p_chart(df, ["k"], "sub", "d").collect()}
    assert out[9].out_high and not out[9].out_low
    assert not any(out[g].out_high or out[g].out_low for g in range(9))
    assert out[9].p_hat == 0.6 and out[9].n == 100


def test_stochastic_kd_hand_case(spark):
    from riptable_spark.operators.finance import stochastic_kd

    px = [10, 20, 30, 25, 35]
    df = spark.createDataFrame(
        [("k", i, p) for i, p in enumerate(px)], "k string, t long, px long"
    )
    out = sorted(stochastic_kd(df, ["k"], "px", ["t"], k_window=3).collect(),
                 key=lambda r: r.t)
    assert out[0].pct_k is None and out[1].pct_k is None
    assert out[2].pct_k == 100.0          # (30-10)/(30-10)
    assert out[3].pct_k == 50.0           # (25-20)/(30-20)
    assert out[4].pct_k == 100.0          # (35-25)/(35-25)
    assert out[2].pct_d is None and out[3].pct_d is None
    assert math.isclose(out[4].pct_d, (100 + 50 + 100) / 3, abs_tol=1e-12)


def test_rsi_cutler_hand_case(spark):
    from riptable_spark.operators.finance import rsi_cutler

    df = spark.createDataFrame(
        [("k", i, p) for i, p in enumerate([10, 12, 11, 15])], "k string, t long, px long"
    )
    out = sorted(rsi_cutler(df, ["k"], "px", ["t"], period=2).collect(), key=lambda r: r.t)
    assert out[0].rsi is None and out[1].rsi is None
    assert math.isclose(out[2].rsi, 100 * 2 / 3, abs_tol=1e-12)   # gains 2, losses 1
    assert out[3].gain_sum == 4 and out[3].loss_sum == 1
    assert math.isclose(out[3].rsi, 80.0, abs_tol=0)


def test_newsvendor_hand_case(spark):
    from riptable_spark.operators.finance import newsvendor_stock

    # demands 10,20,30,40 with CR=3/4 -> pick ceil(3)=3rd smallest = 30
    df = spark.createDataFrame(
        [("k", d, q) for d, q in enumerate([20, 40, 10, 30])], "k string, day long, q long"
    )
    r = newsvendor_stock(df, ["k"], "q", "day", cu=3, co=1).collect()[0]
    assert r.n_periods == 4 and r.pick_rank == 3 and r.stock_level == 30
    assert r.service_target == 0.75


def test_clustering_coefficient_triangle_pendant(spark):
    from riptable_spark.operators.graph import clustering_coefficient

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "src long, dst long"
    )
    out = {r.node: r for r in clustering_coefficient(edges, "src", "dst").collect()}
    assert out[1].clustering == 1.0 and out[2].clustering == 1.0
    assert math.isclose(out[3].clustering, 1 / 3, abs_tol=1e-12)
    assert out[4].clustering is None and out[4].degree == 1
    assert out[3].n_triangles == 1


def test_clustering_coefficient_hub_cap(spark):
    from riptable_spark.operators.graph import clustering_coefficient

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "src long, dst long"
    )
    out = {r.node: r for r in clustering_coefficient(edges, "src", "dst", max_degree=2).collect()}
    assert out[3].clustering is None          # hub: capped, marked NULL
    assert out[1].n_triangles == 0 and out[1].clustering == 0.0


def test_fellegi_sunter_hand_case(spark):
    from riptable_spark.operators.dedup import fellegi_sunter

    df = spark.createDataFrame(
        [(1, True, True), (2, True, False), (3, None, False)],
        "pid long, f1 boolean, f2 boolean",
    )
    out = {r.pid: r for r in fellegi_sunter(
        df, [("f1", (9, 10), (1, 10)), ("f2", (4, 5), (1, 5))], threshold=(10, 1)
    ).collect()}
    # pid 1: (9/10)/(1/10) * (4/5)/(1/5) = 9*4 = 36 -> match
    assert out[1].fs_num / out[1].fs_den == 36.0 and out[1].is_match
    # pid 2: 9 * ((1/5)/(4/5)) = 9/4 -> no match at threshold 10
    assert math.isclose(out[2].fs_weight, 9 / 4, abs_tol=1e-12) and not out[2].is_match
    # NULL agreement counts as disagreement: (1/10)/(9/10) * 1/4 = 1/36
    assert math.isclose(out[3].fs_weight, 1 / 36, abs_tol=1e-15)


def test_vocab_growth_hand_case(spark):
    from riptable_spark.operators.text import vocab_growth

    df = spark.createDataFrame(
        [(1, "a b a"), (2, "b c"), (3, "c c d a")], "doc_id long, text string"
    )
    out = sorted(vocab_growth(df).collect(), key=lambda r: r.doc_id)
    assert [(r.n_tokens, r.n_new_tokens) for r in out] == [(3, 2), (2, 1), (4, 1)]
    assert [(r.cum_tokens, r.cum_vocab) for r in out] == [(3, 2), (5, 3), (9, 4)]


def test_dispersion_index_hand_case(spark):
    from riptable_spark.operators.profile import dispersion_index

    # key a: counts per bucket 2,2,2 -> var 0, fano 0, not overdispersed
    # key b: counts 1,5 -> mean 3, pop var 4 -> fano 4/3 > 1
    rows = []
    for b in range(3):
        rows += [("a", 100 + b * 86400)] * 2
    rows += [("b", 100)] * 1 + [("b", 100 + 86400)] * 5
    df = spark.createDataFrame(rows, "k string, sec long").select(
        "k", F.timestamp_seconds(F.col("sec")).alias("ts")
    )
    out = {r.k: r for r in dispersion_index(df, ["k"], "ts").collect()}
    assert out["a"].fano == 0.0 and not out["a"].overdispersed
    assert math.isclose(out["b"].fano, 4 / 3, abs_tol=1e-12) and out["b"].overdispersed


def test_rake_keywords_hand_case(spark):
    from riptable_spark.operators.text import rake_keywords

    txt = "deep learning of deep networks. the networks run"
    df = spark.createDataFrame([(1, txt)], "doc_id long, text string")
    out = sorted(rake_keywords(df, top_k=5).collect(), key=lambda r: r.rank)
    # deg/freq: deep 4/2, learning 2/1, networks 4/2, run 2/1 -> all phrases score 4
    assert [r.phrase for r in out] == ["deep learning", "deep networks", "networks run"]
    assert all(r.score == 4.0 for r in out)
    assert [r.n_words for r in out] == [2, 2, 2]
    assert [r.rank for r in out] == [1, 2, 3]


def test_yules_k_hand_case(spark):
    from riptable_spark.operators.text import yules_k

    df = spark.createDataFrame([(1, "a b b a c"), (2, "x"), (3, None)],
                               "doc_id long, text string")
    out = {r.doc_id: r for r in yules_k(df).collect()}
    # freqs a:2 b:2 c:1 -> sum_f2 9, K = 1e4*(9-5)/25 = 1600, D = 4/20
    assert out[1].n_tokens == 5 and out[1].n_types == 3 and out[1].sum_f2 == 9
    assert out[1].yules_k == 1600.0 and out[1].simpson == 0.2
    assert out[2].n_tokens == 1 and out[2].yules_k is None
    assert out[3].n_tokens == 0 and out[3].simpson is None


def test_interval_join_report_once_and_half_open(spark):
    from riptable_spark.operators.merge import interval_join

    left = spark.createDataFrame([("k", 1, 0, 25), ("k", 2, 40, 50)],
                                 "g string, lid long, s long, e long")
    right = spark.createDataFrame([("k", 7, 18, 22), ("k", 8, 50, 60), ("k", 9, 24, 41)],
                                  "g string, rid long, s long, e long")
    out = interval_join(left, right, "s", "e", "s", "e",
                        bucket_width=10, by=["g"])
    rows = sorted([(r.l_lid, r.r_rid, r.overlap) for r in out.collect()])
    # (1,7): overlap spans cells 1-2 -> reported ONCE, overlap 4
    # (1,9): [24,25) overlap 1; (2,9): [40,41) overlap 1
    # (2,8): touching at 50 -> half-open, NO match
    assert rows == [(1, 7, 4), (1, 9, 1), (2, 9, 1)]


def test_grubbs_hand_case(spark):
    from riptable_spark.operators.profile import grubbs_stat

    # values 1,2,3,4,100 -> mean 22, sd ~ 43.67, suspect 100
    df = spark.createDataFrame([("k", v) for v in [1, 2, 3, 4, 100]], "k string, c long")
    r = grubbs_stat(df, ["k"], "c").collect()[0]
    assert r.suspect_scaled == 100 and r.n == 5
    sd = math.sqrt((5 * (1 + 4 + 9 + 16 + 10000) - 110 * 110) / 20)
    assert math.isclose(r.g_stat, (100 - 22) / sd, rel_tol=1e-12)


def test_durbin_watson_hand_case(spark):
    from riptable_spark.operators.window import durbin_watson

    # alternating series -> DW near 4; x = 1,-1,1,-1
    df = spark.createDataFrame([("k", i, v) for i, v in enumerate([1, -1, 1, -1])],
                               "k string, t long, c long")
    r = durbin_watson(df, ["k"], "c", ["t"]).collect()[0]
    # sum_sq_diff = 3*4 = 12; n*q - s*s = 4*4 - 0 = 16; dw = 4*12/16 = 3
    assert r.sum_sq_diff == 12 and r.dw == 3.0


def test_runs_test_hand_case(spark):
    from riptable_spark.operators.window import runs_test

    # + + - - + -> 3 runs, n1=3 n2=2 (mean is 0 with values ±1... use 10/-10)
    vals = [10, 10, -10, -10, 10]
    df = spark.createDataFrame([("k", i, v) for i, v in enumerate(vals)],
                               "k string, t long, c long")
    r = runs_test(df, ["k"], "c", ["t"]).collect()[0]
    assert (r.n_plus, r.n_minus, r.runs) == (3, 2, 3)
    e = 1 + 2 * 3 * 2 / 5
    v = (2 * 3 * 2) * (2 * 3 * 2 - 5) / (25 * 4)
    assert math.isclose(r.z, (3 - e) / math.sqrt(v), rel_tol=1e-12)


def test_mcnemar_hand_case(spark):
    from riptable_spark.functions.stats import mcnemar_test

    # truth all True; A right on 1-6, B right on 1-2 -> b=4, c=0
    rows = [("k", True, True, i < 2) for i in range(6)]
    rows[5] = ("k", True, False, False)  # both wrong once
    df = spark.createDataFrame(rows, "k string, t boolean, a boolean, b boolean")
    r = mcnemar_test(df, ["k"], "t", "a", "b").collect()[0]
    assert (r.b_only_a, r.c_only_b) == (3, 0)
    assert r.chi2 == (abs(3 - 0) - 1) ** 2 / 3


def test_fleiss_kappa_perfect_agreement(spark):
    from riptable_spark.functions.stats import fleiss_kappa

    # 4 items, 3 raters, all agree within item, two categories evenly
    rows = []
    for item in range(4):
        for _ in range(3):
            rows.append(("k", item, item % 2))
    df = spark.createDataFrame(rows, "g string, item long, cat long")
    r = fleiss_kappa(df, ["g"], "item", "cat", n_raters=3).collect()[0]
    assert r.p_bar == 1.0 and r.kappa == 1.0
    assert r.p_e == 0.5  # two balanced categories


def test_gower_distance_hand_case(spark):
    from riptable_spark.operators.dedup import gower_distance

    df = spark.createDataFrame(
        [(1, 0, 50, "x", "x"), (2, 0, 200, "x", "y")],
        "pid long, a_v long, b_v long, a_c string, b_c string",
    )
    out = {r.pid: r for r in gower_distance(
        df, [("a_v", "b_v", 100)], [("a_c", "b_c")]
    ).collect()}
    assert out[1].d_a_v == 0.5 and out[1].d_a_c == 0.0 and out[1].gower == 0.25
    assert out[2].d_a_v == 1.0 and out[2].d_a_c == 1.0 and out[2].gower == 1.0  # capped


def test_prr_signal_hand_case(spark):
    from riptable_spark.operators.profile import prr_signal

    # group X: 8 flagged / 2 not; group Y: 2 flagged / 8 not
    rows = [("X", True)] * 8 + [("X", False)] * 2 + [("Y", True)] * 2 + [("Y", False)] * 8
    df = spark.createDataFrame(rows, "g string, f boolean")
    out = {r.g: r for r in prr_signal(df, "g", "f").collect()}
    # PRR(X) = (8/10)/(2/10) = 4; ROR(X) = 8*8/(2*2) = 16
    assert out["X"].prr == 4.0 and out["X"].ror == 16.0
    assert out["Y"].prr == 0.25 and out["Y"].ror == 1 / 16


def test_nb_overdispersion_poisson_vs_bursty(spark):
    from riptable_spark.operators.profile import nb_overdispersion

    rows = []
    for b in range(4):
        rows += [("flat", 100 + b * 86400)] * 3        # counts 3,3,3,3 -> var 0
    rows += [("bursty", 100)] * 1 + [("bursty", 100 + 86400)] * 9
    df = spark.createDataFrame(rows, "k string, sec long").select(
        "k", F.timestamp_seconds(F.col("sec")).alias("ts")
    )
    out = {r.k: r for r in nb_overdispersion(df, ["k"], "ts").collect()}
    # flat: var < mean -> alpha negative (underdispersed)
    assert out["flat"].alpha < 0
    # bursty: n=2,S=10,Q=82: alpha = (2*82-100-20)/100 = 0.44
    assert math.isclose(out["bursty"].alpha, 0.44, abs_tol=1e-12)


def test_two_prop_z_hand_case(spark):
    from riptable_spark.functions.stats import two_prop_z

    # arm A: 6/10, arm B: 3/10 -> pooled 0.45
    rows = [("k", True, i < 6) for i in range(10)] + [("k", False, i < 3) for i in range(10)]
    df = spark.createDataFrame(rows, "k string, g boolean, s boolean")
    r = two_prop_z(df, ["k"], "g", "s").collect()[0]
    p = 9 / 20
    expected = (0.6 - 0.3) / math.sqrt(p * (1 - p) * (20 / 100))
    assert math.isclose(r.z, expected, rel_tol=1e-12)
    assert (r.n1, r.x1, r.n2, r.x2) == (10, 6, 10, 3)


def test_sample_size_monotone_in_mde(spark):
    from riptable_spark.functions.stats import sample_size_plan

    rows = [("k", i < 20) for i in range(100)]
    df = spark.createDataFrame(rows, "k string, s boolean")
    out = {r.mde_pp: r.required_n for r in
           sample_size_plan(df, ["k"], "s", mdes_pp=[1, 2, 5]).collect()}
    assert out[1] > out[2] > out[5]          # smaller MDE needs more samples
    # classic check: p1=0.2, mde=5pp -> ~1200-1300 per arm
    assert 1000 < out[5] < 1500


def test_cramers_v_independence_and_association(spark):
    from riptable_spark.functions.stats import cramers_v

    # perfectly associated: category decides the flag
    rows = [("a", True)] * 10 + [("b", False)] * 10
    df = spark.createDataFrame(rows, "c string, f boolean")
    r = cramers_v(df, "c", "f", ["a", "b"]).collect()[0]
    assert math.isclose(r.cramers_v, 1.0, abs_tol=1e-12) and r.n == 20
    # independent: same flag rate in both categories
    rows = ([("a", True)] * 5 + [("a", False)] * 5
            + [("b", True)] * 5 + [("b", False)] * 5)
    df = spark.createDataFrame(rows, "c string, f boolean")
    r = cramers_v(df, "c", "f", ["a", "b"]).collect()[0]
    assert r.chi2 == 0.0 and r.cramers_v == 0.0


def test_geohash_known_vectors(spark):
    from riptable_spark.operators.geo import geohash_cell

    df = spark.createDataFrame(
        [(57.64911, 10.40744), (37.7749, -122.4194), (0.0, 0.0)],
        "lat double, lon double",
    )
    out = [r[0] for r in df.select(geohash_cell(F.col("lat"), F.col("lon"), 6)).collect()]
    assert out[0] == "u4pruy"            # canonical geohash test vector
    assert out[1].startswith("9q8yy")    # San Francisco
    assert out[2].startswith("s00")      # null island


def test_soundex_matches_spark_builtin(spark):
    from riptable_spark.functions.strings import soundex_simple

    names = ["Robert", "Rupert", "Tymczak", "Jackson", "Washington", "Gutierrez"]
    df = spark.createDataFrame([(n,) for n in names], "name string")
    out = df.select(
        soundex_simple(F.col("name")).alias("mine"), F.soundex(F.col("name")).alias("ref")
    ).collect()
    for r in out:
        assert r.mine == r.ref, (r.mine, r.ref)


def test_cidr_longest_prefix(spark):
    from riptable_spark.operators.mining import cidr_match

    subnets = [("corp", 10 << 24, 8), ("vpn", (10 << 24) + (10 << 16), 16)]
    df = spark.createDataFrame(
        [((10 << 24) + (10 << 16) + 5,), ((10 << 24) + (20 << 16) + 5,), ((11 << 24) + 1,)],
        "ip long",
    )
    out = [(r.subnet, r.prefix_len) for r in cidr_match(df, "ip", subnets).collect()]
    assert out[0] == ("vpn", 16)      # longest prefix wins over corp/8
    assert out[1] == ("corp", 8)
    assert out[2] == (None, None)


def test_hampel_flags_spike(spark):
    from riptable_spark.operators.window import hampel_filter

    vals = [10, 11, 10, 9, 10, 500, 10, 11, 10, 9, 10]
    df = spark.createDataFrame([("k", i, v) for i, v in enumerate(vals)],
                               "k string, t long, c long")
    out = sorted(hampel_filter(df, ["k"], "c", ["t"], half_window=5, k_scaled=3).collect(),
                 key=lambda r: r.t)
    # only the middle row has a full 11-row window; it is the spike
    assert out[5].is_outlier is True and out[5].med2 == 20
    assert all(r.is_outlier is None for i, r in enumerate(out) if i != 5)


def test_triple_rules_hand_case(spark):
    from riptable_spark.operators.mining import triple_rules

    # baskets: {1,2,3} x2, {1,2} x1 -> triple (1,2,3) n=2; pair (1,2) n=3
    rows = [(b, i) for b in (10, 20) for i in (1, 2, 3)] + [(30, 1), (30, 2)]
    df = spark.createDataFrame(rows, "b long, i long")
    out = {(r.ante_a, r.ante_b, r.conseq): r
           for r in triple_rules(df, "b", "i", min_count=2).collect()}
    r = out[(1, 2, 3)]
    assert r.n_triple == 2 and r.n_pair == 3 and r.n_conseq == 2
    assert math.isclose(r.confidence, 2 / 3, abs_tol=1e-12)
    assert r.lift == (2 * 3) / (3 * 2)       # = 1.0
    assert out[(1, 3, 2)].n_pair == 2 and out[(1, 3, 2)].confidence == 1.0


def test_reciprocity_hand_case(spark):
    from riptable_spark.operators.graph import reciprocity

    # edges: 1->2, 2->1 (mutual), 1->3 (one way)
    df = spark.createDataFrame([(1, 2), (2, 1), (1, 3)], "src long, dst long")
    r = reciprocity(df).collect()[0]
    assert (r.n_edges, r.n_mutual) == (3, 2)
    assert math.isclose(r.reciprocity, 2 / 3, abs_tol=1e-12)


def test_lindley_waits_matches_direct_recurrence(spark):
    from riptable_spark.operators.window import lindley_waits
    import random

    random.seed(3)
    rows, expect = [], {}
    for k in range(4):
        n = random.randint(2, 14)
        arr = sorted(random.sample(range(0, 150), n))
        srv = [random.randint(1, 30) for _ in range(n)]
        W = [0]
        for i in range(1, n):
            W.append(max(0, W[-1] + srv[i - 1] - (arr[i] - arr[i - 1])))
        for i in range(n):
            rows.append((str(k), i, arr[i], srv[i]))
            expect[(str(k), i)] = W[i]
    df = spark.createDataFrame(rows, "k string, oid long, a long, s long")
    out = lindley_waits(df, ["k"], "a", "s", ["a", "oid"]).collect()
    assert all(expect[(r.k, r.oid)] == r.wait for r in out)
    # departures are consistent: arrival + wait + service
    assert all(r.depart == r.arrival + r.wait + r.service for r in out)


def test_greedy_knapsack_hand_case(spark):
    from riptable_spark.operators.mining import greedy_knapsack

    # densities: a=10, b=5, c=4; budget 5 fits a(w1)+b(w2) but not c(w5)
    df = spark.createDataFrame(
        [("k", "a", 10, 1), ("k", "b", 10, 2), ("k", "c", 20, 5)],
        "g string, pid string, v long, w long",
    )
    out = sorted(greedy_knapsack(df, ["g"], "pid", "v", "w", budget=5).collect(),
                 key=lambda r: r.running_weight)
    assert [r.pid for r in out] == ["a", "b"]
    assert out[-1].running_weight == 3
