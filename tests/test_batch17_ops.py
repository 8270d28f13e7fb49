"""Hand-computed semantics for the batch-12 operators (WAC lot
accounting and friends)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


def test_wac_pnl_hand(spark):
    from riptable_spark.operators.finance import wac_pnl

    # buy 2@10, buy 1@12 (basis 3200c, pos 3) → sell 2@15: removed
    # round(6400/3)=2133, realized 3000−2133=867 → sell 2@11: closes 1
    # (removed 1067, +33 → 900) and flips short 1@11
    rows = [
        ("u", 1, 1, 10.0, 2), ("u", 2, 1, 12.0, 1),
        ("u", 3, -1, 15.0, 2), ("u", 4, -1, 11.0, 2),
    ]
    df = spark.createDataFrame(rows, "k string, t int, s int, price double, q long")
    out = sorted(wac_pnl(df, "k", ["t"], "s", "price", "q").collect(), key=lambda r: r["t"])
    assert [r["realized_cents"] for r in out] == [0, 0, 867, 900]
    assert [r["position_after"] for r in out] == [2, 3, 1, -1]


def test_wac_pnl_flat_book_matches_fifo(spark):
    """Path-independence: realized P&L at a FLAT book equals cash flow,
    so WAC and FIFO must agree exactly there (they diverge mid-path),
    and both equal pnl_curve's linear mark-to-market."""
    from riptable_spark.operators.finance import fifo_pnl, pnl_curve, wac_pnl

    rng = np.random.default_rng(23)
    rows = []
    for t in range(60):
        rows.append(("u", t, int(rng.choice([1, -1])), float(rng.integers(5, 30)), int(rng.integers(1, 5))))
    df = spark.createDataFrame(rows, "k string, t int, s int, price double, q long")
    wac = {r["t"]: r for r in wac_pnl(df, "k", ["t"], "s", "price", "q").collect()}
    fifo = {r["t"]: r for r in fifo_pnl(df, "k", ["t"], "s", "price", "q").collect()}
    lin = {r["t"]: r for r in pnl_curve(df, "k", "t", F.col("s"), "price", F.col("q")).collect()}
    for t in range(60):
        assert wac[t]["position_after"] == fifo[t]["position_after"]
    flats = [t for t in range(60) if wac[t]["position_after"] == 0]
    assert flats, "random walk should cross flat at least once"
    for t in flats:
        assert wac[t]["realized_cents"] == fifo[t]["realized_cents"]
        assert wac[t]["realized_cents"] == round(lin[t]["mtm_pnl"] * 100)


def test_wac_pnl_divergence_from_fifo_midpath(spark):
    """Sanity that this is genuinely a DIFFERENT accounting: with a
    blended basis, a partial close realizes the average, not the oldest
    lot."""
    from riptable_spark.operators.finance import fifo_pnl, wac_pnl

    rows = [("u", 1, 1, 10.0, 1), ("u", 2, 1, 20.0, 1), ("u", 3, -1, 30.0, 1)]
    df = spark.createDataFrame(rows, "k string, t int, s int, price double, q long")
    wac = sorted(wac_pnl(df, "k", ["t"], "s", "price", "q").collect(), key=lambda r: r["t"])
    fifo = sorted(fifo_pnl(df, "k", ["t"], "s", "price", "q").collect(), key=lambda r: r["t"])
    assert fifo[2]["realized_cents"] == 2000   # closes the 10 lot
    assert wac[2]["realized_cents"] == 1500    # closes half the blended 15 basis


def test_link_predict_hand(spark):
    from riptable_spark.operators.graph import link_predict

    # path graph 1-2-3-4 plus edge 1-5: non-edges sharing a neighbor:
    # (1,3) via 2; (2,4) via 3; (2,5) via 1; (3,5) via 1? 3's nbrs {2,4},
    # 5's nbrs {1} → none. So cn=1 candidates: (1,3),(2,4),(2,5)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 5)], "src long, dst long"
    )
    out = {(r["lo"], r["hi"]): r for r in link_predict(edges, min_common=1).collect()}
    assert set(out) == {(1, 3), (2, 4), (2, 5)}
    r = out[(1, 3)]
    # deg(1)=2 {2,5}, deg(3)=2 {2,4}, cn=1 → jaccard 1/3
    assert r["common_neighbors"] == 1 and r["deg_lo"] == 2 and r["deg_hi"] == 2
    assert abs(r["jaccard"] - 1 / 3) < 1e-15


def test_link_predict_excludes_existing_edges_and_caps_hubs(spark):
    from riptable_spark.operators.graph import link_predict

    # star: hub 0 connected to 1..5 → every leaf pair is a candidate
    edges = spark.createDataFrame([(0, i) for i in range(1, 6)], "src long, dst long")
    full = link_predict(edges, min_common=1).collect()
    assert len(full) == 10  # C(5,2) leaf pairs, no existing edge among them
    # capping the hub's pivot degree removes ALL wedges
    capped = link_predict(edges, min_common=1, max_degree=4).collect()
    assert capped == []


def test_item_similarity_hand(spark):
    from riptable_spark.operators.mining import item_similarity

    # baskets: {A,B} x3, {A,C} x1 → pairs (A,B) n=3, (A,C) n=1 (dropped by min_count=2)
    rows = [(1, "A"), (1, "B"), (2, "A"), (2, "B"), (3, "A"), (3, "B"), (4, "A"), (4, "C")]
    df = spark.createDataFrame(rows, "b long, i string")
    out = item_similarity(df, "b", "i", min_count=2, topk=3).collect()
    got = {(r["item"], r["neighbor"]): r for r in out}
    assert set(got) == {("A", "B"), ("B", "A")}
    r = got[("A", "B")]
    # n_a=4, n_b=3, n_ab=3 → cosine 3/sqrt(12)
    assert abs(r["cosine"] - 3 / (12 ** 0.5)) < 1e-15
    assert r["rk"] == 1


def test_topk_frequent_matches_direct_ranking(spark):
    """The sharded shortlist must lose nothing: result == direct global
    top-k at ANY shard count."""
    rng = np.random.default_rng(7)
    vals = rng.zipf(1.5, 2000) % 300
    df = spark.createDataFrame([(int(v),) for v in vals], "x long")
    from collections import Counter

    from riptable_spark.operators.sketch import topk_frequent

    cnt = Counter(int(v) for v in vals)
    expect = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    for shards in (1, 4, 64):
        out = sorted(
            topk_frequent(df, "x", 10, n_shards=shards).collect(),
            key=lambda r: r["rank"],
        )
        assert [(r["item"], r["freq"]) for r in out] == expect


def test_grid_neighbor_join_matches_brute_force(spark):
    from itertools import combinations

    from riptable_spark.operators.geo import grid_neighbor_join

    rng = np.random.default_rng(5)
    pts = [(i, int(rng.integers(-5000, 5000)), int(rng.integers(-5000, 5000))) for i in range(120)]
    df = spark.createDataFrame(pts, "id long, la long, lo long")
    r = 1500
    got = {(x["id_a"], x["id_b"]): x["dist2_udeg2"] for x in
           grid_neighbor_join(df, "id", "la", "lo", r).collect()}
    expect = {}
    for (i1, a1, o1), (i2, a2, o2) in combinations(pts, 2):
        d2 = (a1 - a2) ** 2 + (o1 - o2) ** 2
        if d2 <= r * r:
            expect[(min(i1, i2), max(i1, i2))] = d2
    assert got == expect
    assert expect, "brute-force set should be non-empty"


def test_haversine_known_distance(spark):
    from riptable_spark.operators.geo import haversine_km

    # Paris (48.8566, 2.3522) → London (51.5074, -0.1278) ≈ 343.5 km
    df = spark.createDataFrame([(48.8566, 2.3522, 51.5074, -0.1278)], "a double, b double, c double, d double")
    km = df.select(haversine_km(F.col("a"), F.col("b"), F.col("c"), F.col("d")).alias("km")).head()["km"]
    assert abs(km - 343.5) < 1.0


def test_ewm_cov_linear_relationship(spark):
    from riptable_spark.operators.ema import ewm_cov, ewm_stats

    rng = np.random.default_rng(3)
    xs = rng.normal(0, 5, 80)
    rows = [("k", float(t), float(x), float(2.0 * x)) for t, x in enumerate(xs)]
    df = spark.createDataFrame(rows, "k string, t double, x double, y double")
    out = ewm_cov(df, ["k"], "x", "y", "t", rate=0.1, order_col="t").orderBy("t").collect()
    # y = 2x exactly → beta → 2, corr → 1 once the window has mass
    for r in out[5:]:
        assert r["ewm_beta"] == pytest.approx(2.0, rel=1e-9)
        assert r["ewm_corr"] == pytest.approx(1.0, rel=1e-9)
    # x vs x: cov == var from ewm_stats
    st = ewm_stats(df, ["k"], "x", "t", rate=0.1, order_col="t").orderBy("t").collect()
    xx = ewm_cov(df, ["k"], "x", "x", "t", rate=0.1, order_col="t").orderBy("t").collect()
    for a, b in list(zip(st, xx))[3:]:
        assert b["ewm_cov"] == pytest.approx(a["ewm_var"], rel=1e-9, abs=1e-12)


def test_holt_winters_gamma_zero_equals_holt_linear(spark):
    from riptable_spark.operators.ema import holt_linear, holt_winters

    rng = np.random.default_rng(9)
    rows = [("k", t, float(v)) for t, v in enumerate(rng.normal(10, 3, 100))]
    df = spark.createDataFrame(rows, "k string, t long, v double")
    hw = holt_winters(df, ["k"], "v", "t", period=7, alpha=0.3, beta=0.1, gamma=0.0)
    hl = holt_linear(df, ["k"], "v", "t", alpha=0.3, beta=0.1)
    hww = {r["t"]: r for r in hw.collect()}
    hll = {r["t"]: r for r in hl.collect()}
    for t in range(100):
        assert hww[t]["hw_level"] == hll[t]["holt_level"]   # bit-for-bit
        assert hww[t]["hw_trend"] == hll[t]["holt_trend"]
        assert hww[t]["hw_season"] == 0.0


def test_holt_winters_learns_pure_seasonal_pattern(spark):
    from riptable_spark.operators.ema import holt_winters

    pattern = [10.0, 20.0, 5.0, 15.0]
    rows = [("k", t, pattern[t % 4]) for t in range(400)]
    df = spark.createDataFrame(rows, "k string, t long, v double")
    out = sorted(holt_winters(df, ["k"], "v", "t", period=4).collect(),
                 key=lambda r: r["t"])
    # after convergence the one-step-ahead forecast nails the cycle
    for r in out[-8:]:
        assert abs(r["hw_forecast"] - pattern[r["t"] % 4]) < 0.3


def _dbscan_reference(pts, r, min_pts):
    """Plain-Python DBSCAN with the same deterministic conventions:
    min-label clusters, border → min core-neighbor cluster."""
    ids = [p[0] for p in pts]
    xy = {p[0]: (p[1], p[2]) for p in pts}
    nbrs = {i: set() for i in ids}
    for i in ids:
        for j in ids:
            if i < j:
                d2 = (xy[i][0] - xy[j][0]) ** 2 + (xy[i][1] - xy[j][1]) ** 2
                if d2 <= r * r:
                    nbrs[i].add(j); nbrs[j].add(i)
    core = {i for i in ids if len(nbrs[i]) + 1 >= min_pts}
    # min-label components over core-core edges
    label = {i: i for i in core}
    changed = True
    while changed:
        changed = False
        for i in core:
            for j in nbrs[i] & core:
                m = min(label[i], label[j])
                if label[i] != m or label[j] != m:
                    label[i] = label[j] = m
                    changed = True
    out = {}
    for i in ids:
        if i in core:
            out[i] = (True, label[i])
        else:
            adj_core = [label[j] for j in nbrs[i] if j in core]
            out[i] = (False, min(adj_core) if adj_core else None)
    return out


def test_dbscan_two_blobs_and_noise(spark):
    from riptable_spark.operators.geo import dbscan

    pts = []
    # blob A around (0,0), blob B around (10000,10000), noise far away
    for k in range(5):
        pts.append((k, k * 10, k * 10))
    for k in range(5):
        pts.append((100 + k, 10000 + k * 10, 10000 + k * 10))
    pts.append((999, 50000, 50000))
    df = spark.createDataFrame(pts, "id long, la long, lo long")
    out = {r["id"]: (r["is_core"], r["cluster"]) for r in
           dbscan(df, "id", "la", "lo", radius_udeg=100, min_pts=3).collect()}
    assert out == _dbscan_reference(pts, 100, 3)
    clusters = {v[1] for v in out.values() if v[1] is not None}
    assert clusters == {0, 100}
    assert out[999] == (False, None)  # noise


def test_dbscan_matches_reference_random(spark):
    from riptable_spark.operators.geo import dbscan

    rng = np.random.default_rng(31)
    pts = [(i, int(rng.integers(0, 4000)), int(rng.integers(0, 4000))) for i in range(150)]
    df = spark.createDataFrame(pts, "id long, la long, lo long")
    for r, mp in [(500, 3), (800, 5)]:
        got = {x["id"]: (x["is_core"], x["cluster"]) for x in
               dbscan(df, "id", "la", "lo", radius_udeg=r, min_pts=mp).collect()}
        assert got == _dbscan_reference(pts, r, mp)


def test_running_distinct_hand(spark):
    from riptable_spark.operators.window import running_distinct

    rows = [("k", 1, "a"), ("k", 2, "b"), ("k", 3, "a"), ("k", 4, None),
            ("k", 5, "c"), ("k", 6, "b"), ("j", 1, "a")]
    df = spark.createDataFrame(rows, "k string, t long, v string")
    out = {(r["k"], r["t"]): r["running_distinct"] for r in
           running_distinct(df, ["k"], "v", ["t"]).collect()}
    assert out == {("k", 1): 1, ("k", 2): 2, ("k", 3): 2, ("k", 4): 2,
                   ("k", 5): 3, ("k", 6): 3, ("j", 1): 1}


def test_ips_eval_hand_and_identity(spark):
    from riptable_spark.functions.stats import ips_eval

    # logged: action, target, reward, propensity num/den (p = num/den)
    rows = [
        ("g", 0, 0, 10, 1, 2),   # match, p=1/2 → w = 2·(2/1)=4
        ("g", 1, 0, 99, 1, 2),   # no match
        ("g", 0, 0, 20, 2, 2),   # match, p=1 → w = 2·(2/2)=2
        ("g", 1, 1, 30, 1, 2),   # match, p=1/2 → w = 4
    ]
    df = spark.createDataFrame(rows, "g string, a long, pi long, r long, num long, den long")
    out = ips_eval(df, ["g"], "a", "pi", "r", "num", "den", lcm=2).head()
    # swr = 4·10 + 2·20 + 4·30 = 200 ; ips = 200/(2·4) = 25
    assert out["n"] == 4 and out["n_match"] == 3
    assert out["ips_value"] == pytest.approx(25.0)
    # snips = 200 / (4+2+4) = 20
    assert out["snips_value"] == pytest.approx(20.0)
    # ess = (10)²/(16+4+16) = 100/36
    assert out["ess"] == pytest.approx(100 / 36)

    # identity: target == logged and p ≡ 1 → both estimators = mean reward
    rows1 = [("g", 0, 0, r, 3, 3) for r in (6, 12, 24)]
    df1 = spark.createDataFrame(rows1, "g string, a long, pi long, r long, num long, den long")
    o1 = ips_eval(df1, ["g"], "a", "pi", "r", "num", "den", lcm=3).head()
    assert o1["ips_value"] == pytest.approx(14.0)
    assert o1["snips_value"] == pytest.approx(14.0)


def test_qini_curve_hand(spark):
    from riptable_spark.functions.stats import qini_curve

    # score 2: t=1 y=1 ; score 1: c y=1, t y=0 ; score 0: c y=0
    rows = [(2.0, 1, 1), (1.0, 0, 1), (1.0, 1, 0), (0.0, 0, 0)]
    df = spark.createDataFrame(rows, "s double, t long, y long")
    out = {r["score"]: r for r in qini_curve(df, "s", "t", "y").collect()}
    assert out[2.0]["qini"] is None                       # no control yet
    # at s=1: cum_yt=1, cum_yc=1, cum_nt=2, cum_nc=1 → 1 − 1·2/1 = −1
    assert out[1.0]["qini"] == pytest.approx(-1.0)
    # at s=0: 1 − 1·2/2 = 0
    assert out[0.0]["qini"] == pytest.approx(0.0)


def test_graph_modularity_two_triangles(spark):
    from riptable_spark.operators.graph import graph_modularity

    # two triangles {0,1,2} and {3,4,5} bridged by (2,3): m=7
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5), (2, 3)],
        "src long, dst long",
    )
    labels = spark.createDataFrame(
        [(i, 0 if i < 3 else 1) for i in range(6)], "node long, community long"
    )
    out = graph_modularity(edges, labels).collect()
    per = {r["community"]: r for r in out}
    assert per[0]["e_c"] == 3 and per[0]["d_c"] == 7
    assert per[1]["e_c"] == 3 and per[1]["d_c"] == 7
    # Q = 2·(3/7 − (7/14)²) = 5/14
    for r in out:
        assert r["modularity"] == pytest.approx(5 / 14)
    # putting everything in ONE community: Q = e/m − 1 = 0 minus... = 0
    one = spark.createDataFrame([(i, 0) for i in range(6)], "node long, community long")
    q1 = graph_modularity(edges, one).head()["modularity"]
    assert q1 == pytest.approx(0.0)


def test_observe_metrics_ride_the_job(spark, tmp_path):
    from riptable_spark.operators.profile import observe_metrics

    df = spark.range(500).withColumn("v", F.col("id") % 9)
    df2, obs = observe_metrics(df, "m", {
        "rows": F.count(F.lit(1)),
        "nulls": F.count_if(F.col("v").isNull()),
        "vmax": F.max("v"),
    })
    df2.write.mode("overwrite").parquet(str(tmp_path / "obs"))
    got = obs.get
    assert got == {"rows": 500, "nulls": 0, "vmax": 8}


def test_tree_rollup_matches_reference(spark):
    from riptable_spark.operators.graph import tree_rollup

    # random forest: parent(i) = some j < i (or root), values = i+1
    rng = np.random.default_rng(13)
    n = 60
    parent = {0: None, 1: None}
    for i in range(2, n):
        parent[i] = int(rng.integers(0, i)) if rng.random() < 0.9 else None
    edges = spark.createDataFrame(
        [(i, parent[i]) for i in range(n)], "node long, parent long"
    )
    vals = spark.createDataFrame([(i, i + 1) for i in range(n)], "node long, v long")

    # python reference: ancestors by walking up
    expect_sum = {i: 0 for i in range(n)}
    expect_cnt = {i: 0 for i in range(n)}
    for i in range(n):
        j = i
        while j is not None:
            expect_sum[j] += i + 1
            expect_cnt[j] += 1
            j = parent[j]
    got = {r["node"]: (r["subtree_sum"], r["subtree_count"]) for r in
           tree_rollup(vals, edges, "node", "v").collect()}
    assert got == {i: (expect_sum[i], expect_cnt[i]) for i in range(n)}


def test_tree_closure_deep_chain(spark):
    from riptable_spark.operators.graph import tree_closure

    # a pure chain of depth 50: closure must have 51·52/2 pairs with
    # max_rounds=6 (2^6 = 64 ≥ 50)
    edges = spark.createDataFrame(
        [(i, i - 1 if i > 0 else None) for i in range(51)], "node long, parent long"
    )
    n = tree_closure(edges).count()
    assert n == 51 * 52 // 2


def test_allocate_proportional_sums_exactly(spark):
    from riptable_spark.operators.reshape import allocate_proportional

    rng = np.random.default_rng(41)
    rows = [(i, int(rng.integers(1, 100))) for i in range(37)]
    df = spark.createDataFrame(rows, "k long, w long")
    for total in (7, 100, 12345):
        out = allocate_proportional(df, ["k"], "w", total).collect()
        assert sum(r["allocated"] for r in out) == total
        wsum = sum(w for _, w in rows)
        for r in out:
            exact = total * dict(rows)[r["k"]] / wsum
            assert exact - 1 < r["allocated"] < exact + 1  # Hamilton stays within 1 of quota


def test_allocate_proportional_hand(spark):
    from riptable_spark.operators.reshape import allocate_proportional

    # weights 1,1,1 total 10 → 4,3,3 (remainders equal → lowest keys win)
    df = spark.createDataFrame([(1, 1), (2, 1), (3, 1)], "k long, w long")
    out = {r["k"]: r["allocated"] for r in allocate_proportional(df, ["k"], "w", 10).collect()}
    assert out == {1: 4, 2: 3, 3: 3}


def test_phrase_search_hand(spark):
    from riptable_spark.operators.retrieval import phrase_search

    rows = [
        (1, "the quick brown fox jumps"),
        (2, "quick brown shoes and quick brown socks"),
        (3, "brown quick nope"),
        (4, "quick stop brown"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["n_matches"] for r in phrase_search(df, "quick brown").collect()}
    assert out == {1: 1, 2: 2}
    out3 = {r["doc_id"]: r["n_matches"] for r in
            phrase_search(df, "quick brown fox").collect()}
    assert out3 == {1: 1}


def test_dedup_incremental_vs_batch(spark):
    from riptable_spark.operators.dedup import (
        dedup_exact, dedup_incremental, fingerprint_index,
    )

    day1 = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "alpha"), (4, None)],
        "doc_id long, text string",
    )
    day2 = spark.createDataFrame(
        [(10, "beta"), (11, "gamma"), (12, "gamma"), (13, None)],
        "doc_id long, text string",
    )
    kept1 = dedup_exact(day1)
    idx1 = fingerprint_index(kept1)
    kept2 = dedup_incremental(day2, idx1)
    got = sorted(r["doc_id"] for r in kept2.collect())
    # beta already seen → dropped; gamma kept once; NULL passes
    assert got == [11, 13]
    # incremental result == batch dedup of the union, restricted to day2
    batch = dedup_exact(day1.unionByName(day2))
    batch_day2 = sorted(r["doc_id"] for r in batch.collect() if r["doc_id"] >= 10)
    assert got == batch_day2
    # state grows by the novel fingerprints only
    idx2 = idx1.unionByName(fingerprint_index(kept2)).distinct()
    assert idx2.count() == 3  # alpha, beta, gamma


def test_k_core_hand_and_reference(spark):
    from riptable_spark.operators.graph import k_core

    def core_degrees(df, k, rounds):
        deg = {}
        for r in k_core(df, k, "src", "dst", max_rounds=rounds, return_edges=True).collect():
            for n in (r["u"], r["v"]):
                deg[n] = deg.get(n, 0) + 1
        return deg

    # triangle {0,1,2} with pendant 3-4 chain: 2-core = the triangle,
    # peeled in two rounds (4, then 3); the 3-core empties in one
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4)], "src long, dst long"
    )
    assert core_degrees(edges, 2, 2) == {0: 2, 1: 2, 2: 2}
    assert core_degrees(edges, 3, 1) == {}

    # random graph vs python peeling reference, run for the rounds it took
    rng = np.random.default_rng(19)
    es = {(int(a), int(b)) for a, b in rng.integers(0, 40, (120, 2)) if a != b}
    es = {(min(a, b), max(a, b)) for a, b in es}
    df = spark.createDataFrame(sorted(es), "src long, dst long")
    for k in (2, 3, 4):
        cur = set(es)
        rounds = 0
        while True:
            deg = {}
            for a, b in cur:
                deg[a] = deg.get(a, 0) + 1
                deg[b] = deg.get(b, 0) + 1
            bad = {n for n, d in deg.items() if d < k}
            if not bad:
                break
            cur = {(a, b) for a, b in cur if a not in bad and b not in bad}
            rounds += 1
        expect = {}
        for a, b in cur:
            expect[a] = expect.get(a, 0) + 1
            expect[b] = expect.get(b, 0) + 1
        assert core_degrees(df, k, rounds) == expect


def test_greedy_cover_hand(spark):
    from riptable_spark.operators.pipeline import greedy_cover

    # doc 1 covers {a,b,c}; doc 2 {c,d}; doc 3 {d,e}; doc 4 {a}
    rows = [(1, "a"), (1, "b"), (1, "c"), (2, "c"), (2, "d"),
            (3, "d"), (3, "e"), (4, "a")]
    df = spark.createDataFrame(rows, "id long, gram string")
    out = greedy_cover(df, "id", "gram", k=3).collect()
    got = [(r["rank"], r["id"], r["marginal_gain"]) for r in
           sorted(out, key=lambda r: r["rank"])]
    # greedy: 1 (3 new), then 3 (d,e → 2 new), then 2 (0 new → stop)
    assert got == [(1, 1, 3), (2, 3, 2)]


def test_greedy_cover_tie_breaks_by_smallest_id(spark):
    from riptable_spark.operators.pipeline import greedy_cover

    rows = [(5, "x"), (5, "y"), (2, "p"), (2, "q")]
    df = spark.createDataFrame(rows, "id long, gram string")
    out = sorted(greedy_cover(df, "id", "gram", k=2).collect(), key=lambda r: r["rank"])
    assert [r["id"] for r in out] == [2, 5]


def test_fastring_reverse_removetrailing_strlen(spark):
    from riptable_spark.functions.strings import removetrailing, reverse, strlen

    df = spark.createDataFrame(
        [("this ",), ("that..",), ("test",)], "s string"
    )
    out = df.select(
        reverse(F.col("s")).alias("r"),
        removetrailing(F.col("s")).alias("t32"),
        removetrailing(F.col("s"), 46).alias("t46"),
        strlen(F.col("s")).alias("n"),
    ).collect()
    assert [r["r"] for r in out] == [" siht", "..taht", "tset"]
    assert [r["t32"] for r in out] == ["this", "that..", "test"]
    assert [r["t46"] for r in out] == ["this ", "that", "test"]
    assert [r["n"] for r in out] == [5, 6, 4]


def test_did_estimate_recovers_known_effect(spark):
    from riptable_spark.functions.stats import did_estimate

    # baseline 10; time trend +5 for everyone; treatment effect +7
    rows = []
    for i in range(40):
        rows.append(("g", 0, 0, 10))          # control pre
        rows.append(("g", 0, 1, 15))          # control post (trend)
        rows.append(("g", 1, 0, 12))          # treat pre (level diff 2)
        rows.append(("g", 1, 1, 24))          # treat post = 12 + 5 + 7
    df = spark.createDataFrame(rows, "g string, t long, p long, y long")
    out = did_estimate(df, "t", "p", "y").head()
    assert out["did"] == pytest.approx(7.0)
    assert out["mean_c0"] == 10.0 and out["n_t1"] == 40


def test_did_estimate_null_when_cell_empty(spark):
    from riptable_spark.functions.stats import did_estimate

    df = spark.createDataFrame(
        [("g", 0, 0, 1), ("g", 0, 1, 2), ("g", 1, 0, 3)], "g string, t long, p long, y long"
    )
    assert did_estimate(df, "t", "p", "y").head()["did"] is None


def test_dr_eval_perfect_model_needs_no_correction(spark):
    from riptable_spark.functions.stats import dr_eval, ips_eval

    # reward depends only on action: r(a) = 10·(a+1); model is perfect
    rows = []
    for i in range(30):
        a = i % 3
        pi = (i + 1) % 3
        rows.append(("g", a, pi, 10 * (a + 1), 1 + i % 2, 4, 10 * (pi + 1), 10 * (a + 1)))
    df = spark.createDataFrame(
        rows, "g string, a long, pi long, r long, num long, den long, qt long, ql long"
    )
    out = dr_eval(df, ["g"], "a", "pi", "r", "num", "den", "qt", "ql", lcm=2).head()
    # perfect q̂ → correction term is exactly 0, DR = direct method = true value
    true_v = sum(10 * (((i + 1) % 3) + 1) for i in range(30)) / 30
    assert out["correction"] == 0.0
    assert out["dr_value"] == pytest.approx(true_v)
    assert out["dm_value"] == pytest.approx(true_v)


def test_dr_eval_zero_model_reduces_to_ips(spark):
    from riptable_spark.functions.stats import dr_eval, ips_eval

    rows = []
    for i in range(40):
        a = i % 2
        pi = (i // 2) % 2
        rows.append(("g", a, pi, 5 + (i % 7), 1 + i % 4, 10))
    df = spark.createDataFrame(rows, "g string, a long, pi long, r long, num long, den long")
    dfz = df.withColumn("qt", F.lit(0)).withColumn("ql", F.lit(0))
    dr = dr_eval(dfz, ["g"], "a", "pi", "r", "num", "den", "qt", "ql", lcm=12).head()
    ips = ips_eval(df, ["g"], "a", "pi", "r", "num", "den", lcm=12).head()
    assert dr["dr_value"] == pytest.approx(ips["ips_value"])


def test_wac_pnl_giant_single_key(spark):
    """One 100k-row key through the Arrow scan: exercises the
    single-group batch path and re-checks the flat-book identity
    against the linear MtM at scale."""
    from riptable_spark.operators.finance import pnl_curve, wac_pnl

    rng = np.random.default_rng(2)
    n = 100_000
    sides = rng.choice([1, -1], n)
    prices = rng.integers(5, 50, n).astype(float)
    qtys = rng.integers(1, 4, n)
    rows = [("u", t, int(sides[t]), float(prices[t]), int(qtys[t])) for t in range(n)]
    df = spark.createDataFrame(rows, "k string, t long, s int, price double, q long")
    wac = wac_pnl(df, "k", ["t"], "s", "price", "q").orderBy("t")
    lin = pnl_curve(df, "k", "t", F.col("s"), "price", F.col("q")).orderBy("t")
    wrows = wac.select("t", "realized_cents", "position_after").collect()
    lrows = lin.select("t", "position", "mtm_pnl").collect()
    flats = 0
    for wr, lr in zip(wrows, lrows):
        assert wr["position_after"] == lr["position"]
        if wr["position_after"] == 0:
            flats += 1
            assert wr["realized_cents"] == round(lr["mtm_pnl"] * 100)
    assert flats > 10  # the walk crosses flat many times at this length


def test_grid_neighbor_join_max_cell_caps_dense_cells(spark):
    from riptable_spark.operators.geo import grid_neighbor_join

    # 50 points piled in one cell + 2 isolated neighbors elsewhere
    pts = [(i, 10, 10) for i in range(50)] + [(100, 90000, 90000), (101, 90050, 90050)]
    df = spark.createDataFrame(pts, "id long, la long, lo long")
    full = grid_neighbor_join(df, "id", "la", "lo", 100).count()
    assert full == 50 * 49 // 2 + 1
    capped = grid_neighbor_join(df, "id", "la", "lo", 100, max_cell=10).collect()
    # the dense cell is dropped entirely; the isolated pair survives
    assert {(r["id_a"], r["id_b"]) for r in capped} == {(100, 101)}


def test_pass_at_k_known_values(spark):
    from math import comb

    from riptable_spark.functions.stats import pass_at_k

    # problem p: n samples, c correct → compare to the combinatorial form
    cases = [("a", 10, 3), ("b", 5, 0), ("c", 5, 5), ("d", 2, 1)]  # d: n < k
    rows = []
    for p, n, c in cases:
        rows += [(p, 1)] * c + [(p, 0)] * (n - c)
    df = spark.createDataFrame(rows, "p string, ok long")
    out = {r["p"]: r for r in pass_at_k(df, ["p"], "ok", 3).collect()}
    for p, n, c in cases:
        if n < 3:
            assert out[p]["pass_at_k"] is None
        else:
            expect = 1 - comb(n - c, 3) / comb(n, 3)
            assert out[p]["pass_at_k"] == pytest.approx(expect, abs=1e-15)
    assert out["b"]["pass_at_k"] == 0.0
    assert out["c"]["pass_at_k"] == 1.0


def test_bootstrap_ci_brackets_mean_and_narrows(spark):
    from riptable_spark.functions.stats import bootstrap_ci

    rng = np.random.default_rng(8)
    small = [(int(i), int(v)) for i, v in enumerate(rng.integers(0, 100, 50))]
    big = [(int(i), int(v)) for i, v in enumerate(rng.integers(0, 100, 2000))]
    out_s = bootstrap_ci(
        spark.createDataFrame(small, "i long, v long"), "v",
        n_replicas=40, id_cols=["i"],
    ).head()
    out_b = bootstrap_ci(
        spark.createDataFrame(big, "i long, v long"), "v",
        n_replicas=40, id_cols=["i"],
    ).head()
    for o, data in [(out_s, small), (out_b, big)]:
        mean = sum(v for _, v in data) / len(data)
        assert o["mean"] == pytest.approx(mean)
        assert o["ci_lo"] <= mean <= o["ci_hi"]
        assert o["n_replicas"] == 40
    # more data → tighter interval
    assert (out_b["ci_hi"] - out_b["ci_lo"]) < (out_s["ci_hi"] - out_s["ci_lo"])


def test_bootstrap_ci_deterministic(spark):
    from riptable_spark.functions.stats import bootstrap_ci

    df = spark.createDataFrame([(i, i % 17) for i in range(300)], "i long, v long")
    a = bootstrap_ci(df, "v", n_replicas=25, id_cols=["i"]).head()
    b = bootstrap_ci(df, "v", n_replicas=25, id_cols=["i"]).head()
    assert a == b


def _isotonic_reference(ys):
    """Minimax characterization: ŷ_i = max_{j≤i} min_{k≥i} mean(y[j..k])."""
    n = len(ys)
    pre = [0]
    for v in ys:
        pre.append(pre[-1] + v)
    out = []
    for i in range(n):
        best = None
        for j in range(i + 1):
            m = min((pre[k + 1] - pre[j]) / (k + 1 - j) for k in range(i, n))
            best = m if best is None else max(best, m)
        out.append(best)
    return out


def test_isotonic_fit_matches_minimax(spark):
    from riptable_spark.functions.stats import isotonic_fit

    rng = np.random.default_rng(27)
    for trial in range(3):
        ys = [int(v) for v in rng.integers(0, 50, 40)]
        rows = [("k", t, ys[t]) for t in range(40)]
        df = spark.createDataFrame(rows, "k string, t long, y long")
        got = [r["iso_fit"] for r in
               isotonic_fit(df, ["k"], ["t"], "y").orderBy("t").collect()]
        expect = _isotonic_reference(ys)
        assert got == pytest.approx(expect, abs=1e-12)
        assert all(a <= b + 1e-12 for a, b in zip(got, got[1:]))  # monotone


def test_isotonic_fit_monotone_input_unchanged(spark):
    from riptable_spark.functions.stats import isotonic_fit

    rows = [("k", t, t * 2) for t in range(20)]
    df = spark.createDataFrame(rows, "k string, t long, y long")
    got = [r["iso_fit"] for r in isotonic_fit(df, ["k"], ["t"], "y").orderBy("t").collect()]
    assert got == [float(t * 2) for t in range(20)]


def test_conformal_interval_coverage(spark):
    from riptable_spark.functions.stats import conformal_interval

    rng = np.random.default_rng(6)
    # y = yhat + noise in [-20, 20]
    def mk(n, seed_off):
        return [(int(i), int(100 + (i % 37)), int(100 + (i % 37) + rng.integers(-20, 21)))
                for i in range(n)]
    cal = spark.createDataFrame(mk(400, 0), "i long, yhat long, y long")
    test = spark.createDataFrame(mk(300, 1), "i long, yhat long, y long")
    out = conformal_interval(cal, test, "yhat", "y", alpha=0.1).collect()
    covered = sum(1 for r in out if r["pi_lo"] <= r["y"] <= r["pi_hi"])
    assert covered / len(out) >= 0.88  # ≥ 1−α up to sampling noise
    q = out[0]["qhat"]
    assert 0 < q <= 20


def test_conformal_qhat_exact_rank(spark):
    from riptable_spark.functions.stats import conformal_interval

    # residuals 1..10 on calibration; alpha=0.2 → need ceil(11·0.8)=9 → qhat=9
    cal = spark.createDataFrame([(i, 0, i) for i in range(1, 11)], "i long, yhat long, y long")
    test = spark.createDataFrame([(0, 50, 50)], "i long, yhat long, y long")
    r = conformal_interval(cal, test, "yhat", "y", alpha=0.2).head()
    assert r["qhat"] == 9 and r["pi_lo"] == 41 and r["pi_hi"] == 59


def test_ndcg_at_k_known(spark):
    import math

    from riptable_spark.functions.stats import ndcg_at_k

    # query q: ranked rels [3, 2, 3, 0, 1, 2] → classic example
    rels = [3, 2, 3, 0, 1, 2]
    rows = [("q", i + 1, rels[i]) for i in range(6)]
    df = spark.createDataFrame(rows, "q string, rank long, rel long")
    out = ndcg_at_k(df, ["q"], "rank", "rel", 6).head()
    dcg = sum(r / math.log2(i + 2) for i, r in enumerate(rels))
    idcg = sum(r / math.log2(i + 2) for i, r in enumerate(sorted(rels, reverse=True)))
    assert out["ndcg"] == pytest.approx(dcg / idcg, abs=1e-9)
    # perfect ranking → 1.0 exactly
    perfect = spark.createDataFrame(
        [("p", i + 1, r) for i, r in enumerate(sorted(rels, reverse=True))],
        "q string, rank long, rel long",
    )
    assert ndcg_at_k(perfect, ["q"], "rank", "rel", 6).head()["ndcg"] == 1.0
    # zero relevance → NULL
    zero = spark.createDataFrame([("z", 1, 0), ("z", 2, 0)], "q string, rank long, rel long")
    assert ndcg_at_k(zero, ["q"], "rank", "rel", 2).head()["ndcg"] is None


def test_map_at_k_known(spark):
    from riptable_spark.functions.stats import map_at_k

    # rels at ranks: [1,0,1,0,1] → AP@5 = (1/3)(1/1 + 2/3 + 3/5)
    rows = [("q", i + 1, r) for i, r in enumerate([1, 0, 1, 0, 1])]
    df = spark.createDataFrame(rows, "q string, rank long, rel long")
    out = map_at_k(df, ["q"], "rank", "rel", 5).head()
    assert out["ap_at_k"] == pytest.approx((1 + 2 / 3 + 3 / 5) / 3, abs=1e-12)
    # perfect: all top-R relevant → AP = 1
    perfect = spark.createDataFrame(
        [("p", 1, 1), ("p", 2, 1), ("p", 3, 0)], "q string, rank long, rel long"
    )
    assert map_at_k(perfect, ["q"], "rank", "rel", 3).head()["ap_at_k"] == 1.0
    # no relevant → NULL
    none = spark.createDataFrame([("z", 1, 0)], "q string, rank long, rel long")
    assert map_at_k(none, ["q"], "rank", "rel", 3).head()["ap_at_k"] is None


def test_code_score_separates_code_from_prose(spark):
    from riptable_spark.operators.text import code_score

    code = "def f(x):\n    return x + 1\n\nimport os\ny = f(2);"
    prose = "The quick brown fox jumps over the lazy dog.\nIt was a sunny day."
    df = spark.createDataFrame([(1, code), (2, prose), (3, ""), (4, None)],
                               "i long, t string")
    out = {r["i"]: r["s"] for r in df.select("i", code_score(F.col("t")).alias("s")).collect()}
    assert out[1] > 0.5
    assert out[2] == 0.0 and out[3] == 0.0 and out[4] == 0.0
    assert out[2] == 0.0


def test_f1_scores_hand(spark):
    from riptable_spark.functions.stats import f1_scores

    # true:  a a a b b c ; pred: a b a b c c
    rows = list(zip("aaabbc", "abab" + "cc"))
    df = spark.createDataFrame(rows, "t string, p string")
    out = {r["cls"]: r for r in f1_scores(df, "t", "p").collect()}
    # class a: tp=2 fp=0 fn=1 → P=1, R=2/3, F1=4/5
    assert out["a"]["precision"] == 1.0 and out["a"]["recall"] == pytest.approx(2 / 3)
    assert out["a"]["f1"] == pytest.approx(0.8)
    # class c: tp=1 fp=1 fn=0 → P=1/2 R=1 F1=2/3
    assert out["c"]["f1"] == pytest.approx(2 / 3)
    # micro: tp=4 fp=fn=2 → F1 = 8/12
    micro = out[None]
    assert micro["tp"] == 4 and micro["f1"] == pytest.approx(8 / 12)


def test_cohen_kappa_known(spark):
    from riptable_spark.functions.stats import cohen_kappa

    # classic 2x2: raters agree 20+15 of 50; rows 25/25, cols 30/20
    rows = ([("y", "y")] * 20 + [("y", "n")] * 5 + [("n", "y")] * 10 + [("n", "n")] * 15)
    df = spark.createDataFrame(rows, "a string, b string")
    out = cohen_kappa(df, "a", "b").head()
    po = 35 / 50
    pe = (25 * 30 + 25 * 20) / 2500
    assert out["kappa"] == pytest.approx((po - pe) / (1 - pe), abs=1e-12)
    # perfect agreement → 1
    perf = spark.createDataFrame([("x", "x")] * 5 + [("y", "y")] * 5, "a string, b string")
    assert cohen_kappa(perf, "a", "b").head()["kappa"] == 1.0


def test_stratified_kfold_balance(spark):
    from riptable_spark.operators.pipeline import stratified_kfold

    # rare class with 7 rows, common with 400: every fold must get
    # 1-2 rare rows (⌊7/5⌋..⌈7/5⌉) and 80 common rows
    rows = [(i, "rare") for i in range(7)] + [(100 + i, "common") for i in range(400)]
    df = spark.createDataFrame(rows, "id long, cls string")
    out = stratified_kfold(df, "id", "cls", k=5).collect()
    from collections import Counter

    per = Counter((r["cls"], r["fold"]) for r in out)
    for f in range(5):
        assert per[("rare", f)] in (1, 2)
        assert per[("common", f)] == 80
    # deterministic across reruns
    out2 = stratified_kfold(df, "id", "cls", k=5).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_mcc_known(spark):
    from riptable_spark.functions.stats import mcc

    rows = [(1, 1)] * 6 + [(0, 0)] * 5 + [(0, 1)] * 2 + [(1, 0)] * 1
    df = spark.createDataFrame(rows, "t long, p long")
    out = mcc(df, "t", "p").head()
    import math
    expect = (6 * 5 - 2 * 1) / math.sqrt(8 * 7 * 7 * 6)
    assert out["mcc"] == pytest.approx(expect, abs=1e-12)
    # constant prediction → NULL (zero marginal)
    const = spark.createDataFrame([(1, 1), (0, 1)], "t long, p long")
    assert mcc(const, "t", "p").head()["mcc"] is None


def test_brier_and_ece(spark):
    from riptable_spark.functions.stats import brier_score, expected_calibration_error

    # perfectly calibrated at 2 levels: p=80 with 4/5 positive, p=20 with 1/5
    rows = [(80, 1)] * 4 + [(80, 0)] + [(20, 1)] + [(20, 0)] * 4
    df = spark.createDataFrame(rows, "p long, y long")
    b = brier_score(df, "p", "y").head()
    # Σ(p-100y)²: 4·400 + 6400 + 6400 + 4·400 = 16000 → /10000/10
    assert b["brier"] == pytest.approx(0.16)
    e = expected_calibration_error(df, "p", "y", n_bins=10).collect()
    assert all(r["ece"] == 0.0 for r in e)  # perfectly calibrated
    assert all(r["abs_dev_scaled"] == 0 for r in e)

    # maximally miscalibrated: p=100 always wrong
    bad = spark.createDataFrame([(100, 0)] * 10, "p long, y long")
    eb = expected_calibration_error(bad, "p", "y").head()
    assert eb["ece"] == pytest.approx(1.0)


def test_f1_threshold_curve_matches_sklearnless_reference(spark):
    from riptable_spark.functions.stats import f1_threshold_curve

    rng = np.random.default_rng(12)
    scores = rng.integers(0, 20, 200)
    ys = (scores + rng.integers(-5, 6, 200) > 10).astype(int)
    df = spark.createDataFrame(
        [(int(s), int(y)) for s, y in zip(scores, ys)], "s long, y long"
    )
    out = {r["threshold"]: r for r in f1_threshold_curve(df, "s", "y").collect()}
    P = int(ys.sum())
    for t in sorted(set(int(s) for s in scores)):
        tp = int(((scores >= t) & (ys == 1)).sum())
        fp = int(((scores >= t) & (ys == 0)).sum())
        fn = P - tp
        exp = 2 * tp / (2 * tp + fp + fn) if (2 * tp + fp + fn) else None
        r = out[t]
        assert (r["tp"], r["fp"], r["fn"]) == (tp, fp, fn)
        assert r["f1"] == pytest.approx(exp)


def test_shapley_attribution_efficiency_and_hand(spark):
    from riptable_spark.operators.mining import shapley_attribution

    # users: u1 touched {A}, converts; u2 {A,B}, converts; u3 {B}, no;
    # u4 {C}, converts; u5 {B,C}, converts
    rows = [
        (1, "A", 1), (2, "A", 1), (2, "B", 1), (3, "B", 0),
        (4, "C", 1), (5, "B", 1), (5, "C", 1),
    ]
    df = spark.createDataFrame(rows, "u long, ch string, conv long")
    out = {r["channel"]: r for r in
           shapley_attribution(df, "u", "ch", "conv", ["A", "B", "C"]).collect()}
    # efficiency: Σ shapley == v(ABC) = total converting users = 4
    assert sum(r["shapley"] for r in out.values()) == pytest.approx(4.0)
    # v by subset: {}=0 A=1 B=0 C=1 AB=2 AC=2 BC=2 ABC=4
    # hand Shapley for A: marginals — ∅→A:1(w2) B→AB:2(w1) C→AC:1(w1) BC→ABC:2(w2)
    # = (2·1 + 1·2 + 1·1 + 2·2)/6 = 9/6 = 1.5
    assert out["A"]["shapley"] == pytest.approx(1.5)
    # symmetry check: B and C by the same arithmetic
    assert out["B"]["shapley"] == pytest.approx((2 * 0 + 1 * 1 + 1 * 1 + 2 * 2) / 6)
    assert out["C"]["shapley"] == pytest.approx((2 * 1 + 1 * 1 + 1 * 2 + 2 * 2) / 6)


def test_gini_split_finds_perfect_separator(spark):
    from riptable_spark.functions.stats import gini_split_curve

    # y = 1 iff x > 10: the best split is the largest x ≤ 10
    rows = [(x, 1 if x > 10 else 0) for x in range(21) for _ in range(3)]
    df = spark.createDataFrame(rows, "x long, y long")
    out = gini_split_curve(df, "x", "y").collect()
    best = [r for r in out if r["is_best"]]
    assert len(best) == 1 and best[0]["threshold"] == 10
    assert best[0]["gini_scaled"] == 0.0  # pure children
    # reference check of one interior point: t=5 → left 18 rows all 0
    r5 = {r["threshold"]: r for r in out}[5]
    n_l, pos_l, n_r, pos_r = 18, 0, 45, 30
    gl = 1 - (pos_l / n_l) ** 2 - ((n_l - pos_l) / n_l) ** 2
    gr = 1 - (pos_r / n_r) ** 2 - ((n_r - pos_r) / n_r) ** 2
    assert r5["gini_scaled"] == pytest.approx(n_l * gl + n_r * gr, rel=1e-12)


def test_load_evolved_merges_schema_versions(spark, tmp_path):
    from riptable_spark.sources.io import load_stacked

    v1 = str(tmp_path / "v1")
    v2 = str(tmp_path / "v2")
    spark.createDataFrame([(1, "a")], "id long, name string").write.parquet(v1)
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, name string, score double"
    ).write.parquet(v2)
    out = load_stacked(spark, [v1, v2]).orderBy("id").collect()
    assert [r["id"] for r in out] == [1, 2]
    assert out[0]["score"] is None and out[1]["score"] == 9.5


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

PTS = st.lists(
    st.tuples(st.integers(-3000, 3000), st.integers(-3000, 3000)),
    min_size=2, max_size=40,
)


@given(pts=PTS, r=st.integers(min_value=1, max_value=2000))
@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_grid_neighbor_join_hypothesis(spark, pts, r):
    from itertools import combinations

    from riptable_spark.operators.geo import grid_neighbor_join

    rows = [(i, a, b) for i, (a, b) in enumerate(pts)]
    df = spark.createDataFrame(rows, "id long, la long, lo long")
    got = {(x["id_a"], x["id_b"]) for x in
           grid_neighbor_join(df, "id", "la", "lo", r).collect()}
    expect = {
        (i1, i2)
        for (i1, a1, o1), (i2, a2, o2) in combinations(rows, 2)
        if (a1 - a2) ** 2 + (o1 - o2) ** 2 <= r * r
    }
    assert got == expect


def test_gini_split_categorical_breiman(spark):
    from itertools import combinations

    from riptable_spark.functions.stats import gini_split_categorical

    # 4 categories with distinct rates; check the prefix split found is
    # the true optimum over ALL 2^4 subset splits
    spec = {"a": (30, 2), "b": (20, 10), "c": (25, 20), "d": (10, 9)}
    rows = []
    for c, (n, p) in spec.items():
        rows += [(c, 1)] * p + [(c, 0)] * (n - p)
    df = spark.createDataFrame(rows, "c string, y long")
    out = sorted(gini_split_categorical(df, "c", "y").collect(),
                 key=lambda r: r["rate_rank"])
    best = [r for r in out if r["is_best"]][0]
    left = {r["category"] for r in out if r["rate_rank"] <= best["rate_rank"]}

    def weighted_gini(groups):
        tot = 0.0
        for g in groups:
            n = sum(spec[c][0] for c in g)
            p = sum(spec[c][1] for c in g)
            if n:
                tot += n * (1 - (p / n) ** 2 - ((n - p) / n) ** 2)
        return tot

    cats = list(spec)
    best_any = min(
        weighted_gini([s, [c for c in cats if c not in s]])
        for k in range(1, 4)
        for s in map(list, combinations(cats, k))
    )
    assert best["gini_scaled"] == pytest.approx(best_any, rel=1e-12)
    assert weighted_gini([list(left), [c for c in cats if c not in left]]) == pytest.approx(best_any, rel=1e-12)


def test_time_series_folds_contiguous_and_balanced(spark):
    from riptable_spark.operators.pipeline import time_series_folds

    rows = [(i, 1000 + i) for i in range(121)]
    df = spark.createDataFrame(rows, "id long, t long")
    out = sorted(time_series_folds(df, ["t"], k=5).collect(), key=lambda r: r["t"])
    segs = [r["segment"] for r in out]
    # nondecreasing along time (contiguous slices), spans 0..5
    assert segs == sorted(segs)
    assert set(segs) == set(range(6))
    from collections import Counter

    c = Counter(segs)
    assert max(c.values()) - min(c.values()) <= 1  # balanced within 1
    # leakage-free: every row of segment f is later than all of < f
    bounds = {}
    for r in out:
        bounds.setdefault(r["segment"], []).append(r["t"])
    for f in range(1, 6):
        assert min(bounds[f]) > max(bounds[f - 1])


def test_distribution_distance_known(spark):
    from riptable_spark.functions.stats import distribution_distance

    # shift by a constant c: W1 == c exactly, KS == 1 (disjoint supports)
    a = spark.createDataFrame([(v,) for v in range(10)], "x long")
    b = spark.createDataFrame([(v + 100,) for v in range(10)], "x long")
    out = distribution_distance(a, b, "x").head()
    assert out["w1"] == pytest.approx(100.0)
    assert out["ks"] == 1.0
    # identical samples → both zero
    same = distribution_distance(a, a, "x").head()
    assert same["w1"] == 0.0 and same["ks"] == 0.0


def test_distribution_distance_matches_scipy_free_reference(spark):
    from riptable_spark.functions.stats import distribution_distance

    rng = np.random.default_rng(44)
    xs = [int(v) for v in rng.integers(0, 50, 300)]
    ys = [int(v) for v in rng.integers(10, 70, 200)]
    a = spark.createDataFrame([(v,) for v in xs], "x long")
    b = spark.createDataFrame([(v,) for v in ys], "x long")
    out = distribution_distance(a, b, "x").head()

    # reference: empirical CDFs on the merged support
    support = sorted(set(xs) | set(ys))
    import bisect

    sx, sy = sorted(xs), sorted(ys)
    ks_ref, w1_ref = 0.0, 0.0
    for i, v in enumerate(support):
        fa = bisect.bisect_right(sx, v) / len(xs)
        fb = bisect.bisect_right(sy, v) / len(ys)
        d = abs(fa - fb)
        ks_ref = max(ks_ref, d)
        if i + 1 < len(support):
            w1_ref += d * (support[i + 1] - v)
    assert out["ks"] == pytest.approx(ks_ref, abs=1e-12)
    assert out["w1"] == pytest.approx(w1_ref, abs=1e-9)


def test_quantile_match_shift_and_identity(spark):
    from riptable_spark.functions.stats import quantile_match

    # B = A + 100 with identical shapes → matched(x) == x − 100 exactly
    avals = [1, 3, 3, 7, 9, 9, 9, 12]
    a = spark.createDataFrame([(v,) for v in avals], "x long")
    b = spark.createDataFrame([(v + 100,) for v in avals], "x long")
    out = {r["value"]: r["matched_value"] for r in quantile_match(a, b, "x").collect()}
    assert out == {v + 100: v for v in set(avals)}
    # identity: matching A onto itself is the identity map
    same = {r["value"]: r["matched_value"] for r in quantile_match(a, a, "x").collect()}
    assert same == {v: v for v in set(avals)}


def test_quantile_match_reference_random(spark):
    import bisect

    from riptable_spark.functions.stats import quantile_match

    rng = np.random.default_rng(55)
    xs = sorted(int(v) for v in rng.integers(0, 40, 200))
    ys = [int(v) for v in rng.integers(-20, 60, 150)]
    a = spark.createDataFrame([(v,) for v in xs], "x long")
    b = spark.createDataFrame([(v,) for v in ys], "x long")
    got = {r["value"]: r["matched_value"] for r in quantile_match(a, b, "x").collect()}
    n_a, n_b = len(xs), len(ys)
    sy = sorted(ys)
    support_a = sorted(set(xs))
    cumA = {v: bisect.bisect_right(xs, v) for v in support_a}
    for x in set(ys):
        target = bisect.bisect_right(sy, x) * n_a
        matched = next((v for v in support_a if cumA[v] * n_b >= target), support_a[-1])
        assert got[x] == matched


def test_save_csv_roundtrip(spark, tmp_path):
    from riptable_spark.sources.io import load_csv, save_csv

    df = spark.createDataFrame(
        [(1, "a,b", 2.5), (2, None, -1.0)], "id long, s string, x double"
    )
    p = str(tmp_path / "csv_out")
    save_csv(df, p)
    back = load_csv(spark, p).orderBy("id").collect()
    assert [(r["id"], r["s"], r["x"]) for r in back] == [(1, "a,b", 2.5), (2, None, -1.0)]


def test_spearman_known_and_ties(spark):
    from riptable_spark.functions.stats import spearman_corr

    # perfect monotone (nonlinear) → ρ = 1 exactly
    rows = [(t, t * t * t) for t in range(1, 30)]
    df = spark.createDataFrame(rows, "x long, y long")
    assert spearman_corr(df, "x", "y").head()["spearman"] == 1.0
    # reversed → −1
    rows2 = [(t, -t) for t in range(1, 30)]
    assert spearman_corr(
        spark.createDataFrame(rows2, "x long, y long"), "x", "y"
    ).head()["spearman"] == -1.0
    # ties: compare against a scipy-free reference (average ranks)
    rng = np.random.default_rng(66)
    xs = [int(v) for v in rng.integers(0, 8, 60)]
    ys = [int(v) for v in rng.integers(0, 8, 60)]
    df3 = spark.createDataFrame(list(zip(xs, ys)), "x long, y long")

    def avg_ranks(vals):
        import collections
        c = collections.Counter(vals)
        below = {}
        run = 0
        for v in sorted(c):
            below[v] = run
            run += c[v]
        return [below[v] + (c[v] + 1) / 2 for v in vals]

    ra, rb = avg_ranks(xs), avg_ranks(ys)
    n = len(xs)
    sa, sb = sum(ra), sum(rb)
    num = n * sum(p * q for p, q in zip(ra, rb)) - sa * sb
    da = n * sum(p * p for p in ra) - sa * sa
    db = n * sum(q * q for q in rb) - sb * sb
    expect = num / (da * db) ** 0.5
    got = spearman_corr(df3, "x", "y").head()["spearman"]
    assert got == pytest.approx(expect, abs=1e-12)


def test_bh_fdr_textbook_case(spark):
    from riptable_spark.functions.stats import bh_fdr

    # classic example: m=10, alpha=0.05
    ps = [0.001, 0.008, 0.039, 0.041, 0.042, 0.06, 0.074, 0.205, 0.212, 0.216]
    df = spark.createDataFrame([(p,) for p in ps], "p double")
    out = sorted(bh_fdr(df, "p").collect(), key=lambda r: r["rank"])
    # thresholds k/10·0.05: k*=4? p4=0.041 ≤ 0.020? no... compute:
    # p_k ≤ 0.005k → k=1: .001≤.005 ✓; k=2: .008≤.01 ✓; k=3: .039≤.015 ✗;
    # k=4: .041≤.02 ✗ ... k* = 2 → reject the two smallest
    assert [r["is_rejected"] for r in out] == [True, True] + [False] * 8
    # step-up property: a later k can rescue earlier failures
    ps2 = [0.01, 0.02, 0.029]  # k=3: 0.029 ≤ 0.05 → reject ALL
    df2 = spark.createDataFrame([(p,) for p in ps2], "p double")
    out2 = bh_fdr(df2, "p").collect()
    assert all(r["is_rejected"] for r in out2)


def test_mann_whitney_reference(spark):
    from riptable_spark.functions.stats import mann_whitney_u

    # scipy-free reference on random data with ties
    rng = np.random.default_rng(77)
    xs = [int(v) for v in rng.integers(0, 15, 40)]
    ys = [int(v) for v in rng.integers(3, 18, 55)]
    rows = [("a", v) for v in xs] + [("b", v) for v in ys]
    df = spark.createDataFrame(rows, "g string, v long")
    out = mann_whitney_u(df, "g", "v", "a", "b").head()

    allv = sorted(xs + ys)
    import collections
    cnt = collections.Counter(allv)
    below, run = {}, 0
    for v in sorted(cnt):
        below[v] = run
        run += cnt[v]
    ranks = {v: below[v] + (cnt[v] + 1) / 2 for v in cnt}
    ra = sum(ranks[v] for v in xs)
    na, nb = len(xs), len(ys)
    u = ra - na * (na + 1) / 2
    assert out["u2"] == round(2 * u)
    assert out["cliffs_delta"] == pytest.approx(2 * u / (na * nb) - 1, abs=1e-12)
    nn = na + nb
    ties = sum(t ** 3 - t for t in cnt.values())
    var = na * nb / 12 * ((nn + 1) - ties / (nn * (nn - 1)))
    assert out["z"] == pytest.approx((u - na * nb / 2) / var ** 0.5, abs=1e-10)

    # identical distributions → U == mean, z == 0, delta == 0
    same = spark.createDataFrame(
        [("a", v) for v in range(10)] + [("b", v) for v in range(10)], "g string, v long"
    )
    o2 = mann_whitney_u(same, "g", "v", "a", "b").head()
    assert o2["cliffs_delta"] == 0.0 and o2["z"] == 0.0


def test_kruskal_wallis_reference(spark):
    from riptable_spark.functions.stats import kruskal_wallis

    rng = np.random.default_rng(88)
    groups = {"a": rng.integers(0, 20, 30), "b": rng.integers(5, 25, 40),
              "c": rng.integers(0, 22, 25)}
    rows = [(g, int(v)) for g, vs in groups.items() for v in vs]
    df = spark.createDataFrame(rows, "g string, v long")
    out = kruskal_wallis(df, "g", "v").head()

    import collections
    allv = [v for _, v in rows]
    cnt = collections.Counter(allv)
    below, run = {}, 0
    for v in sorted(cnt):
        below[v] = run
        run += cnt[v]
    rank = {v: below[v] + (cnt[v] + 1) / 2 for v in cnt}
    n = len(allv)
    h = 12 / (n * (n + 1)) * sum(
        sum(rank[int(v)] for v in vs) ** 2 / len(vs) for vs in groups.values()
    ) - 3 * (n + 1)
    ties = sum(t ** 3 - t for t in cnt.values())
    h /= 1 - ties / (n ** 3 - n)
    assert out["h"] == pytest.approx(h, abs=1e-10)
    # identical groups → H ≈ 0
    same = spark.createDataFrame(
        [(g, v) for g in "ab" for v in range(15)], "g string, v long"
    )
    assert abs(kruskal_wallis(same, "g", "v").head()["h"]) < 1e-9


def test_kendall_tau_b_reference(spark):
    from itertools import combinations

    from riptable_spark.functions.stats import kendall_tau_b

    rng = np.random.default_rng(99)
    xs = [int(v) for v in rng.integers(0, 10, 70)]
    ys = [int(v) for v in rng.integers(0, 10, 70)]
    df = spark.createDataFrame(list(zip(xs, ys)), "x long, y long")
    out = kendall_tau_b(df, "x", "y").head()

    C = D = tx = ty = 0
    for (x1, y1), (x2, y2) in combinations(zip(xs, ys), 2):
        if x1 == x2 and y1 == y2:
            tx += 1; ty += 1
        elif x1 == x2:
            tx += 1
        elif y1 == y2:
            ty += 1
        elif (x2 - x1) * (y2 - y1) > 0:
            C += 1
        else:
            D += 1
    n = len(xs)
    n0 = n * (n - 1) / 2
    expect = (C - D) / ((n0 - tx) * (n0 - ty)) ** 0.5
    assert out["concordant"] == C and out["discordant"] == D
    assert out["tau_b"] == pytest.approx(expect, abs=1e-12)
    # perfect monotone → 1
    mono = spark.createDataFrame([(t, 2 * t) for t in range(25)], "x long, y long")
    assert kendall_tau_b(mono, "x", "y").head()["tau_b"] == pytest.approx(1.0)


def test_effect_size_known(spark):
    from riptable_spark.functions.stats import effect_size

    # group a: mean 10, group b: mean 7; pooled sd from known data
    av = [8, 10, 12, 10]
    bv = [6, 7, 8, 7]
    rows = [("a", v) for v in av] + [("b", v) for v in bv]
    df = spark.createDataFrame(rows, "g string, v long")
    out = effect_size(df, "g", "v", "a", "b").head()
    ma, mb = sum(av) / 4, sum(bv) / 4
    ssa = sum((v - ma) ** 2 for v in av)
    ssb = sum((v - mb) ** 2 for v in bv)
    sp = ((ssa + ssb) / 6) ** 0.5
    d = (ma - mb) / sp
    assert out["cohens_d"] == pytest.approx(d, abs=1e-12)
    assert out["hedges_g"] == pytest.approx(d * (1 - 3 / (4 * 8 - 9)), abs=1e-12)


def test_anova_oneway_reference(spark):
    from riptable_spark.functions.stats import anova_oneway

    rng = np.random.default_rng(111)
    groups = {"a": rng.integers(0, 30, 25), "b": rng.integers(10, 40, 35),
              "c": rng.integers(5, 35, 30)}
    rows = [(g, int(v)) for g, vs in groups.items() for v in vs]
    df = spark.createDataFrame(rows, "g string, v long")
    out = anova_oneway(df, "g", "v").head()
    allv = [v for _, v in rows]
    n, k = len(allv), 3
    gm = sum(allv) / n
    ssb = sum(len(vs) * (sum(int(x) for x in vs) / len(vs) - gm) ** 2 for vs in groups.values())
    ssw = sum(sum((int(x) - sum(int(y) for y in vs) / len(vs)) ** 2 for x in vs) for vs in groups.values())
    f = (ssb / (k - 1)) / (ssw / (n - k))
    assert out["ss_between"] == pytest.approx(ssb, rel=1e-12)
    assert out["ss_within"] == pytest.approx(ssw, rel=1e-12)
    assert out["f"] == pytest.approx(f, rel=1e-12)


def test_levene_bf_detects_unequal_spread(spark):
    from riptable_spark.functions.stats import levene_bf

    rng = np.random.default_rng(5)
    tight = [("t", int(v)) for v in rng.integers(99, 102, 60)]
    wide = [("w", int(v)) for v in rng.integers(0, 200, 60)]
    f_diff = levene_bf(spark.createDataFrame(tight + wide, "g string, v long"),
                       "g", "v").head()["f"]
    same = [("a", int(v)) for v in rng.integers(0, 50, 60)] + \
           [("b", int(v)) for v in rng.integers(0, 50, 60)]
    f_same = levene_bf(spark.createDataFrame(same, "g string, v long"),
                       "g", "v").head()["f"]
    assert f_diff > 50        # wildly unequal spreads
    assert f_same < 5         # similar spreads


def test_mcnemar_hand(spark):
    from riptable_spark.functions.stats import mcnemar

    # both=40, a_only=12, b_only=4, neither=10 → χ²cc = (|12−4|−1)²/16
    rows = ([(1, 1)] * 40 + [(1, 0)] * 12 + [(0, 1)] * 4 + [(0, 0)] * 10)
    df = spark.createDataFrame(rows, "a long, b long")
    out = mcnemar(df, "a", "b").head()
    assert (out["both"], out["a_only"], out["b_only"], out["neither"]) == (40, 12, 4, 10)
    assert out["chi2_cc"] == pytest.approx(49 / 16)
    # no discordant pairs → NULL
    agree = spark.createDataFrame([(1, 1), (0, 0)], "a long, b long")
    assert mcnemar(agree, "a", "b").head()["chi2_cc"] is None


def test_durbin_watson_patterns(spark):
    from riptable_spark.functions.stats import durbin_watson

    # alternating residuals → d near 4; constant-sign random → smaller
    alt = [("k", t, (-1) ** t * 10) for t in range(50)]
    df = spark.createDataFrame(alt, "k string, t long, e long")
    d_alt = durbin_watson(df, ["k"], "e", ["t"]).head()["dw"]
    assert d_alt > 3.8
    rng = np.random.default_rng(3)
    iid = [("k", t, int(v)) for t, v in enumerate(rng.integers(-20, 21, 400))]
    d_iid = durbin_watson(spark.createDataFrame(iid, "k string, t long, e long"),
                          ["k"], "e", ["t"]).head()["dw"]
    assert 1.6 < d_iid < 2.4
    # exact check on a tiny case
    e = [3, 1, 4]
    tiny = spark.createDataFrame([("k", t, v) for t, v in enumerate(e)], "k string, t long, e long")
    out = durbin_watson(tiny, ["k"], "e", ["t"]).head()
    assert out["dw"] == pytest.approx(((1 - 3) ** 2 + (4 - 1) ** 2) / (9 + 1 + 16))


def test_wac_pnl_blocked_equals_scan_two_widths(spark):
    """Round-4 giant-key guard: the sequential seed-carry blocked path
    must reproduce the one-shot Arrow scan bit-for-bit at two block
    widths that straddle block boundaries differently (7 and 17 do not
    divide the 60-fill stream, so every seed handoff shape occurs,
    including mid-flip states)."""
    from riptable_spark.operators.finance import wac_pnl

    rng = np.random.default_rng(7)
    n, keys = 60, ["a", "b", "c"]
    rows = [
        (k, t, int(rng.choice([1, -1])), float(rng.integers(5, 30)),
         int(rng.integers(1, 5)))
        for k in keys for t in range(n)
    ]
    df = spark.createDataFrame(rows, "k string, t long, s int, price double, q long")
    plain = {
        (r["k"], r["t"]): (r["realized_cents"], r["position_after"])
        for r in wac_pnl(df, "k", ["t"], "s", "price", "q").collect()
    }
    for width in (7, 17):
        blocked = {
            (r["k"], r["t"]): (r["realized_cents"], r["position_after"])
            for r in wac_pnl(
                df, "k", ["t"], "s", "price", "q",
                method="blocked", block_rows=width,
            ).collect()
        }
        assert blocked == plain, f"block_rows={width} diverged"


def test_wac_and_fifo_giant_key_guard_raises(spark):
    """Keys above max_rows_per_key must fail LOUDLY (a clear ValueError
    naming the key and the remedy), never OOM silently."""
    from riptable_spark.operators.finance import fifo_pnl, lob_match, wac_pnl

    rows = [("u", t, 1 if t % 2 == 0 else -1, 10.0, 1) for t in range(50)]
    df = spark.createDataFrame(rows, "k string, t long, s int, price double, q long")
    for op in (wac_pnl, fifo_pnl):
        with pytest.raises(Exception, match="max_rows_per_key"):
            op(df, "k", ["t"], "s", "price", "q", max_rows_per_key=10).collect()
    orders = [
        ("s", t, "B" if t % 2 == 0 else "S", 100 + t % 3, 1, t) for t in range(50)
    ]
    odf = spark.createDataFrame(orders, "sym string, t long, side string, px long, q long, oid long")
    with pytest.raises(Exception, match="max_rows_per_key"):
        lob_match(odf, "sym", ["t"], "side", "px", "q", "oid", max_rows_per_key=10).collect()
