"""Hand-computed semantics for corr_matrix, basket_pairs,
check_constraints, and lee_ready."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from riptable_spark.functions.stats import corr_matrix
from riptable_spark.operators import finance
from riptable_spark.operators.mining import basket_pairs
from riptable_spark.operators.profile import check_constraints


def test_corr_matrix_matches_numpy(spark):
    rng = np.random.default_rng(7)
    x = np.round(rng.normal(10, 2, 200), 2)
    y = np.round(x * 0.5 + rng.normal(0, 1, 200), 2)
    z = np.round(rng.normal(0, 1, 200), 2)
    df = spark.createDataFrame(
        [(float(a), float(b), float(c)) for a, b, c in zip(x, y, z)], "x double, y double, z double"
    )
    out = corr_matrix(df, ["x", "y", "z"], scales={"x": 100, "y": 100, "z": 100})
    got = {(r["col_x"], r["col_y"]): r["corr"] for r in out.collect()}
    # numpy corrcoef on the SCALED ints (the operator's exact inputs)
    xi, yi, zi = (np.round(v * 100) for v in (x, y, z))
    assert got[("x", "y")] == pytest.approx(np.corrcoef(xi, yi)[0, 1], abs=1e-12)
    assert got[("x", "z")] == pytest.approx(np.corrcoef(xi, zi)[0, 1], abs=1e-12)
    assert got[("y", "z")] == pytest.approx(np.corrcoef(yi, zi)[0, 1], abs=1e-12)
    assert all(r["n"] == 200 for r in out.collect())


def test_corr_matrix_drops_incomplete_rows(spark):
    df = spark.createDataFrame(
        [(1.0, 2.0), (2.0, 4.0), (3.0, None), (4.0, 8.0)], "x double, y double"
    )
    out = corr_matrix(df, ["x", "y"]).collect()[0]
    assert out["n"] == 3
    assert out["corr"] == pytest.approx(1.0, abs=1e-12)  # y = 2x on complete rows


def test_basket_pairs_hand(spark):
    # baskets: 1:{a,b,c} 2:{a,b} 3:{a,c} 4:{b} ⇒ ab=2, ac=2, bc=1
    rows = [(1, "a"), (1, "b"), (1, "c"), (2, "a"), (2, "b"), (3, "a"), (3, "c"), (4, "b"), (4, "b")]
    df = spark.createDataFrame(rows, "b int, i string")
    out = basket_pairs(df, "b", "i", min_count=2)
    got = {(r["item_a"], r["item_b"]): (r["n_ab"], r["n_a"], r["n_b"], r["n_baskets"], r["lift"]) for r in out.collect()}
    assert got[("a", "b")] == (2, 3, 3, 4, 2 * 4 / (3 * 3))
    assert got[("a", "c")] == (2, 3, 2, 4, 2 * 4 / (3 * 2))
    assert ("b", "c") not in got  # below min_count


def test_basket_pairs_max_basket_cap(spark):
    rows = [(1, str(i)) for i in range(20)] + [(2, "0"), (2, "1"), (3, "0"), (3, "1")]
    df = spark.createDataFrame(rows, "b int, i string")
    out = basket_pairs(df, "b", "i", min_count=2, max_basket=5)
    got = {(r["item_a"], r["item_b"]): r["n_ab"] for r in out.collect()}
    # mega-basket 1 dropped entirely: pair (0,1) counted only in baskets 2,3
    assert got == {("0", "1"): 2}


def test_check_constraints_hand(spark):
    df = spark.createDataFrame(
        [(1, "x1", 5.0), (2, None, -1.0), (2, "bad", 50.0), (4, "x9", 200.0)],
        "id int, code string, v double",
    )
    dim = spark.createDataFrame([(1,), (2,)], "k int")
    out = check_constraints(
        df,
        not_null=["code"],
        ranges={"v": (0.0, 100.0)},
        regex={"code": "^x[0-9]$"},
        unique=["id"],
        fk={"id": (dim, "k")},
    )
    got = {r["rule"]: r["violations"] for r in out.collect()}
    assert got == {
        "not_null(code)": 1,
        "range(v)": 2,  # -1 and 200
        "regex(code)": 1,  # 'bad' (NULL not counted)
        "unique(id)": 1,  # id=2 twice
        "fk(id)": 1,  # id=4 has no dim row
    }


def test_lee_ready_hand(spark):
    # quotes (mid): t=0→10, t=10→20; trades: t=1 @12 (buy: 12>10),
    # t=2 @8 (sell: 8<10), t=11 @20 (at mid ⇒ tick: last change 8→20 up ⇒ +1),
    # t=12 @20 (at mid ⇒ dp=0 ⇒ carry +1)
    trades = spark.createDataFrame(
        [("u", 1, 1, 12.0), ("u", 2, 2, 8.0), ("u", 11, 3, 20.0), ("u", 12, 4, 20.0)],
        "user_id string, ts int, event_id int, value double",
    )
    quotes = spark.createDataFrame(
        [("u", 0, 10.0), ("u", 10, 20.0)], "user_id string, ts int, qv double"
    )
    out = finance.lee_ready(
        trades, quotes, by="user_id", on="ts", trade_price="value", quote_mid="qv",
        order=["ts", "event_id"],
    )
    got = {r["event_id"]: (r["side"], r["mid_price"]) for r in out.collect()}
    assert got == {1: (1, 10.0), 2: (-1, 10.0), 3: (1, 20.0), 4: (1, 20.0)}


def test_lee_ready_no_quote_falls_back_to_tick(spark):
    trades = spark.createDataFrame(
        [("u", 1, 1, 10.0), ("u", 2, 2, 9.0)],
        "user_id string, ts int, event_id int, value double",
    )
    quotes = spark.createDataFrame([], "user_id string, ts int, qv double")
    out = finance.lee_ready(
        trades, quotes, by="user_id", on="ts", trade_price="value", quote_mid="qv",
        order=["ts", "event_id"],
    )
    got = {r["event_id"]: r["side"] for r in out.collect()}
    assert got == {1: 0, 2: -1}  # first trade: no mid, no tick ⇒ 0; then downtick


def test_triangle_count_hand(spark):
    from riptable_spark.operators.graph import triangle_count

    # K4 on {1,2,3,4} has 4 triangles and 6 edges; plus a dangling edge 4-9
    edges = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)] + [(4, 9)]
    df = spark.createDataFrame(edges, "item_a int, item_b int")
    r = triangle_count(df, "item_a", "item_b").collect()[0]
    assert (r["n_edges"], r["n_triangles"]) == (7, 4)


def test_triangle_count_canonicalizes_orientation(spark):
    from riptable_spark.operators.graph import triangle_count

    # same triangle given with mixed orientation + a duplicate + self-loop
    df = spark.createDataFrame(
        [(2, 1), (2, 3), (1, 3), (3, 1), (5, 5)], "item_a int, item_b int"
    )
    r = triangle_count(df, "item_a", "item_b").collect()[0]
    assert (r["n_edges"], r["n_triangles"]) == (3, 1)


def test_top_terms_ranking_and_ties(spark):
    from riptable_spark.operators.retrieval import top_terms

    docs = spark.createDataFrame(
        [
            (1, "apple apple banana banana cherry"),
            (2, "banana banana banana date date"),
            (3, "apple cherry"),
        ],
        "doc_id int, text string",
    )
    out = top_terms(docs, k=2, min_tf=2)
    got = {(r["doc_id"], r["rank"]): (r["term"], r["score_key"]) for r in out.collect()}
    # doc 1: apple tf=2 df=2 → 1e6; banana tf=2 df=2 → 1e6 (tie → 'apple' first)
    assert got[(1, 1)][0] == "apple" and got[(1, 2)][0] == "banana"
    # doc 2: date tf=2 df=1 → 2e6 beats banana tf=3 df=2 → 1.5e6
    assert got[(2, 1)] == ("date", 2_000_000)
    assert got[(2, 2)] == ("banana", 1_500_000)
    assert (3, 1) not in got  # no term reaches min_tf in doc 3


def test_trade_flow_stats_hand(spark):
    from riptable_spark.operators import finance

    # classified trades for one key: sides +1,-1,+1; prices 10,8,12; mid 9 for all
    classified = spark.createDataFrame(
        [("u", 1, 10.0, 9.0, 1), ("u", 2, 8.0, 9.0, -1), ("u", 3, 12.0, 9.0, 1)],
        "user_id string, ts int, value double, qv double, side int",
    )
    r = finance.trade_flow_stats(classified, "user_id", ["ts"], "value", "qv").collect()[0]
    assert (r["n_trades"], r["n_buys"], r["n_sells"]) == (3, 2, 1)
    # eff spread: 2*(100+100+300)/3/100
    assert r["eff_spread"] == 2 * (100 + 100 + 300) / 3 / 100
    # lambda: points (x=side*p, y=dp): (-800,-200), (1200,400) → slope 0.3
    assert r["kyle_lambda"] == pytest.approx(0.3, abs=1e-12)
