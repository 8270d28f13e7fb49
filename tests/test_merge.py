"""merge2 / merge_lookup / merge_asof semantics, mirroring the reference's
test scenarios (riptable/tests/test_merge.py, test_merge_asof.py:56-494:
backward/forward/nearest × exact/noexact × grouped)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from riptable_spark.operators import merge


def make(spark, rows, cols):
    return spark.createDataFrame(rows, cols)


def test_merge2_inner_basic(spark):
    l = make(spark, [(1, "a"), (2, "b"), (3, "c")], ["k", "lv"])
    r = make(spark, [(2, 20.0), (3, 30.0), (4, 40.0)], ["k", "rv"])
    out = merge.merge2(l, r, on="k", how="inner").orderBy("k").collect()
    assert [(row.k, row.lv, row.rv) for row in out] == [(2, "b", 20.0), (3, "c", 30.0)]


def test_merge2_left_and_outer(spark):
    l = make(spark, [(1, "a"), (2, "b")], ["k", "lv"])
    r = make(spark, [(2, 20.0), (4, 40.0)], ["k", "rv"])
    left = merge.merge2(l, r, on="k", how="left").orderBy("k").collect()
    assert [(row.k, row.rv) for row in left] == [(1, None), (2, 20.0)]
    outer = merge.merge2(l, r, on="k", how="outer").orderBy("k").collect()
    assert [(row.k) for row in outer] == [1, 2, 4]


def test_merge2_null_keys_never_match(spark):
    """rt_merge.py:2320: invalid (null) keys are not equal keys."""
    l = make(spark, [(None, "a"), (1, "b")], ["k", "lv"])
    r = make(spark, [(None, 1.0), (1, 2.0)], ["k", "rv"])
    out = merge.merge2(l, r, on="k", how="inner").collect()
    assert len(out) == 1 and out[0].k == 1


def test_merge2_suffixes(spark):
    l = make(spark, [(1, 10.0)], ["k", "v"])
    r = make(spark, [(1, 99.0)], ["k", "v"])
    out = merge.merge2(l, r, on="k", how="inner", suffixes=("_l", "_r"))
    assert set(out.columns) == {"k", "v_l", "v_r"}


def test_merge2_indicator(spark):
    l = make(spark, [(1,), (2,)], ["k"])
    r = make(spark, [(2,), (3,)], ["k"])
    out = merge.merge2(l, r, on="k", how="outer", indicator=True)
    got = {row.k: row.merge_indicator for row in out.collect()}
    assert got == {1: "left_only", 2: "both", 3: "right_only"}


def test_merge2_validate_raises(spark):
    l = make(spark, [(1,), (1,)], ["k"])
    r = make(spark, [(1, 5.0)], ["k", "rv"])
    with pytest.raises(ValueError, match="not unique"):
        merge.merge2(l, r, on="k", how="left", validate="1:1")
    # m:1 passes — right side is unique
    assert merge.merge2(l, r, on="k", how="left", validate="m:1").count() == 2


def test_merge2_keep_last(spark):
    l = make(spark, [(1, "x")], ["k", "lv"])
    r = make(spark, [(1, 1, 10.0), (1, 2, 20.0)], ["k", "seq", "rv"])
    out = merge.merge2(l, r, on="k", how="left", keep=(None, "last"), right_order_col="seq").collect()
    assert len(out) == 1 and out[0].rv == 20.0


def test_merge_lookup_require_match(spark):
    l = make(spark, [(1,), (9,)], ["k"])
    r = make(spark, [(1, "one")], ["k", "name"])
    with pytest.raises(ValueError, match="unmatched"):
        merge.merge_lookup(l, r, on="k", require_match=True)


def test_semi_anti(spark):
    l = make(spark, [(1,), (2,), (3,)], ["k"])
    r = make(spark, [(2,), (2,), (3,)], ["k"])
    assert sorted(row.k for row in merge.semi_join(l, r, "k").collect()) == [2, 3]
    assert [row.k for row in merge.anti_join(l, r, "k").collect()] == [1]


# ---------------------------------------------------------------- asof
@pytest.fixture(scope="module")
def trades_quotes(spark):
    trades = spark.createDataFrame(
        [("A", 3, "t1"), ("A", 7, "t2"), ("B", 5, "t3"), ("B", 1, "t4")],
        ["sym", "t", "tid"],
    )
    quotes = spark.createDataFrame(
        [("A", 1, 10.0), ("A", 3, 11.0), ("A", 6, 12.0), ("B", 4, 20.0), ("B", 8, 21.0)],
        ["sym", "t", "px"],
    )
    return trades, quotes


def test_asof_backward_exact(spark, trades_quotes):
    trades, quotes = trades_quotes
    out = {r.tid: r.px for r in merge.merge_asof(trades, quotes, on="t", by="sym").collect()}
    assert out == {"t1": 11.0, "t2": 12.0, "t3": 20.0, "t4": None}


def test_asof_backward_noexact(spark, trades_quotes):
    trades, quotes = trades_quotes
    out = {
        r.tid: r.px
        for r in merge.merge_asof(
            trades, quotes, on="t", by="sym", allow_exact_matches=False
        ).collect()
    }
    assert out == {"t1": 10.0, "t2": 12.0, "t3": 20.0, "t4": None}


def test_asof_forward(spark, trades_quotes):
    trades, quotes = trades_quotes
    out = {
        r.tid: r.px
        for r in merge.merge_asof(trades, quotes, on="t", by="sym", direction="forward").collect()
    }
    assert out == {"t1": 11.0, "t2": None, "t3": 21.0, "t4": 20.0}


def test_asof_nearest(spark, trades_quotes):
    trades, quotes = trades_quotes
    out = {
        r.tid: r.px
        for r in merge.merge_asof(trades, quotes, on="t", by="sym", direction="nearest").collect()
    }
    # t1: t=3 exact backward 11.0; t2: t=7 back 12.0 (d1) vs none fwd... A fwd none -> 12.0
    # t3: t=5 back 20.0 (d1) vs fwd 21.0 (d3) -> 20.0; t4: t=1 back none -> fwd 20.0
    assert out == {"t1": 11.0, "t2": 12.0, "t3": 20.0, "t4": 20.0}


def test_asof_tolerance(spark, trades_quotes):
    trades, quotes = trades_quotes
    out = {
        r.tid: r.px
        for r in merge.merge_asof(trades, quotes, on="t", by="sym", tolerance=1).collect()
    }
    # backward within distance 1: t1 (d0) ok, t2 (d1) ok, t3 (d1) ok, t4 none
    assert out == {"t1": 11.0, "t2": 12.0, "t3": 20.0, "t4": None}


def test_asof_matched_on(spark, trades_quotes):
    trades, quotes = trades_quotes
    out = {
        r.tid: r.matched_t
        for r in merge.merge_asof(
            trades, quotes, on="t", by="sym", matched_on="matched_t"
        ).collect()
    }
    assert out == {"t1": 3, "t2": 6, "t3": 4, "t4": None}


# --- regression tests for review findings -----------------------------
def test_asof_tolerance_preserves_left_suffixed_columns(spark):
    """tolerance= must mask only RIGHT-side columns, never the left's own
    suffixed payload."""
    from riptable_spark.operators.merge import merge_asof

    left = spark.createDataFrame([(1, 10, 100.0)], "user_id int, ts int, value double")
    right = spark.createDataFrame([(1, 1, 5.0)], "user_id int, ts int, value double")
    out = merge_asof(left, right, on="ts", by="user_id", direction="backward", tolerance=2).first()
    assert out["value_x"] == 100.0        # left payload intact
    assert out["value_y"] is None         # match at distance 9 > tolerance 2


def test_asof_nearest_with_shared_payload_column(spark):
    from riptable_spark.operators.merge import merge_asof

    left = spark.createDataFrame([(1, 10, 1.0), (1, 30, 2.0)], "user_id int, ts int, value double")
    right = spark.createDataFrame([(1, 12, 7.0), (1, 29, 8.0)], "user_id int, ts int, value double")
    rows = {r["ts"]: r["value_y"] for r in merge_asof(
        left, right, on="ts", by="user_id", direction="nearest"
    ).collect()}
    assert rows == {10: 7.0, 30: 8.0}


def test_merge2_key_collides_with_other_side_payload(spark):
    from riptable_spark.operators.merge import merge2

    left = spark.createDataFrame([(1, "l")], "id int, lv string")
    right = spark.createDataFrame([(1, 99, "r")], "rid int, id int, rv string")
    out = merge2(left, right, left_on="id", right_on="rid", how="inner").first()
    assert out["id_x"] == 1 and out["id_y"] == 99 and out["rv"] == "r"


def test_merge_lookup_require_match_with_null_payload(spark):
    from riptable_spark.operators.merge import merge_lookup

    left = spark.createDataFrame([(1,), (2,)], "k int")
    right = spark.createDataFrame([(1, None), (2, 5.0)], "k int, v double")
    # all left rows match; a NULL payload value must NOT raise
    out = merge_lookup(left, right, on="k", require_match=True)
    assert out.count() == 2
    import pytest as _pytest

    right2 = spark.createDataFrame([(1, 1.0)], "k int, v double")
    with _pytest.raises(ValueError, match="unmatched"):
        merge_lookup(left, right2, on="k", require_match=True)


def test_asof_nearest_preserves_null_payload_rows(spark):
    """nearest must keep left rows whose payload contains NULLs (the
    halves re-join on row id, not on every column)."""
    from riptable_spark.operators.merge import merge_asof

    left = spark.createDataFrame([(1, 10, None), (1, 30, 2.0)], "g int, ts int, lv double")
    right = spark.createDataFrame([(1, 12, 7.0)], "g int, ts int, rv double")
    out = merge_asof(left, right, on="ts", by="g", direction="nearest").collect()
    assert len(out) == 2
    assert {r["ts"]: r["rv"] for r in out} == {10: 7.0, 30: 7.0}


def test_asof_nearest_tolerance_per_direction(spark):
    """An out-of-tolerance nearer match must not shadow an in-tolerance
    farther match on the other side (pandas merge_asof semantics)."""
    from riptable_spark.operators.merge import merge_asof

    left = spark.createDataFrame([(1, 1000)], "g int, ts int")
    right = spark.createDataFrame([(1, 500, 1.0), (1, 1450, 2.0)], "g int, ts int, v double")
    # backward at distance 500 (nearer), forward at 450 — with tol 460 only forward qualifies
    got = merge_asof(
        left, right, on="ts", by="g", direction="nearest", tolerance=460
    ).first()
    assert got["v"] == 2.0


def test_asof_null_keys_never_match(spark):
    """Invalid (NULL) `on` keys never match in any direction — the
    rt_merge.py contract. NULL-key right rows contribute nothing; NULL-key
    left rows get no match (ADVICE r1: desc ordering previously let them
    absorb the carry)."""
    left = spark.createDataFrame(
        [("g", 5, "l_ok"), ("g", None, "l_null")],
        "g string, t int, lid string",
    )
    right = spark.createDataFrame(
        [("g", 3, 1.0), ("g", None, 99.0), ("g", 7, 2.0)],
        "g string, t int, px double",
    )
    for direction, want_ok in [("backward", 1.0), ("forward", 2.0), ("nearest", 1.0)]:
        out = {
            r.lid: r.px
            for r in merge.merge_asof(
                left, right, on="t", by="g", direction=direction
            ).collect()
        }
        assert out["l_null"] is None, direction
        assert out["l_ok"] == want_ok, direction


def test_range_join_bucketized_matches_naive(spark):
    """Bucketized range_join == naive non-equi join on overlapping
    intervals, boundary-exclusive ends, several bucket widths, and the
    left-outer form; by-key partitioning respected."""
    from pyspark.sql import functions as F

    from riptable_spark.operators import merge as mg

    pts = spark.createDataFrame(
        [(i, "g" if i % 2 == 0 else "h", float(i * 3 % 50)) for i in range(60)], "pid long, k string, p double"
    )
    ivs = spark.createDataFrame(
        [(j, "g" if j % 2 == 0 else "h", float(j * 7 % 40), float(j * 7 % 40 + 12)) for j in range(20)],
        "iid long, k string, lo double, hi double",
    )
    naive = {
        (r.pid, r.iid)
        for r in mg.range_join(pts, ivs.withColumnRenamed("k", "k2"), "p", "lo", "hi").where(
            F.col("k") == F.col("k2")
        ).collect()
    }
    for width in (1.0, 5.0, 12.0, 100.0):
        got = {
            (r.pid, r.iid)
            for r in mg.range_join(pts, ivs, "p", "lo", "hi", by=["k"], bucket_width=width).collect()
        }
        assert got == naive, width
    # boundary exclusivity: p == hi never matches, p == lo does
    b_pts = spark.createDataFrame([(1, 10.0), (2, 22.0)], "pid long, p double")
    b_ivs = spark.createDataFrame([(9, 10.0, 22.0)], "iid long, lo double, hi double")
    got = {(r.pid, r.iid) for r in mg.range_join(b_pts, b_ivs, "p", "lo", "hi", bucket_width=4.0).collect()}
    assert got == {(1, 9)}
    # left-outer keeps unmatched points with NULL interval
    lo = mg.range_join(b_pts, b_ivs, "p", "lo", "hi", how="left", bucket_width=4.0)
    rows = {r.pid: r.iid for r in lo.collect()}
    assert rows == {1: 9, 2: None}


def test_range_join_bucketized_is_equi_join(spark):
    from riptable_spark.operators import merge as mg
    from riptable_spark.plans import inspect as pi

    pts = spark.range(100).select(F.col("id").alias("pid"), (F.col("id") % 37).cast("double").alias("p"))
    ivs = spark.range(10).select(
        F.col("id").alias("iid"), (F.col("id") * 4).cast("double").alias("lo"), (F.col("id") * 4 + 9).cast("double").alias("hi")
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = pi.plan_string(mg.range_join(pts, ivs, "p", "lo", "hi", bucket_width=8.0))
        assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
        assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_interval_overlap_join_matches_naive(spark):
    from riptable_spark.operators import merge as mg

    a = spark.createDataFrame(
        [(i, float(i * 5 % 60), float(i * 5 % 60 + (i % 4) * 7 + 1)) for i in range(40)],
        "aid long, als double, ale double",
    )
    b = spark.createDataFrame(
        [(j, float(j * 9 % 55), float(j * 9 % 55 + 11)) for j in range(15)],
        "bid long, bls double, ble double",
    )
    naive = {(r.aid, r.bid) for r in mg.interval_overlap_join(a, b, "als", "ale", "bls", "ble").collect()}
    assert naive  # non-trivial fixture
    for width in (2.0, 7.0, 30.0, 200.0):
        got = {
            (r.aid, r.bid)
            for r in mg.interval_overlap_join(a, b, "als", "ale", "bls", "ble", bucket_width=width).collect()
        }
        assert got == naive, width
    # half-open semantics: touching intervals do not overlap
    t1 = spark.createDataFrame([(1, 0.0, 10.0)], "aid long, als double, ale double")
    t2 = spark.createDataFrame([(2, 10.0, 20.0)], "bid long, bls double, ble double")
    assert mg.interval_overlap_join(t1, t2, "als", "ale", "bls", "ble", bucket_width=4.0).count() == 0


def test_triangle_count_brute_force_parity(spark):
    """triangle_count vs an adjacency-set brute force on a random small
    graph; degree_stats column sums to 2·|E|."""
    from pyspark.sql import functions as F

    from riptable_spark.operators.graph import degree_stats, triangle_count

    df = spark.range(0, 300).select(
        (F.xxhash64("id") % 20).alias("src"),
        (F.xxhash64("id", F.lit(1)) % 20).alias("dst"),
    ).select(F.abs("src").alias("src"), F.abs("dst").alias("dst"))
    edges = {(min(r.src, r.dst), max(r.src, r.dst)) for r in df.collect() if r.src != r.dst}
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    expected = sum(len(adj[a] & adj[b]) for a, b in edges) // 3
    assert triangle_count(df).first().n_triangles == expected
    assert expected > 0  # the random graph is dense enough to be non-trivial
    degs = degree_stats(df).collect()
    assert sum(r.degree for r in degs) == 2 * len(edges)
