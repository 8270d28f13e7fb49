"""Batch-23 (round-3 session 11 close): graph semiring kernels, CPM,
stable matching — textbook hand cases the oracles can't pin (they
replay the same algorithm; these pin the MATH)."""

import math

from pyspark.sql import functions as F


def _doubling_distances(spark, edges, rounds=5):
    """Reference-free mini driver for the min-plus doubling used by
    q601/q602/q604: returns {(u, v): d} over the symmetrized graph."""
    e = spark.createDataFrame(edges, "u long, v long")
    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct()
    cur = sym.select("u", "v", F.lit(1).alias("d"))
    for _ in range(rounds):
        right = cur.select(F.col("u").alias("m"), F.col("v").alias("w"), F.col("d").alias("d2"))
        step = (
            cur.join(right, cur["v"] == right["m"])
            .where(F.col("u") != F.col("w"))
            .select("u", F.col("w").alias("v"), (F.col("d") + F.col("d2")).alias("d"))
        )
        cur = cur.unionByName(step).groupBy("u", "v").agg(F.min("d").alias("d"))
    return {(r.u, r.v): r.d for r in cur.collect()}


def test_minplus_doubling_path_graph(spark):
    # path 1-2-3-4-5: d(1,5)=4, d(2,4)=2
    d = _doubling_distances(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    assert d[(1, 5)] == 4 and d[(2, 4)] == 2 and d[(1, 2)] == 1


def test_minplus_doubling_shortcut_wins(spark):
    # ring 1-2-3-4-5-6-1: opposite nodes at distance 3, neighbors 1
    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 1)]
    d = _doubling_distances(spark, edges)
    assert d[(1, 4)] == 3 and d[(2, 6)] == 2


def test_scc_directed_cycle_vs_chain(spark):
    from riptable_spark.operators.graph import scc_components

    # directed 4-cycle is one SCC; a 3-chain is three singletons
    edges = [(1, 2), (2, 3), (3, 4), (4, 1), (10, 11), (11, 12)]
    got = {r.node: r.component for r in scc_components(
        spark.createDataFrame(edges, "src long, dst long")).collect()}
    assert got[1] == got[2] == got[3] == got[4] == 1
    assert len({got[10], got[11], got[12]}) == 3


def test_gale_shapley_textbook_2x2(spark):
    # classic: w0 prefers f0, w1 prefers f0 too; f0 prefers w1.
    # After round 1: both propose to f0, f0 keeps w1; w0 unmatched.
    # Round 2: w0 proposes to f1 -> stable matching {w0-f1, w1-f0}.
    # Emulate with explicit preference relations through the same logic
    # the operator uses (hash prefs preclude a fixed textbook case, so
    # this drives the round logic directly).
    rk = spark.createDataFrame(
        [
            (0, 0, 2, 1, 1), (0, 1, 1, 1, 2),   # w0: f0 then f1; f prefs: f0 ranks w0 lower
            (1, 0, 2, 2, 1), (1, 1, 1, 2, 2),   # w1: f0 then f1; f0 prefers w1 (t=2)
        ],
        "w long, f long, s_score long, t_score long, wrank long",
    )
    st = spark.createDataFrame([(0, None, 0), (1, None, 0)], "w long, f long, n_prop int")
    for _ in range(2):
        props = (
            st.where(F.col("f").isNull())
            .select("w", "n_prop")
            .join(rk, ["w"])
            .where(F.col("wrank") == F.col("n_prop") + 1)
            .select("w", "f", "t_score")
        )
        incumbents = (
            st.where(F.col("f").isNotNull())
            .select("w", "f")
            .join(rk.select("w", "f", "t_score"), ["w", "f"])
        )
        cand = props.unionByName(incumbents)
        from pyspark.sql import Window
        win = (
            cand.withColumn(
                "b", F.row_number().over(Window.partitionBy("f").orderBy(F.desc("t_score"), "w"))
            )
            .where(F.col("b") == 1)
            .select(F.col("w").alias("ww"), F.col("f").alias("wf"))
        )
        pw = props.select(F.col("w").alias("pw")).distinct()
        st = (
            st.select("w", "n_prop")
            .join(pw, st["w"] == pw["pw"], "left")
            .join(win, st["w"] == win["ww"], "left")
            .select(
                "w", F.col("wf").alias("f"),
                (F.col("n_prop") + F.when(F.col("pw").isNotNull(), 1).otherwise(0)).alias("n_prop"),
            )
        )
    got = {r.w: r.f for r in st.collect()}
    assert got == {0: 1, 1: 0}


def test_position_bias_vs_naive_ctr(spark):
    from riptable_spark.operators.retrieval import position_bias_em

    # one item always at pos 1 (high exam), another always at pos 2:
    # identical true relevance, PBM should NOT need them equal, but the
    # theta ratio must reflect the click-rate ratio exactly
    rows = [(1, 1, 1 if i < 6 else 0) for i in range(10)]
    rows += [(2, 2, 1 if i < 3 else 0) for i in range(10)]
    df = spark.createDataFrame(rows, "item long, pos long, click long")
    out = {r.pos: r for r in position_bias_em(df, "item", "pos", "click").collect()}
    # with disjoint item/pos support, gamma absorbs the CTR entirely and
    # theta1 = c_p / (n_p * ctr_p) = 1.0 for BOTH positions — the model
    # cannot separate exam from relevance without overlap (identifiability)
    assert math.isclose(out[1].theta1, 1.0, rel_tol=1e-12)
    assert math.isclose(out[2].theta1, 1.0, rel_tol=1e-12)


def test_bradley_terry_dominant_player(spark):
    # direct MM-round check: A beats B 9/10, strengths must order A > B
    import duckdb

    con = duckdb.connect()
    r = con.execute("""
        WITH pairs AS (
            SELECT 'A' AS p, 'B' AS o, CAST(10 AS BIGINT) AS n, CAST(9 AS BIGINT) AS w
            UNION ALL SELECT 'B', 'A', 10, 1
        ),
        wins AS (SELECT p, CAST(sum(w) AS BIGINT) AS tw FROM pairs GROUP BY 1),
        r1 AS (
            SELECT p, tw / list_reduce([CAST(0.0 AS DOUBLE)]
                     || list(n / (CAST(1.0 AS DOUBLE) + CAST(1.0 AS DOUBLE)) ORDER BY o),
                     (a, b) -> a + b) AS s
            FROM pairs JOIN wins USING (p) GROUP BY p, tw
        )
        SELECT max(CASE WHEN p = 'A' THEN s END), max(CASE WHEN p = 'B' THEN s END) FROM r1
    """).fetchall()[0]
    assert r[0] > r[1] and math.isclose(r[0], 9 / 5, rel_tol=1e-12)


def test_cpm_hand_dag(spark):
    # A(3) -> C(2), B(5) -> C(2): critical path B->C = 7, A has slack 2
    # drive the same max-plus + ES/slack algebra as q612
    tasks = spark.createDataFrame([(0, 3), (1, 5), (2, 2)], "task long, dur long")
    e = spark.createDataFrame([(0, 2), (1, 2)], "u long, v long")
    wd = e.join(tasks.withColumnRenamed("task", "u"), "u").select(
        "u", "v", F.col("dur").alias("w")
    )
    cur = wd.select("u", "v", F.col("w").alias("len"))
    right = cur.select(F.col("u").alias("m"), F.col("v").alias("w2"), F.col("len").alias("l2"))
    step = cur.join(right, cur["v"] == right["m"]).select(
        "u", F.col("w2").alias("v"), (F.col("len") + F.col("l2")).alias("len")
    )
    cur = cur.unionByName(step).groupBy("u", "v").agg(F.max("len").alias("len"))
    inbound = cur.groupBy(F.col("v").alias("task")).agg(F.max("len").alias("in_len"))
    es = tasks.join(inbound, "task", "left").select(
        "task", "dur", F.coalesce(F.col("in_len"), F.lit(0)).alias("es")
    )
    got = {r.task: (r.es, r.es + r.dur) for r in es.collect()}
    assert got[2] == (5, 7)       # C starts after B
    assert got[0] == (0, 3) and got[1] == (0, 5)
