"""Equivalence gates for the r7 small-graph Arrow paths.

Two bounded-by-construction iterative kernels moved from per-round
eager-checkpoint Spark loops into ONE grouped Arrow task each:

- ``_doubling_closure``: the q601/q602/q604 (min-plus) and q611/q612
  (max-plus) 5-round doubling fixed point;
- ``_gale_shapley_rounds``: q615's 3 unrolled deferred-acceptance
  rounds.

The declared graphs/markets are IDENTICAL at every SF (doc_id % k), so
the oracle checks pin one instance each; THESE tests carry the
general-equivalence burden by replaying the replaced Spark loops
VERBATIM on randomized inputs and asserting row-for-row equality.
"""

from __future__ import annotations

import random

from pyspark.sql import Window
from pyspark.sql import functions as F

from riptable_spark.operators.mining import _gale_shapley_round
from riptable_spark.queries16 import _doubling_closure, _gale_shapley_rounds


def _loop_closure(wd, kind, rounds=5):
    """The pre-r7 doubling loop, verbatim (min-plus keeps the u != w
    composition filter, max-plus does not)."""
    agg = F.min if kind == "min" else F.max
    cur = wd.select("u", "v", F.col("w").alias("len"))
    for _ in range(rounds):
        right = cur.select(
            F.col("u").alias("m"), F.col("v").alias("w2"), F.col("len").alias("l2")
        )
        step = cur.join(right, cur["v"] == right["m"])
        if kind == "min":
            step = step.where(F.col("u") != F.col("w2"))
        step = step.select(
            "u", F.col("w2").alias("v"), (F.col("len") + F.col("l2")).alias("len")
        )
        cur = (
            cur.unionByName(step)
            .groupBy("u", "v")
            .agg(agg("len").alias("len"))
            .localCheckpoint(eager=True)
        )
    return cur


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_min_plus_matches_loop_random_graphs(spark):
    rng = random.Random(31)
    for n in (5, 12, 24):
        edges = {
            (rng.randrange(n), rng.randrange(n))
            for _ in range(n * 2)
        }
        edges = [(u, v) for u, v in edges if u != v]
        sym = sorted(set(edges) | {(v, u) for u, v in edges})
        wd = spark.createDataFrame(
            [(u, v, 1) for u, v in sym], "u long, v long, w int"
        )
        assert _rows(_doubling_closure(wd, "min")) == _rows(
            _loop_closure(wd, "min")
        ), n


def test_max_plus_matches_loop_random_dags(spark):
    rng = random.Random(17)
    for n in (6, 15, 25):
        edges = {
            tuple(sorted(rng.sample(range(n), 2))) for _ in range(n * 2)
        }
        wd = spark.createDataFrame(
            [(u, v, rng.randrange(1, 48)) for u, v in sorted(edges)],
            "u long, v long, w long",
        )
        assert _rows(_doubling_closure(wd, "max")) == _rows(
            _loop_closure(wd, "max")
        ), n


def _loop_gale_shapley(spark, rk, agents, rounds=3, st=None):
    """The pre-r7 q615 round loop, verbatim; ``st`` replaces the
    all-unmatched start state seeded from ``agents``."""
    rk = rk.localCheckpoint(eager=True)
    if st is None:
        st = agents.select(
            F.col("a").alias("w"),
            F.lit(None).cast("long").alias("f"),
            F.lit(0).alias("n_prop"),
        )
    for _ in range(rounds):
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
        cand = props.select("w", "f", "t_score").unionByName(incumbents)
        win = (
            cand.withColumn(
                "b",
                F.row_number().over(
                    Window.partitionBy("f").orderBy(F.desc("t_score"), "w")
                ),
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
                "w",
                F.col("wf").alias("f"),
                (
                    F.col("n_prop")
                    + F.when(F.col("pw").isNotNull(), 1).otherwise(0)
                ).alias("n_prop"),
            )
            .localCheckpoint(eager=True)
        )
    return st


def test_gale_shapley_matches_loop_random_markets(spark):
    rng = random.Random(7)
    # sizes beyond the declared 20x20, unbalanced rank tables, and a
    # duplicated t_score to exercise the (t DESC, w ASC) tie-break
    for n, rounds in ((4, 2), (9, 3), (20, 3), (20, 5)):
        scores = []
        for w in range(n):
            perm = rng.sample(range(n), n)
            for rank, f in enumerate(perm, start=1):
                t = rng.randrange(1, 10**12)
                scores.append((w, f, rank, t))
        # inject one exact t tie between two workers at the same firm
        if len(scores) > 4:
            scores[1] = (scores[1][0], scores[0][1], scores[1][2], scores[0][3])
        rk = spark.createDataFrame(
            scores, "w long, f long, wrank int, t_score long"
        ).select("w", "f", "t_score", "wrank")
        agents = spark.createDataFrame([(i,) for i in range(n)], "a long")
        got = _rows(_gale_shapley_rounds(rk, rounds=rounds))
        want = _rows(_loop_gale_shapley(spark, rk, agents, rounds=rounds))
        assert got == want, (n, rounds)


def test_gale_shapley_incumbent_without_preference_row_loses_firm(spark):
    """Worker 0 holds firm 7 but has no (0, 7) preference row: the loop's
    inner join drops it from the incumbents, so it loses the firm to
    worker 1's proposal and keeps its proposal count."""
    prefs = [(0, 1, 1, 5), (1, 7, 1, 3)]  # (w, f, wrank, t_score)
    start = {0: (7, 1), 1: (None, 0)}
    rank_map = {(w, r): (f, t) for w, f, r, t in prefs}
    t_map = {(w, f): t for w, f, _, t in prefs}
    got = _gale_shapley_round(start, rank_map, t_map)
    assert got == {0: (None, 1), 1: (7, 1)}

    rk = spark.createDataFrame(
        prefs, "w long, f long, wrank int, t_score long"
    ).select("w", "f", "t_score", "wrank")
    st = spark.createDataFrame(
        [(w, f, n) for w, (f, n) in start.items()], "w long, f long, n_prop int"
    )
    want = _rows(_loop_gale_shapley(spark, rk, None, rounds=1, st=st))
    assert sorted((w, f, n) for w, (f, n) in got.items()) == want
