"""Batch-24 (session-11 last wave): invariants for the symmetry-breaking
kernels and leakage-safety of the training-set assembly — properties the
cross-engine oracles cannot express (they replay the same algorithm)."""

from pyspark.sql import Window
from pyspark.sql import functions as F


def _mm_round(spark, edges):
    """One hash-symmetry-breaking matching round (q619's kernel)."""
    e = spark.createDataFrame(edges, "u long, v long")
    h = e.select(
        "u", "v",
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("u").cast("string"), F.lit("-"), F.col("v").cast("string"))),
                1, 15,
            ),
            16, 10,
        ).cast("long").alias("h"),
    )
    mu = (
        h.select(F.col("u").alias("node"), "h")
        .unionByName(h.select(F.col("v").alias("node"), "h"))
        .groupBy("node")
        .agg(F.min("h").alias("mh"))
    )
    a = mu.select(F.col("node").alias("u"), F.col("mh").alias("mha"))
    b = mu.select(F.col("node").alias("v"), F.col("mh").alias("mhb"))
    return (
        h.join(a, "u").join(b, "v")
        .where((F.col("h") == F.col("mha")) & (F.col("h") == F.col("mhb")))
        .select("u", "v")
        .collect()
    )


def test_matching_round_is_independent(spark):
    # a dense graph: selected edges must never share an endpoint
    edges = [(u, v) for u in range(8) for v in range(u + 1, 8)]
    sel = _mm_round(spark, edges)
    nodes = [n for r in sel for n in (r.u, r.v)]
    assert len(nodes) == len(set(nodes)) and len(sel) >= 1


def test_matching_single_edge_always_selected(spark):
    sel = _mm_round(spark, [(1, 2)])
    assert [(r.u, r.v) for r in sel] == [(1, 2)]


def test_luby_round_independence(spark):
    # one Luby round on a star: either the center alone, or (some) leaves
    edges = [(0, i) for i in range(1, 7)]
    e = spark.createDataFrame(edges, "u long, v long")
    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    und = sym.select(F.col("u").alias("node")).distinct()
    pri = und.select(
        "node",
        F.conv(F.substring(F.md5(F.concat(F.col("node").cast("string"), F.lit("#1"))), 1, 15),
               16, 10).cast("long").alias("p"),
    )
    nb = (
        sym.join(pri.withColumnRenamed("node", "u").withColumnRenamed("p", "pu"), "u")
        .join(pri.withColumnRenamed("node", "v").withColumnRenamed("p", "pv"), "v")
    )
    losers = nb.where(
        (F.col("pv") < F.col("pu"))
        | ((F.col("pv") == F.col("pu")) & (F.col("v") < F.col("u")))
    ).select(F.col("u").alias("node")).distinct()
    win = {r.node for r in pri.select("node").join(losers, "node", "left_anti").collect()}
    # independence: center and any leaf are never both selected
    assert not (0 in win and len(win) > 1)
    assert len(win) >= 1


def test_training_assembly_frames_exclude_anchor(spark):
    # features strictly before, label strictly after: an event ON the
    # anchor day must appear in NEITHER (drive q625's window shapes)
    daily = spark.createDataFrame(
        [(1, 100, 5, 1), (1, 103, 7, 0), (1, 109, 2, 1)],
        "user_id long, day long, n_view long, n_buy long",
    )
    w_feat = Window.partitionBy("user_id").orderBy("day").rangeBetween(-7, -1)
    w_label = Window.partitionBy("user_id").orderBy("day").rangeBetween(1, 7)
    out = {
        r.day: r
        for r in daily.select(
            "day",
            F.coalesce(F.sum("n_view").over(w_feat), F.lit(0)).alias("f"),
            F.coalesce(F.sum("n_buy").over(w_label), F.lit(0)).alias("l"),
        ).collect()
    }
    assert out[100].f == 0 and out[100].l == 0      # day 103 is 3 ahead but has n_buy=0; 109 is 9 ahead
    assert out[103].f == 5                          # day 100 within 7 back
    assert out[103].l == 1                          # day 109 is 6 ahead -> label sees its buy
    assert out[109].f == 7                          # day 103 within 7 back; 100 is 9 back


def test_prefix_blocking_finds_planted_truncation(spark):
    from riptable_spark.queries16 import q623

    df = q623(spark, "/root/testdata/sf0.001")
    rows = df.collect()
    planted = [r for r in rows if r.long_id + 200000 == r.short_id or r.short_id >= 200000]
    assert len(rows) > 0 and len(planted) > 0
    for r in rows:
        assert 0 < r.coverage_ppm < 1_000_000
