"""Driver-contract query registry, batch 13 (round-3 session 9,
q403+): metric mix-shift decomposition, forecast-accuracy reporting,
Tukey-fence data-quality audits, Slope One collaborative filtering,
recommendation diversity/coverage eval, label-propagation communities,
burst detection, and Elo ratings.
Registers into the same QUERIES/ORACLES dicts as queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .queries import query
from .sources.io import load_table


# ------------------------------------------------------------------ q403
@query(
    "q403_mix_shift",
    """
    WITH f AS (
        SELECT o_orderpriority AS grp,
               CASE WHEN year(o_orderdate) = 1995 THEN 1 ELSE 0 END AS ia,
               CASE WHEN year(o_orderdate) = 2000 THEN 1 ELSE 0 END AS ib,
               CAST(round(o_totalprice * 100) AS BIGINT) AS x
        FROM orders WHERE year(o_orderdate) IN (1995, 2000)
    ),
    byg AS (
        SELECT grp,
               CAST(sum(ia) AS BIGINT) AS n_a, CAST(sum(ib) AS BIGINT) AS n_b,
               CAST(sum(x * ia) AS BIGINT) AS s_a, CAST(sum(x * ib) AS BIGINT) AS s_b
        FROM f GROUP BY grp
    ),
    tot AS (
        SELECT CAST(sum(n_a) AS BIGINT) AS na, CAST(sum(n_b) AS BIGINT) AS nb,
               CAST(sum(s_a) AS BIGINT) AS sa, CAST(sum(s_b) AS BIGINT) AS sb
        FROM byg
    )
    SELECT grp, n_a, n_b, s_a, s_b,
           CAST(n_a AS DOUBLE) / na AS share_a,
           CAST(n_b AS DOUBLE) / nb AS share_b,
           CASE WHEN n_a > 0 THEN CAST(s_a AS DOUBLE) / n_a
                ELSE CAST(sa AS DOUBLE) / na END AS rate_a,
           CASE WHEN n_b > 0 THEN CAST(s_b AS DOUBLE) / n_b
                ELSE CAST(sb AS DOUBLE) / nb END AS rate_b,
           (CAST(n_b AS DOUBLE) / nb - CAST(n_a AS DOUBLE) / na)
             * (CASE WHEN n_a > 0 THEN CAST(s_a AS DOUBLE) / n_a
                     ELSE CAST(sa AS DOUBLE) / na END) AS mix_effect,
           (CAST(n_b AS DOUBLE) / nb)
             * ((CASE WHEN n_b > 0 THEN CAST(s_b AS DOUBLE) / n_b
                      ELSE CAST(sb AS DOUBLE) / nb END)
                - (CASE WHEN n_a > 0 THEN CAST(s_a AS DOUBLE) / n_a
                        ELSE CAST(sa AS DOUBLE) / na END)) AS rate_effect
    FROM byg, tot
    """,
)
def q403(spark: SparkSession, sf: str) -> DataFrame:
    """Mix-shift decomposition of average order value, 1995 → 2000, by
    order priority: how much of the move is composition (mix) vs
    within-priority value (rate).  Exact-BIGINT group sums; every float
    is a fixed tree of single divides — no rounding anywhere
    (functions/stats.mix_shift)."""
    from .functions import stats as st

    o = load_table(spark, sf, "orders")
    f = o.where(F.year("o_orderdate").isin(1995, 2000)).select(
        F.col("o_orderpriority").alias("grp"),
        F.year("o_orderdate").alias("yr"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    return st.mix_shift(f, "yr", "grp", "cents", 1995, 2000)


# ------------------------------------------------------------------ q404
@query(
    "q404_forecast_accuracy",
    """
    WITH f AS (
        SELECT user_id,
               CAST(round(value * 100) AS BIGINT) AS a,
               CAST(event_id % 40000 + 100 AS BIGINT) AS fc,
               ts, event_id
        FROM events
    ),
    w AS (
        SELECT user_id, a, fc, fc - a AS e,
               abs(a - lag(a) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS naive
        FROM f
    ),
    g AS (
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(e) AS BIGINT) AS sum_e,
               CAST(sum(abs(e)) AS BIGINT) AS sum_ae,
               CAST(sum(abs(a)) AS BIGINT) AS sum_aa,
               CAST(sum(abs(a) + abs(fc)) AS BIGINT) AS sum_af,
               CAST(sum(naive) AS BIGINT) AS sum_naive
        FROM w GROUP BY user_id
    )
    SELECT user_id, n,
           CAST(sum_e AS DOUBLE) / n AS bias,
           CAST(sum_ae AS DOUBLE) / n AS mae,
           CASE WHEN sum_aa > 0 THEN CAST(sum_ae AS DOUBLE) / sum_aa END AS wape,
           CASE WHEN sum_af > 0 THEN CAST(2 * sum_ae AS DOUBLE) / sum_af END AS smape,
           CASE WHEN n > 1 AND sum_naive > 0
                THEN CAST(sum_ae * (n - 1) AS DOUBLE) / (n * sum_naive) END AS mase
    FROM g
    """,
)
def q404(spark: SparkSession, sf: str) -> DataFrame:
    """Forecast-accuracy report (bias/MAE/WAPE/sMAPE/MASE) per user over
    a deterministic synthetic forecast vs the event value stream.  Every
    metric is one divide of exact-BIGINT accumulators (the aggregate
    sMAPE form — a per-row float ratio sum folds differently in every
    engine pair) (functions/stats.forecast_accuracy)."""
    from .functions import stats as st

    ev = load_table(spark, sf, "events").select(
        "user_id", "ts", "event_id",
        F.round(F.col("value") * 100).cast("long").alias("a"),
        (F.col("event_id") % 40000 + 100).cast("long").alias("fc"),
    )
    return st.forecast_accuracy(ev, ["user_id"], "a", "fc", ["ts", "event_id"])


# ------------------------------------------------------------------ q405
@query(
    "q405_iqr_outliers",
    """
    WITH f AS (
        SELECT l_returnflag AS flag,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS x
        FROM lineitem
    ),
    fences AS (
        SELECT flag,
               quantile_cont(x, 0.25) AS q1,
               quantile_cont(x, 0.75) AS q3
        FROM f GROUP BY flag
    ),
    fe AS (
        SELECT flag, q1, q3,
               q1 - CAST('1.5' AS DOUBLE) * (q3 - q1) AS lo_fence,
               q3 + CAST('1.5' AS DOUBLE) * (q3 - q1) AS hi_fence
        FROM fences
    )
    SELECT f.flag, CAST(count(*) AS BIGINT) AS n,
           min(fe.q1) AS q1, min(fe.q3) AS q3,
           min(fe.lo_fence) AS lo_fence, min(fe.hi_fence) AS hi_fence,
           CAST(sum(CASE WHEN f.x < fe.lo_fence THEN 1 ELSE 0 END) AS BIGINT) AS n_out_low,
           CAST(sum(CASE WHEN f.x > fe.hi_fence THEN 1 ELSE 0 END) AS BIGINT) AS n_out_high
    FROM f JOIN fe ON f.flag = fe.flag
    GROUP BY f.flag
    """,
)
def q405(spark: SparkSession, sf: str) -> DataFrame:
    """Tukey-fence outlier audit of extended price per return flag
    (operators/profile.iqr_outliers).  Quarter-fraction quantiles of
    integer cents are exactly representable doubles, so fences compare
    without rounding; the fence relation broadcasts back onto the fact
    scan (two passes, no fact-table sort)."""
    from .operators import profile as prof

    li = load_table(spark, sf, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("x"),
    )
    return prof.iqr_outliers(li, ["flag"], "x", k=1.5)


# ------------------------------------------------------------------ q406
@query(
    "q406_slope_one",
    """
    WITH ur AS (
        SELECT user_id AS u, event_id % 20 AS i,
               CAST(max((CAST(round(value * 100) AS BIGINT) % 5) + 1) AS BIGINT) AS r
        FROM events GROUP BY 1, 2
    ),
    devs AS (
        SELECT a.i AS item_i, b.i AS item_j,
               CAST(sum(a.r - b.r) AS BIGINT) AS s_ij,
               CAST(count(*) AS BIGINT) AS n_ij
        FROM ur a JOIN ur b ON a.u = b.u AND a.i != b.i
        GROUP BY 1, 2
    ),
    pred AS (
        SELECT t.u, t.i AS item_i, t.r AS rating,
               CAST(sum(d.s_ij + o.r * d.n_ij) AS BIGINT) AS pred_num,
               CAST(sum(d.n_ij) AS BIGINT) AS pred_den
        FROM ur t
        JOIN ur o ON o.u = t.u AND o.i != t.i
        JOIN devs d ON d.item_i = t.i AND d.item_j = o.i
        GROUP BY 1, 2, 3
    )
    SELECT u AS user_id, item_i AS item, rating, pred_num, pred_den,
           CASE WHEN pred_den > 0 THEN CAST(pred_num AS DOUBLE) / pred_den END AS pred
    FROM pred
    """,
)
def q406(spark: SparkSession, sf: str) -> DataFrame:
    """Weighted Slope One recommender (operators/mining.slope_one_predict)
    over a deterministic (user, item, rating) relation derived from
    events.  The weighted form collapses to one ratio of exact BIGINT
    sums — the per-pair deviation never materializes as a float, so
    predictions hash-match with no rounding."""
    from .operators import mining as mn

    ev = load_table(spark, sf, "events").select(
        "user_id",
        (F.col("event_id") % 20).alias("item"),
        ((F.round(F.col("value") * 100).cast("long") % 5) + 1).alias("rating"),
    )
    return mn.slope_one_predict(ev, "user_id", "item", "rating")


# ------------------------------------------------------------------ q407
def _q407_oracle() -> str:
    cos = (
        "list_dot_product({a}.embedding::DOUBLE[], {b}.embedding::DOUBLE[])"
        " / (sqrt(list_dot_product({a}.embedding::DOUBLE[], {a}.embedding::DOUBLE[]))"
        " * sqrt(list_dot_product({b}.embedding::DOUBLE[], {b}.embedding::DOUBLE[])))"
    )
    k = 4
    cells = ", ".join(
        f"min(CASE WHEN ra = {i} AND rb = {j} THEN d END) AS d_{i}_{j}"
        for i in range(1, k + 1) for j in range(i + 1, k + 1)
    )
    tsum = " + ".join(
        f"coalesce(d_{i}_{j}, CAST(0.0 AS DOUBLE))"
        for i in range(1, k + 1) for j in range(i + 1, k + 1)
    )
    return f"""
    WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id IN (0, 1, 2)),
    scored AS (
        SELECT q.query_id, c.vec_id, {cos.format(a='c', b='q')} AS score
        FROM embeddings c, q
    ),
    recs AS (
        SELECT query_id, vec_id, rank FROM (
            SELECT query_id, vec_id, score,
                   row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
            FROM scored
        ) WHERE rank <= {k}
    ),
    rv AS (
        SELECT r.query_id AS qid, r.rank AS rk, e.embedding
        FROM recs r JOIN embeddings e ON e.vec_id = r.vec_id
    ),
    pairs AS (
        SELECT a.qid, a.rk AS ra, b.rk AS rb,
               CAST(1.0 AS DOUBLE) - ({cos.format(a='a', b='b')}) AS d
        FROM rv a JOIN rv b ON a.qid = b.qid AND a.rk < b.rk
    ),
    g AS (
        SELECT qid, CAST(count(*) AS BIGINT) AS n_pairs, {cells}
        FROM pairs GROUP BY qid
    ),
    cov AS (
        SELECT CAST(count(DISTINCT vec_id) AS BIGINT) AS nrec FROM recs
    ),
    ncat AS (
        SELECT CAST(count(DISTINCT vec_id) AS BIGINT) AS ncat_n FROM embeddings
    )
    SELECT qid AS q, n_pairs, ({tsum}) / n_pairs AS ild,
           CAST(nrec AS DOUBLE) / ncat_n AS coverage
    FROM g, cov, ncat
    """


@query("q407_rec_diversity", _q407_oracle())
def q407(spark: SparkSession, sf: str) -> DataFrame:
    """Beyond-accuracy recommender eval (operators/mining.
    intra_list_diversity): intra-list diversity of each query's exact
    top-4 cosine neighbors + catalog coverage.  Pair dissimilarities
    pivot into FIXED (rank_a, rank_b) columns and sum in literal order
    (the bm25_search float discipline), so the per-query mean is
    engine-identical."""
    from .operators import mining as mn
    from .operators import similarity as sim

    e = load_table(spark, sf, "embeddings")
    q = e.where(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    recs = sim.brute_force_topk(e, q, k=4)
    return mn.intra_list_diversity(recs, e, k=4, query_col="query_id")


# ------------------------------------------------------------------ q408
@query(
    "q408_label_propagation",
    """
    WITH base AS (
        SELECT doc_id % 200 AS s, (doc_id * 7 + 3) % 200 AS d FROM documents
    ),
    e AS (
        SELECT DISTINCT least(s, d) AS lo, greatest(s, d) AS hi FROM base WHERE s != d
    ),
    adj AS (
        SELECT lo AS node, hi AS nbr FROM e
        UNION SELECT hi AS node, lo AS nbr FROM e
    ),
    l0 AS (SELECT DISTINCT node, node AS label FROM adj),
    r1 AS (
        SELECT a.node, l.label, count(*) AS cnt
        FROM adj a JOIN l0 l ON l.node = a.nbr GROUP BY 1, 2
    ),
    l1 AS (
        SELECT node, label FROM (
            SELECT node, label,
                   row_number() OVER (PARTITION BY node ORDER BY cnt DESC, label) AS rn
            FROM r1
        ) WHERE rn = 1
    ),
    r2 AS (
        SELECT a.node, l.label, count(*) AS cnt
        FROM adj a JOIN l1 l ON l.node = a.nbr GROUP BY 1, 2
    ),
    l2 AS (
        SELECT node, label FROM (
            SELECT node, label,
                   row_number() OVER (PARTITION BY node ORDER BY cnt DESC, label) AS rn
            FROM r2
        ) WHERE rn = 1
    ),
    r3 AS (
        SELECT a.node, l.label, count(*) AS cnt
        FROM adj a JOIN l2 l ON l.node = a.nbr GROUP BY 1, 2
    ),
    l3 AS (
        SELECT node, label FROM (
            SELECT node, label,
                   row_number() OVER (PARTITION BY node ORDER BY cnt DESC, label) AS rn
            FROM r3
        ) WHERE rn = 1
    )
    SELECT node, label FROM l3
    """,
)
def q408(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic synchronous label propagation (3 rounds) over the
    q344 synthetic document graph (operators/graph.label_propagation):
    most-frequent neighbor label, smallest-label tie-break — the cheap
    community detector between connected_components (too coarse) and
    modularity methods (too heavy).  The oracle unrolls all three
    integer-exact rounds."""
    from .operators import graph

    d = load_table(spark, sf, "documents")
    base = d.select(
        (F.col("doc_id") % 200).alias("s"),
        ((F.col("doc_id") * 7 + 3) % 200).alias("d"),
    ).where(F.col("s") != F.col("d"))
    e = base.select(
        F.least("s", "d").alias("id_a"), F.greatest("s", "d").alias("id_b")
    ).distinct()
    return graph.label_propagation(e, n_iter=3)


# ------------------------------------------------------------------ q409
@query(
    "q409_burst_detect",
    """
    WITH counts AS (
        SELECT event_type,
               CAST(floor(epoch(ts) / 86400.0) AS BIGINT) AS bkt,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ),
    w AS (
        SELECT event_type, bkt, n,
               CAST(sum(n) OVER (PARTITION BY event_type ORDER BY bkt
                                 RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING) AS BIGINT)
                 AS trailing_n,
               count(n) OVER (PARTITION BY event_type ORDER BY bkt
                              RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING) AS hist
        FROM counts
    )
    SELECT event_type, CAST(bkt * 86400 AS BIGINT) AS bucket_start, n, trailing_n,
           CASE WHEN trailing_n IS NOT NULL AND hist >= 7
                THEN n * 7 * 1 > 2 * trailing_n ELSE false END AS burst
    FROM w
    """,
)
def q409(spark: SparkSession, sf: str) -> DataFrame:
    """Burst detection per event type (operators/window.burst_detect):
    daily buckets vs the trailing-7-bucket baseline, flagged via the
    cross-multiplied integer test n·7·den > num·Σtrailing — no float
    rate exists.  The RANGE frame over the bucket index makes calendar
    gaps count as zero instead of shrinking the window; the window runs
    over pre-aggregated bucket counts, never raw events."""
    from .operators import window as win

    ev = load_table(spark, sf, "events")
    return win.burst_detect(
        ev, ["event_type"], "ts", bucket_seconds=86400, trailing=7, num=2, den=1
    )


# ------------------------------------------------------------------ q410
@query(
    "q410_elo_ratings",
    # Full SQL replay: one recursive-CTE row per league carries all 40
    # player ratings (plus game/win counters) as lists; each iteration
    # replays one game with the scan's exact IEEE expression tree —
    # clamped LINEAR expectation, so every step is a correctly-rounded
    # +,−,·,/ (no transcendental pow) and the replay is bit-identical.
    """
    WITH RECURSIVE g0 AS (
        SELECT user_id % 5 AS league, ts, event_id,
               event_id % 40 AS pa, (event_id * 13 + 7) % 40 AS pb,
               CASE WHEN CAST(round(value * 100) AS BIGINT) % 10 = 0
                         THEN CAST('0.5' AS DOUBLE)
                    WHEN CAST(round(value * 100) AS BIGINT) % 2 = 0
                         THEN CAST('0.0' AS DOUBLE)
                    ELSE CAST('1.0' AS DOUBLE) END AS sa
        FROM events
        WHERE event_id % 40 != (event_id * 13 + 7) % 40
    ),
    g AS (
        SELECT * FROM (
            SELECT league, pa, pb, sa,
                   row_number() OVER (PARTITION BY league
                                      ORDER BY ts, event_id) AS t
            FROM g0
        ) WHERE t <= 300
    ),
    st AS (
        SELECT league, CAST(0 AS BIGINT) AS t,
               [CAST(1500 AS DOUBLE) FOR _ IN range(40)] AS r,
               [CAST(0 AS BIGINT) FOR _ IN range(40)] AS ng,
               [CAST(0 AS BIGINT) FOR _ IN range(40)] AS nw
        FROM (SELECT DISTINCT league FROM g)
        UNION ALL
        SELECT league, t,
               list_transform(r, (x, i) ->
                   CASE WHEN i - 1 = pa THEN x + upd_a
                        WHEN i - 1 = pb THEN x + upd_b
                        ELSE x END) AS r,
               list_transform(ng, (x, i) ->
                   CASE WHEN i - 1 = pa OR i - 1 = pb THEN x + 1
                        ELSE x END) AS ng,
               list_transform(nw, (x, i) ->
                   CASE WHEN (i - 1 = pa AND sa = CAST('1.0' AS DOUBLE))
                          OR (i - 1 = pb AND sa = CAST('0.0' AS DOUBLE))
                        THEN x + 1 ELSE x END) AS nw
        FROM (
            SELECT s.league, gm.t, gm.pa, gm.pb, gm.sa, s.r, s.ng, s.nw,
                   least(CAST('1.0' AS DOUBLE), greatest(CAST('0.0' AS DOUBLE),
                       CAST('0.5' AS DOUBLE)
                       + (s.r[gm.pa + 1] - s.r[gm.pb + 1])
                         / CAST('800.0' AS DOUBLE))) AS e_a,
                   CAST('32.0' AS DOUBLE)
                       * (gm.sa - least(CAST('1.0' AS DOUBLE),
                              greatest(CAST('0.0' AS DOUBLE),
                                  CAST('0.5' AS DOUBLE)
                                  + (s.r[gm.pa + 1] - s.r[gm.pb + 1])
                                    / CAST('800.0' AS DOUBLE)))) AS upd_a,
                   CAST('32.0' AS DOUBLE)
                       * ((CAST('1.0' AS DOUBLE) - gm.sa)
                          - (CAST('1.0' AS DOUBLE)
                             - least(CAST('1.0' AS DOUBLE),
                                   greatest(CAST('0.0' AS DOUBLE),
                                       CAST('0.5' AS DOUBLE)
                                       + (s.r[gm.pa + 1] - s.r[gm.pb + 1])
                                         / CAST('800.0' AS DOUBLE))))) AS upd_b
            FROM st s JOIN g gm ON gm.league = s.league AND gm.t = s.t + 1
        )
    ),
    fin AS (
        SELECT s.league, s.r, s.ng, s.nw
        FROM st s
        JOIN (SELECT league, max(t) AS mt FROM st GROUP BY 1) m
          ON m.league = s.league AND s.t = m.mt
    )
    SELECT f.league, CAST(p.p - 1 AS BIGINT) AS player,
           f.r[p.p] AS rating, f.ng[p.p] AS n_games, f.nw[p.p] AS n_wins
    FROM fin f, range(1, 41) p(p)
    WHERE f.ng[p.p] > 0
    """,
)
def q410(spark: SparkSession, sf: str) -> DataFrame:
    """Elo ratings per league (operators/mining.elo_ratings) over a
    deterministic synthetic match stream, first 300 games per league:
    leagues partition the Arrow scan (the fifo_pnl shape); the clamped
    LINEAR expectation curve makes every update a correctly-rounded
    IEEE op, so the scan is hash-checked bit-for-bit against a
    recursive-SQL replay; e_b = 1 − e_a keeps every update exactly
    zero-sum in floating point, so Σ(rating − 1500) ≡ 0 per league."""
    from .operators import mining as mn

    ev = load_table(spark, sf, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    m = (
        ev.select(
            (F.col("user_id") % 5).alias("league"),
            "ts", "event_id",
            (F.col("event_id") % 40).alias("player_a"),
            ((F.col("event_id") * 13 + 7) % 40).alias("player_b"),
            F.when(cents % 10 == 0, F.lit(0.5))
            .when(cents % 2 == 0, F.lit(0.0))
            .otherwise(F.lit(1.0))
            .alias("score_a"),
        )
        .where(F.col("player_a") != F.col("player_b"))
        .withColumn(
            "__t__",
            F.row_number().over(Window.partitionBy("league").orderBy("ts", "event_id")),
        )
        .where(F.col("__t__") <= 300)
    )
    return mn.elo_ratings(
        m, "league", ["ts", "event_id"], "player_a", "player_b", "score_a",
        expectation="linear",
    )


# ------------------------------------------------------------------ q411
@query(
    "q411_abc_classification",
    """
    WITH byi AS (
        SELECT l_partkey % 500 AS item,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS value
        FROM lineitem GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(value) AS BIGINT) AS total FROM byi),
    r AS (
        SELECT item, value,
               row_number() OVER (ORDER BY value DESC, item) AS rank,
               CAST(sum(value) OVER (ORDER BY value DESC, item
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_value
        FROM byi
    )
    SELECT item, value, rank, cum_value,
           CAST(cum_value AS DOUBLE) / total AS cum_share,
           CASE WHEN cum_value * 100 <= 80 * total THEN 'A'
                WHEN cum_value * 100 <= 95 * total THEN 'B'
                ELSE 'C' END AS abc_class
    FROM r, tot
    """,
)
def q411(spark: SparkSession, sf: str) -> DataFrame:
    """ABC/Pareto revenue classification of parts
    (operators/mining.abc_classification): BIGINT running cumulative
    over the item-sized aggregate, class boundaries decided by integer
    cross-multiplication — no float share gates a class."""
    from .operators import mining as mn

    li = load_table(spark, sf, "lineitem").select(
        (F.col("l_partkey") % 500).alias("item"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    return mn.abc_classification(li, "item", "cents")


# ------------------------------------------------------------------ q412
@query(
    "q412_price_index",
    """
    WITH byip AS (
        SELECT l_partkey % 200 AS item,
               CASE WHEN year(l_shipdate) = 1995 THEN 0 ELSE 1 END AS t,
               CAST(min(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS p,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
        FROM lineitem WHERE year(l_shipdate) IN (1995, 2000)
        GROUP BY 1, 2
    ),
    m AS (
        SELECT b0.item, b0.p AS p0, b0.q AS q0, b1.p AS p1, b1.q AS q1
        FROM (SELECT * FROM byip WHERE t = 0) b0
        JOIN (SELECT * FROM byip WHERE t = 1) b1 USING (item)
    ),
    g AS (
        SELECT CAST(count(*) AS BIGINT) AS n_items,
               CAST(sum(p1 * q0) AS BIGINT) AS s_p1q0,
               CAST(sum(p0 * q0) AS BIGINT) AS s_p0q0,
               CAST(sum(p1 * q1) AS BIGINT) AS s_p1q1,
               CAST(sum(p0 * q1) AS BIGINT) AS s_p0q1
        FROM m
    )
    SELECT n_items,
           CAST(s_p1q0 AS DOUBLE) / s_p0q0 AS laspeyres,
           CAST(s_p1q1 AS DOUBLE) / s_p0q1 AS paasche,
           sqrt((CAST(s_p1q0 AS DOUBLE) / s_p0q0) * (CAST(s_p1q1 AS DOUBLE) / s_p0q1)) AS fisher
    FROM g
    """,
)
def q412(spark: SparkSession, sf: str) -> DataFrame:
    """Laspeyres/Paasche/Fisher price indices 1995 → 2000 over the
    matched part basket (operators/finance.price_index): all four
    basket sums are exact BIGINTs; Fisher is one multiply + one
    correctly-rounded sqrt of the two index doubles."""
    from .operators import finance as fin

    li = load_table(spark, sf, "lineitem").select(
        F.year("l_shipdate").alias("yr"),
        (F.col("l_partkey") % 200).alias("item"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("p_cents"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    return fin.price_index(li, "yr", "item", "p_cents", "qty", 1995, 2000)


# ------------------------------------------------------------------ q413
@query(
    "q413_k_anonymity",
    """
    SELECT o_custkey % 100 AS qi_bucket, o_orderpriority AS qi_priority,
           CAST(year(o_orderdate) AS BIGINT) AS qi_year,
           CAST(count(*) AS BIGINT) AS n,
           count(*) < 5 AS violates_k,
           CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS l_distinct,
           count(DISTINCT o_orderstatus) <= 1 AS violates_l
    FROM orders
    GROUP BY 1, 2, 3
    """,
)
def q413(spark: SparkSession, sf: str) -> DataFrame:
    """k-anonymity + l-diversity audit of a quasi-identifier combination
    on orders (operators/profile.k_anonymity): equivalence-class sizes,
    k=5 violations, and sensitive-attribute diversity — all exact
    integers from one hash agg."""
    from .operators import profile as prof

    o = load_table(spark, sf, "orders").select(
        (F.col("o_custkey") % 100).alias("qi_bucket"),
        F.col("o_orderpriority").alias("qi_priority"),
        F.year("o_orderdate").cast("long").alias("qi_year"),
        "o_orderstatus",
    )
    return prof.k_anonymity(
        o, ["qi_bucket", "qi_priority", "qi_year"], k=5, sensitive_col="o_orderstatus"
    )


# ------------------------------------------------------------------ q414
@query(
    "q414_simpson_check",
    """
    WITH f AS (
        SELECT event_type AS segment,
               CAST(user_id % 2 AS BIGINT) AS t,
               CASE WHEN CAST(round(value * 100) AS BIGINT) > 24500 THEN 1 ELSE 0 END AS y
        FROM events
    ),
    byseg AS (
        SELECT segment,
               CAST(sum(t) AS BIGINT) AS n_treat,
               CAST(sum(1 - t) AS BIGINT) AS n_ctrl,
               CAST(sum(y * t) AS BIGINT) AS conv_treat,
               CAST(sum(y * (1 - t)) AS BIGINT) AS conv_ctrl
        FROM f GROUP BY segment
    ),
    pooled AS (
        SELECT CAST(sum(n_treat) AS BIGINT) AS pt, CAST(sum(n_ctrl) AS BIGINT) AS pc,
               CAST(sum(conv_treat) AS BIGINT) AS pst, CAST(sum(conv_ctrl) AS BIGINT) AS psc
        FROM byseg
    )
    SELECT segment, n_treat, n_ctrl, conv_treat, conv_ctrl,
           CASE WHEN n_treat > 0 THEN CAST(conv_treat AS DOUBLE) / n_treat END AS rate_treat,
           CASE WHEN n_ctrl > 0 THEN CAST(conv_ctrl AS DOUBLE) / n_ctrl END AS rate_ctrl,
           CAST(sign(CAST(conv_treat * n_ctrl - conv_ctrl * n_treat AS DOUBLE)) AS INT) AS seg_sign,
           CAST(sign(CAST(pst * pc - psc * pt AS DOUBLE)) AS INT) AS pooled_sign,
           (CAST(sign(CAST(conv_treat * n_ctrl - conv_ctrl * n_treat AS DOUBLE)) AS INT)
            * CAST(sign(CAST(pst * pc - psc * pt AS DOUBLE)) AS INT)) < 0 AS paradox
    FROM byseg, pooled
    """,
)
def q414(spark: SparkSession, sf: str) -> DataFrame:
    """Simpson's-paradox audit (functions/stats.simpson_check): per-
    segment vs pooled conversion direction, every sign decided by
    integer cross-multiplication — no float rate gates the flag."""
    from .functions import stats as st

    ev = load_table(spark, sf, "events").select(
        F.col("event_type").alias("segment"),
        (F.col("user_id") % 2).alias("t"),
        (F.round(F.col("value") * 100).cast("long") > 24500).cast("long").alias("y"),
    )
    return st.simpson_check(ev, "segment", "t", "y")


# ------------------------------------------------------------------ q415
@query(
    "q415_croston",
    # Full SQL replay: zero-demand periods only advance the
    # periods-since-last-demand counter, so the stream compresses to
    # DEMAND rows with gap = rank difference; the coupled (z, p) EWMAs
    # then advance one demand per recursive-CTE iteration with the
    # numpy scan's exact IEEE expression tree (alpha shipped as a
    # quoted string) — bit-identical, unrounded.
    """
    WITH RECURSIVE per AS (
        SELECT event_type || '#' || CAST(user_id % 20 AS VARCHAR) AS series,
               CASE WHEN CAST(round(value * 100) AS BIGINT) % 7 = 0
                    THEN CAST(round(value * 100) AS BIGINT) % 50
                    ELSE 0 END AS d,
               row_number() OVER (PARTITION BY series
                                  ORDER BY ts, event_id) AS pk
        FROM events
    ),
    tot AS (
        SELECT series, CAST(count(*) AS BIGINT) AS n_periods
        FROM per GROUP BY 1
    ),
    dem AS (
        SELECT series, d, pk,
               CAST(row_number() OVER (PARTITION BY series
                                       ORDER BY pk) AS BIGINT) AS dr,
               pk - COALESCE(lag(pk) OVER (PARTITION BY series
                                           ORDER BY pk), 0) AS gap
        FROM per WHERE d > 0
    ),
    rec AS (
        SELECT series, dr, CAST(d AS DOUBLE) AS z, CAST(gap AS DOUBLE) AS p
        FROM dem WHERE dr = 1
        UNION ALL
        SELECT r.series, f.dr,
               r.z + CAST('0.2' AS DOUBLE) * (CAST(f.d AS DOUBLE) - r.z) AS z,
               r.p + CAST('0.2' AS DOUBLE) * (CAST(f.gap AS DOUBLE) - r.p) AS p
        FROM rec r JOIN dem f ON f.series = r.series AND f.dr = r.dr + 1
    ),
    fin AS (
        SELECT r.series, r.z, r.p
        FROM rec r
        JOIN (SELECT series, max(dr) AS md FROM rec GROUP BY 1) m
          ON m.series = r.series AND r.dr = m.md
    ),
    nd AS (
        SELECT series, CAST(count(*) AS BIGINT) AS n_demands
        FROM dem GROUP BY 1
    )
    SELECT t.series, t.n_periods,
           COALESCE(nd.n_demands, 0) AS n_demands,
           f.z, f.p,
           CASE WHEN f.z IS NOT NULL AND f.p > 0 THEN f.z / f.p END AS forecast
    FROM tot t
    LEFT JOIN nd ON nd.series = t.series
    LEFT JOIN fin f ON f.series = t.series
    """,
)
def q415(spark: SparkSession, sf: str) -> DataFrame:
    """Croston intermittent-demand forecast per (event type, user
    cohort) series (operators/ema.croston) over a deterministically
    sparsified demand stream (zero except every 7th cent residue) —
    100 series keep the recursive-CTE replay's iteration count (max
    demands per series) bounded at every SF."""
    from .operators import ema

    ev = load_table(spark, sf, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    d = ev.select(
        F.concat_ws("#", F.col("event_type"), (F.col("user_id") % 20).cast("string"))
        .alias("series"),
        "ts", "event_id",
        F.when(cents % 7 == 0, cents % 50).otherwise(F.lit(0)).alias("demand"),
    )
    return ema.croston(d, ["series"], "demand", ["ts", "event_id"], alpha=0.2)


# ------------------------------------------------------------------ q416
_Q416_COS = (
    "list_dot_product({a}::DOUBLE[], {b}::DOUBLE[])"
    " / (sqrt(list_dot_product({a}::DOUBLE[], {a}::DOUBLE[]))"
    " * sqrt(list_dot_product({b}::DOUBLE[], {b}::DOUBLE[])))"
)


@query(
    "q416_hard_negatives",
    f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS qv, label AS ql
        FROM embeddings WHERE vec_id IN (0, 1, 2)
    ),
    scored AS (
        SELECT q.query_id, c.vec_id, c.label,
               {_Q416_COS.format(a='c.embedding', b='q.qv')} AS score
        FROM embeddings c, q
        WHERE c.label != q.ql
    )
    SELECT query_id, vec_id, label, score, rank FROM (
        SELECT query_id, vec_id, label, score,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, vec_id) AS rank
        FROM scored
    ) WHERE rank <= 5
    """,
)
def q416(spark: SparkSession, sf: str) -> DataFrame:
    """Hard-negative mining for contrastive training
    (operators/similarity.hard_negatives): per query, the 5 most
    cosine-similar corpus vectors with a DIFFERENT label.  Queries
    broadcast, the corpus never shuffles, and the label-mismatch
    predicate filters before scoring."""
    from .operators import similarity as sim

    e = load_table(spark, sf, "embeddings")
    q = e.where(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        F.col("label").alias("query_label"),
    )
    return sim.hard_negatives(e, q, k=5)


# ------------------------------------------------------------------ q417
@query(
    "q417_pinball_loss",
    """
    WITH f AS (
        SELECT user_id,
               CAST(round(value * 100) AS BIGINT) AS y,
               CAST(event_id % 40000 + 100 AS BIGINT) AS fc
        FROM events
    ),
    g AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(greatest(9 * (y - fc), -1 * (y - fc))) AS BIGINT) AS sum_loss_scaled
        FROM f GROUP BY user_id
    )
    SELECT user_id, n, sum_loss_scaled,
           CAST(sum_loss_scaled AS DOUBLE) / (n * 10) AS pinball
    FROM g
    """,
)
def q417(spark: SparkSession, sf: str) -> DataFrame:
    """Pinball (τ=0.9 quantile) loss of the q404 synthetic forecast per
    user (functions/stats.pinball_loss): τ-scaled per-row losses are
    exact BIGINTs (max of two integer products); the mean is one
    divide."""
    from .functions import stats as st

    ev = load_table(spark, sf, "events").select(
        "user_id",
        F.round(F.col("value") * 100).cast("long").alias("y"),
        (F.col("event_id") % 40000 + 100).cast("long").alias("fc"),
    )
    return st.pinball_loss(ev, ["user_id"], "y", "fc", tau_num=9, tau_den=10)


# ------------------------------------------------------------------ q418
@query(
    "q418_snm_pairs",
    """
    WITH f AS (
        SELECT doc_id, substr(text, 1, 6) AS k
        FROM documents WHERE text IS NOT NULL
    ),
    ranked AS (
        SELECT doc_id, k, CAST(rank() OVER (ORDER BY k) AS BIGINT) AS r
        FROM f
    ),
    lft AS (
        SELECT doc_id AS id_a, k AS key_a, r AS r_a,
               CAST((r - 1) // 8 AS BIGINT) + o AS b
        FROM ranked, (SELECT unnest([0, 1]) AS o)
    ),
    rgt AS (
        SELECT doc_id AS id_b, k AS key_b, r AS r_b,
               CAST((r - 1) // 8 AS BIGINT) AS b
        FROM ranked
    )
    SELECT id_a, id_b, key_a, key_b, CAST(r_b - r_a AS BIGINT) AS rank_dist
    FROM lft JOIN rgt USING (b)
    WHERE (r_a < r_b OR (r_a = r_b AND id_a < id_b)) AND r_b - r_a < 8
    """,
)
def q418(spark: SparkSession, sf: str) -> DataFrame:
    """Sorted-neighborhood entity-resolution blocking
    (operators/dedup.snm_pairs): candidate pairs whose 6-char blocking
    keys sort within 8 ranks of each other.  Ranks come from the
    distinct-key relation (the fact table is never globally sorted);
    each record probes its own and the next rank-bucket, so every pair
    is generated exactly once via an equi-join — O(n·window), never
    n²."""
    from .operators import dedup as dd

    d = load_table(spark, sf, "documents").where(F.col("text").isNotNull()).select(
        "doc_id", F.substring("text", 1, 6).alias("k")
    )
    return dd.snm_pairs(d, "doc_id", "k", window=8)


# ------------------------------------------------------------------ q419
@query(
    "q419_sla_burn",
    """
    WITH f AS (
        SELECT event_type,
               CAST(floor(epoch(ts)) AS BIGINT) AS sec,
               CASE WHEN CAST(round(value * 100) AS BIGINT) % 50 = 0 THEN 1 ELSE 0 END AS err
        FROM events
    ),
    fast AS (
        SELECT event_type, 'fast' AS win_name,
               CAST(floor(sec / 3600.0) AS BIGINT) * 3600 AS bucket_start,
               CAST(count(*) AS BIGINT) AS n, CAST(sum(err) AS BIGINT) AS n_err
        FROM f GROUP BY 1, 3
    ),
    slow AS (
        SELECT event_type, 'slow' AS win_name,
               CAST(floor(sec / 86400.0) AS BIGINT) * 86400 AS bucket_start,
               CAST(count(*) AS BIGINT) AS n, CAST(sum(err) AS BIGINT) AS n_err
        FROM f GROUP BY 1, 3
    )
    SELECT event_type, win_name, bucket_start, n, n_err,
           n_err * 100 > 2 * n AS burning
    FROM (SELECT * FROM fast UNION ALL SELECT * FROM slow)
    """,
)
def q419(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-window SLO error-budget burn report
    (operators/profile.sla_burn): hourly fast-burn and daily slow-burn
    buckets per event type, each flagged by the cross-multiplied
    integer test n_err·100 > 2·n — no float rate exists."""
    from .operators import profile as prof

    ev = load_table(spark, sf, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    d = ev.select(
        "event_type", "ts", (cents % 50 == 0).cast("long").alias("err")
    )
    return prof.sla_burn(
        d, ["event_type"], "ts", "err",
        windows=[("fast", 3600), ("slow", 86400)], budget_num=2, budget_den=100,
    )


# ------------------------------------------------------------------ q420
@query(
    "q420_holm_bonferroni",
    """
    WITH tests AS (
        SELECT user_id % 20 AS test_id,
               CAST(min((CAST(round(value * 100) AS BIGINT) * 31 + 7) % 1000) AS DOUBLE)
                 / 1000 AS p
        FROM events GROUP BY 1
    ),
    m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM tests),
    r AS (
        SELECT test_id, p, m,
               CAST(row_number() OVER (ORDER BY p, test_id) AS BIGINT) AS p_rank
        FROM tests, m
    ),
    s AS (
        SELECT test_id, p, p_rank, m,
               max(p * (m - p_rank + 1)) OVER (ORDER BY p, test_id
                   ROWS UNBOUNDED PRECEDING) AS adj_raw,
               min(CASE WHEN p * (m - p_rank + 1) * 100 <= CAST(5.0 AS DOUBLE)
                        THEN 1 ELSE 0 END) OVER (ORDER BY p, test_id
                   ROWS UNBOUNDED PRECEDING) AS ok
        FROM r
    )
    SELECT test_id, p, p_rank, m,
           least(adj_raw, CAST(1.0 AS DOUBLE)) AS adj_p,
           ok = 1 AS reject
    FROM s
    """,
)
def q420(spark: SparkSession, sf: str) -> DataFrame:
    """Holm-Bonferroni step-down over 20 synthetic p-values
    (functions/stats.holm_bonferroni).  The adjusted p is a running
    float MAX — max is exact under any fold, unlike sums — and the α
    test is cross-multiplied, so the whole step-down is
    engine-identical."""
    from .functions import stats as st

    ev = load_table(spark, sf, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    tests = ev.groupBy((F.col("user_id") % 20).alias("test_id")).agg(
        (F.min((cents * 31 + 7) % 1000).cast("double") / 1000).alias("p")
    )
    return st.holm_bonferroni(tests, "p", ["test_id"], alpha_num=5, alpha_den=100)


# ------------------------------------------------------------------ q421
@query(
    "q421_scd2_build",
    """
    WITH ch AS (
        SELECT user_id, ts, event_type,
               CAST(round(value * 100) AS BIGINT) // 10000 AS val_bucket
        FROM events
    ),
    flagged AS (
        SELECT *,
               row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn,
               lag(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS prev_t,
               lag(val_bucket) OVER (PARTITION BY user_id ORDER BY ts) AS prev_b
        FROM ch
    ),
    kept AS (
        SELECT user_id, ts, event_type, val_bucket FROM flagged
        WHERE rn = 1
           OR event_type IS DISTINCT FROM prev_t
           OR val_bucket IS DISTINCT FROM prev_b
    )
    SELECT user_id, event_type, val_bucket,
           epoch_us(ts) AS valid_from_us,
           lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS valid_to_us,
           CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts) AS BIGINT) AS version,
           lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) IS NULL AS is_current
    FROM kept
    """,
)
def q421(spark: SparkSession, sf: str) -> DataFrame:
    """Type-2 SCD history builder (operators/merge.scd2_build): per-user
    change log → validity intervals, no-op changes dropped first, bounds
    emitted as epoch-microsecond BIGINTs (timestamps are hash-hostile —
    ORACLES.md rule 21)."""
    from .operators import merge as mg

    ev = load_table(spark, sf, "events").select(
        "user_id", "ts", "event_type",
        (F.round(F.col("value") * 100).cast("long") / 10000).cast("long").alias("val_bucket"),
    )
    return mg.scd2_build(ev, ["user_id"], "ts", ["event_type", "val_bucket"])


# ------------------------------------------------------------------ q422
@query(
    "q422_identity_resolution",
    """
    WITH RECURSIVE users AS (SELECT DISTINCT user_id AS u FROM events),
    devices AS (
        SELECT u, (u // 12) * 100 + (u % 12) // 4 AS dev FROM users
        UNION ALL
        SELECT u, (u // 12) * 100 + 50 + (u % 12) // 6 AS dev FROM users
    ),
    base AS (
        SELECT a.u AS src, b.u AS dst
        FROM devices a JOIN devices b ON a.dev = b.dev AND a.u < b.u
    ),
    edges AS (
        SELECT DISTINCT src, dst FROM base
        UNION SELECT dst, src FROM base
    ),
    walk(node, reach) AS (
        SELECT src, src FROM (SELECT DISTINCT src FROM edges)
        UNION
        SELECT w.node, e.dst FROM walk w JOIN edges e ON w.reach = e.src
    )
    SELECT node, min(reach) AS component FROM walk GROUP BY node
    """,
)
def q422(spark: SparkSession, sf: str) -> DataFrame:
    """Identity resolution across two synthetic device-id spaces: the
    bipartite user-device graph projects to user-user edges via shared
    devices (one self-equi-join on device), then connected components
    assign each user a canonical identity — the session-stitching
    pipeline every cross-device analytics stack runs.  The oracle
    replays the transitive closure with a recursive CTE (q150's
    shape)."""
    from .operators import graph

    users = load_table(spark, sf, "events").select(F.col("user_id").alias("u")).distinct()
    blk = F.floor(F.col("u") / 12).cast("long") * 100
    devices = users.select("u", (blk + F.floor((F.col("u") % 12) / 4).cast("long")).alias("dev")).unionByName(
        users.select("u", (blk + 50 + F.floor((F.col("u") % 12) / 6).cast("long")).alias("dev"))
    )
    a = devices.select("dev", F.col("u").alias("id_a"))
    b = devices.select("dev", F.col("u").alias("id_b"))
    edges = a.join(b, on="dev").where(F.col("id_a") < F.col("id_b")).select("id_a", "id_b").distinct()
    return graph.connected_components(edges)


# ------------------------------------------------------------------ q423
@query(
    "q423_replay_eval",
    """
    WITH f AS (
        SELECT event_type,
               event_id % 4 AS logged,
               CAST(round(value * 100) AS BIGINT) % 4 AS policy,
               CAST(round(value * 100) AS BIGINT) % 100 AS reward
        FROM events
    ),
    g AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_logged,
               CAST(sum(CASE WHEN logged = policy THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
               CAST(sum(CASE WHEN logged = policy THEN reward ELSE 0 END) AS BIGINT) AS reward_sum
        FROM f GROUP BY event_type
    )
    SELECT event_type, n_logged, n_matched,
           CAST(n_matched AS DOUBLE) / n_logged AS match_rate,
           reward_sum,
           CASE WHEN n_matched > 0 THEN CAST(reward_sum AS DOUBLE) / n_matched END AS replay_value
    FROM g
    """,
)
def q423(spark: SparkSession, sf: str) -> DataFrame:
    """Replay offline policy evaluation (functions/stats.replay_eval) —
    the matched-action OPE estimator beside IPS (q351) and DR (q365):
    integer match filter, BIGINT reward sum, one divide."""
    from .functions import stats as st

    ev = load_table(spark, sf, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    d = ev.select(
        "event_type",
        (F.col("event_id") % 4).alias("logged"),
        (cents % 4).alias("policy"),
        (cents % 100).alias("reward"),
    )
    return st.replay_eval(d, ["event_type"], "logged", "policy", "reward")


# ------------------------------------------------------------------ q424
@query(
    "q424_lexical_diversity",
    r"""
    WITH toks AS (
        SELECT doc_id,
               unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS tok
        FROM documents WHERE text IS NOT NULL
    ),
    nz AS (SELECT doc_id, tok FROM toks WHERE tok != ''),
    tc AS (SELECT doc_id, tok, count(*) AS c FROM nz GROUP BY 1, 2),
    g AS (
        SELECT doc_id,
               CAST(sum(c) AS BIGINT) AS n_tokens,
               CAST(count(*) AS BIGINT) AS n_types,
               CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
        FROM tc GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(g.n_tokens, 0) AS n_tokens,
           coalesce(g.n_types, 0) AS n_types,
           CASE WHEN g.n_tokens > 0 THEN CAST(g.n_types AS DOUBLE) / g.n_tokens END AS ttr,
           CASE WHEN g.n_types > 0 THEN CAST(g.n_hapax AS DOUBLE) / g.n_types END AS hapax_rate
    FROM documents d LEFT JOIN g ON g.doc_id = d.doc_id
    WHERE d.text IS NOT NULL
    """,
)
def q424(spark: SparkSession, sf: str) -> DataFrame:
    """Lexical-diversity corpus signals (operators/text.
    lexical_diversity): token count, types, type-token ratio, hapax
    share — computed HORIZONTALLY over each document's sorted token
    array (no explode, no shuffle; the whole report is a projection),
    while the oracle takes the explode-and-count route."""
    from .operators import text as tx

    d = load_table(spark, sf, "documents").where(F.col("text").isNotNull())
    return tx.lexical_diversity(d)


# ------------------------------------------------------------------ q425
@query(
    "q425_seq_pairs",
    """
    WITH base AS (
        SELECT user_id AS u, event_type AS i, epoch_us(ts) AS tus FROM events
    ),
    hits AS (
        SELECT DISTINCT a.u, a.i AS item_a, b.i AS item_b
        FROM base a JOIN base b ON a.u = b.u
        WHERE a.tus < b.tus AND a.i != b.i
          AND b.tus - a.tus <= 86400000000
    )
    SELECT item_a, item_b, CAST(count(DISTINCT u) AS BIGINT) AS n_users
    FROM hits GROUP BY 1, 2
    HAVING count(DISTINCT u) >= 2
    """,
)
def q425(spark: SparkSession, sf: str) -> DataFrame:
    """Frequent sequential pairs (operators/mining.seq_pairs): which
    event type follows which within a day, counted in distinct users —
    the first level of sequence mining.  Per-user self-equi-join with a
    microsecond-integer gap bound; DISTINCT before the count so repeat
    patterns count once per user."""
    from .operators import mining as mn

    ev = load_table(spark, sf, "events")
    return mn.seq_pairs(ev, "user_id", "event_type", "ts", max_gap_seconds=86400)


# ------------------------------------------------------------------ q426
@query(
    "q426_golden_record",
    """
    WITH recs AS (
        SELECT user_id % 40 AS component, user_id, ts, event_type,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    main AS (
        SELECT component,
               CAST(count(*) AS BIGINT) AS n_members,
               max_by(cents, CASE WHEN cents IS NOT NULL THEN epoch_us(ts) END) AS cents,
               max(user_id) AS user_id
        FROM recs GROUP BY component
    ),
    tc AS (
        SELECT component, event_type, count(*) AS c
        FROM recs WHERE event_type IS NOT NULL GROUP BY 1, 2
    ),
    md AS (
        SELECT component, event_type FROM (
            SELECT component, event_type,
                   row_number() OVER (PARTITION BY component
                                      ORDER BY c DESC, event_type) AS rn
            FROM tc
        ) WHERE rn = 1
    )
    SELECT m.component, m.n_members, m.cents, m.user_id, md.event_type
    FROM main m LEFT JOIN md USING (component)
    """,
)
def q426(spark: SparkSession, sf: str) -> DataFrame:
    """Field-level survivorship (operators/dedup.golden_record): one
    canonical record per synthetic duplicate cluster — freshest cents
    (latest), max user_id, most-frequent event type (smallest-value
    tie-break).  latest/max fuse into one hash agg; mode adds one count
    agg joined back."""
    from .operators import dedup as dd

    ev = load_table(spark, sf, "events").select(
        (F.col("user_id") % 40).alias("component"),
        "user_id", "ts", "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    ).withColumn("okey", F.unix_micros(F.col("ts")))
    out = dd.golden_record(
        ev, "component",
        {"cents": "latest", "user_id": "max", "event_type": "mode"},
        order_col="okey",
    )
    return out.select("component", "n_members", "cents", "user_id", "event_type")


# ------------------------------------------------------------------ q427
@query(
    "q427_srm_check",
    """
    WITH f AS (
        SELECT event_type,
               CASE WHEN user_id % 2 = 0 THEN 'ctl' ELSE 'trt' END AS arm
        FROM events
    ),
    g AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN arm = 'ctl' THEN 1 ELSE 0 END) AS BIGINT) AS n_ctl,
               CAST(sum(CASE WHEN arm = 'trt' THEN 1 ELSE 0 END) AS BIGINT) AS n_trt
        FROM f GROUP BY event_type
    )
    SELECT event_type, n, n_ctl, n_trt,
           CAST((n_ctl * 2 - n * 1) * (n_ctl * 2 - n * 1) AS DOUBLE) / (n * 1 * 2)
             + CAST((n_trt * 2 - n * 1) * (n_trt * 2 - n * 1) AS DOUBLE) / (n * 1 * 2) AS chi2,
           CAST(1 AS BIGINT) AS dof
    FROM g
    """,
)
def q427(spark: SparkSession, sf: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail (functions/stats.srm_check):
    chi-square GOF of a 50/50 hash assignment per event type — exact
    BIGINT numerators, arm terms added in fixed literal order."""
    from .functions import stats as st

    ev = load_table(spark, sf, "events").select(
        "event_type",
        F.when(F.col("user_id") % 2 == 0, "ctl").otherwise("trt").alias("arm"),
    )
    return st.srm_check(ev, ["event_type"], "arm", {"ctl": 1, "trt": 1})


# ------------------------------------------------------------------ q428
@query(
    "q428_rev_schedule",
    """
    WITH contracts AS (
        SELECT o_orderkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS amount,
               CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT) AS start_p,
               CAST(o_orderkey % 11 + 2 AS INT) AS np
        FROM orders WHERE o_orderkey % 7 = 0
    )
    SELECT o_orderkey, start_p + i AS period,
           amount // np + CASE WHEN i < amount % np THEN 1 ELSE 0 END AS amount_p
    FROM contracts, LATERAL (SELECT unnest(range(0, np)) AS i)
    """,
)
def q428(spark: SparkSession, sf: str) -> DataFrame:
    """Revenue-recognition spread (operators/finance.rev_schedule):
    each selected order's cents spread over 2-12 monthly periods by the
    largest-remainder rule — every schedule sums back to its contract
    EXACTLY (no float cents), via one posexplode projection."""
    from .operators import finance as fin

    o = load_table(spark, sf, "orders").where(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("amount"),
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).cast("long").alias("start_p"),
        (F.col("o_orderkey") % 11 + 2).cast("int").alias("np"),
    )
    return fin.rev_schedule(o, ["o_orderkey"], "amount", "start_p", "np")


# ------------------------------------------------------------------ q429
@query(
    "q429_mrr_movements",
    """
    WITH cp AS (
        SELECT o_custkey AS c,
               CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT) AS p,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS a
        FROM orders GROUP BY 1, 2
    ),
    prev AS (SELECT c, p + 1 AS p, a FROM cp),
    m AS (
        SELECT coalesce(cur.p, prev.p) AS p,
               coalesce(cur.a, 0) AS ac, coalesce(prev.a, 0) AS ap,
               cur.a IS NULL AS gone, prev.a IS NULL AS fresh
        FROM cp cur FULL OUTER JOIN prev ON cur.c = prev.c AND cur.p = prev.p
    )
    SELECT p AS period,
           CAST(sum(ac) AS BIGINT) AS mrr,
           CAST(sum(CASE WHEN fresh THEN ac ELSE 0 END) AS BIGINT) AS new_mrr,
           CAST(sum(CASE WHEN NOT fresh AND NOT gone AND ac > ap THEN ac - ap ELSE 0 END) AS BIGINT) AS expansion,
           CAST(sum(CASE WHEN NOT fresh AND NOT gone AND ac < ap THEN ap - ac ELSE 0 END) AS BIGINT) AS contraction,
           CAST(sum(CASE WHEN gone THEN ap ELSE 0 END) AS BIGINT) AS churned,
           CAST(sum(CASE WHEN fresh THEN ac ELSE 0 END)
              + sum(CASE WHEN NOT fresh AND NOT gone AND ac > ap THEN ac - ap ELSE 0 END)
              - sum(CASE WHEN NOT fresh AND NOT gone AND ac < ap THEN ap - ac ELSE 0 END)
              - sum(CASE WHEN gone THEN ap ELSE 0 END) AS BIGINT) AS net_change
    FROM m GROUP BY p
    """,
)
def q429(spark: SparkSession, sf: str) -> DataFrame:
    """SaaS-style MRR movement waterfall over customer order months
    (operators/finance.mrr_movements): new / expansion / contraction /
    churned cents per month from one (customer, month−1) full-outer
    self-join — net reconciles to the MRR delta exactly."""
    from .operators import finance as fin

    o = load_table(spark, sf, "orders").select(
        F.col("o_custkey").alias("c"),
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).cast("long").alias("p"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    return fin.mrr_movements(o, "c", "p", "cents")


# ------------------------------------------------------------------ q430
@query(
    "q430_c_chart",
    """
    WITH counts AS (
        SELECT event_type, CAST(floor(epoch(ts) / 86400.0) AS BIGINT) AS bkt,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ),
    base AS (
        SELECT event_type, CAST(sum(n) AS BIGINT) AS total,
               CAST(max(bkt) - min(bkt) + 1 AS BIGINT) AS span
        FROM counts GROUP BY 1
    )
    SELECT c.event_type, CAST(c.bkt * 86400 AS BIGINT) AS bucket_start,
           c.n, b.total, b.span AS span_buckets,
           (c.n * b.span - b.total > 0)
             AND ((c.n * b.span - b.total) * (c.n * b.span - b.total) > 9 * b.total * b.span)
             AS out_high,
           (c.n * b.span - b.total < 0)
             AND ((c.n * b.span - b.total) * (c.n * b.span - b.total) > 9 * b.total * b.span)
             AS out_low
    FROM counts c JOIN base b USING (event_type)
    """,
)
def q430(spark: SparkSession, sf: str) -> DataFrame:
    """Poisson c-chart SPC over daily event counts per type
    (operators/window.c_chart): the ±3σ control test runs as
    (c·B − T)² > 9·T·B — exact BIGINT cross-multiplication, a count can
    never sit ON the limit."""
    from .operators import window as win

    ev = load_table(spark, sf, "events")
    return win.c_chart(ev, ["event_type"], "ts", bucket_seconds=86400, sigmas=3)


# ------------------------------------------------------------------ q431
@query(
    "q431_trending_terms",
    r"""
    WITH docs AS (
        SELECT doc_id % 4 AS per, text FROM documents WHERE text IS NOT NULL
    ),
    toks AS (
        SELECT per,
               unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS term
        FROM docs
    ),
    nz AS (SELECT per, term FROM toks WHERE term != ''),
    tp AS (SELECT per, term, CAST(count(*) AS BIGINT) AS c_tp FROM nz GROUP BY 1, 2),
    pt AS (SELECT per, CAST(sum(c_tp) AS BIGINT) AS t_p FROM tp GROUP BY 1),
    tt AS (SELECT term, CAST(sum(c_tp) AS BIGINT) AS c_t FROM tp GROUP BY 1),
    g AS (SELECT CAST(sum(c_tp) AS BIGINT) AS t_total FROM tp)
    SELECT CAST(tp.per AS BIGINT) AS period, tp.term, c_tp, c_t, t_p, t_total,
           CAST(c_tp * t_total AS DOUBLE) / (c_t * t_p) AS lift,
           c_tp * t_total * 2 > c_t * t_p * 3 AS trending
    FROM tp JOIN pt USING (per) JOIN tt USING (term), g
    WHERE c_tp >= 3
    """,
)
def q431(spark: SparkSession, sf: str) -> DataFrame:
    """Trending-term detection across synthetic document periods
    (operators/retrieval.trending_terms): within-period vs corpus-wide
    term rates compared by exact BIGINT cross-multiplication (lift 3/2);
    corpus totals reduce from the (term, period) relation — one explode,
    no second scan."""
    from .operators import retrieval as ret

    d = load_table(spark, sf, "documents")
    return ret.trending_terms(
        d, (F.col("doc_id") % 4).cast("long"), min_count=3, lift_num=3, lift_den=2
    )


# ------------------------------------------------------------------ q432
@query(
    "q432_missing_partitions",
    """
    WITH f AS (
        SELECT event_type, CAST(floor(epoch(ts) / 86400.0) AS BIGINT) AS bkt FROM events
    ),
    k AS (SELECT event_type, bkt FROM f WHERE bkt % 5 != 2),
    obs AS (SELECT DISTINCT event_type, bkt FROM k),
    span AS (SELECT event_type, min(bkt) AS lo, max(bkt) AS hi FROM obs GROUP BY 1),
    expected AS (
        SELECT event_type, unnest(range(lo, hi + 1)) AS bkt FROM span
    )
    SELECT e.event_type, CAST(e.bkt * 86400 AS BIGINT) AS bucket_start
    FROM expected e LEFT JOIN obs o ON o.event_type = e.event_type AND o.bkt = e.bkt
    WHERE o.bkt IS NULL
    """,
)
def q432(spark: SparkSession, sf: str) -> DataFrame:
    """Missing-partition audit (operators/profile.missing_partitions):
    calendar holes inside each event type's observed span, after
    deterministically dropping every 5th day — expected buckets explode
    from the one-row-per-key span relation, then a LEFT ANTI join
    exposes the holes."""
    from .operators import profile as prof

    ev = load_table(spark, sf, "events")
    b = F.floor(F.unix_seconds(F.col("ts")) / 86400).cast("long")
    filtered = ev.withColumn("__b__", b).where(F.col("__b__") % 5 != 2).drop("__b__")
    return prof.missing_partitions(filtered, ["event_type"], "ts", bucket_seconds=86400)


# ------------------------------------------------------------------ q433
@query(
    "q433_yuen_trimmed_t",
    """
    WITH sel AS (
        SELECT CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS g,
               CAST(round(value * 100) AS BIGINT) AS x
        FROM events WHERE event_type IN ('click', 'purchase')
    ),
    d AS (
        SELECT g, x,
               row_number() OVER (PARTITION BY g ORDER BY x) AS rn,
               CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS n
        FROM sel
    ),
    agg AS (
        SELECT g, min(n) AS n, min(n // 10) AS gc,
               CAST(sum(CASE WHEN rn > n // 10 AND rn <= n - n // 10 THEN x END) AS BIGINT) AS s_mid,
               CAST(sum(CASE WHEN rn > n // 10 AND rn <= n - n // 10 THEN x * x END) AS BIGINT) AS ss_mid,
               CAST(min(CASE WHEN rn = n // 10 + 1 THEN x END) AS BIGINT) AS x_lo,
               CAST(min(CASE WHEN rn = n - n // 10 THEN x END) AS BIGINT) AS x_hi
        FROM d GROUP BY g
    ),
    per AS (
        SELECT g, n, gc, n - 2 * gc AS h,
               CAST(s_mid AS DOUBLE) / (n - 2 * gc) AS tmean,
               CAST(n * (ss_mid + gc * (x_lo * x_lo + x_hi * x_hi))
                    - (s_mid + gc * (x_lo + x_hi)) * (s_mid + gc * (x_lo + x_hi)) AS DOUBLE)
                 / (n * (n - 1)) AS s2w
        FROM agg
    ),
    pd AS (
        SELECT g, n, h, tmean, (n - 1) * s2w / (h * (h - 1)) AS d_i FROM per
    )
    SELECT a.n AS n_a, b.n AS n_b, a.h AS h_a, b.h AS h_b,
           a.tmean AS tmean_a, b.tmean AS tmean_b,
           (a.tmean - b.tmean) / sqrt(a.d_i + b.d_i) AS t,
           (a.d_i + b.d_i) * (a.d_i + b.d_i)
             / (a.d_i * a.d_i / (a.h - 1) + b.d_i * b.d_i / (b.h - 1)) AS dof
    FROM (SELECT * FROM pd WHERE g = 0) a, (SELECT * FROM pd WHERE g = 1) b
    """,
)
def q433(spark: SparkSession, sf: str) -> DataFrame:
    """Yuen's 10%-trimmed robust t-test, click vs purchase value cents
    (functions/stats.yuen_trimmed_t): rank-based tail cuts, winsorized
    sums as exact BIGINTs (ties at the trim boundary are
    value-invariant), t and Welch df as fixed float trees."""
    from .functions import stats as st

    ev = load_table(spark, sf, "events").select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    return st.yuen_trimmed_t(ev, "event_type", "cents", "click", "purchase")


# ------------------------------------------------------------------ q434
@query(
    "q434_dup_charges",
    """
    WITH base AS (
        SELECT user_id AS acct,
               CAST(round(value * 100) AS BIGINT) % 20 AS amount,
               epoch_us(ts) AS tus, event_id AS txn
        FROM events
    )
    SELECT a.acct AS user_id, a.amount, a.txn AS id_a, b.txn AS id_b,
           CAST(b.tus - a.tus AS DOUBLE) / 1000000 AS gap_seconds
    FROM base a JOIN base b ON a.acct = b.acct AND a.amount = b.amount
    WHERE (a.tus < b.tus OR (a.tus = b.tus AND a.txn < b.txn))
      AND b.tus - a.tus <= 3600000000
    """,
)
def q434(spark: SparkSession, sf: str) -> DataFrame:
    """Duplicate-charge detection (operators/finance.dup_charges): same
    account + same amount within an hour, each pair once via the
    (time, id) tiebreak — the candidate join only exists inside
    identical-amount groups."""
    from .operators import finance as fin

    ev = load_table(spark, sf, "events").select(
        "user_id", "ts", "event_id",
        (F.round(F.col("value") * 100).cast("long") % 20).alias("amt"),
    )
    return fin.dup_charges(ev, "user_id", "amt", "ts", "event_id", window_seconds=3600)


# ------------------------------------------------------------------ q435
@query(
    "q435_apdex",
    """
    WITH f AS (
        SELECT event_type, CAST(round(value * 100) AS BIGINT) % 5000 AS lat FROM events
    ),
    g AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN lat <= 1000 THEN 1 ELSE 0 END) AS BIGINT) AS satisfied,
               CAST(sum(CASE WHEN lat > 1000 AND lat <= 4000 THEN 1 ELSE 0 END) AS BIGINT) AS tolerating
        FROM f GROUP BY event_type
    )
    SELECT event_type, n, satisfied, tolerating,
           n - satisfied - tolerating AS frustrated,
           CAST(2 * satisfied + tolerating AS DOUBLE) / (2 * n) AS apdex
    FROM g
    """,
)
def q435(spark: SparkSession, sf: str) -> DataFrame:
    """Apdex satisfaction score per event type
    (operators/profile.apdex): the doubled numerator 2·sat + tol stays
    an exact BIGINT, the score is one divide."""
    from .operators import profile as prof

    ev = load_table(spark, sf, "events").select(
        "event_type", (F.round(F.col("value") * 100).cast("long") % 5000).alias("lat")
    )
    return prof.apdex(ev, ["event_type"], "lat", threshold=1000)


# ------------------------------------------------------------------ q436
@query(
    "q436_theil_sen_full",
    """
    WITH pts AS (
        SELECT event_type, CAST(floor(epoch(ts) / 86400.0) AS BIGINT) % 60 AS x,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
        FROM events GROUP BY 1, 2
    ),
    pairs AS (
        SELECT a.event_type,
               CAST(b.y - a.y AS DOUBLE) / (b.x - a.x) AS slope_ij
        FROM pts a JOIN pts b ON a.event_type = b.event_type AND a.x < b.x
    ),
    ms AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs,
               quantile_cont(slope_ij, 0.5) AS slope
        FROM pairs GROUP BY event_type
    ),
    resid AS (
        SELECT p.event_type, s.n_pairs, s.slope, p.y - s.slope * p.x AS r
        FROM pts p JOIN ms s USING (event_type)
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           min(n_pairs) AS n_pairs, min(slope) AS slope,
           quantile_cont(r, 0.5) AS intercept
    FROM resid GROUP BY event_type
    """,
)
def q436(spark: SparkSession, sf: str) -> DataFrame:
    """Full pairwise Theil-Sen line fit per event type over the
    day-residue aggregated daily-revenue series
    (functions/stats.theil_sen_full): every pair slope is one divide of
    exact integer differences, the median selects among bit-identical
    doubles, and the intercept is the residual median — robust where a
    plain median(y) pairing is not.
    Upgrades q290's consecutive-pair variant to the 29.3%-breakdown
    estimator."""
    from .functions import stats as st

    ev = load_table(spark, sf, "events")
    pts = ev.groupBy(
        "event_type",
        (F.floor(F.unix_seconds(F.col("ts")) / 86400).cast("long") % 60).alias("x"),
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("y"))
    return st.theil_sen_full(pts, ["event_type"], "x", "y", max_n=200)


# ------------------------------------------------------------------ q437
_Q437_COS16 = (
    "list_dot_product({a}[1:16]::DOUBLE[], {b}[1:16]::DOUBLE[])"
    " / (sqrt(list_dot_product({a}[1:16]::DOUBLE[], {a}[1:16]::DOUBLE[]))"
    " * sqrt(list_dot_product({b}[1:16]::DOUBLE[], {b}[1:16]::DOUBLE[])))"
)


@query(
    "q437_matryoshka_recall",
    f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id IN (0, 1, 2)
    ),
    exact AS (
        SELECT query_id, vec_id FROM (
            SELECT q.query_id, c.vec_id,
                   row_number() OVER (PARTITION BY q.query_id
                                      ORDER BY {_Q416_COS.format(a='c.embedding', b='q.embedding')} DESC,
                                               c.vec_id) AS rank
            FROM embeddings c, q
        ) WHERE rank <= 10
    ),
    approx AS (
        SELECT query_id, vec_id FROM (
            SELECT q.query_id, c.vec_id,
                   row_number() OVER (PARTITION BY q.query_id
                                      ORDER BY {_Q437_COS16.format(a='c.embedding', b='q.embedding')} DESC,
                                               c.vec_id) AS rank
            FROM embeddings c, q
        ) WHERE rank <= 10
    )
    SELECT e.query_id, CAST(count(*) AS BIGINT) AS n_exact,
           CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
           CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) AS recall
    FROM exact e LEFT JOIN approx a ON a.query_id = e.query_id AND a.vec_id = e.vec_id
    GROUP BY e.query_id
    """,
)
def q437(spark: SparkSession, sf: str) -> DataFrame:
    """Matryoshka-style truncation eval: recall@10 of top-k search on
    the FIRST 16 dimensions against the full-64-dim exact ranking —
    the measurement that decides how far an embedding column can be
    truncated before ANN quality collapses (composes brute_force_topk
    over F.slice with similarity.recall_at_k)."""
    from .operators import similarity as sim

    e = load_table(spark, sf, "embeddings")
    q = e.where(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = sim.brute_force_topk(e, q, k=10)
    e16 = e.select("vec_id", F.slice("embedding", 1, 16).alias("embedding"))
    q16 = q.select("query_id", F.slice("query_vec", 1, 16).alias("query_vec"))
    approx = sim.brute_force_topk(e16, q16, k=10)
    return sim.recall_at_k(approx, exact)


# ------------------------------------------------------------------ q438
@query(
    "q438_bloom_semi_join",
    """
    SELECT l.l_orderkey, l.l_linenumber,
           CAST(round(l.l_extendedprice * 100) AS BIGINT) AS cents
    FROM lineitem l
    WHERE l.l_orderkey IN (
        SELECT o_orderkey FROM orders
        WHERE o_orderpriority = '1-URGENT' AND o_custkey % 10 = 0
    )
    """,
)
def q438(spark: SparkSession, sf: str) -> DataFrame:
    """Bloom-pruned semi-join (operators/pipeline.bloom_semi_join): the
    lineitem scan is pre-filtered HORIZONTALLY by a broadcast Bloom
    filter of the selective order-key set, so the exchange feeding the
    exact semi-join carries only survivors; the final semi-join
    re-checks every hit, so the result equals the plain semi-join the
    oracle runs — the filter only shapes the plan."""
    from .operators import pipeline as pl

    li = load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    o = load_table(spark, sf, "orders").where(
        (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_custkey") % 10 == 0)
    ).select(F.col("o_orderkey").alias("l_orderkey"))
    return pl.bloom_semi_join(li, o, "l_orderkey", n_items=2000)


# ------------------------------------------------------------------ q439
@query(
    "q439_log_templates",
    """
    WITH logs AS (
        SELECT event_type || ' /api/v' || (CAST(round(value * 100) AS BIGINT) % 3)
               || '/users/' || user_id || ' took ' || CAST(round(value * 100) AS BIGINT)
               || 'ms' AS line
        FROM events
    )
    SELECT regexp_replace(regexp_replace(line, '[0-9a-f]{8,}', '<HEX>', 'g'),
                          '[0-9]+', '<N>', 'g') AS template,
           CAST(count(*) AS BIGINT) AS n,
           min(line) AS example
    FROM logs GROUP BY 1
    """,
)
def q439(spark: SparkSession, sf: str) -> DataFrame:
    """Log-template mining (operators/text.log_templates): synthetic
    request logs collapse to their masked templates (hex ids, then
    digit runs) with counts and a deterministic example — the
    Drain-style triage table, one regex projection + one hash agg."""
    from .operators import text as tx

    ev = load_table(spark, sf, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    logs = ev.select(
        F.concat(
            F.col("event_type"), F.lit(" /api/v"), (cents % 3).cast("string"),
            F.lit("/users/"), F.col("user_id").cast("string"),
            F.lit(" took "), cents.cast("string"), F.lit("ms"),
        ).alias("line")
    )
    return tx.log_templates(logs, "line")


# ------------------------------------------------------------------ q440
@query(
    "q440_jsonl_roundtrip",
    """
    SELECT doc_id, lang, source, n_chars, length(text) AS text_len
    FROM documents WHERE text IS NOT NULL
    """,
)
def q440(spark: SparkSession, sf: str) -> DataFrame:
    """JSON-Lines roundtrip (sources/io.save_jsonl/load_jsonl): export
    the documents table to gzipped JSONL — the lingua franca of LLM
    corpus interchange — read it back with an explicit schema, and
    project; the oracle reads the ORIGINAL parquet, so the roundtrip
    must be lossless."""
    import tempfile

    from .sources import io as rio

    d = load_table(spark, sf, "documents").where(F.col("text").isNotNull())
    path = tempfile.mkdtemp(prefix="rts_q440_")
    rio.save_jsonl(d, path)
    back = rio.load_jsonl(
        spark, path, schema="doc_id long, text string, lang string, source string, n_chars long"
    )
    return back.select(
        "doc_id", "lang", "source", "n_chars", F.length("text").alias("text_len")
    )


# ------------------------------------------------------------------ q441
@query(
    "q441_partitioned_write_prune",
    """
    SELECT l_returnflag, l_linestatus, count(*) AS n,
           round(sum(l_quantity), 2) AS qty
    FROM lineitem WHERE l_returnflag = 'R'
    GROUP BY 1, 2
    """,
)
def q441(spark: SparkSession, sf: str) -> DataFrame:
    """Partitioned-write → partition-pruned read
    (sources/io.save_dataset(partition_by=...)): lineitem lands as
    returnflag-partitioned parquet; the filtered re-read must touch only
    the 'R' directory (PartitionFilters — plan-gated in
    tests/test_plans.py), the layout a 100 TB fact table ships with."""
    import tempfile

    from .sources import io as rio

    li = load_table(spark, sf, "lineitem")
    path = tempfile.mkdtemp(prefix="rts_q441_")
    rio.save_dataset(li, path, partition_by=["l_returnflag"])
    # the layout just written: data columns, then the partition column
    written = StructType(
        [f for f in li.schema if f.name != "l_returnflag"] + [li.schema["l_returnflag"]]
    )
    back = spark.read.schema(written).parquet(path).where(F.col("l_returnflag") == "R")
    return back.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 2).alias("qty")
    )


# ------------------------------------------------------------------ q442
@query(
    "q442_first_seen_novelty",
    """
    WITH f AS (
        SELECT user_id, event_type,
               CAST(floor(epoch(ts) / 86400.0) AS BIGINT) AS bkt
        FROM events
    ),
    firsts AS (
        SELECT user_id, event_type, min(bkt) AS fb FROM f GROUP BY 1, 2
    ),
    byb AS (
        SELECT fb, CAST(count(*) AS BIGINT) AS n_new FROM firsts GROUP BY fb
    )
    SELECT CAST(fb * 86400 AS BIGINT) AS bucket_start, n_new,
           CAST(sum(n_new) OVER (ORDER BY fb ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS cum_entities
    FROM byb
    """,
)
def q442(spark: SparkSession, sf: str) -> DataFrame:
    """First-seen novelty audit (operators/profile.first_seen_novelty):
    daily count of never-before-seen (user, event-type) pairs + the
    running entity-universe size — the security/fraud "new behavior"
    feed, all exact integers over aggregated buckets."""
    from .operators import profile as prof

    ev = load_table(spark, sf, "events")
    return prof.first_seen_novelty(ev, ["user_id", "event_type"], "ts", 86400)


# ------------------------------------------------------------------ q443
@query(
    "q443_class_weights",
    """
    WITH byc AS (
        SELECT lang AS label, CAST(count(*) AS BIGINT) AS n_c FROM documents GROUP BY lang
    ),
    tot AS (
        SELECT CAST(sum(n_c) AS BIGINT) AS n_total, CAST(count(*) AS BIGINT) AS k FROM byc
    )
    SELECT label, n_c, n_total, k,
           n_total AS weight_num, k * n_c AS weight_den,
           CAST(n_total AS DOUBLE) / (k * n_c) AS weight
    FROM byc, tot
    """,
)
def q443(spark: SparkSession, sf: str) -> DataFrame:
    """Balanced class weights over document languages
    (operators/pipeline.class_weights): sklearn's N/(k·n_c) convention,
    emitted as the exact integer rational AND the one-divide double."""
    from .operators import pipeline as pl

    d = load_table(spark, sf, "documents")
    return pl.class_weights(d, "lang")


# ------------------------------------------------------------------ q444
_Q444_HOLIDAYS = ["1996-12-25", "1997-01-01", "1996-11-28"]


@query(
    "q444_settlement_dates",
    f"""
    WITH trades AS (
        SELECT o_orderkey, CAST(o_orderdate AS DATE) AS trade
        FROM orders WHERE o_orderkey % 13 = 0
    ),
    cands AS (
        SELECT o_orderkey, trade, trade + to_days(CAST(i AS INT)) AS cand
        FROM trades, (SELECT unnest(range(0, 11)) AS i)
    ),
    biz AS (
        SELECT o_orderkey, trade, cand FROM cands
        WHERE dayofweek(cand) NOT IN (0, 6)
          AND strftime(cand, '%Y-%m-%d') NOT IN ({", ".join(repr(h) for h in _Q444_HOLIDAYS)})
    ),
    r AS (
        SELECT o_orderkey, trade, cand,
               row_number() OVER (PARTITION BY o_orderkey ORDER BY cand) AS rn
        FROM biz
    )
    SELECT o_orderkey, strftime(trade, '%Y-%m-%d') AS trade_date,
           strftime(cand, '%Y-%m-%d') AS settle_date
    FROM r WHERE rn = 3
    """,
)
def q444(spark: SparkSession, sf: str) -> DataFrame:
    """T+2 settlement dates over a holiday calendar
    (functions/calendar.Calendar.add_business_days): roll the trade date
    onto a business day, then walk two business days — the calendar
    walks as literal-array codegen, no shuffle; the oracle ranks the
    candidate window and picks the 3rd business day ≥ trade (identical
    semantics)."""
    from .functions.calendar import Calendar

    cal = Calendar(holidays=_Q444_HOLIDAYS)
    o = load_table(spark, sf, "orders").where(F.col("o_orderkey") % 13 == 0).select(
        "o_orderkey", F.to_date("o_orderdate").alias("trade")
    )
    settle = cal.add_business_days(F.col("trade"), 2)
    return o.select(
        "o_orderkey",
        F.date_format("trade", "yyyy-MM-dd").alias("trade_date"),
        F.date_format(settle, "yyyy-MM-dd").alias("settle_date"),
    )


# ------------------------------------------------------------------ q445
@query(
    "q445_sq8_recall",
    f"""
    WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM base WHERE vec_id IN (0, 1, 2)),
    mm AS (
        SELECT i, min(v[i]) AS lo, max(v[i]) AS hi
        FROM base, range(1, 65) t(i) GROUP BY i
    ),
    rec AS (
        SELECT b.vec_id,
               list(CASE WHEN mm.hi > mm.lo
                         THEN mm.lo + (least(CAST(255.0 AS DOUBLE),
                                             floor((b.v[mm.i] - mm.lo) * CAST(255.0 AS DOUBLE)
                                                   / (mm.hi - mm.lo))) + CAST(0.5 AS DOUBLE))
                              * (mm.hi - mm.lo) / CAST(255.0 AS DOUBLE)
                         ELSE mm.lo END ORDER BY mm.i) AS rv
        FROM base b CROSS JOIN mm GROUP BY b.vec_id
    ),
    exact AS (
        SELECT query_id, vec_id FROM (
            SELECT q.query_id, c.vec_id,
                   row_number() OVER (PARTITION BY q.query_id
                                      ORDER BY {_Q416_COS.format(a='c.v', b='q.qv')} DESC,
                                               c.vec_id) AS rank
            FROM base c, q
        ) WHERE rank <= 10
    ),
    approx AS (
        SELECT query_id, vec_id FROM (
            SELECT q.query_id, r.vec_id,
                   row_number() OVER (PARTITION BY q.query_id
                                      ORDER BY {_Q416_COS.format(a='r.rv', b='q.qv')} DESC,
                                               r.vec_id) AS rank
            FROM rec r, q
        ) WHERE rank <= 10
    )
    SELECT e.query_id, CAST(count(*) AS BIGINT) AS n_exact,
           CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
           CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) AS recall
    FROM exact e LEFT JOIN approx a ON a.query_id = e.query_id AND a.vec_id = e.vec_id
    GROUP BY e.query_id
    """,
)
def q445(spark: SparkSession, sf: str) -> DataFrame:
    """Int8 scalar-quantization recall (operators/similarity.sq8_params/
    sq8_reconstructed): recall@10 of search over SQ8-reconstructed
    vectors vs the exact ranking — the 4×-compression sibling of the PQ
    family.  FLOOR quantization keeps codes engine-identical (identical
    doubles floor identically; a round at .5 would not)."""
    from .operators import similarity as sim

    e = load_table(spark, sf, "embeddings")
    params = sim.sq8_params(e, dim=64)
    recon = sim.sq8_reconstructed(e, params, dim=64)
    q = e.where(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = sim.brute_force_topk(e, q, k=10)
    approx = sim.brute_force_topk(recon, q, k=10)
    return sim.recall_at_k(approx, exact)


# ------------------------------------------------------------------ q446
@query(
    "q446_iv_estimate",
    """
    WITH f AS (
        SELECT user_id % 2 AS z,
               (CAST(round(value * 100) AS BIGINT) % 10) + 3 * (user_id % 2) AS x,
               2 * ((CAST(round(value * 100) AS BIGINT) % 10) + 3 * (user_id % 2))
                 + CAST(round(value * 100) AS BIGINT) % 7 AS y
        FROM events
    ),
    g AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(z) AS BIGINT) AS sz, CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(z * x) AS BIGINT) AS szx, CAST(sum(z * y) AS BIGINT) AS szy,
               CAST(sum(z * z) AS BIGINT) AS szz
        FROM f
    )
    SELECT n,
           CASE WHEN n * szx - sz * sx != 0
                THEN CAST(n * szy - sz * sy AS DOUBLE) / (n * szx - sz * sx) END AS beta_iv,
           CASE WHEN n * szz - sz * sz != 0
                THEN CAST(n * szx - sz * sx AS DOUBLE) / (n * szz - sz * sz) END AS first_stage,
           CASE WHEN n * szz - sz * sz != 0
                THEN CAST(n * szy - sz * sy AS DOUBLE) / (n * szz - sz * sz) END AS reduced_form
    FROM g
    """,
)
def q446(spark: SparkSession, sf: str) -> DataFrame:
    """Instrumental-variables (Wald/2SLS) estimate on a synthetic
    endogenous treatment (functions/stats.iv_estimate): every moment an
    exact BIGINT, both stages single divides.  The construction has
    y = 2x + noise, so β_IV must recover ≈2."""
    from .functions import stats as st

    ev = load_table(spark, sf, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    z = F.col("user_id") % 2
    x = (cents % 10) + 3 * z
    d = ev.select(z.alias("z"), x.alias("x"), (2 * x + cents % 7).alias("y"))
    return st.iv_estimate(d, "z", "x", "y")


# ------------------------------------------------------------------ q447
@query(
    "q447_forecast_ensemble",
    """
    WITH f AS (
        SELECT user_id,
               CAST(round(value * 100) AS BIGINT) AS y,
               CAST(event_id % 40000 + 100 AS BIGINT) AS fa,
               CAST((CAST(round(value * 100) AS BIGINT) * 7 + 500) % 45000 AS BIGINT) AS fb
        FROM events
    ),
    maes AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(abs(fa - y)) AS BIGINT) AS ea,
               CAST(sum(abs(fb - y)) AS BIGINT) AS eb
        FROM f GROUP BY user_id
    ),
    j AS (
        SELECT f.user_id, m.n, m.ea, m.eb,
               abs(f.y * (m.ea + m.eb) - (f.fa * m.eb + f.fb * m.ea)) AS se
        FROM f JOIN maes m USING (user_id)
    )
    SELECT user_id, min(n) AS n,
           min(ea) AS mae_a_sum, min(eb) AS mae_b_sum,
           CAST(sum(se) AS BIGINT) AS blend_err_scaled,
           CAST(min(ea) AS DOUBLE) / min(n) AS mae_a,
           CAST(min(eb) AS DOUBLE) / min(n) AS mae_b,
           CASE WHEN min(ea) + min(eb) > 0
                THEN CAST(sum(se) AS DOUBLE) / (min(n) * (min(ea) + min(eb))) END AS mae_blend
    FROM j GROUP BY user_id
    """,
)
def q447(spark: SparkSession, sf: str) -> DataFrame:
    """Inverse-MAE two-model forecast ensemble per user
    (functions/stats.forecast_ensemble_imae): the blend numerator/
    denominator are exact BIGINTs per row and the blended error is
    accumulated denominator-scaled, so no float MAE is ever summed or
    compared."""
    from .functions import stats as st

    ev = load_table(spark, sf, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    d = ev.select(
        "user_id", cents.alias("y"),
        (F.col("event_id") % 40000 + 100).cast("long").alias("fa"),
        ((cents * 7 + 500) % 45000).alias("fb"),
    )
    return st.forecast_ensemble_imae(d, ["user_id"], "y", "fa", "fb")


# ------------------------------------------------------------------ q448
@query(
    "q448_dirichlet_qlm",
    r"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
                           x -> x != '') AS t
        FROM documents
    ),
    d AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl, t FROM toks),
    tot AS (SELECT CAST(sum(dl) AS BIGINT) AS tt FROM d),
    e AS (SELECT doc_id, dl, unnest(t) AS term FROM d),
    post AS (
        SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
        FROM e WHERE term IN ('hash', 'join', 'vector') GROUP BY 1, 2, 3
    ),
    cf AS (
        SELECT term, CAST(count(*) AS BIGINT) AS c_t
        FROM e WHERE term IN ('hash', 'join', 'vector') GROUP BY 1
    ),
    cfs AS (
        SELECT CAST(min(CASE WHEN term = 'hash' THEN c_t END) AS BIGINT) AS c0,
               CAST(min(CASE WHEN term = 'join' THEN c_t END) AS BIGINT) AS c1,
               CAST(min(CASE WHEN term = 'vector' THEN c_t END) AS BIGINT) AS c2
        FROM cf
    ),
    f AS (
        SELECT p.doc_id, p.dl,
               min(CASE WHEN p.term = 'hash'
                        THEN CAST(p.tf * tot.tt + 2000 * c.c_t AS DOUBLE)
                             / ((p.dl + 2000) * tot.tt) END) AS f0,
               min(CASE WHEN p.term = 'join'
                        THEN CAST(p.tf * tot.tt + 2000 * c.c_t AS DOUBLE)
                             / ((p.dl + 2000) * tot.tt) END) AS f1,
               min(CASE WHEN p.term = 'vector'
                        THEN CAST(p.tf * tot.tt + 2000 * c.c_t AS DOUBLE)
                             / ((p.dl + 2000) * tot.tt) END) AS f2
        FROM post p JOIN cf c USING (term), tot
        GROUP BY p.doc_id, p.dl
    ),
    scored AS (
        SELECT f.doc_id,
               coalesce(f0, CAST(2000 * cfs.c0 AS DOUBLE) / ((f.dl + 2000) * tot.tt))
             * coalesce(f1, CAST(2000 * cfs.c1 AS DOUBLE) / ((f.dl + 2000) * tot.tt))
             * coalesce(f2, CAST(2000 * cfs.c2 AS DOUBLE) / ((f.dl + 2000) * tot.tt)) AS score
        FROM f, cfs, tot
    )
    SELECT doc_id, score,
           CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank
    FROM scored ORDER BY score DESC, doc_id LIMIT 10
    """,
)
def q448(spark: SparkSession, sf: str) -> DataFrame:
    """Dirichlet-smoothed query-likelihood retrieval
    (operators/retrieval.dirichlet_qlm): the LM ranking beside BM25
    (q195).  The score is a PRODUCT of per-term exact-integer ratios in
    fixed literal order — no Σlog, so the ranking key is
    engine-identical and the top-10 deterministic."""
    from .operators import retrieval as ret

    d = load_table(spark, sf, "documents")
    return ret.dirichlet_qlm(d, ["hash", "join", "vector"], mu=2000, k=10)


# ------------------------------------------------------------------ q449
@query(
    "q449_multilabel_eval",
    """
    WITH f AS (
        SELECT doc_id,
               list_distinct([doc_id % 5, (doc_id * 3 + 1) % 5]) AS t,
               list_distinct([doc_id % 5, (doc_id * 7 + 2) % 5]) AS p
        FROM documents
    ),
    g AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(len(list_intersect(t, p))) AS BIGINT) AS inter_sum,
               CAST(sum(len(p)) AS BIGINT) AS pred_sum,
               CAST(sum(len(t)) AS BIGINT) AS true_sum,
               CAST(sum(CASE WHEN len(list_filter(t, x -> NOT list_contains(p, x))) = 0
                              AND len(list_filter(p, x -> NOT list_contains(t, x))) = 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_exact
        FROM f
    )
    SELECT n, inter_sum, pred_sum, true_sum, n_exact,
           CASE WHEN pred_sum > 0 THEN CAST(inter_sum AS DOUBLE) / pred_sum END AS micro_p,
           CASE WHEN true_sum > 0 THEN CAST(inter_sum AS DOUBLE) / true_sum END AS micro_r,
           CASE WHEN pred_sum + true_sum > 0
                THEN CAST(2 * inter_sum AS DOUBLE) / (pred_sum + true_sum) END AS micro_f1,
           CAST(n_exact AS DOUBLE) / n AS subset_accuracy
    FROM g
    """,
)
def q449(spark: SparkSession, sf: str) -> DataFrame:
    """Micro-averaged multi-label P/R/F1 + subset accuracy over
    synthetic label sets (functions/stats.multilabel_prf): intersection
    sizes on DISTINCT label arrays, every metric one divide of exact
    BIGINT sums (macro averages deliberately absent — rule 22)."""
    from .functions import stats as st

    d = load_table(spark, sf, "documents").select(
        "doc_id",
        F.array_distinct(
            F.array(F.col("doc_id") % 5, (F.col("doc_id") * 3 + 1) % 5)
        ).alias("t"),
        F.array_distinct(
            F.array(F.col("doc_id") % 5, (F.col("doc_id") * 7 + 2) % 5)
        ).alias("p"),
    )
    return st.multilabel_prf(d, "t", "p")


# ------------------------------------------------------------------ q450
@query(
    "q450_curation_release",
    r"""
    WITH w AS (
        SELECT doc_id, lang, n_chars, text,
               string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ') AS toks
        FROM documents
    ),
    f AS (
        SELECT doc_id, lang, n_chars, text,
               len(toks) BETWEEN 50 AND 100000 AS r_word_count,
               (length(regexp_replace(text, '\s+', '', 'g'))::DOUBLE
                / greatest(len(toks), 1)) BETWEEN 3.0 AND 10.0 AS r_mean_word_len,
               len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE
                / greatest(len(toks), 1) >= 0.8 AS r_alpha
        FROM w
    ),
    gated AS (
        SELECT doc_id, lang, n_chars, text FROM f
        WHERE r_word_count AND r_mean_word_len AND r_alpha
    ),
    deduped AS (
        SELECT doc_id, lang, n_chars, text FROM (
            SELECT doc_id, lang, n_chars, text,
                   row_number() OVER (PARTITION BY regexp_replace(lower(trim(text)), '\s+', ' ', 'g')
                                      ORDER BY doc_id) AS rn
            FROM gated
        ) WHERE rn = 1
    ),
    bench_toks AS (
        SELECT string_split(regexp_replace(lower(trim(substr(text, 1, 120))), '\s+', ' ', 'g'), ' ') AS t
        FROM documents WHERE doc_id % 101 = 0 AND text IS NOT NULL
    ),
    bench AS (
        SELECT DISTINCT array_to_string(t[i:i+2], ' ') AS g
        FROM bench_toks, unnest(generate_series(1, greatest(len(t)-2, 1))) AS u(i)
    ),
    cur_toks AS (
        SELECT doc_id,
               string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
        FROM deduped
    ),
    cur_grams AS (
        SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS g
        FROM cur_toks, unnest(generate_series(1, greatest(len(t)-2, 1))) AS u(i)
    ),
    contaminated AS (
        SELECT doc_id FROM cur_grams JOIN bench USING (g)
        GROUP BY doc_id HAVING count(*) >= 8
    ),
    marked AS (
        SELECT d.doc_id, d.lang, d.n_chars,
               CASE WHEN (('0x'||substr(md5(CAST(d.doc_id AS VARCHAR)),1,15))::BIGINT % 1000) < 800 THEN 'train'
                    WHEN (('0x'||substr(md5(CAST(d.doc_id AS VARCHAR)),1,15))::BIGINT % 1000) < 900 THEN 'val'
                    ELSE 'test' END AS split,
               c.doc_id IS NOT NULL AS contam
        FROM deduped d LEFT JOIN contaminated c ON c.doc_id = d.doc_id
    )
    SELECT split,
           CAST(sum(CASE WHEN NOT contam THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN NOT contam THEN n_chars ELSE 0 END) AS BIGINT) AS total_chars,
           CAST(count(DISTINCT CASE WHEN NOT contam THEN lang END) AS BIGINT) AS n_langs,
           CAST(sum(CASE WHEN contam THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
    FROM marked GROUP BY split
    """,
)
def q450(spark: SparkSession, sf: str) -> DataFrame:
    """FULL curation release (the flagship end-to-end chain): Gopher
    structural quality gate → exact dedup → benchmark decontamination
    (3-gram type overlap ≥8 vs a synthetic eval slice) → deterministic
    80/10/10 split → per-split release datasheet.  Every stage is an
    already-verified operator (pipeline.curate_corpus +
    pipeline.decontaminate) and the WHOLE chain replays in SQL — the
    strongest composition oracle in the repo: quality regexes, dedup
    tie-breaks, shingle hashing, split hashing, and the release rollup
    must all agree at once."""
    from .operators.pipeline import curate_corpus, decontaminate

    d = load_table(spark, sf, "documents")
    cur = curate_corpus(d, rules=("r_word_count", "r_mean_word_len", "r_alpha"))
    bench = d.where((F.col("doc_id") % 101 == 0) & F.col("text").isNotNull()).select(
        F.substring("text", 1, 120).alias("text")
    )
    cont = decontaminate(cur, bench, "text", "doc_id", n=3, min_hits=8).select("doc_id")
    marked = cur.join(
        cont.withColumn("__c__", F.lit(1)), on="doc_id", how="left"
    ).withColumn("contam", F.col("__c__").isNotNull())
    keep = ~F.col("contam")
    return marked.groupBy("split").agg(
        F.sum(keep.cast("long")).cast("long").alias("n_docs"),
        F.sum(F.when(keep, F.col("n_chars")).otherwise(F.lit(0))).cast("long").alias("total_chars"),
        F.countDistinct(F.when(keep, F.col("lang"))).cast("long").alias("n_langs"),
        F.sum(F.col("contam").cast("long")).cast("long").alias("n_removed"),
    )


# ------------------------------------------------------------------ q451
@query(
    "q451_var_es",
    """
    WITH f AS (
        SELECT event_type, CAST(round(value * 100) AS BIGINT) - 24500 AS pnl FROM events
    ),
    d AS (
        SELECT event_type, pnl,
               row_number() OVER (PARTITION BY event_type ORDER BY pnl) AS rn,
               CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        FROM f
    )
    SELECT event_type, min(n) AS n,
           CAST(sum(CASE WHEN rn * 100 <= n * 5 THEN 1 ELSE 0 END) AS BIGINT) AS tail_n,
           CAST(max(CASE WHEN rn * 100 <= n * 5 THEN pnl END) AS BIGINT) AS var,
           CASE WHEN sum(CASE WHEN rn * 100 <= n * 5 THEN 1 ELSE 0 END) > 0
                THEN CAST(sum(CASE WHEN rn * 100 <= n * 5 THEN pnl END) AS DOUBLE)
                     / sum(CASE WHEN rn * 100 <= n * 5 THEN 1 ELSE 0 END) END AS es
    FROM d GROUP BY event_type
    """,
)
def q451(spark, sf):
    """Historical VaR and Expected Shortfall at 5% per event type
    (operators/finance.var_es): the tail cut is rank-based integer
    arithmetic, VaR an actual order statistic, ES one divide of an
    exact tail sum."""
    from .operators import finance as fin

    ev = load_table(spark, sf, "events").select(
        "event_type", (F.round(F.col("value") * 100).cast("long") - 24500).alias("pnl")
    )
    return fin.var_es(ev, ["event_type"], "pnl", alpha_num=5, alpha_den=100)


# ------------------------------------------------------------------ q452
@query(
    "q452_portfolio_turnover",
    """
    WITH pa AS (
        SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT) AS p,
               o_orderpriority AS a,
               CAST(sum(CAST(round(o_totalprice) AS BIGINT)) AS BIGINT) AS v
        FROM orders GROUP BY 1, 2
    ),
    tot AS (SELECT p, CAST(sum(v) AS BIGINT) AS vt FROM pa GROUP BY p),
    j AS (
        SELECT coalesce(cur.p, prev.p) AS p, coalesce(cur.a, prev.a) AS a,
               coalesce(cur.v, 0) AS vc, coalesce(prev.v, 0) AS vp
        FROM pa cur FULL OUTER JOIN (SELECT p + 1 AS p, a, v FROM pa) prev
          ON cur.p = prev.p AND cur.a = prev.a
    ),
    jt AS (
        SELECT j.p, j.a, j.vc, j.vp, t1.vt AS v_t, t2.vt AS v_tm1
        FROM j JOIN tot t1 ON t1.p = j.p
               JOIN tot t2 ON t2.p = j.p - 1
    )
    SELECT p AS period, CAST(count(*) AS BIGINT) AS n_assets,
           CAST(sum(abs(vc * v_tm1 - vp * v_t)) AS BIGINT) AS abs_num_sum,
           min(v_t) AS v_cur, min(v_tm1) AS v_prev,
           CASE WHEN min(v_t) > 0 AND min(v_tm1) > 0
                THEN CAST(sum(abs(vc * v_tm1 - vp * v_t)) AS DOUBLE)
                     / (2 * min(v_t) * min(v_tm1)) END AS turnover
    FROM jt GROUP BY p
    """,
)
def q452(spark, sf):
    """Monthly portfolio turnover across order priorities
    (operators/finance.portfolio_turnover): weights never materialize —
    the cross-multiplied /v_t*V_prev − v_prev*V_t/ numerators are exact
    BIGINTs, turnover one divide."""
    from .operators import finance as fin

    # dollar units, not cents: the cross-multiplied |v·V'| numerators
    # need v·V < 2^63 (see portfolio_turnover docstring) — at sf0.1 the
    # cents scale overflows the product
    o = load_table(spark, sf, "orders").select(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).cast("long").alias("p"),
        F.col("o_orderpriority").alias("a"),
        F.round(F.col("o_totalprice")).cast("long").alias("dollars"),
    )
    return fin.portfolio_turnover(o, "p", "a", "dollars")


# ------------------------------------------------------------------ q453
@query(
    "q453_chain_ladder",
    """
    WITH base AS (
        SELECT year(o_orderdate) AS o, CAST(o_orderkey % 4 AS INT) AS d,
               CAST(round(o_totalprice * 100) AS BIGINT) AS a
        FROM orders WHERE year(o_orderdate) + (o_orderkey % 4) <= 2001
    ),
    inc AS (SELECT o, d, CAST(sum(a) AS BIGINT) AS inc FROM base GROUP BY 1, 2),
    cum AS (
        SELECT o, d,
               CAST(sum(inc) OVER (PARTITION BY o ORDER BY d
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c
        FROM inc
    ),
    nxt AS (SELECT o, d - 1 AS d, c AS c_next FROM cum),
    fct AS (
        SELECT cum.d, CAST(sum(cum.c) AS BIGINT) AS den,
               CAST(sum(n.c_next) AS BIGINT) AS num
        FROM cum JOIN nxt n ON n.o = cum.o AND n.d = cum.d GROUP BY cum.d
    ),
    latest AS (
        SELECT o, max(d) AS latest_dev, max_by(c, d) AS latest_cum FROM cum GROUP BY o
    )
    SELECT o AS origin, latest_dev, latest_cum,
           CASE WHEN latest_dev <= 3 AND (SELECT den FROM fct WHERE d = 3) > 0 THEN (CASE WHEN latest_dev <= 2 AND (SELECT den FROM fct WHERE d = 2) > 0 THEN (CASE WHEN latest_dev <= 1 AND (SELECT den FROM fct WHERE d = 1) > 0 THEN (CASE WHEN latest_dev <= 0 AND (SELECT den FROM fct WHERE d = 0) > 0 THEN (CAST(latest_cum AS DOUBLE) * (SELECT num FROM fct WHERE d = 0)) / (SELECT den FROM fct WHERE d = 0) ELSE CAST(latest_cum AS DOUBLE) END * (SELECT num FROM fct WHERE d = 1)) / (SELECT den FROM fct WHERE d = 1) ELSE CASE WHEN latest_dev <= 0 AND (SELECT den FROM fct WHERE d = 0) > 0 THEN (CAST(latest_cum AS DOUBLE) * (SELECT num FROM fct WHERE d = 0)) / (SELECT den FROM fct WHERE d = 0) ELSE CAST(latest_cum AS DOUBLE) END END * (SELECT num FROM fct WHERE d = 2)) / (SELECT den FROM fct WHERE d = 2) ELSE CASE WHEN latest_dev <= 1 AND (SELECT den FROM fct WHERE d = 1) > 0 THEN (CASE WHEN latest_dev <= 0 AND (SELECT den FROM fct WHERE d = 0) > 0 THEN (CAST(latest_cum AS DOUBLE) * (SELECT num FROM fct WHERE d = 0)) / (SELECT den FROM fct WHERE d = 0) ELSE CAST(latest_cum AS DOUBLE) END * (SELECT num FROM fct WHERE d = 1)) / (SELECT den FROM fct WHERE d = 1) ELSE CASE WHEN latest_dev <= 0 AND (SELECT den FROM fct WHERE d = 0) > 0 THEN (CAST(latest_cum AS DOUBLE) * (SELECT num FROM fct WHERE d = 0)) / (SELECT den FROM fct WHERE d = 0) ELSE CAST(latest_cum AS DOUBLE) END END END * (SELECT num FROM fct WHERE d = 3)) / (SELECT den FROM fct WHERE d = 3) ELSE CASE WHEN latest_dev <= 2 AND (SELECT den FROM fct WHERE d = 2) > 0 THEN (CASE WHEN latest_dev <= 1 AND (SELECT den FROM fct WHERE d = 1) > 0 THEN (CASE WHEN latest_dev <= 0 AND (SELECT den FROM fct WHERE d = 0) > 0 THEN (CAST(latest_cum AS DOUBLE) * (SELECT num FROM fct WHERE d = 0)) / (SELECT den FROM fct WHERE d = 0) ELSE CAST(latest_cum AS DOUBLE) END * (SELECT num FROM fct WHERE d = 1)) / (SELECT den FROM fct WHERE d = 1) ELSE CASE WHEN latest_dev <= 0 AND (SELECT den FROM fct WHERE d = 0) > 0 THEN (CAST(latest_cum AS DOUBLE) * (SELECT num FROM fct WHERE d = 0)) / (SELECT den FROM fct WHERE d = 0) ELSE CAST(latest_cum AS DOUBLE) END END * (SELECT num FROM fct WHERE d = 2)) / (SELECT den FROM fct WHERE d = 2) ELSE CASE WHEN latest_dev <= 1 AND (SELECT den FROM fct WHERE d = 1) > 0 THEN (CASE WHEN latest_dev <= 0 AND (SELECT den FROM fct WHERE d = 0) > 0 THEN (CAST(latest_cum AS DOUBLE) * (SELECT num FROM fct WHERE d = 0)) / (SELECT den FROM fct WHERE d = 0) ELSE CAST(latest_cum AS DOUBLE) END * (SELECT num FROM fct WHERE d = 1)) / (SELECT den FROM fct WHERE d = 1) ELSE CASE WHEN latest_dev <= 0 AND (SELECT den FROM fct WHERE d = 0) > 0 THEN (CAST(latest_cum AS DOUBLE) * (SELECT num FROM fct WHERE d = 0)) / (SELECT den FROM fct WHERE d = 0) ELSE CAST(latest_cum AS DOUBLE) END END END END AS ultimate,
           CASE WHEN latest_dev <= 3 AND (SELECT den FROM fct WHERE d = 3) > 0 THEN (CASE WHEN latest_dev <= 2 AND (SELECT den FROM fct WHERE d = 2) > 0 THEN (CASE WHEN latest_dev <= 1 AND (SELECT den FROM fct WHERE d = 1) > 0 THEN (CASE WHEN latest_dev <= 0 AND (SELECT den FROM fct WHERE d = 0) > 0 THEN (CAST(latest_cum AS DOUBLE) * (SELECT num FROM fct WHERE d = 0)) / (SELECT den FROM fct WHERE d = 0) ELSE CAST(latest_cum AS DOUBLE) END * (SELECT num FROM fct WHERE d = 1)) / (SELECT den FROM fct WHERE d = 1) ELSE CASE WHEN latest_dev <= 0 AND (SELECT den FROM fct WHERE d = 0) > 0 THEN (CAST(latest_cum AS DOUBLE) * (SELECT num FROM fct WHERE d = 0)) / (SELECT den FROM fct WHERE d = 0) ELSE CAST(latest_cum AS DOUBLE) END END * (SELECT num FROM fct WHERE d = 2)) / (SELECT den FROM fct WHERE d = 2) ELSE CASE WHEN latest_dev <= 1 AND (SELECT den FROM fct WHERE d = 1) > 0 THEN (CASE WHEN latest_dev <= 0 AND (SELECT den FROM fct WHERE d = 0) > 0 THEN (CAST(latest_cum AS DOUBLE) * (SELECT num FROM fct WHERE d = 0)) / (SELECT den FROM fct WHERE d = 0) ELSE CAST(latest_cum AS DOUBLE) END * (SELECT num FROM fct WHERE d = 1)) / (SELECT den FROM fct WHERE d = 1) ELSE CASE WHEN latest_dev <= 0 AND (SELECT den FROM fct WHERE d = 0) > 0 THEN (CAST(latest_cum AS DOUBLE) * (SELECT num FROM fct WHERE d = 0)) / (SELECT den FROM fct WHERE d = 0) ELSE CAST(latest_cum AS DOUBLE) END END END * (SELECT num FROM fct WHERE d = 3)) / (SELECT den FROM fct WHERE d = 3) ELSE CASE WHEN latest_dev <= 2 AND (SELECT den FROM fct WHERE d = 2) > 0 THEN (CASE WHEN latest_dev <= 1 AND (SELECT den FROM fct WHERE d = 1) > 0 THEN (CASE WHEN latest_dev <= 0 AND (SELECT den FROM fct WHERE d = 0) > 0 THEN (CAST(latest_cum AS DOUBLE) * (SELECT num FROM fct WHERE d = 0)) / (SELECT den FROM fct WHERE d = 0) ELSE CAST(latest_cum AS DOUBLE) END * (SELECT num FROM fct WHERE d = 1)) / (SELECT den FROM fct WHERE d = 1) ELSE CASE WHEN latest_dev <= 0 AND (SELECT den FROM fct WHERE d = 0) > 0 THEN (CAST(latest_cum AS DOUBLE) * (SELECT num FROM fct WHERE d = 0)) / (SELECT den FROM fct WHERE d = 0) ELSE CAST(latest_cum AS DOUBLE) END END * (SELECT num FROM fct WHERE d = 2)) / (SELECT den FROM fct WHERE d = 2) ELSE CASE WHEN latest_dev <= 1 AND (SELECT den FROM fct WHERE d = 1) > 0 THEN (CASE WHEN latest_dev <= 0 AND (SELECT den FROM fct WHERE d = 0) > 0 THEN (CAST(latest_cum AS DOUBLE) * (SELECT num FROM fct WHERE d = 0)) / (SELECT den FROM fct WHERE d = 0) ELSE CAST(latest_cum AS DOUBLE) END * (SELECT num FROM fct WHERE d = 1)) / (SELECT den FROM fct WHERE d = 1) ELSE CASE WHEN latest_dev <= 0 AND (SELECT den FROM fct WHERE d = 0) > 0 THEN (CAST(latest_cum AS DOUBLE) * (SELECT num FROM fct WHERE d = 0)) / (SELECT den FROM fct WHERE d = 0) ELSE CAST(latest_cum AS DOUBLE) END END END END - latest_cum AS reserve
    FROM latest
""",
)
def q453(spark, sf):
    """Chain-ladder loss development over a synthetic (origin-year, dev
    age) triangle (operators/finance.chain_ladder): volume-weighted
    factors as single divides of exact cumulative totals; each origin's
    ultimate multiplies its remaining factors in FIXED ascending dev
    order — the actuarial reserving classic (factors are a 4-row
    broadcast)."""
    from .operators import finance as fin

    o = load_table(spark, sf, "orders").select(
        F.year("o_orderdate").alias("origin"),
        (F.col("o_orderkey") % 4).cast("int").alias("dev"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    ).where(F.col("origin") + F.col("dev") <= 2001)
    return fin.chain_ladder(o, "origin", "dev", "cents", max_dev=4)


# ------------------------------------------------------------------ q454
def _dtw_unrolled_oracle(n: int = 10) -> str:
    """Generate the fully-unrolled n×n DTW DP as lateral column aliases:
    c_i_j = |a_i − b_j| + min(c_{i−1,j}, c_{i,j−1}, c_{i−1,j−1}) with the
    first row/column degenerating to running sums — exact BIGINT, so the
    unroll is bit-identical to the Arrow scan's integer DP."""
    piv = ",\n           ".join(
        f"max(CASE WHEN side = '{s}' AND day = {d} THEN rev END) AS {s}{d + 1}"
        for s in ("a", "b")
        for d in range(n)
    )
    # One nested subquery per DP row: within a row the cells chain as
    # lateral aliases (linear expansion), across rows they are real
    # projected columns — NEVER 100 aliases in one SELECT, which would
    # inline each cell's three predecessors textually and blow up
    # exponentially at plan time.
    inner = "piv"
    for i in range(1, n + 1):
        row_cells = []
        for j in range(1, n + 1):
            cost = f"abs(a{i} - b{j})"
            if i == 1 and j == 1:
                prev = ""
            elif i == 1:
                prev = f" + c_1_{j - 1}"
            elif j == 1:
                prev = f" + c_{i - 1}_1"
            else:
                prev = f" + least(c_{i - 1}_{j}, c_{i}_{j - 1}, c_{i - 1}_{j - 1})"
            row_cells.append(f"{cost}{prev} AS c_{i}_{j}")
        inner = f"(SELECT *, {', '.join(row_cells)} FROM {inner})"
    return f"""
    WITH daily AS (
        SELECT event_type,
               CAST(floor(epoch(ts) / 86400.0) AS BIGINT) % {n} AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS rev
        FROM events GROUP BY 1, 2
    ),
    sides AS (
        SELECT 'click|view' AS pair, 'a' AS side, day, rev FROM daily
        WHERE event_type = 'click'
        UNION ALL SELECT 'click|view', 'b', day, rev FROM daily
        WHERE event_type = 'view'
        UNION ALL SELECT 'purchase|signup', 'a', day, rev FROM daily
        WHERE event_type = 'purchase'
        UNION ALL SELECT 'purchase|signup', 'b', day, rev FROM daily
        WHERE event_type = 'signup'
    ),
    piv AS (
        SELECT pair,
           CAST(count(CASE WHEN side = 'a' THEN 1 END) AS BIGINT) AS n_a,
           CAST(count(CASE WHEN side = 'b' THEN 1 END) AS BIGINT) AS n_b,
           {piv}
        FROM sides GROUP BY pair
    )
    SELECT pair, n_a, n_b, CAST(c_{n}_{n} AS BIGINT) AS dtw FROM {inner}
    """


@query(
    "q454_dtw_distance",
    # Full SQL replay: the day%10 bucketing fixes both series at exactly
    # 10 points per side at every SF, so the O(n·m) integer DP unrolls
    # into 100 lateral-alias cells — bit-identical to the Arrow scan
    # (the band (14) is inert at 10×10; long-series banding stays
    # pytest-pinned).
    _dtw_unrolled_oracle(10),
)
def q454(spark: SparkSession, sf: str) -> DataFrame:
    """Dynamic-time-warping distances between event-type day-of-cycle
    (day % 10) revenue series (operators/ema.dtw_pairs): 'click vs
    view' and 'purchase vs signup', Sakoe-Chiba band 14 — exact-integer
    DP over one Arrow batch per pair, hash-checked against a fully
    unrolled SQL DP."""
    from .operators import ema

    ev = load_table(spark, sf, "events")
    daily = ev.groupBy(
        "event_type",
        (F.floor(F.unix_seconds(F.col("ts")) / 86400) % 10).cast("long").alias("day"),
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("rev"))
    pairs = [("click", "view"), ("purchase", "signup")]
    parts = []
    for a, b in pairs:
        parts.append(
            daily.where(F.col("event_type") == a).select(
                F.lit(f"{a}|{b}").alias("pair"), F.lit("a").alias("side"), "day", "rev"
            )
        )
        parts.append(
            daily.where(F.col("event_type") == b).select(
                F.lit(f"{a}|{b}").alias("pair"), F.lit("b").alias("side"), "day", "rev"
            )
        )
    stacked = parts[0]
    for p in parts[1:]:
        stacked = stacked.unionByName(p)
    return ema.dtw_pairs(stacked, "pair", "side", ["day"], "rev", band=14)


# ------------------------------------------------------------------ q455
@query(
    "q455_isotonic_apply",
    """
    WITH train AS (
        SELECT event_id,
               CAST(round(value * 100) AS BIGINT) % 1000 AS s,
               CASE WHEN (CAST(round(value * 100) AS BIGINT) * 7) % 1000
                         < CAST(round(value * 100) AS BIGINT) % 1000
                    THEN 1 ELSE 0 END AS y
        FROM events WHERE event_id % 499 = 0
    ),
    base AS (
        SELECT event_id, s, y,
               row_number() OVER (ORDER BY s, event_id) AS i
        FROM train
    ),
    pre AS (
        SELECT event_id, s, i, y,
               CAST(sum(y) OVER (ORDER BY i) AS BIGINT) AS ps
        FROM base
    ),
    rng AS (
        SELECT a.i AS j, b.i AS k,
               CAST(b.ps - a.ps + a.y AS DOUBLE) / (b.i - a.i + 1) AS avg
        FROM pre a JOIN pre b ON b.i >= a.i
    ),
    inner_min AS (
        SELECT p.i, r.j, min(r.avg) AS mn
        FROM rng r JOIN base p ON p.i >= r.j AND p.i <= r.k
        GROUP BY p.i, r.j
    ),
    fit AS (SELECT i, max(mn) AS iso_fit FROM inner_min GROUP BY i),
    step AS (
        SELECT b.s, max(f.iso_fit) AS cal FROM base b JOIN fit f ON f.i = b.i
        GROUP BY b.s
    ),
    apply_set AS (
        SELECT event_id, CAST(round(value * 100) AS BIGINT) % 1000 AS s
        FROM events WHERE event_id % 499 != 0 AND event_id % 97 = 0
    )
    SELECT a.event_id, a.s,
           (SELECT max(st.cal) FROM step st
            WHERE st.s <= a.s
              AND st.s = (SELECT max(s2.s) FROM step s2 WHERE s2.s <= a.s)) AS calibrated
    FROM apply_set a
    """,
)
def q455(spark: SparkSession, sf: str) -> DataFrame:
    """Isotonic calibration APPLY — the serving half of q371's fit: the
    fitted monotone step function (per-score max of PAVA fits on a
    sparse training slice) maps held-out scores via an as-of backward
    join (merge.merge_asof); scores below the smallest training score
    calibrate to NULL.  The oracle refits with the O(n³) minimax
    characterization and applies via a correlated step lookup — two
    unrelated algorithms end to end."""
    from .functions.stats import isotonic_fit
    from .operators.merge import merge_asof

    ev = load_table(spark, sf, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    train = ev.where(F.col("event_id") % 499 == 0).select(
        "event_id", (cents % 1000).alias("s"),
        ((cents * 7) % 1000 < cents % 1000).cast("long").alias("y"),
    ).withColumn("grp", F.lit(1))
    fitted = isotonic_fit(train, ["grp"], ["s", "event_id"], "y")
    step = fitted.groupBy("s").agg(F.max("iso_fit").alias("cal"))
    apply_set = ev.where((F.col("event_id") % 499 != 0) & (F.col("event_id") % 97 == 0)).select(
        "event_id", (cents % 1000).alias("s")
    )
    out = merge_asof(apply_set, step, on="s", direction="backward")
    return out.select("event_id", "s", F.col("cal").alias("calibrated"))


# ------------------------------------------------------------------ q456
@query(
    "q456_null_safe_join",
    """
    WITH a AS (
        SELECT event_id,
               CASE WHEN event_id % 7 = 0 THEN NULL
                    ELSE event_id % 5 END AS k,
               CAST(round(value * 100) AS BIGINT) AS v
        FROM events WHERE event_id % 2 = 0
    ),
    b AS (
        SELECT CASE WHEN event_id % 11 = 0 THEN NULL
                    ELSE event_id % 5 END AS k,
               CAST(count(*) AS BIGINT) AS n_b
        FROM events WHERE event_id % 2 = 1
        GROUP BY 1
    )
    SELECT a.k, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(a.v) AS BIGINT) AS v_sum, min(b.n_b) AS n_b
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    GROUP BY a.k
    """,
)
def q456(spark: SparkSession, sf: str) -> DataFrame:
    """Null-safe equi-join parity: Spark's <=> (eqNullSafe) must match
    SQL IS NOT DISTINCT FROM — NULL keys join each other instead of
    vanishing, the semantics CDC/dimension pipelines rely on when NULL
    is a legitimate key value."""
    ev = load_table(spark, sf, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    a = ev.where(F.col("event_id") % 2 == 0).select(
        "event_id",
        F.when(F.col("event_id") % 7 == 0, F.lit(None)).otherwise(F.col("event_id") % 5).alias("k"),
        cents.alias("v"),
    )
    b = ev.where(F.col("event_id") % 2 == 1).groupBy(
        F.when(F.col("event_id") % 11 == 0, F.lit(None)).otherwise(F.col("event_id") % 5).alias("k")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_b"))
    j = a.join(b, a["k"].eqNullSafe(b["k"]), "inner")
    return j.groupBy(a["k"].alias("k")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("v").cast("long").alias("v_sum"),
        F.min("n_b").alias("n_b"),
    )


# ------------------------------------------------------------------ q457
@query(
    "q457_array_functions",
    """
    WITH f AS (
        SELECT doc_id,
               [doc_id % 7, (doc_id * 3) % 7, (doc_id * 5 + 1) % 7, doc_id % 7] AS arr
        FROM documents
    )
    SELECT doc_id,
           list_position(arr, doc_id % 7) AS pos_first,
           len(list_filter(arr, x -> x != doc_id % 7)) AS n_removed_len,
           list_sort(list_distinct(arr)) AS distinct_sorted,
           arr[2:3] AS middle_slice,
           len(flatten([arr, arr])) AS flat_len,
           list_contains(arr, 3) AS has_three,
           CAST(list_sum(arr) AS BIGINT) AS arr_sum
    FROM f
    """,
)
def q457(spark: SparkSession, sf: str) -> DataFrame:
    """Array-function surface parity II (beyond q327's HOF reductions):
    position, remove-by-value, distinct+sort, slice, flatten, contains,
    integer sum — identical semantics cross-engine on integer arrays
    (1-based positions in both)."""
    d = load_table(spark, sf, "documents")
    arr = F.array(
        F.col("doc_id") % 7, (F.col("doc_id") * 3) % 7,
        (F.col("doc_id") * 5 + 1) % 7, F.col("doc_id") % 7,
    )
    f = d.select("doc_id", arr.alias("arr"))
    return f.select(
        "doc_id",
        F.array_position("arr", F.col("doc_id") % 7).alias("pos_first"),
        F.size(F.array_remove("arr", F.col("doc_id") % 7)).alias("n_removed_len"),
        F.array_sort(F.array_distinct("arr")).alias("distinct_sorted"),
        F.slice("arr", 2, 2).alias("middle_slice"),
        F.size(F.flatten(F.array(F.col("arr"), F.col("arr")))).alias("flat_len"),
        F.array_contains("arr", F.lit(3)).alias("has_three"),
        F.aggregate("arr", F.lit(0).cast("long"), lambda acc, x: acc + x).alias("arr_sum"),
    )


# ------------------------------------------------------------------ q458
@query(
    "q458_bellman_ford",
    """
    WITH RECURSIVE nothing AS (SELECT 1),
    base AS (
        SELECT doc_id % 200 AS s, (doc_id * 7 + 3) % 200 AS d,
               CAST(doc_id % 9 + 1 AS BIGINT) AS w
        FROM documents WHERE doc_id % 200 != (doc_id * 7 + 3) % 200
    ),
    e AS (
        SELECT s AS es, d AS ed, min(w) AS w FROM base GROUP BY 1, 2
        UNION ALL
        SELECT d AS es, s AS ed, min(w) AS w FROM base GROUP BY 1, 2
    ),
    d0 AS (SELECT DISTINCT s % 10 AS n, CAST(0 AS BIGINT) AS d FROM base WHERE s < 10),
    r1 AS (
        SELECT n, min(d) AS d FROM (
            SELECT n, d FROM d0
            UNION ALL
            SELECT e.ed AS n, d0.d + e.w AS d FROM e JOIN d0 ON d0.n = e.es
        ) GROUP BY n
    ),
    r2 AS (
        SELECT n, min(d) AS d FROM (
            SELECT n, d FROM r1
            UNION ALL
            SELECT e.ed AS n, r1.d + e.w AS d FROM e JOIN r1 ON r1.n = e.es
        ) GROUP BY n
    ),
    r3 AS (
        SELECT n, min(d) AS d FROM (
            SELECT n, d FROM r2
            UNION ALL
            SELECT e.ed AS n, r2.d + e.w AS d FROM e JOIN r2 ON r2.n = e.es
        ) GROUP BY n
    )
    SELECT n AS node, d AS dist FROM r3
    """,
)
def q458(spark: SparkSession, sf: str) -> DataFrame:
    """Bounded-round Bellman-Ford shortest paths over the weighted q344
    document graph from the seed set {nodes < 10}
    (operators/graph.bellman_ford): three relaxation rounds, each one
    equi-join + one min-agg on exact integer distances; the oracle
    unrolls the identical three rounds."""
    from .operators import graph

    d = load_table(spark, sf, "documents")
    base = d.select(
        (F.col("doc_id") % 200).alias("s"),
        ((F.col("doc_id") * 7 + 3) % 200).alias("d"),
        (F.col("doc_id") % 9 + 1).cast("long").alias("w"),
    ).where(F.col("s") != F.col("d"))
    emin = base.groupBy("s", "d").agg(F.min("w").alias("w"))
    edges = emin.select(F.col("s").alias("src"), F.col("d").alias("dst"), "w").unionByName(
        emin.select(F.col("d").alias("src"), F.col("s").alias("dst"), "w")
    )
    seeds = base.where(F.col("s") < 10).select((F.col("s") % 10).alias("node")).distinct()
    return graph.bellman_ford(edges, seeds, n_rounds=3)


# ------------------------------------------------------------------ q459
@query(
    "q459_viterbi_regimes",
    # Full SQL replay of the min-sum Viterbi DP: a forward recursive CTE
    # carries the two state costs (d0, d1) per step — integer-exact, so
    # the recurrence is engine-identical — and a backward recursive CTE
    # re-derives each back pointer from the stored forward costs (the
    # Python scan's `back[t]` tuple is a pure function of d0_t, d1_t and
    # the switch cost, same `<=` tie-breaks).
    """
    WITH RECURSIVE daily AS (
        SELECT event_type, CAST(floor(epoch(ts) / 86400.0) AS BIGINT) AS day,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ),
    r AS (
        SELECT event_type, day, n,
               row_number() OVER (PARTITION BY event_type ORDER BY day) AS t
        FROM daily
    ),
    fwd AS (
        SELECT event_type, t, day, n,
               abs(n - 10) AS d0, abs(n - 30) AS d1
        FROM r WHERE t = 1
        UNION ALL
        SELECT r.event_type, r.t, r.day, r.n,
               abs(r.n - 10) + least(f.d0, f.d1 + 2000) AS d0,
               abs(r.n - 30) + least(f.d1, f.d0 + 2000) AS d1
        FROM fwd f JOIN r ON r.event_type = f.event_type AND r.t = f.t + 1
    ),
    bwd AS (
        SELECT f.event_type, f.t,
               CASE WHEN f.d0 <= f.d1 THEN 0 ELSE 1 END AS state,
               least(f.d0, f.d1) AS total
        FROM fwd f
        JOIN (SELECT event_type, max(t) AS mt FROM fwd GROUP BY 1) m
          ON m.event_type = f.event_type AND f.t = m.mt
        UNION ALL
        SELECT p.event_type, p.t,
               CASE WHEN b.state = 0
                    THEN (CASE WHEN p.d0 <= p.d1 + 2000 THEN 0 ELSE 1 END)
                    ELSE (CASE WHEN p.d1 <= p.d0 + 2000 THEN 1 ELSE 0 END)
               END AS state,
               b.total
        FROM bwd b JOIN fwd p ON p.event_type = b.event_type AND p.t = b.t - 1
    )
    SELECT f.event_type, f.day, f.n AS obs,
           CAST(b.state AS INT) AS state,
           CAST(b.total AS BIGINT) AS total_cost
    FROM fwd f JOIN bwd b ON b.event_type = f.event_type AND b.t = f.t
    """,
)
def q459(spark: SparkSession, sf: str) -> DataFrame:
    """Two-state burst/quiet regime decoding per event type
    (operators/ema.viterbi_two_state): emission cost |obs − level_s|
    with integer levels, switch cost 2000 — min-sum Viterbi in one
    Arrow scan per key; reports per-day regimes and the exact path
    cost."""
    from .operators import ema

    ev = load_table(spark, sf, "events")
    daily = ev.groupBy(
        "event_type",
        F.floor(F.unix_seconds(F.col("ts")) / 86400).cast("long").alias("day"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))

    def emit(state: int, obs: int) -> int:
        level = 30 if state == 1 else 10
        return abs(int(obs) - level)

    return ema.viterbi_two_state(daily, ["event_type"], ["day"], "n", emit, switch_cost=2000)


# ------------------------------------------------------------------ q460
@query(
    "q460_mmr_rerank",
    """
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id IN (0, 1, 2)
    ),
    cand AS (
        SELECT query_id, vec_id, rel FROM (
            SELECT q.query_id, c.vec_id,
                   list_dot_product(c.embedding::DOUBLE[], q.qv::DOUBLE[]) / (sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[])) * sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[]))) AS rel,
                   row_number() OVER (PARTITION BY q.query_id
                                      ORDER BY list_dot_product(c.embedding::DOUBLE[], q.qv::DOUBLE[]) / (sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[])) * sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[]))) DESC,
                                               c.vec_id) AS rn
            FROM embeddings c, q
        ) WHERE rn <= 10
    ),
    s1 AS (
        SELECT query_id, vec_id, rel FROM (
            SELECT query_id, vec_id, rel,
                   row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, vec_id) AS rn
            FROM cand
        ) WHERE rn = 1
    ),
    r2 AS (
        SELECT c.query_id, c.vec_id, c.rel,
               list_dot_product(ce.embedding::DOUBLE[], se.embedding::DOUBLE[]) / (sqrt(list_dot_product(ce.embedding::DOUBLE[], ce.embedding::DOUBLE[])) * sqrt(list_dot_product(se.embedding::DOUBLE[], se.embedding::DOUBLE[]))) AS msim
        FROM cand c
        JOIN s1 ON s1.query_id = c.query_id AND s1.vec_id != c.vec_id
        JOIN embeddings ce ON ce.vec_id = c.vec_id
        JOIN embeddings se ON se.vec_id = s1.vec_id
    ),
    s2 AS (
        SELECT query_id, vec_id, rel FROM (
            SELECT query_id, vec_id, rel,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY (CAST(70 AS DOUBLE) / 100) * rel - (CAST(1.0 AS DOUBLE) - (CAST(70 AS DOUBLE) / 100)) * msim DESC,
                                               vec_id) AS rn
            FROM r2
        ) WHERE rn = 1
    ),
    sel12 AS (SELECT query_id, vec_id FROM s1 UNION ALL SELECT query_id, vec_id FROM s2),
    r3 AS (
        SELECT c.query_id, c.vec_id, c.rel,
               max(list_dot_product(ce.embedding::DOUBLE[], se.embedding::DOUBLE[]) / (sqrt(list_dot_product(ce.embedding::DOUBLE[], ce.embedding::DOUBLE[])) * sqrt(list_dot_product(se.embedding::DOUBLE[], se.embedding::DOUBLE[])))) AS msim
        FROM cand c
        JOIN sel12 s ON s.query_id = c.query_id
        JOIN embeddings ce ON ce.vec_id = c.vec_id
        JOIN embeddings se ON se.vec_id = s.vec_id
        WHERE NOT EXISTS (SELECT 1 FROM sel12 x
                          WHERE x.query_id = c.query_id AND x.vec_id = c.vec_id)
        GROUP BY c.query_id, c.vec_id, c.rel
    ),
    s3 AS (
        SELECT query_id, vec_id, rel FROM (
            SELECT query_id, vec_id, rel,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY (CAST(70 AS DOUBLE) / 100) * rel - (CAST(1.0 AS DOUBLE) - (CAST(70 AS DOUBLE) / 100)) * msim DESC,
                                               vec_id) AS rn
            FROM r3
        ) WHERE rn = 1
    )
    SELECT query_id, vec_id, 1 AS mmr_rank, rel FROM s1
    UNION ALL SELECT query_id, vec_id, 2, rel FROM s2
    UNION ALL SELECT query_id, vec_id, 3, rel FROM s3
""",
)
def q460(spark, sf):
    """Maximal-Marginal-Relevance diversity re-ranking of each query's
    top-10 cosine shortlist (operators/similarity.mmr_rerank, lambda =
    70/100): three greedy rounds unrolled at plan level, id tie-breaks,
    all scores fixed float trees — the oracle unrolls the identical
    rounds (the greedy_cover discipline)."""
    from .operators import similarity as sim

    e = load_table(spark, sf, "embeddings")
    q = e.where(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = sim.mmr_rerank(e, q, k_candidates=10, k_select=3, lam_pct=70)
    return out.select("query_id", "vec_id", F.col("mmr_rank").cast("int").alias("mmr_rank"), "rel")


# ------------------------------------------------------------------ q461
@query(
    "q461_t_closeness",
    """
    WITH gc AS (
        SELECT o_orderstatus AS val, CAST(count(*) AS BIGINT) AS g FROM orders GROUP BY 1
    ),
    tot AS (
        SELECT CAST(sum(g) AS BIGINT) AS nn, CAST(count(*) AS BIGINT) AS nv FROM gc
    ),
    cc AS (
        SELECT o_custkey % 50 AS qi_bucket, CAST(year(o_orderdate) AS BIGINT) AS qi_year,
               o_orderstatus AS val, CAST(count(*) AS BIGINT) AS c
        FROM orders GROUP BY 1, 2, 3
    ),
    cls AS (
        SELECT qi_bucket, qi_year, CAST(sum(c) AS BIGINT) AS n FROM cc GROUP BY 1, 2
    ),
    grid AS (
        SELECT cls.qi_bucket, cls.qi_year, cls.n, gc.val, gc.g,
               coalesce(cc.c, 0) AS c
        FROM cls CROSS JOIN gc
        LEFT JOIN cc ON cc.qi_bucket = cls.qi_bucket AND cc.qi_year = cls.qi_year
                    AND cc.val = gc.val
    ),
    cum AS (
        SELECT qi_bucket, qi_year, n, val,
               CAST(sum(c) OVER (PARTITION BY qi_bucket, qi_year ORDER BY val
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumc,
               CAST(sum(g) OVER (PARTITION BY qi_bucket, qi_year ORDER BY val
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumg
        FROM grid
    ),
    terms AS (
        SELECT qi_bucket, qi_year, n, tot.nn, tot.nv,
               CAST(sum(abs(cumc * tot.nn - cumg * n)) AS BIGINT) AS num
        FROM cum, tot GROUP BY 1, 2, 3, 4, 5
    )
    SELECT qi_bucket, qi_year, n,
           CAST(num AS DOUBLE) / ((nv - 1) * n * nn) AS emd,
           num * 5 > 1 * (nv - 1) * n * nn AS violates_t
    FROM terms
    """,
)
def q461(spark, sf):
    """t-closeness audit (operators/profile.t_closeness) — the third
    privacy rung after q413's k/l: per QI class, the exact EMD between
    the class's order-status distribution and the table's, all integer
    cumulative cross-products, threshold t = 1/5 by
    cross-multiplication."""
    from .operators import profile as prof

    o = load_table(spark, sf, "orders").select(
        (F.col("o_custkey") % 50).alias("qi_bucket"),
        F.year("o_orderdate").cast("long").alias("qi_year"),
        "o_orderstatus",
    )
    return prof.t_closeness(o, ["qi_bucket", "qi_year"], "o_orderstatus", t_num=1, t_den=5)


# ------------------------------------------------------------------ q462
@query(
    "q462_rd_estimate",
    """
    WITH f AS (
        SELECT CAST(round(value * 100) AS BIGINT) % 2001 - 1000 AS x,
               3 * (CAST(round(value * 100) AS BIGINT) % 2001 - 1000)
                 + 5000 * CASE WHEN CAST(round(value * 100) AS BIGINT) % 2001 - 1000 >= 0
                               THEN 1 ELSE 0 END
                 + (CAST(round(value * 100) AS BIGINT) % 13) * 10 AS y
        FROM events
    ),
    sel AS (
        SELECT x, y, CASE WHEN x >= 0 THEN 1 ELSE 0 END AS r
        FROM f WHERE x BETWEEN -500 AND 500
    ),
    g AS (
        SELECT CAST(sum(1 - r) AS BIGINT) AS nl, CAST(sum(r) AS BIGINT) AS nr,
               CAST(sum(x * (1 - r)) AS BIGINT) AS sxl, CAST(sum(x * r) AS BIGINT) AS sxr,
               CAST(sum(y * (1 - r)) AS BIGINT) AS syl, CAST(sum(y * r) AS BIGINT) AS syr,
               CAST(sum(x * x * (1 - r)) AS BIGINT) AS sxxl, CAST(sum(x * x * r) AS BIGINT) AS sxxr,
               CAST(sum(x * y * (1 - r)) AS BIGINT) AS sxyl, CAST(sum(x * y * r) AS BIGINT) AS sxyr
        FROM sel
    )
    SELECT nl AS n_left, nr AS n_right,
           CAST(nl * sxyl - sxl * syl AS DOUBLE) / (nl * sxxl - sxl * sxl) AS slope_left,
           CAST(nr * sxyr - sxr * syr AS DOUBLE) / (nr * sxxr - sxr * sxr) AS slope_right,
           (syl - (CAST(nl * sxyl - sxl * syl AS DOUBLE) / (nl * sxxl - sxl * sxl)) * sxl) / nl AS intercept_left,
           (syr - (CAST(nr * sxyr - sxr * syr AS DOUBLE) / (nr * sxxr - sxr * sxr)) * sxr) / nr AS intercept_right,
           (syr - (CAST(nr * sxyr - sxr * syr AS DOUBLE) / (nr * sxxr - sxr * sxr)) * sxr) / nr
             - (syl - (CAST(nl * sxyl - sxl * syl AS DOUBLE) / (nl * sxxl - sxl * sxl)) * sxl) / nl AS effect
    FROM g
    """,
)
def q462(spark, sf):
    """Sharp regression discontinuity on a synthetic threshold jump
    (functions/stats.rd_estimate): both side-fits from exact BIGINT
    moments in ONE conditional agg; the constructed effect is ~5000 at
    the cutoff.  Completes the causal family (DiD q364, IV q446, CUPED
    q267, OPE q351/q365/q423)."""
    from .functions import stats as st

    ev = load_table(spark, sf, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    x = cents % 2001 - 1000
    y = 3 * x + 5000 * (x >= 0).cast("long") + (cents % 13) * 10
    d = ev.select((x + 1000).alias("run"), y.alias("y"))
    return st.rd_estimate(d, "run", "y", cutoff=1000, bandwidth=500)


# ------------------------------------------------------------------ q463
@query(
    "q463_textrank_terms",
    r"""
    WITH toks AS (
        SELECT list_filter(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
                           x -> x != '') AS t
        FROM documents WHERE text IS NOT NULL
    ),
    adj AS (
        SELECT t[i] AS a, t[i + 1] AS b
        FROM toks, unnest(generate_series(1, greatest(len(t) - 1, 1))) AS u(i)
        WHERE len(t) >= 2 AND t[i] != t[i + 1]
    ),
    edges AS (
        SELECT DISTINCT a AS src, b AS dst FROM adj
        UNION SELECT b, a FROM adj
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    nn AS (SELECT count(*) AS n FROM nodes),
    deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
    r0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes CROSS JOIN nn),
    c1 AS (
        SELECT e.dst AS node, sum(r0.rank / deg.d) AS m
        FROM edges e JOIN r0 ON r0.node = e.src JOIN deg ON deg.src = e.src
        GROUP BY e.dst
    ),
    r1 AS (
        SELECT nodes.node, 0.15 / nn.n + 0.85 * coalesce(c1.m, 0) AS rank
        FROM nodes LEFT JOIN c1 ON c1.node = nodes.node CROSS JOIN nn
    ),
    c2 AS (
        SELECT e.dst AS node, sum(r1.rank / deg.d) AS m
        FROM edges e JOIN r1 ON r1.node = e.src JOIN deg ON deg.src = e.src
        GROUP BY e.dst
    ),
    r2 AS (
        SELECT nodes.node, 0.15 / nn.n + 0.85 * coalesce(c2.m, 0) AS rank
        FROM nodes LEFT JOIN c2 ON c2.node = nodes.node CROSS JOIN nn
    )
    SELECT node AS term, round(rank, 9) AS rank
    FROM r2 ORDER BY rank DESC, node LIMIT 25
    """,
)
def q463(spark: SparkSession, sf: str) -> DataFrame:
    """TextRank keyword extraction: adjacent-token co-occurrence builds
    an undirected word graph; two PageRank iterations
    (operators/graph.pagerank — q175's machinery on a vocabulary-sized
    graph) rank terms, top-25 reported.  The oracle rebuilds the graph
    and replays both iterations."""
    from .operators import graph
    from .operators.dedup import normalize_text

    d = load_table(spark, sf, "documents").where(F.col("text").isNotNull())
    toks = F.filter(F.split(normalize_text(F.col("text")), " "), lambda x: x != "")
    n = F.size(toks)
    pairs = F.arrays_zip(
        F.slice(toks, 1, n - 1).alias("a"), F.slice(toks, 2, n - 1).alias("b")
    )
    adj = (
        d.select(F.explode(F.when(n >= 2, pairs)).alias("p"))
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .where(F.col("a") != F.col("b"))
    )
    edges = adj.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
        adj.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    ).distinct()
    pr = graph.pagerank(edges, n_iter=2, damping=0.85)
    return (
        pr.select(F.col("node").alias("term"), F.round("rank", 9).alias("rank"))
        .orderBy(F.col("rank").desc(), "term")
        .limit(25)
    )


# ------------------------------------------------------------------ q464
@query(
    "q464_min_variance_pair",
    """
    WITH daily AS (
        SELECT event_type, CAST(floor(epoch(ts) / 86400.0) AS BIGINT) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS rev
        FROM events WHERE event_type IN ('click', 'purchase') GROUP BY 1, 2
    ),
    wide AS (
        SELECT day,
               CAST(min(CASE WHEN event_type = 'click' THEN rev END) AS BIGINT) AS ra,
               CAST(min(CASE WHEN event_type = 'purchase' THEN rev END) AS BIGINT) AS rb
        FROM daily GROUP BY day
        HAVING min(CASE WHEN event_type = 'click' THEN rev END) IS NOT NULL
           AND min(CASE WHEN event_type = 'purchase' THEN rev END) IS NOT NULL
    ),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(ra) AS BIGINT) AS sa, CAST(sum(rb) AS BIGINT) AS sb,
               CAST(sum(ra * ra) AS BIGINT) AS saa, CAST(sum(rb * rb) AS BIGINT) AS sbb,
               CAST(sum(ra * rb) AS BIGINT) AS sab
        FROM wide
    )
    SELECT n,
           CAST((n * sbb - sb * sb) - (n * sab - sa * sb) AS DOUBLE)
             / ((n * saa - sa * sa) + (n * sbb - sb * sb) - 2 * (n * sab - sa * sb)) AS w_a,
           CAST(1.0 AS DOUBLE)
             - CAST((n * sbb - sb * sb) - (n * sab - sa * sb) AS DOUBLE)
               / ((n * saa - sa * sa) + (n * sbb - sb * sb) - 2 * (n * sab - sa * sb)) AS w_b,
           CAST(n * sab - sa * sb AS DOUBLE)
             / sqrt(CAST(n * saa - sa * sa AS DOUBLE) * (n * sbb - sb * sb)) AS corr
    FROM m
    """,
)
def q464(spark: SparkSession, sf: str) -> DataFrame:
    """Minimum-variance two-asset weights over the click/purchase daily
    revenue pair: w_a = (σ²_b − σ_ab)/(σ²_a + σ²_b − 2σ_ab) with every
    moment an exact BIGINT (the common n-scale cancels), one divide —
    Markowitz's closed form without a float covariance ever
    materializing (native composition over the corr_matrix moment
    machinery)."""
    ev = load_table(spark, sf, "events").where(
        F.col("event_type").isin("click", "purchase")
    )
    daily = ev.groupBy(
        "event_type",
        F.floor(F.unix_seconds(F.col("ts")) / 86400).cast("long").alias("day"),
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("rev"))
    wide = daily.groupBy("day").agg(
        F.min(F.when(F.col("event_type") == "click", F.col("rev"))).alias("ra"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("rev"))).alias("rb"),
    ).where(F.col("ra").isNotNull() & F.col("rb").isNotNull())
    m = wide.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("ra").cast("long").alias("sa"), F.sum("rb").cast("long").alias("sb"),
        F.sum(F.col("ra") * F.col("ra")).cast("long").alias("saa"),
        F.sum(F.col("rb") * F.col("rb")).cast("long").alias("sbb"),
        F.sum(F.col("ra") * F.col("rb")).cast("long").alias("sab"),
    )
    n = F.col("n")
    va = n * F.col("saa") - F.col("sa") * F.col("sa")
    vb = n * F.col("sbb") - F.col("sb") * F.col("sb")
    cab = n * F.col("sab") - F.col("sa") * F.col("sb")
    wa = (vb - cab) / (va + vb - 2 * cab)
    return m.select(
        "n", wa.alias("w_a"), (F.lit(1.0) - wa).alias("w_b"),
        (cab / F.sqrt(va.cast("double") * vb)).alias("corr"),
    )


# ------------------------------------------------------------------ q465
@query(
    "q465_design_effect",
    """
    WITH f AS (
        SELECT event_type, CAST(round(value * 100) AS BIGINT) % 10 + 1 AS w FROM events
    ),
    g AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(w) AS BIGINT) AS sw, CAST(sum(w * w) AS BIGINT) AS sww
        FROM f GROUP BY event_type
    )
    SELECT event_type, n, sw, sww,
           CAST(n * sww AS DOUBLE) / (sw * sw) AS deff,
           CAST(sw * sw AS DOUBLE) / sww AS n_effective
    FROM g
    """,
)
def q465(spark: SparkSession, sf: str) -> DataFrame:
    """Kish design effect and effective sample size per event type over
    synthetic survey weights: deff = n·Σw²/(Σw)², n_eff = (Σw)²/Σw² —
    single divides of exact BIGINTs (native composition; the
    weighted_stats q209 family's sampling-efficiency sibling)."""
    ev = load_table(spark, sf, "events")
    w = F.round(F.col("value") * 100).cast("long") % 10 + 1
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(w).cast("long").alias("sw"),
        F.sum(w * w).cast("long").alias("sww"),
    )
    return g.select(
        "event_type", "n", "sw", "sww",
        ((F.col("n") * F.col("sww")) / (F.col("sw") * F.col("sw"))).alias("deff"),
        ((F.col("sw") * F.col("sw")) / F.col("sww")).alias("n_effective"),
    )


# ------------------------------------------------------------------ q466
@query(
    "q466_span_eval",
    """
    WITH f AS (
        SELECT event_id,
               CAST(round(value * 100) AS BIGINT) % 50 AS s1,
               CAST(round(value * 100) AS BIGINT) % 50 + CAST(round(value * 100) AS BIGINT) % 7 AS e1,
               (CAST(round(value * 100) AS BIGINT) * 3) % 50 AS s2,
               (CAST(round(value * 100) AS BIGINT) * 3) % 50 + CAST(round(value * 100) AS BIGINT) % 5 AS e2
        FROM events
    ),
    pr AS (
        SELECT event_id,
               greatest(0, least(e1, e2) - greatest(s1, s2) + 1) AS ov,
               e1 - s1 + 1 AS lt, e2 - s2 + 1 AS lp,
               CASE WHEN s1 = s2 AND e1 = e2 THEN 1 ELSE 0 END AS em
        FROM f
    )
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(ov) AS BIGINT) AS overlap_sum,
           CAST(sum(lt) AS BIGINT) AS true_len_sum,
           CAST(sum(lp) AS BIGINT) AS pred_len_sum,
           CAST(sum(em) AS BIGINT) AS n_exact,
           CAST(2 * sum(ov) AS DOUBLE) / (sum(lt) + sum(lp)) AS micro_f1,
           CAST(sum(em) AS DOUBLE) / count(*) AS exact_match
    FROM pr
    """,
)
def q466(spark: SparkSession, sf: str) -> DataFrame:
    """Span-extraction eval (SQuAD-style token-overlap F1 + exact
    match) over synthetic true/pred intervals: overlaps are integer
    interval intersections, micro-F1 one divide of exact sums (native
    composition beside multilabel_prf q449)."""
    ev = load_table(spark, sf, "events")
    c = F.round(F.col("value") * 100).cast("long")
    f = ev.select(
        "event_id",
        (c % 50).alias("s1"), (c % 50 + c % 7).alias("e1"),
        ((c * 3) % 50).alias("s2"), ((c * 3) % 50 + c % 5).alias("e2"),
    )
    ov = F.greatest(F.lit(0), F.least("e1", "e2") - F.greatest("s1", "s2") + 1)
    pr = f.select(
        ov.alias("ov"),
        (F.col("e1") - F.col("s1") + 1).alias("lt"),
        (F.col("e2") - F.col("s2") + 1).alias("lp"),
        ((F.col("s1") == F.col("s2")) & (F.col("e1") == F.col("e2"))).cast("long").alias("em"),
    )
    g = pr.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("ov").cast("long").alias("overlap_sum"),
        F.sum("lt").cast("long").alias("true_len_sum"),
        F.sum("lp").cast("long").alias("pred_len_sum"),
        F.sum("em").cast("long").alias("n_exact"),
    )
    return g.select(
        "n", "overlap_sum", "true_len_sum", "pred_len_sum", "n_exact",
        ((2 * F.col("overlap_sum")) / (F.col("true_len_sum") + F.col("pred_len_sum"))).alias("micro_f1"),
        (F.col("n_exact") / F.col("n")).alias("exact_match"),
    )


# ------------------------------------------------------------------ q467
@query(
    "q467_p99_attribution",
    """
    WITH f AS (
        SELECT event_type, CAST(round(value * 100) AS BIGINT) % 5000 AS lat FROM events
    ),
    thr AS (SELECT quantile_cont(lat, 0.99) AS p99 FROM f),
    above AS (
        SELECT f.event_type, CAST(count(*) AS BIGINT) AS n_above
        FROM f, thr WHERE f.lat > thr.p99 GROUP BY f.event_type
    ),
    tot AS (SELECT CAST(sum(n_above) AS BIGINT) AS total_above FROM above),
    base AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM f GROUP BY 1)
    SELECT b.event_type, b.n, coalesce(a.n_above, 0) AS n_above,
           CAST(coalesce(a.n_above, 0) AS DOUBLE) / t.total_above AS share_of_tail,
           CAST(coalesce(a.n_above, 0) AS DOUBLE) / b.n AS own_tail_rate
    FROM base b LEFT JOIN above a USING (event_type), tot t
    """,
)
def q467(spark: SparkSession, sf: str) -> DataFrame:
    """Tail-latency attribution: which event type owns the global p99
    tail — per-key counts above the exact interpolated p99 threshold
    (identical double in both engines over integer latencies), shares
    as single divides.  The on-call "who is slow" query (native
    composition over the exact-percentile machinery)."""
    ev = load_table(spark, sf, "events")
    f = ev.select(
        "event_type", (F.round(F.col("value") * 100).cast("long") % 5000).alias("lat")
    )
    thr = f.agg(F.percentile("lat", F.lit(0.99)).alias("p99"))
    above = (
        f.crossJoin(F.broadcast(thr))
        .where(F.col("lat") > F.col("p99"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_above"))
    )
    tot = above.agg(F.sum("n_above").cast("long").alias("total_above"))
    base = f.groupBy("event_type").agg(F.count(F.lit(1)).cast("long").alias("n"))
    j = base.join(above, on="event_type", how="left").crossJoin(F.broadcast(tot))
    na = F.coalesce(F.col("n_above"), F.lit(0))
    return j.select(
        "event_type", "n", na.alias("n_above"),
        (na / F.col("total_above")).alias("share_of_tail"),
        (na / F.col("n")).alias("own_tail_rate"),
    )


# ------------------------------------------------------------------ q468
@query(
    "q468_payback_period",
    """
    WITH purch AS (
        SELECT user_id, CAST(floor(epoch(ts) / 2592000.0) AS BIGINT) AS m,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events WHERE event_type = 'purchase'
    ),
    cohorts AS (SELECT user_id, min(m) AS cohort FROM purch GROUP BY user_id),
    sizes AS (SELECT cohort, CAST(count(*) AS BIGINT) AS n_users FROM cohorts GROUP BY cohort),
    rev AS (
        SELECT c.cohort, p.m - c.cohort AS month_since,
               CAST(sum(p.cents) AS BIGINT) AS rev
        FROM purch p JOIN cohorts c USING (user_id)
        GROUP BY 1, 2
    ),
    cum AS (
        SELECT cohort, month_since,
               CAST(sum(rev) OVER (PARTITION BY cohort ORDER BY month_since
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_rev
        FROM rev
    )
    SELECT s.cohort, s.n_users,
           min(CASE WHEN c.cum_rev >= 5000 * s.n_users THEN c.month_since END) AS payback_month
    FROM sizes s JOIN cum c USING (cohort)
    GROUP BY s.cohort, s.n_users
    """,
)
def q468(spark: SparkSession, sf: str) -> DataFrame:
    """Cohort payback period: first month-since-acquisition where a
    cohort's cumulative purchase revenue covers its acquisition cost
    (5000 cents per user) — all integer cumulative sums and an integer
    threshold, so the crossing month is exact (native composition over
    the cohort_retention machinery)."""
    ev = load_table(spark, sf, "events").where(F.col("event_type") == "purchase")
    purch = ev.select(
        "user_id",
        F.floor(F.unix_seconds(F.col("ts")) / 2592000).cast("long").alias("m"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    cohorts = purch.groupBy("user_id").agg(F.min("m").alias("cohort"))
    sizes = cohorts.groupBy("cohort").agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    rev = (
        purch.join(cohorts, on="user_id")
        .groupBy("cohort", (F.col("m") - F.col("cohort")).alias("month_since"))
        .agg(F.sum("cents").cast("long").alias("rev"))
    )
    w = Window.partitionBy("cohort").orderBy("month_since").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = rev.withColumn("cum_rev", F.sum("rev").over(w).cast("long"))
    j = sizes.join(cum, on="cohort")
    return j.groupBy("cohort", "n_users").agg(
        F.min(
            F.when(F.col("cum_rev") >= 5000 * F.col("n_users"), F.col("month_since"))
        ).alias("payback_month")
    )


# ------------------------------------------------------------------ q469
@query(
    "q469_mtbf_mttr",
    """
    WITH f AS (
        SELECT event_type, epoch_us(ts) AS tus, event_id,
               CASE WHEN CAST(round(value * 100) AS BIGINT) % 50 = 0 THEN 1 ELSE 0 END AS down
        FROM events
    ),
    seg AS (
        SELECT event_type, down,
               lead(tus) OVER (PARTITION BY event_type ORDER BY tus, event_id) - tus AS dur,
               lead(down) OVER (PARTITION BY event_type ORDER BY tus, event_id) AS next_down
        FROM f
    )
    SELECT event_type,
           CAST(sum(CASE WHEN down = 0 THEN dur ELSE 0 END) AS BIGINT) AS uptime_us,
           CAST(sum(CASE WHEN down = 1 THEN dur ELSE 0 END) AS BIGINT) AS downtime_us,
           CAST(sum(CASE WHEN down = 0 AND next_down = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_failures,
           CAST(sum(CASE WHEN down = 1 AND next_down = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_recoveries,
           CASE WHEN sum(CASE WHEN down = 0 AND next_down = 1 THEN 1 ELSE 0 END) > 0
                THEN CAST(sum(CASE WHEN down = 0 THEN dur ELSE 0 END) AS DOUBLE)
                     / sum(CASE WHEN down = 0 AND next_down = 1 THEN 1 ELSE 0 END) / 1000000 END AS mtbf_s,
           CASE WHEN sum(CASE WHEN down = 1 AND next_down = 0 THEN 1 ELSE 0 END) > 0
                THEN CAST(sum(CASE WHEN down = 1 THEN dur ELSE 0 END) AS DOUBLE)
                     / sum(CASE WHEN down = 1 AND next_down = 0 THEN 1 ELSE 0 END) / 1000000 END AS mttr_s
    FROM seg WHERE dur IS NOT NULL
    GROUP BY event_type
    """,
)
def q469(spark: SparkSession, sf: str) -> DataFrame:
    """MTBF / MTTR per service (event type) from an up/down status
    stream: inter-event intervals carry their LEADING state, failures
    are up→down transitions — exact microsecond integer durations and
    transition counts, one divide each (native composition over the
    transitions/drawdown_duration run machinery)."""
    ev = load_table(spark, sf, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    f = ev.select(
        "event_type", F.unix_micros(F.col("ts")).alias("tus"), "event_id",
        (cents % 50 == 0).cast("long").alias("down"),
    )
    w = Window.partitionBy("event_type").orderBy("tus", "event_id")
    seg = f.select(
        "event_type", "down",
        (F.lead("tus").over(w) - F.col("tus")).alias("dur"),
        F.lead("down").over(w).alias("next_down"),
    ).where(F.col("dur").isNotNull())
    up = F.col("down") == 0
    fail = up & (F.col("next_down") == 1)
    rec = (F.col("down") == 1) & (F.col("next_down") == 0)
    g = seg.groupBy("event_type").agg(
        F.sum(F.when(up, F.col("dur")).otherwise(F.lit(0))).cast("long").alias("uptime_us"),
        F.sum(F.when(~up, F.col("dur")).otherwise(F.lit(0))).cast("long").alias("downtime_us"),
        F.sum(fail.cast("long")).cast("long").alias("n_failures"),
        F.sum(rec.cast("long")).cast("long").alias("n_recoveries"),
    )
    return g.select(
        "event_type", "uptime_us", "downtime_us", "n_failures", "n_recoveries",
        F.when(
            F.col("n_failures") > 0,
            F.col("uptime_us") / F.col("n_failures") / 1_000_000,
        ).alias("mtbf_s"),
        F.when(
            F.col("n_recoveries") > 0,
            F.col("downtime_us") / F.col("n_recoveries") / 1_000_000,
        ).alias("mttr_s"),
    )
