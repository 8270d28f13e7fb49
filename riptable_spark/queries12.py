"""Driver-contract query registry, batch 12 (round-3 session 8,
q343-q383): WAC lot accounting, graph link prediction / modularity /
tree rollups, co-occurrence item similarity, sharded heavy hitters,
planar grid joins + DBSCAN, EWM pair risk, Holt-Winters, off-policy
evaluation (IPS/SNIPS/DR), causal (DiD, Qini), ranking + calibration
eval (NDCG, MAP, F1/κ/MCC/Brier/ECE, pass@k), conformal + bootstrap
uncertainty, isotonic regression, phrase search, incremental dedup,
greedy coverage selection, apportionment, and the streaming CDC sink.
Registers into the same QUERIES/ORACLES dicts as queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .queries import query
from .sources.io import load_table


# ------------------------------------------------------------------ q343
@query(
    "q343_wac_pnl",
    # Full SQL replay of the WAC ledger: a recursive CTE advances the
    # integer state (position, cost basis, realized) one fill at a time
    # per user — every operation (blend, rounded basis removal, flip)
    # is exact BIGINT arithmetic, so the replay is bit-identical to the
    # Arrow scan.  Iteration count = max fills per user (≤ ~45 at any
    # SF), working set = one row per user.
    """
    WITH RECURSIVE fills AS (
        SELECT user_id, event_id,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE -1 END AS s,
               CAST(round(value * 100) AS BIGINT) AS p,
               CAST(event_id % 5 + 1 AS BIGINT) AS q,
               CAST(row_number() OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS BIGINT) AS rk
        FROM events WHERE event_type IN ('purchase', 'click')
    ),
    steps AS (
        SELECT user_id, CAST(0 AS BIGINT) AS rk, CAST(NULL AS BIGINT) AS event_id,
               CAST(0 AS BIGINT) AS pos, CAST(0 AS BIGINT) AS cost,
               CAST(0 AS BIGINT) AS realized
        FROM (SELECT DISTINCT user_id FROM fills)
        UNION ALL
        SELECT user_id, rk, event_id,
               CASE WHEN opening THEN pos + s * q
                    WHEN q - m > 0 THEN s * (q - m)
                    ELSE pos + s * m END AS pos,
               CASE WHEN opening THEN cost + p * q
                    WHEN q - m > 0 THEN p * (q - m)
                    WHEN pos + s * m = 0 THEN 0
                    ELSE cost - removed END AS cost,
               CASE WHEN opening THEN realized
                    ELSE realized + (p * m - removed)
                         * (CASE WHEN pos > 0 THEN 1 ELSE -1 END) END AS realized
        FROM (
            SELECT st.user_id, f.rk, f.event_id, st.pos, st.cost, st.realized,
                   f.s, f.p, f.q,
                   (st.pos = 0 OR (CASE WHEN st.pos > 0 THEN 1 ELSE -1 END) = f.s)
                       AS opening,
                   least(f.q, abs(st.pos)) AS m,
                   CASE WHEN st.pos = 0 THEN CAST(0 AS BIGINT)
                        ELSE (abs(st.cost) * least(f.q, abs(st.pos))
                              + abs(st.pos) // 2) // abs(st.pos)
                             * (CASE WHEN st.cost >= 0 THEN 1 ELSE -1 END)
                   END AS removed
            FROM steps st JOIN fills f
              ON f.user_id = st.user_id AND f.rk = st.rk + 1
        )
    )
    SELECT user_id, event_id,
           CAST(realized AS BIGINT) AS realized_cents,
           CAST(pos AS BIGINT) AS position_after
    FROM steps WHERE rk >= 1
    """,
)
def q343(spark: SparkSession, sf: str) -> DataFrame:
    """Weighted-average-cost realized P&L over the same signed fill
    stream as q329 (purchase=buy, click=sell): one Arrow-batched
    applyInPandas scan per user.  The WAC ledger disagrees with FIFO
    mid-path but must match it to the cent whenever the book is flat —
    the property the tests pin."""
    from .operators import finance

    ev = load_table(spark, sf, "events").where(F.col("event_type").isin("purchase", "click"))
    fills = ev.select(
        "user_id", "ts", "event_id",
        F.when(F.col("event_type") == "purchase", 1).otherwise(-1).alias("s"),
        F.col("value").alias("price"),
        (F.col("event_id") % 5 + 1).alias("q"),
    )
    out = finance.wac_pnl(fills, "user_id", ["ts", "event_id"], "s", "price", "q")
    return out.select(
        "user_id", "event_id", "realized_cents", "position_after"
    )


# ------------------------------------------------------------------ q344
@query(
    "q344_link_predict",
    """
    WITH base AS (
        SELECT doc_id % 200 AS s, (doc_id * 7 + 3) % 200 AS d FROM documents
    ),
    e AS (
        SELECT DISTINCT least(s, d) AS lo, greatest(s, d) AS hi FROM base
        WHERE s != d
    ),
    adj AS (
        SELECT lo AS node, hi AS nbr FROM e
        UNION ALL SELECT hi AS node, lo AS nbr FROM e
    ),
    deg AS (SELECT node, count(*) AS degree FROM adj GROUP BY node),
    cand AS (
        SELECT l.nbr AS lo, r.nbr AS hi, count(*) AS common_neighbors
        FROM adj l JOIN adj r ON l.node = r.node
        WHERE l.nbr < r.nbr
        GROUP BY l.nbr, r.nbr
        HAVING count(*) >= 2
    ),
    nonedge AS (
        SELECT c.* FROM cand c
        WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.lo = c.lo AND e.hi = c.hi)
    )
    SELECT n.lo, n.hi,
           CAST(n.common_neighbors AS BIGINT) AS common_neighbors,
           dl.degree AS deg_lo, dh.degree AS deg_hi,
           CAST(n.common_neighbors AS DOUBLE)
             / (dl.degree + dh.degree - n.common_neighbors) AS jaccard
    FROM nonedge n
    JOIN deg dl ON dl.node = n.lo
    JOIN deg dh ON dh.node = n.hi
    """,
)
def q344(spark: SparkSession, sf: str) -> DataFrame:
    """Friend-of-friend link prediction on the synthetic doc graph:
    wedge equi-join candidates, anti-join removes existing edges,
    neighborhood Jaccard from exact integer counts (one IEEE divide —
    no rounding in the oracle)."""
    from .operators.graph import link_predict

    docs = load_table(spark, sf, "documents")
    edges = docs.select(
        (F.col("doc_id") % 200).alias("src"),
        ((F.col("doc_id") * 7 + 3) % 200).alias("dst"),
    )
    return link_predict(edges, "src", "dst", min_common=2)


# ------------------------------------------------------------------ q345
@query(
    "q345_item_similarity",
    """
    WITH bi AS (
        SELECT DISTINCT user_id AS b, event_id % 100 AS i FROM events
    ),
    nb AS (SELECT count(DISTINCT b) AS n_baskets FROM bi),
    ic AS (SELECT i, count(*) AS cnt FROM bi GROUP BY i),
    pc AS (
        SELECT l.i AS item_a, r.i AS item_b, count(*) AS n_ab
        FROM bi l JOIN bi r ON l.b = r.b
        WHERE l.i < r.i
        GROUP BY l.i, r.i
        HAVING count(*) >= 2
    ),
    pairs AS (
        SELECT pc.item_a, pc.item_b, CAST(pc.n_ab AS BIGINT) AS n_ab,
               ia.cnt AS n_a, ib.cnt AS n_b,
               CAST(pc.n_ab AS DOUBLE) / sqrt(CAST(ia.cnt * ib.cnt AS DOUBLE)) AS cosine
        FROM pc
        JOIN ic ia ON ia.i = pc.item_a
        JOIN ic ib ON ib.i = pc.item_b
    ),
    pair_sides AS (
        SELECT item_a AS item, item_b AS neighbor, n_ab, cosine FROM pairs
        UNION ALL
        SELECT item_b AS item, item_a AS neighbor, n_ab, cosine FROM pairs
    ),
    ranked AS (
        SELECT item, neighbor, n_ab, cosine,
               row_number() OVER (
                   PARTITION BY item
                   ORDER BY cosine DESC, n_ab DESC, neighbor
               ) AS rk
        FROM pair_sides
    )
    SELECT item, neighbor, n_ab, round(cosine, 9) AS cosine, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= 5
    """,
)
def q345(spark: SparkSession, sf: str) -> DataFrame:
    """Related-items recommender: per-item top-5 neighbors by binary
    cosine over (user, item-class) baskets — basket_pairs candidate
    generation plus one per-item window over the reduced pair
    relation."""
    from .operators.mining import item_similarity

    ev = load_table(spark, sf, "events").select(
        "user_id", (F.col("event_id") % 100).alias("item_class")
    )
    sim = item_similarity(ev, "user_id", "item_class", min_count=2, topk=5)
    return sim.select(
        "item", "neighbor", "n_ab",
        F.round(F.col("cosine"), 9).alias("cosine"),
        F.col("rk").cast("bigint").alias("rk"),
    )


# ------------------------------------------------------------------ q346
@query(
    "q346_topk_frequent",
    """
    WITH counts AS (
        SELECT event_type, event_id % 997 AS item, count(*) AS freq
        FROM events GROUP BY event_type, event_id % 997
    ),
    ranked AS (
        SELECT event_type, item, CAST(freq AS BIGINT) AS freq,
               row_number() OVER (
                   PARTITION BY event_type ORDER BY freq DESC, item
               ) AS rank
        FROM counts
    )
    SELECT event_type, item, freq, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 10
    """,
)
def q346(spark: SparkSession, sf: str) -> DataFrame:
    """Distributed exact heavy hitters: per-event-type top-10 items via
    hash-sharded local top-k (WindowGroupLimit heaps) + a bounded
    merge — the oracle computes the same top-k directly, proving the
    sharded shortlist loses nothing."""
    from .operators.sketch import topk_frequent

    ev = load_table(spark, sf, "events").select(
        "event_type", (F.col("event_id") % 997).alias("item")
    )
    return topk_frequent(ev, "item", 10, n_shards=16, by=["event_type"])


# ------------------------------------------------------------------ q347
@query(
    "q347_grid_neighbor_join",
    """
    WITH pts AS (
        SELECT DISTINCT event_id AS id,
               ((event_id * 37) % 400) * 500 AS la,
               ((event_id * 91) % 400) * 500 AS lo
        FROM events WHERE event_id < 5000
    )
    SELECT a.id AS id_a, b.id AS id_b,
           CAST((a.la - b.la) * (a.la - b.la)
              + (a.lo - b.lo) * (a.lo - b.lo) AS BIGINT) AS dist2_udeg2
    FROM pts a JOIN pts b ON a.id < b.id
    WHERE (a.la - b.la) * (a.la - b.la) + (a.lo - b.lo) * (a.lo - b.lo)
          <= 1200 * 1200
    """,
)
def q347(spark: SparkSession, sf: str) -> DataFrame:
    """Spatial self-join: all user-point pairs within 1200 µdeg —
    radius-sized grid cells + 3×3 stencil equi-join + exact integer
    residual (never a cross join); the oracle is the plain O(n²)
    non-equi join, a genuinely independent formulation."""
    from .operators.geo import grid_neighbor_join

    ev = load_table(spark, sf, "events").where(F.col("event_id") < 5000)
    pts = ev.select(
        F.col("event_id").alias("id"),
        (((F.col("event_id") * 37) % 400) * 500).alias("la"),
        (((F.col("event_id") * 91) % 400) * 500).alias("lo"),
    ).distinct()
    return grid_neighbor_join(pts, "id", "la", "lo", radius_udeg=1200)


# ------------------------------------------------------------------ q348
@query(
    "q348_ewm_cov",
    """
    WITH pre AS (
        SELECT event_id, user_id,
               value AS x,
               value * (1.0 + CAST(event_id % 5 AS DOUBLE) / 10.0)
                 + CAST(event_id % 7 AS DOUBLE) AS y,
               CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
                    AS DOUBLE) AS t
        FROM events
    ),
    base AS (
        SELECT event_id, user_id, x, y, t,
               min(t) OVER (PARTITION BY user_id) AS tmin
        FROM pre
    ),
    sums AS (
        SELECT event_id, user_id, t,
               exp(-0.05 * (t - tmin)) * sum(x * exp(0.05 * (t - tmin))) OVER w AS sx,
               exp(-0.05 * (t - tmin)) * sum(y * exp(0.05 * (t - tmin))) OVER w AS sy,
               exp(-0.05 * (t - tmin)) * sum(x * y * exp(0.05 * (t - tmin))) OVER w AS sxy,
               exp(-0.05 * (t - tmin)) * sum(x * x * exp(0.05 * (t - tmin))) OVER w AS sxx,
               exp(-0.05 * (t - tmin)) * sum(y * y * exp(0.05 * (t - tmin))) OVER w AS syy,
               exp(-0.05 * (t - tmin)) * sum(exp(0.05 * (t - tmin))) OVER w AS w
        FROM base
        WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id ROWS UNBOUNDED PRECEDING)
    ),
    mom AS (
        SELECT event_id, user_id,
               sxy / w - (sx / w) * (sy / w) AS cov,
               greatest(sxx / w - (sx / w) * (sx / w), 0.0) AS varx,
               greatest(syy / w - (sy / w) * (sy / w), 0.0) AS vary
        FROM sums
    )
    SELECT event_id, user_id,
           round(cov, 4) AS ewm_cov,
           CASE WHEN varx > 0 THEN round(cov / varx, 4) END AS ewm_beta,
           CASE WHEN varx > 0 AND vary > 0
                THEN round(cov / sqrt(varx * vary), 4) END AS ewm_corr
    FROM mom
    """,
)
def q348(spark: SparkSession, sf: str) -> DataFrame:
    """Exponentially-weighted covariance / beta / correlation of a
    derived pair series (RiskMetrics pair estimator): six decayed sums
    on ONE codegen window, replayed in SQL via the same telescoping
    rebase identity as q311.  Time is the per-user row RANK, keeping
    the exp rebase exponents small (≤ rate·group size) so the decayed
    sums stay tie-free at 4dp across engines (the epoch-hour form put
    one sf0.1 row exactly on the rounding boundary)."""
    from .operators.ema import ewm_cov

    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = (
        load_table(spark, sf, "events")
        .withColumn("t", F.row_number().over(w).cast("double"))
        .withColumn("x", F.col("value"))
        .withColumn(
            "y",
            F.col("value") * (F.lit(1.0) + (F.col("event_id") % 5).cast("double") / 10.0)
            + (F.col("event_id") % 7).cast("double"),
        )
        .select("event_id", "user_id", "t", "x", "y")
    )
    out = ewm_cov(ev, ["user_id"], "x", "y", "t", rate=0.05, order_col="event_id")
    return out.select(
        "event_id", "user_id",
        F.round(F.col("ewm_cov"), 4).alias("ewm_cov"),
        F.round(F.col("ewm_beta"), 4).alias("ewm_beta"),
        F.round(F.col("ewm_corr"), 4).alias("ewm_corr"),
    )


# ------------------------------------------------------------------ q349
_HW_A, _HW_B, _HW_G = 0.3, 0.1, 0.2
_HW_SLAG = (
    "CASE (f.rk - 1) % 4 WHEN 0 THEN st.s0 WHEN 1 THEN st.s1"
    " WHEN 2 THEN st.s2 ELSE st.s3 END"
)


@query(
    "q349_holt_winters",
    # Full SQL replay of the triple recurrence at period 4: the four
    # seasonal slots ride the recursive CTE as explicit columns; each
    # step evaluates the IDENTICAL IEEE-double expression tree as the
    # numpy scan (lateral aliases name s_lag → level → trend → season
    # in dependency order), so the replay is bit-identical unrounded.
    f"""
    WITH RECURSIVE v AS (
        SELECT user_id, event_id, value AS x,
               CAST(row_number() OVER (PARTITION BY user_id
                                       ORDER BY event_id) AS BIGINT) AS rk
        FROM events
    ),
    s AS (
        SELECT user_id, rk, event_id, x AS l, CAST(0 AS DOUBLE) AS b,
               CAST(0 AS DOUBLE) AS s0, CAST(0 AS DOUBLE) AS s1,
               CAST(0 AS DOUBLE) AS s2, CAST(0 AS DOUBLE) AS s3,
               CAST(0 AS DOUBLE) AS s_out, CAST('NaN' AS DOUBLE) AS fct
        FROM v WHERE rk = 1
        UNION ALL
        SELECT user_id, rk, event_id, l_new AS l, b_new AS b,
               CASE WHEN tmod = 0 THEN s_new ELSE s0 END AS s0,
               CASE WHEN tmod = 1 THEN s_new ELSE s1 END AS s1,
               CASE WHEN tmod = 2 THEN s_new ELSE s2 END AS s2,
               CASE WHEN tmod = 3 THEN s_new ELSE s3 END AS s3,
               s_new AS s_out, fct
        FROM (
            SELECT st.user_id, f.rk, f.event_id,
                   st.s0, st.s1, st.s2, st.s3,
                   (f.rk - 1) % 4 AS tmod,
                   {_HW_SLAG} AS s_lag,
                   st.l + st.b + s_lag AS fct,
                   CAST('{_HW_A!r}' AS DOUBLE) * (f.x - s_lag)
                       + CAST('{1 - _HW_A!r}' AS DOUBLE) * (st.l + st.b) AS l_new,
                   CAST('{_HW_B!r}' AS DOUBLE) * (l_new - st.l)
                       + CAST('{1 - _HW_B!r}' AS DOUBLE) * st.b AS b_new,
                   CAST('{_HW_G!r}' AS DOUBLE) * (f.x - l_new)
                       + CAST('{1 - _HW_G!r}' AS DOUBLE) * s_lag AS s_new
            FROM s st JOIN v f ON f.user_id = st.user_id AND f.rk = st.rk + 1
        )
    )
    SELECT user_id, event_id, l AS hw_level, b AS hw_trend,
           s_out AS hw_season, fct AS hw_forecast
    FROM s
    """,
)
def q349(spark: SparkSession, sf: str) -> DataFrame:
    """Additive Holt-Winters (level+trend+season, period 4) over each
    user's value path — one Arrow-batched scan per key; completes the
    ema_decay → holt_linear → holt_winters forecasting ladder.
    Hash-checked bit-for-bit against a recursive-CTE replay carrying
    the four seasonal slots as columns."""
    from .operators.ema import holt_winters

    ev = load_table(spark, sf, "events").select("user_id", "event_id", "value")
    out = holt_winters(
        ev.withColumn("__o__", F.col("event_id")), ["user_id"], "value", "__o__",
        period=4, alpha=_HW_A, beta=_HW_B, gamma=_HW_G,
    )
    return out.select(
        "user_id", "event_id",
        F.col("hw_level"), F.col("hw_trend"), F.col("hw_season"), F.col("hw_forecast"),
    )


# ------------------------------------------------------------------ q350
@query(
    "q350_dbscan",
    """
    WITH RECURSIVE pts AS (
        SELECT DISTINCT event_id AS id,
               ((event_id * 37) % 400) * 500 AS la,
               ((event_id * 91) % 400) * 500 AS lo
        FROM events WHERE event_id < 5000
    ),
    pairs AS (
        SELECT a.id AS id_a, b.id AS id_b
        FROM pts a JOIN pts b ON a.id < b.id
        WHERE (a.la - b.la) * (a.la - b.la)
            + (a.lo - b.lo) * (a.lo - b.lo) <= 1200 * 1200
    ),
    sym AS (
        SELECT id_a, id_b FROM pairs
        UNION ALL SELECT id_b AS id_a, id_a AS id_b FROM pairs
    ),
    deg AS (
        SELECT p.id, coalesce(n.c, 0) + 1 AS n
        FROM pts p LEFT JOIN (
            SELECT id_a AS id, count(*) AS c FROM sym GROUP BY id_a
        ) n USING (id)
    ),
    core AS (SELECT id FROM deg WHERE n >= 4),
    core_edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        WHERE id_a IN (SELECT id FROM core) AND id_b IN (SELECT id FROM core)
    ),
    cedges AS (
        SELECT src, dst FROM core_edges
        UNION SELECT dst AS src, src AS dst FROM core_edges
    ),
    walk(node, reach) AS (
        SELECT src, src FROM (SELECT DISTINCT src FROM cedges)
        UNION
        SELECT w.node, e.dst FROM walk w JOIN cedges e ON w.reach = e.src
    ),
    comp AS (SELECT node AS id, min(reach) AS component FROM walk GROUP BY node),
    core_lab AS (
        SELECT c.id, coalesce(k.component, c.id) AS cluster
        FROM core c LEFT JOIN comp k USING (id)
    ),
    border AS (
        SELECT s.id_a AS id, min(cl.cluster) AS cluster
        FROM sym s JOIN core_lab cl ON cl.id = s.id_b
        WHERE s.id_a NOT IN (SELECT id FROM core)
        GROUP BY s.id_a
    ),
    lab AS (
        SELECT id, TRUE AS is_core, cluster FROM core_lab
        UNION ALL SELECT id, FALSE AS is_core, cluster FROM border
    )
    SELECT p.id, coalesce(l.is_core, FALSE) AS is_core, l.cluster
    FROM pts p LEFT JOIN lab l USING (id)
    """,
)
def q350(spark: SparkSession, sf: str) -> DataFrame:
    """Distributed DBSCAN over the q347 point lattice (ε=1200 µdeg,
    min_pts=4): grid-join ε-pairs → core filter → min-label components
    over core-core edges → deterministic border attach; the oracle
    replays the whole thing with an O(n²) join and a recursive-CTE
    transitive closure — two completely different algorithms, same
    labeling."""
    from .operators.geo import dbscan

    ev = load_table(spark, sf, "events").where(F.col("event_id") < 5000)
    pts = ev.select(
        F.col("event_id").alias("id"),
        (((F.col("event_id") * 37) % 400) * 500).alias("la"),
        (((F.col("event_id") * 91) % 400) * 500).alias("lo"),
    ).distinct()
    return dbscan(pts, "id", "la", "lo", radius_udeg=1200, min_pts=4)


# ------------------------------------------------------------------ q351
@query(
    "q351_ips_eval",
    """
    WITH log AS (
        SELECT event_type,
               event_id % 3 AS a,
               (user_id + event_id) % 3 AS pi,
               CAST(round(value * 100) AS BIGINT) AS r,
               1 + event_id % 4 AS num,
               10 AS den
        FROM events
    ),
    w AS (
        SELECT event_type,
               CASE WHEN a = pi THEN 1 ELSE 0 END AS m,
               den * (12 // num) * CASE WHEN a = pi THEN 1 ELSE 0 END AS w,
               den * (12 // num) * r * CASE WHEN a = pi THEN 1 ELSE 0 END AS wr,
               den * (12 // num) * den * (12 // num)
                 * CASE WHEN a = pi THEN 1 ELSE 0 END AS w2
        FROM log
    ),
    g AS (
        SELECT event_type, count(*) AS n, CAST(sum(m) AS BIGINT) AS n_match,
               CAST(sum(w) AS BIGINT) AS sw, CAST(sum(wr) AS BIGINT) AS swr,
               CAST(sum(w2) AS BIGINT) AS sw2
        FROM w GROUP BY event_type
    )
    SELECT event_type, n, n_match,
           CAST(swr AS DOUBLE) / (12 * n) AS ips_value,
           CASE WHEN sw > 0 THEN CAST(swr AS DOUBLE) / sw END AS snips_value,
           CASE WHEN sw2 > 0 THEN CAST(sw * sw AS DOUBLE) / sw2 END AS ess
    FROM g
    """,
)
def q351(spark: SparkSession, sf: str) -> DataFrame:
    """Off-policy IPS/SNIPS evaluation of a deterministic target policy
    from a synthetic logged-bandit view of events: exact-integer
    importance weights (rational propensities × lcm), one hash agg,
    ratios of exact BIGINTs — no rounding anywhere."""
    from .functions.stats import ips_eval

    ev = load_table(spark, sf, "events").select(
        "event_type",
        (F.col("event_id") % 3).alias("a"),
        ((F.col("user_id") + F.col("event_id")) % 3).alias("pi"),
        F.round(F.col("value") * 100).cast("bigint").alias("r"),
        (1 + F.col("event_id") % 4).alias("num"),
        F.lit(10).alias("den"),
    )
    return ips_eval(ev, ["event_type"], "a", "pi", "r", "num", "den", lcm=12)


# ------------------------------------------------------------------ q352
@query(
    "q352_running_distinct",
    """
    WITH flags AS (
        SELECT user_id, ts, event_id, event_id % 25 AS v,
               CASE WHEN row_number() OVER (
                   PARTITION BY user_id, event_id % 25 ORDER BY ts, event_id
               ) = 1 THEN 1 ELSE 0 END AS fo
        FROM events
    )
    SELECT user_id, event_id,
           CAST(sum(fo) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING
           ) AS BIGINT) AS running_distinct
    FROM flags
    """,
)
def q352(spark: SparkSession, sf: str) -> DataFrame:
    """Running COUNT(DISTINCT) per user (the window ANSI SQL lacks):
    first-occurrence flag + running integer sum — two codegen sort
    windows, O(1) state per row instead of a growing collect_set."""
    from .operators.window import running_distinct

    ev = load_table(spark, sf, "events").select(
        "user_id", "ts", "event_id", (F.col("event_id") % 25).alias("v")
    )
    out = running_distinct(ev, ["user_id"], "v", ["ts", "event_id"])
    return out.select("user_id", "event_id", "running_distinct")


# ------------------------------------------------------------------ q353
@query(
    "q353_qini_curve",
    """
    WITH base AS (
        SELECT CAST(event_id % 50 AS DOUBLE) AS score,
               user_id % 2 AS t,
               CASE WHEN value > 500 THEN 1 ELSE 0 END AS y
        FROM events
    ),
    per AS (
        SELECT score, CAST(sum(t) AS BIGINT) AS nt,
               CAST(sum(1 - t) AS BIGINT) AS nc,
               CAST(sum(t * y) AS BIGINT) AS yt,
               CAST(sum((1 - t) * y) AS BIGINT) AS yc
        FROM base GROUP BY score
    ),
    cum AS (
        SELECT score,
               CAST(sum(nt) OVER w AS BIGINT) AS cum_nt,
               CAST(sum(nc) OVER w AS BIGINT) AS cum_nc,
               CAST(sum(yt) OVER w AS BIGINT) AS cum_yt,
               CAST(sum(yc) OVER w AS BIGINT) AS cum_yc
        FROM per
        WINDOW w AS (ORDER BY score DESC ROWS UNBOUNDED PRECEDING)
    )
    SELECT score, cum_nt, cum_nc, cum_yt, cum_yc,
           CASE WHEN cum_nc > 0
                THEN cum_yt - CAST(cum_yc * cum_nt AS DOUBLE) / cum_nc END AS qini
    FROM cum
    """,
)
def q353(spark: SparkSession, sf: str) -> DataFrame:
    """Uplift (Qini) curve at every score threshold: value-domain
    aggregation (auc_exact's shape) then cumulative integer counts over
    the tiny distinct-score relation; the only float is the final
    exact-integer ratio."""
    from .functions.stats import qini_curve

    ev = load_table(spark, sf, "events").select(
        (F.col("event_id") % 50).cast("double").alias("score"),
        (F.col("user_id") % 2).alias("t"),
        (F.col("value") > 500).cast("long").alias("y"),
    )
    return qini_curve(ev, "score", "t", "y")


# ------------------------------------------------------------------ q354
@query(
    "q354_graph_modularity",
    """
    WITH base AS (
        SELECT doc_id % 200 AS s, (doc_id * 7 + 3) % 200 AS d FROM documents
    ),
    e AS (
        SELECT DISTINCT least(s, d) AS lo, greatest(s, d) AS hi FROM base
        WHERE s != d
    ),
    m_rel AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
    intra AS (
        SELECT lo % 4 AS community, CAST(count(*) AS BIGINT) AS e_c
        FROM e WHERE lo % 4 = hi % 4 GROUP BY lo % 4
    ),
    deg AS (
        SELECT node % 4 AS community, CAST(count(*) AS BIGINT) AS d_c
        FROM (SELECT lo AS node FROM e UNION ALL SELECT hi FROM e)
        GROUP BY node % 4
    ),
    per AS (
        SELECT deg.community, coalesce(intra.e_c, 0) AS e_c, deg.d_c,
               CAST(4 * m_rel.m * coalesce(intra.e_c, 0) - deg.d_c * deg.d_c
                    AS BIGINT) AS num,
               m_rel.m AS m
        FROM deg LEFT JOIN intra USING (community) CROSS JOIN m_rel
    )
    SELECT community, e_c, d_c, num,
           (SELECT CAST(sum(num) AS DOUBLE) FROM per) / (4 * m * m) AS modularity
    FROM per
    """,
)
def q354(spark: SparkSession, sf: str) -> DataFrame:
    """Newman modularity of the node%4 partition of the synthetic doc
    graph: exact-integer per-community contributions
    (4·m·e_c − d_c²) and a single IEEE divide for Q."""
    from .operators.graph import graph_modularity

    docs = load_table(spark, sf, "documents")
    edges = docs.select(
        (F.col("doc_id") % 200).alias("src"),
        ((F.col("doc_id") * 7 + 3) % 200).alias("dst"),
    )
    nodes = edges.select(F.col("src").alias("node")).unionAll(
        edges.select(F.col("dst").alias("node"))
    ).distinct()
    labels = nodes.select("node", (F.col("node") % 4).alias("community"))
    return graph_modularity(edges, labels)


# ------------------------------------------------------------------ q355
@query(
    "q355_try_cast_family",
    """
    WITH s AS (
        SELECT doc_id,
               CASE doc_id % 5 WHEN 0 THEN '123' WHEN 1 THEN '-45'
                    WHEN 2 THEN 'abc' WHEN 3 THEN '' ELSE '7' END AS si,
               CASE doc_id % 4 WHEN 0 THEN '12.5' WHEN 1 THEN '1e3'
                    WHEN 2 THEN 'x' ELSE '-0.25' END AS sd,
               CASE doc_id % 4 WHEN 0 THEN '2020-01-15' WHEN 1 THEN '2020-13-01'
                    WHEN 2 THEN 'nope' ELSE '1999-12-31' END AS sdt
        FROM documents
    )
    SELECT doc_id,
           TRY_CAST(si AS BIGINT) AS as_int,
           TRY_CAST(sd AS DOUBLE) AS as_double,
           TRY_CAST(sdt AS DATE) AS as_date,
           CAST(TRY_CAST(si AS BIGINT) IS NULL AS INTEGER) AS int_failed
    FROM s
    """,
)
def q355(spark: SparkSession, sf: str) -> DataFrame:
    """Fault-tolerant parsing parity: try_cast on messy strings →
    NULL-not-throw for int/double/date, plus a failure-audit flag —
    the ingestion-hardening surface (ANSI mode is ON, so plain CAST
    would throw)."""
    d = load_table(spark, sf, "documents").select("doc_id")
    si = (
        F.when(F.col("doc_id") % 5 == 0, "123")
        .when(F.col("doc_id") % 5 == 1, "-45")
        .when(F.col("doc_id") % 5 == 2, "abc")
        .when(F.col("doc_id") % 5 == 3, "")
        .otherwise("7")
    )
    sd = (
        F.when(F.col("doc_id") % 4 == 0, "12.5")
        .when(F.col("doc_id") % 4 == 1, "1e3")
        .when(F.col("doc_id") % 4 == 2, "x")
        .otherwise("-0.25")
    )
    sdt = (
        F.when(F.col("doc_id") % 4 == 0, "2020-01-15")
        .when(F.col("doc_id") % 4 == 1, "2020-13-01")
        .when(F.col("doc_id") % 4 == 2, "nope")
        .otherwise("1999-12-31")
    )
    out = d.select(
        "doc_id",
        si.try_cast("bigint").alias("as_int"),
        sd.try_cast("double").alias("as_double"),
        sdt.try_cast("date").alias("as_date"),
    )
    return out.withColumn("int_failed", F.col("as_int").isNull().cast("int"))


# ------------------------------------------------------------------ q356
@query(
    "q356_lag_lead_nth",
    """
    SELECT user_id, event_id,
           lag(CAST(round(value * 100) AS BIGINT), 2, CAST(-1 AS BIGINT))
               OVER w AS lag2,
           lead(event_type, 1, 'END') OVER w AS next_type,
           nth_value(CAST(round(value * 100) AS BIGINT), 3)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS third_seen,
           first_value(event_type) OVER w AS first_type,
           last_value(event_type)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS final_type
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q356(spark: SparkSession, sf: str) -> DataFrame:
    """Offset/positional window sweep: lag with default, lead, nth_value
    over the growing frame, first/last value with explicit frames —
    one sort window per key, all passthrough values (no arithmetic, no
    rounding concerns)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wg = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wf = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    return ev.select(
        "user_id", "event_id",
        F.lag(cents, 2, -1).over(w).alias("lag2"),
        F.lead("event_type", 1, "END").over(w).alias("next_type"),
        F.nth_value(cents, 3).over(wg).alias("third_seen"),
        F.first("event_type").over(wg).alias("first_type"),
        F.last("event_type").over(wf).alias("final_type"),
    )


# ------------------------------------------------------------------ q357
@query(
    "q357_pivot_multi_agg",
    """
    SELECT user_id % 20 AS bucket,
           CAST(sum(CASE WHEN event_type = 'click' THEN CAST(round(value * 100) AS BIGINT) END) AS BIGINT) AS click_cents,
           CAST(count(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS click_n,
           CAST(sum(CASE WHEN event_type = 'view' THEN CAST(round(value * 100) AS BIGINT) END) AS BIGINT) AS view_cents,
           CAST(count(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS view_n,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN CAST(round(value * 100) AS BIGINT) END) AS BIGINT) AS purchase_cents,
           CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS purchase_n
    FROM events
    GROUP BY user_id % 20
    """,
)
def q357(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-aggregate pivot (sum AND count per pivoted value): Spark's
    pivot with an explicit value list compiles to the same ONE
    conditional-aggregation pass as the oracle's CASE form — no extra
    shuffle per measure."""
    ev = load_table(spark, sf, "events").select(
        (F.col("user_id") % 20).alias("bucket"),
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    p = ev.groupBy("bucket").pivot("event_type", ["click", "view", "purchase"]).agg(
        F.sum("cents").alias("cents"), F.count(F.lit(1)).alias("n")
    )
    return p.select(
        "bucket",
        F.col("click_cents").cast("bigint").alias("click_cents"),
        F.col("click_n").cast("bigint").alias("click_n"),
        F.col("view_cents").cast("bigint").alias("view_cents"),
        F.col("view_n").cast("bigint").alias("view_n"),
        F.col("purchase_cents").cast("bigint").alias("purchase_cents"),
        F.col("purchase_n").cast("bigint").alias("purchase_n"),
    )


# ------------------------------------------------------------------ q358
@query(
    "q358_tree_rollup",
    """
    WITH RECURSIVE anc(node, anc) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT a.node, (a.anc - 1) // 2 FROM anc a WHERE a.anc >= 1
    )
    SELECT a.anc AS node,
           CAST(sum(d.n_chars) AS BIGINT) AS subtree_sum,
           CAST(count(*) AS BIGINT) AS subtree_count
    FROM anc a JOIN documents d ON d.doc_id = a.node
    GROUP BY a.anc
    """,
)
def q358(spark: SparkSession, sf: str) -> DataFrame:
    """Hierarchy rollup over the implicit binary-heap tree of doc_ids
    (parent = (id−1) DIV 2): subtree character totals for EVERY node
    via log-depth path-doubling closure + one agg — Spark's answer to
    the recursive CTE the oracle uses."""
    from .operators.graph import tree_rollup

    d = load_table(spark, sf, "documents")
    edges = d.select(
        F.col("doc_id").alias("node"),
        F.when(F.col("doc_id") >= 1, F.expr("(doc_id - 1) DIV 2")).alias("parent"),
    )
    vals = d.select("doc_id", "n_chars")
    return tree_rollup(vals, edges, "doc_id", "n_chars")


# ------------------------------------------------------------------ q359
@query(
    "q359_largest_remainder",
    """
    WITH wts AS (
        SELECT c_nationkey AS nation, CAST(count(*) AS BIGINT) AS weight
        FROM customer GROUP BY c_nationkey
    ),
    tot AS (SELECT CAST(sum(weight) AS BIGINT) AS W FROM wts),
    base AS (
        SELECT nation, weight,
               CAST(100000 AS BIGINT) * weight // W AS base,
               (CAST(100000 AS BIGINT) * weight) % W AS rem
        FROM wts CROSS JOIN tot
    ),
    ranked AS (
        SELECT nation, weight, base, rem,
               row_number() OVER (ORDER BY rem DESC, nation) AS rk,
               100000 - sum(base) OVER () AS leftover
        FROM base
    )
    SELECT nation, weight,
           CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
               AS allocated
    FROM ranked
    """,
)
def q359(spark: SparkSession, sf: str) -> DataFrame:
    """Hamilton largest-remainder apportionment of 100k units across
    nations by customer count: exact int64 quota math, leftover units
    to the biggest remainders, deterministic ties — Σallocated ≡
    100000 exactly."""
    from .operators.reshape import allocate_proportional

    c = load_table(spark, sf, "customer")
    wts = c.groupBy(F.col("c_nationkey").alias("nation")).agg(
        F.count(F.lit(1)).cast("long").alias("w")
    )
    return allocate_proportional(wts, ["nation"], "w", 100000)


# ------------------------------------------------------------------ q360
@query(
    "q360_iso_calendar",
    """
    WITH d AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS dt FROM orders)
    SELECT o_orderkey,
           CAST(weekofyear(dt) AS BIGINT) AS iso_week,
           CAST(isoyear(dt) AS BIGINT) AS iso_year,
           CAST(quarter(dt) AS BIGINT) AS q,
           CAST(dayofyear(dt) AS BIGINT) AS doy,
           last_day(dt) AS month_end,
           CAST(date_trunc('week', dt) AS DATE) AS week_start
    FROM d
    """,
)
def q360(spark: SparkSession, sf: str) -> DataFrame:
    """ISO calendar parity: ISO week + ISO week-numbering year (both
    engines put 2021-01-01 in 2020-W53), quarter, day-of-year,
    month-end, Monday week start."""
    o = load_table(spark, sf, "orders").select(
        "o_orderkey", F.col("o_orderdate").cast("date").alias("dt")
    )
    return o.select(
        "o_orderkey",
        F.weekofyear("dt").cast("bigint").alias("iso_week"),
        F.expr("extract(YEAROFWEEK FROM dt)").cast("bigint").alias("iso_year"),
        F.quarter("dt").cast("bigint").alias("q"),
        F.dayofyear("dt").cast("bigint").alias("doy"),
        F.last_day("dt").alias("month_end"),
        F.date_trunc("week", F.col("dt")).cast("date").alias("week_start"),
    )


# ------------------------------------------------------------------ q361
@query(
    "q361_phrase_search",
    """
    WITH norm AS (
        SELECT doc_id,
               string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
        FROM documents WHERE text IS NOT NULL
    ),
    posts AS (
        SELECT doc_id, unnest(toks) AS term,
               unnest(range(1, len(toks) + 1)) AS pos
        FROM norm
    ),
    m0 AS (SELECT doc_id, pos FROM posts WHERE term = 'table'),
    m1 AS (SELECT doc_id, pos FROM posts WHERE term = 'table')
    SELECT m0.doc_id, CAST(count(*) AS BIGINT) AS n_matches
    FROM m0 JOIN m1 ON m1.doc_id = m0.doc_id AND m1.pos = m0.pos + 1
    GROUP BY m0.doc_id
    """,
)
def q361(spark: SparkSession, sf: str) -> DataFrame:
    """Inverted-index phrase search for "table table" (overlapping
    occurrences count): positional postings filtered to the phrase's
    terms before any shuffle, then adjacency equi-joins on
    (doc, position) — never a regex scan of the corpus."""
    from .operators.retrieval import phrase_search

    d = load_table(spark, sf, "documents")
    return phrase_search(d, "table table")


# ------------------------------------------------------------------ q362
@query(
    "q362_dedup_incremental",
    """
    WITH norm AS (
        SELECT doc_id, lang, n_chars,
               regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
        FROM documents
    ),
    seen AS (
        SELECT DISTINCT t FROM norm WHERE doc_id % 2 = 0 AND t IS NOT NULL
    ),
    novel AS (
        SELECT * FROM norm
        WHERE doc_id % 2 = 1
          AND (t IS NULL OR t NOT IN (SELECT t FROM seen))
    ),
    kept AS (
        SELECT doc_id, lang, n_chars,
               row_number() OVER (
                   PARTITION BY (t IS NULL), coalesce(t, CAST(doc_id AS VARCHAR))
                   ORDER BY doc_id
               ) AS rn
        FROM novel
    )
    SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
    FROM kept WHERE rn = 1
    """,
)
def q362(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental ingestion dedup: even docs are yesterday's corpus
    (8-byte fingerprint index is the ONLY carried state), odd docs are
    today's batch — anti-join against the index, then keep-smallest-id
    self-dedup; NULL text passes through."""
    from .operators.dedup import dedup_incremental, fingerprint_index

    d = load_table(spark, sf, "documents").select("doc_id", "lang", "n_chars", "text")
    idx = fingerprint_index(d.where(F.col("doc_id") % 2 == 0))
    new = d.where(F.col("doc_id") % 2 == 1)
    out = dedup_incremental(new, idx)
    return out.select("doc_id", "lang", F.col("n_chars").cast("bigint").alias("n_chars"))


# ------------------------------------------------------------------ q363
@query(
    "q363_greedy_cover",
    """
    WITH norm AS (
        SELECT doc_id,
               string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
        FROM documents WHERE text IS NOT NULL
    ),
    items AS (
        SELECT DISTINCT doc_id AS id,
               a || ' ' || b AS gram
        FROM (
            SELECT doc_id,
                   unnest(toks[1:len(toks) - 1]) AS a,
                   unnest(toks[2:len(toks)]) AS b
            FROM norm WHERE len(toks) >= 2
        )
    ),
    g1 AS (SELECT id, count(*) AS gain FROM items GROUP BY id),
    w1 AS (SELECT id, gain FROM g1 ORDER BY gain DESC, id LIMIT 1),
    c1 AS (SELECT DISTINCT gram FROM items WHERE id = (SELECT id FROM w1)),
    i2 AS (SELECT * FROM items WHERE gram NOT IN (SELECT gram FROM c1)),
    g2 AS (SELECT id, count(*) AS gain FROM i2 GROUP BY id),
    w2 AS (SELECT id, gain FROM g2 ORDER BY gain DESC, id LIMIT 1),
    c2 AS (SELECT gram FROM c1 UNION SELECT gram FROM i2 WHERE id = (SELECT id FROM w2)),
    i3 AS (SELECT * FROM items WHERE gram NOT IN (SELECT gram FROM c2)),
    g3 AS (SELECT id, count(*) AS gain FROM i3 GROUP BY id),
    w3 AS (SELECT id, gain FROM g3 ORDER BY gain DESC, id LIMIT 1)
    SELECT CAST(1 AS BIGINT) AS rank, id, CAST(gain AS BIGINT) AS marginal_gain FROM w1
    UNION ALL
    SELECT CAST(2 AS BIGINT), id, CAST(gain AS BIGINT) FROM w2
    UNION ALL
    SELECT CAST(3 AS BIGINT), id, CAST(gain AS BIGINT) FROM w3
    """,
)
def q363(spark: SparkSession, sf: str) -> DataFrame:
    """Greedy (1−1/e)-optimal coverage selection of 3 documents by
    distinct word-bigram coverage: k driver-coordinated rounds of
    anti-join + count + 1-row argmax; the oracle unrolls the identical
    greedy recursion into three CTE layers."""
    from .operators.dedup import shingles
    from .operators.pipeline import greedy_cover

    d = load_table(spark, sf, "documents").where(F.col("text").isNotNull())
    toks = F.split(F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), " ")
    d = d.where(F.size(toks) >= 2)
    items = d.select(
        F.col("doc_id").alias("id"),
        F.explode(shingles(F.col("text"), n=2, mode="word")).alias("gram"),
    )
    return greedy_cover(items, "id", "gram", k=3)


# ------------------------------------------------------------------ q364
@query(
    "q364_diff_in_diff",
    """
    WITH base AS (
        SELECT event_type,
               user_id % 2 AS t,
               event_id % 2 AS p,
               CAST(round(value * 100) AS BIGINT) AS y
        FROM events
    ),
    g AS (
        SELECT event_type,
               CAST(count(CASE WHEN t = 0 AND p = 0 THEN 1 END) AS BIGINT) AS n_c0,
               CAST(count(CASE WHEN t = 0 AND p = 1 THEN 1 END) AS BIGINT) AS n_c1,
               CAST(count(CASE WHEN t = 1 AND p = 0 THEN 1 END) AS BIGINT) AS n_t0,
               CAST(count(CASE WHEN t = 1 AND p = 1 THEN 1 END) AS BIGINT) AS n_t1,
               sum(CASE WHEN t = 0 AND p = 0 THEN y END) AS s_c0,
               sum(CASE WHEN t = 0 AND p = 1 THEN y END) AS s_c1,
               sum(CASE WHEN t = 1 AND p = 0 THEN y END) AS s_t0,
               sum(CASE WHEN t = 1 AND p = 1 THEN y END) AS s_t1
        FROM base GROUP BY event_type
    ),
    m AS (
        SELECT event_type, n_c0, n_c1, n_t0, n_t1,
               CASE WHEN n_c0 > 0 THEN CAST(s_c0 AS DOUBLE) / n_c0 END AS mean_c0,
               CASE WHEN n_c1 > 0 THEN CAST(s_c1 AS DOUBLE) / n_c1 END AS mean_c1,
               CASE WHEN n_t0 > 0 THEN CAST(s_t0 AS DOUBLE) / n_t0 END AS mean_t0,
               CASE WHEN n_t1 > 0 THEN CAST(s_t1 AS DOUBLE) / n_t1 END AS mean_t1
        FROM g
    )
    SELECT event_type, n_c0, n_c1, n_t0, n_t1,
           mean_c0, mean_c1, mean_t0, mean_t1,
           (mean_t1 - mean_t0) - (mean_c1 - mean_c0) AS did
    FROM m
    """,
)
def q364(spark: SparkSession, sf: str) -> DataFrame:
    """Difference-in-differences per event type (treat = user parity,
    post = event parity, outcome = cents): four cell sums fused into
    ONE conditional-aggregate pass; every mean is an exact-BIGINT
    ratio, so the 2×2 composition is engine-identical unrounded."""
    from .functions.stats import did_estimate

    ev = load_table(spark, sf, "events").select(
        "event_type",
        (F.col("user_id") % 2).alias("t"),
        (F.col("event_id") % 2).alias("p"),
        F.round(F.col("value") * 100).cast("bigint").alias("y"),
    )
    return did_estimate(ev, "t", "p", "y", by=["event_type"])


# ------------------------------------------------------------------ q365
@query(
    "q365_doubly_robust",
    """
    WITH log AS (
        SELECT event_type,
               event_id % 3 AS a,
               (user_id + event_id) % 3 AS pi,
               CAST(round(value * 100) AS BIGINT) AS r,
               1 + event_id % 4 AS num,
               10 AS den,
               CAST(100 * ((user_id + event_id) % 3 + 1) AS BIGINT) AS qt,
               CAST(100 * (event_id % 3 + 1) AS BIGINT) AS ql
        FROM events
    ),
    g AS (
        SELECT event_type, count(*) AS n,
               CAST(sum(qt) AS BIGINT) AS sq,
               CAST(sum(den * (12 // num) * (r - ql)
                        * CASE WHEN a = pi THEN 1 ELSE 0 END) AS BIGINT) AS sc
        FROM log GROUP BY event_type
    )
    SELECT event_type, n,
           CAST(sq * 12 + sc AS DOUBLE) / (12 * n) AS dr_value,
           CAST(sq AS DOUBLE) / n AS dm_value,
           CAST(sc AS DOUBLE) / (12 * n) AS correction
    FROM g
    """,
)
def q365(spark: SparkSession, sf: str) -> DataFrame:
    """Doubly-robust policy value per event type: an action-linear
    reward model (q̂ = 100·(action+1)) plus the exact-integer IPS
    correction — Σq̂_π and the correction sum stay BIGINT, one divide
    at the end."""
    from .functions.stats import dr_eval

    ev = load_table(spark, sf, "events").select(
        "event_type",
        (F.col("event_id") % 3).alias("a"),
        ((F.col("user_id") + F.col("event_id")) % 3).alias("pi"),
        F.round(F.col("value") * 100).cast("bigint").alias("r"),
        (1 + F.col("event_id") % 4).alias("num"),
        F.lit(10).alias("den"),
        (100 * ((F.col("user_id") + F.col("event_id")) % 3 + 1)).cast("bigint").alias("qt"),
        (100 * (F.col("event_id") % 3 + 1)).cast("bigint").alias("ql"),
    )
    return dr_eval(ev, ["event_type"], "a", "pi", "r", "num", "den", "qt", "ql", lcm=12)


# ------------------------------------------------------------------ q366
@query(
    "q366_stream_upsert_snapshot",
    """
    WITH chg AS (
        SELECT user_id AS k, ts, event_id, event_type, value,
               CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op
        FROM events
    ),
    latest AS (
        SELECT k, event_id, event_type, value, op,
               row_number() OVER (
                   PARTITION BY k ORDER BY ts DESC, event_id DESC, op DESC
               ) AS rn
        FROM chg
    )
    SELECT k, event_id, event_type, round(value, 6) AS value
    FROM latest WHERE rn = 1 AND op != 'D'
    """,
)
def q366(spark: SparkSession, sf: str) -> DataFrame:
    """Drain the events change stream (delete on 'error', upsert
    otherwise) through the foreachBatch CDC merge sink and return the
    committed snapshot — the lakehouse MERGE pattern end-to-end inside
    the driver contract."""
    import shutil
    import tempfile

    from .streaming.sinks import stream_upsert_sink
    from .streaming.windows import stream_events

    changes = stream_events(spark, sf).select(
        F.col("user_id").alias("k"), "ts", "event_id", "event_type", "value",
        F.when(F.col("event_type") == "error", "D").otherwise("U").alias("op"),
    )
    root = tempfile.mkdtemp(prefix="rts_q366_")
    try:
        out = stream_upsert_sink(
            changes, ["k"], ["ts", "event_id"], "op",
            f"{root}/snap", f"{root}/ckpt",
        )
        # Arrow keeps nullable longs exact (toPandas would make them
        # floats) and gives a local relation: no Python RDD to re-run
        table = out.select(
            "k", "event_id", "event_type",
            F.round(F.col("value"), 6).alias("value"),
        ).toArrow()
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(table)


# ------------------------------------------------------------------ q367
@query(
    "q367_windowed_topk",
    """
    WITH counts AS (
        SELECT time_bucket(INTERVAL '6 hours', ts) AS window_start,
               event_id % 40 AS item, CAST(count(*) AS BIGINT) AS freq
        FROM events GROUP BY 1, 2
    ),
    ranked AS (
        SELECT window_start, item, freq,
               row_number() OVER (
                   PARTITION BY window_start ORDER BY freq DESC, item
               ) AS rank
        FROM counts
    )
    SELECT window_start, item, freq, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 5
    """,
)
def q367(spark: SparkSession, sf: str) -> DataFrame:
    """Windowed heavy hitters (6-hour tumbling windows, top-5 items):
    the SAME windowed_item_counts code path the streaming parity test
    drains with a watermark — here as a batch two-stage agg + rank over
    the aggregated counts relation."""
    from .streaming.windows import topk_per_window, windowed_item_counts

    ev = load_table(spark, sf, "events")
    counts = windowed_item_counts(ev, "6 hours", F.col("event_id") % 40)
    return topk_per_window(counts, 5)


# ------------------------------------------------------------------ q368
@query(
    "q368_pass_at_k",
    """
    WITH samples AS (
        SELECT event_id % 200 AS problem,
               CASE WHEN value > 500 THEN 1 ELSE 0 END AS ok
        FROM events
    ),
    g AS (
        SELECT problem, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(ok) AS BIGINT) AS c
        FROM samples GROUP BY problem
    )
    SELECT problem, n, c,
           CASE WHEN n >= 5 THEN
               1.0 - CAST(greatest(n - c, 0) * greatest(n - c - 1, 0)
                        * greatest(n - c - 2, 0) * greatest(n - c - 3, 0)
                        * greatest(n - c - 4, 0) AS DOUBLE)
                   / (n * (n - 1) * (n - 2) * (n - 3) * (n - 4))
           END AS pass_at_k
    FROM g
    """,
)
def q368(spark: SparkSession, sf: str) -> DataFrame:
    """pass@5 per synthetic problem (200 problems, correct = value >
    500): the unbiased combinatorial estimator as exact BIGINT factor
    products and one divide — the LLM code-eval metric at relation
    scale."""
    from .functions.stats import pass_at_k

    ev = load_table(spark, sf, "events").select(
        (F.col("event_id") % 200).alias("problem"),
        (F.col("value") > 500).cast("long").alias("ok"),
    )
    return pass_at_k(ev, ["problem"], "ok", 5)


# ------------------------------------------------------------------ q369
@query(
    "q369_budget_mixture",
    """
    WITH toks AS (
        SELECT source, CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM documents GROUP BY source
    ),
    wts AS (
        SELECT source, total_chars,
               CAST(round(sqrt(CAST(total_chars AS DOUBLE)) * 1000) AS BIGINT) AS weight
        FROM toks
    ),
    tot AS (SELECT CAST(sum(weight) AS BIGINT) AS W FROM wts),
    base AS (
        SELECT source, total_chars, weight,
               CAST(1000000 AS BIGINT) * weight // W AS base,
               (CAST(1000000 AS BIGINT) * weight) % W AS rem
        FROM wts CROSS JOIN tot
    ),
    ranked AS (
        SELECT source, total_chars, weight, base, rem,
               row_number() OVER (ORDER BY rem DESC, source) AS rk,
               1000000 - sum(base) OVER () AS leftover
        FROM base
    )
    SELECT source, total_chars, weight,
           CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
               AS allocated
    FROM ranked
    """,
)
def q369(spark: SparkSession, sf: str) -> DataFrame:
    """Training-mixture token budgeting: per-source char mass →
    temperature-flattened weights (T=2 ⇒ √mass — sqrt is correctly
    rounded, so the integer weights are engine-identical) → Hamilton
    apportionment of a 1M-token budget.  Composes text mass accounting
    with allocate_proportional end to end."""
    from .operators.reshape import allocate_proportional

    d = load_table(spark, sf, "documents")
    wts = d.groupBy("source").agg(
        F.sum("n_chars").cast("bigint").alias("total_chars")
    ).select(
        "source", "total_chars",
        F.round(F.sqrt(F.col("total_chars").cast("double")) * 1000)
        .cast("bigint").alias("w"),
    )
    out = allocate_proportional(wts, ["source", "total_chars"], "w", 1000000)
    return out.select(
        "source", "total_chars", F.col("weight"), "allocated"
    )


# ------------------------------------------------------------------ q370
@query(
    "q370_bootstrap_ci",
    """
    WITH rows_in AS (
        SELECT CAST(round(value * 100) AS BIGINT) AS x,
               CAST(event_id AS VARCHAR) AS id
        FROM events
    ),
    reps AS (
        SELECT x, id, b
        FROM rows_in, unnest(range(0, 40)) AS t(b)
    ),
    hashed AS (
        SELECT b, x,
               CAST('0x' || substr(md5(id || '#' || b), 1, 15) AS BIGINT) AS h
        FROM reps
    ),
    -- all eight Bernoulli(1/8) draws from disjoint 3-bit fields of the
    -- ONE 60-bit hash (mirrors stats.bootstrap_ci: 1 md5, not 8)
    mult AS (
        SELECT b, x,
            (CASE WHEN (h >> 0) & 7 = 0 THEN 1 ELSE 0 END
           + CASE WHEN (h >> 3) & 7 = 0 THEN 1 ELSE 0 END
           + CASE WHEN (h >> 6) & 7 = 0 THEN 1 ELSE 0 END
           + CASE WHEN (h >> 9) & 7 = 0 THEN 1 ELSE 0 END
           + CASE WHEN (h >> 12) & 7 = 0 THEN 1 ELSE 0 END
           + CASE WHEN (h >> 15) & 7 = 0 THEN 1 ELSE 0 END
           + CASE WHEN (h >> 18) & 7 = 0 THEN 1 ELSE 0 END
           + CASE WHEN (h >> 21) & 7 = 0 THEN 1 ELSE 0 END
            ) AS m
        FROM hashed
    ),
    per AS (
        SELECT b, CAST(sum(m * x) AS BIGINT) AS sx, CAST(sum(m) AS BIGINT) AS sm
        FROM mult GROUP BY b
    ),
    means AS (
        SELECT CAST(sx AS DOUBLE) / sm AS rep_mean FROM per WHERE sm > 0
    ),
    base AS (
        SELECT CAST(sum(x) AS DOUBLE) / count(*) AS mean FROM rows_in
    )
    SELECT round(base.mean, 9) AS mean,
           round((SELECT quantile_cont(rep_mean, 0.025) FROM means), 9) AS ci_lo,
           round((SELECT quantile_cont(rep_mean, 0.975) FROM means), 9) AS ci_hi,
           (SELECT CAST(count(*) AS BIGINT) FROM means) AS n_replicas
    FROM base
    """,
)
def q370(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic Poisson-ish bootstrap CI for the mean of cents
    (40 replicas, Binomial(8,1/8) hash multiplicities, portable md5
    draws): one scan of the fact table for ALL replicas, exact integer
    per-replica sums, quantiles over the 40-row replica relation —
    fully SQL-replayed including the hash draws."""
    from .functions.stats import bootstrap_ci

    ev = load_table(spark, sf, "events").select(
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        "event_id",
    )
    out = bootstrap_ci(ev, "cents", n_replicas=40, id_cols=["event_id"])
    return out.select(
        F.round(F.col("mean"), 9).alias("mean"),
        F.round(F.col("ci_lo"), 9).alias("ci_lo"),
        F.round(F.col("ci_hi"), 9).alias("ci_hi"),
        "n_replicas",
    )


# ------------------------------------------------------------------ q371
@query(
    "q371_isotonic",
    """
    WITH base AS (
        SELECT user_id, event_id,
               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS i,
               CAST(round(value * 100) AS BIGINT) AS y
        FROM events WHERE user_id < 40
    ),
    pre AS (
        SELECT user_id, event_id, i, y,
               CAST(sum(y) OVER (PARTITION BY user_id ORDER BY i) AS BIGINT) AS s
        FROM base
    ),
    rng AS (
        SELECT a.user_id, a.i AS j, b.i AS k,
               CAST(b.s - a.s + a.y AS DOUBLE) / (b.i - a.i + 1) AS avg
        FROM pre a JOIN pre b ON b.user_id = a.user_id AND b.i >= a.i
    ),
    inner_min AS (
        SELECT r.user_id, p.i, r.j, min(r.avg) AS mn
        FROM rng r
        JOIN base p ON p.user_id = r.user_id AND p.i >= r.j AND p.i <= r.k
        GROUP BY r.user_id, p.i, r.j
    ),
    fit AS (
        SELECT user_id, i, max(mn) AS iso_fit
        FROM inner_min GROUP BY user_id, i
    )
    SELECT b.user_id, b.event_id, f.iso_fit
    FROM base b JOIN fit f ON f.user_id = b.user_id AND f.i = b.i
    """,
)
def q371(spark: SparkSession, sf: str) -> DataFrame:
    """Isotonic regression of cents along each user's event order
    (users < 40): Spark runs linear-time PAVA with integer (sum, count)
    blocks; the oracle evaluates the O(n³) minimax characterization
    max_{j≤i} min_{k≥i} mean(y[j..k]) from exact integer prefix sums —
    two unrelated algorithms, bit-identical fits, no rounding."""
    from .functions.stats import isotonic_fit

    ev = load_table(spark, sf, "events").where(F.col("user_id") < 40).select(
        "user_id", "ts", "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("y"),
    )
    out = isotonic_fit(ev, ["user_id"], ["ts", "event_id"], "y")
    return out.select("user_id", "event_id", "iso_fit")


# ------------------------------------------------------------------ q372
@query(
    "q372_conformal_interval",
    """
    WITH base AS (
        SELECT event_id, user_id,
               CAST(500 + user_id % 100 AS BIGINT) AS yhat,
               CAST(round(value * 100) AS BIGINT) AS y
        FROM events
    ),
    cal AS (SELECT * FROM base WHERE event_id % 3 != 0),
    res AS (
        SELECT abs(y - yhat) AS res, count(*) AS cnt
        FROM cal GROUP BY abs(y - yhat)
    ),
    cum AS (
        SELECT res, sum(cnt) OVER (ORDER BY res ROWS UNBOUNDED PRECEDING) AS cum
        FROM res
    ),
    nn AS (SELECT count(*) AS n FROM cal),
    q AS (
        SELECT CAST(min(res) AS BIGINT) AS qhat
        FROM cum CROSS JOIN nn
        WHERE cum >= least(CAST(ceil((n + 1) * 0.9) AS BIGINT), n)
    )
    SELECT b.event_id, b.user_id, b.y, q.qhat,
           b.yhat - q.qhat AS pi_lo, b.yhat + q.qhat AS pi_hi
    FROM base b CROSS JOIN q
    WHERE b.event_id % 3 = 0
    """,
)
def q372(spark: SparkSession, sf: str) -> DataFrame:
    """Split conformal intervals for a toy model (ŷ = 500 + user%100)
    on the event_id%3 holdout: the exact ⌈(n+1)(1−α)⌉ residual-rank
    threshold via the value-domain cumulative walk, broadcast onto the
    test relation — distribution-free coverage with zero floats."""
    from .functions.stats import conformal_interval

    base = load_table(spark, sf, "events").select(
        "event_id", "user_id",
        (500 + F.col("user_id") % 100).cast("bigint").alias("yhat"),
        F.round(F.col("value") * 100).cast("bigint").alias("y"),
    )
    cal = base.where(F.col("event_id") % 3 != 0)
    test = base.where(F.col("event_id") % 3 == 0)
    out = conformal_interval(cal, test, "yhat", "y", alpha=0.1)
    return out.select("event_id", "user_id", "y", "qhat", "pi_lo", "pi_hi")


# ------------------------------------------------------------------ q373
@query(
    "q373_ndcg",
    """
    WITH ranked AS (
        SELECT user_id,
               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rk,
               event_id % 4 AS rel
        FROM events
    ),
    w(rk, wt) AS (
        VALUES (1, 1000000000000), (2, 630929753571), (3, 500000000000),
               (4, 430676558073), (5, 386852807235), (6, 356207187108),
               (7, 333333333333), (8, 315464876786), (9, 301029995664),
               (10, 289064826318)
    ),
    dcg AS (
        SELECT r.user_id, CAST(sum(w.wt * r.rel) AS BIGINT) AS dcg_scaled
        FROM ranked r JOIN w ON w.rk = r.rk
        WHERE r.rk <= 10 GROUP BY r.user_id
    ),
    ideal_ranked AS (
        SELECT user_id, rel,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY rel DESC, rk
               ) AS irk
        FROM ranked
    ),
    idcg AS (
        SELECT i.user_id, CAST(sum(w.wt * i.rel) AS BIGINT) AS idcg_scaled
        FROM ideal_ranked i JOIN w ON w.rk = i.irk
        WHERE i.irk <= 10 GROUP BY i.user_id
    )
    SELECT idcg.user_id,
           CAST(coalesce(dcg.dcg_scaled, 0) AS BIGINT) AS dcg_scaled,
           idcg.idcg_scaled,
           CASE WHEN idcg.idcg_scaled > 0
                THEN CAST(coalesce(dcg.dcg_scaled, 0) AS DOUBLE) / idcg.idcg_scaled
           END AS ndcg
    FROM idcg LEFT JOIN dcg ON dcg.user_id = idcg.user_id
    """,
)
def q373(spark: SparkSession, sf: str) -> DataFrame:
    """NDCG@10 per user (relevance = event_id%4, system order = event
    time): discount weights shipped as IDENTICAL integer literals to
    both engines, so DCG/IDCG are exact BIGINT dot products and NDCG
    is one divide — no float sum association anywhere."""
    from .functions.stats import ndcg_at_k

    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = load_table(spark, sf, "events").select(
        "user_id",
        F.row_number().over(w).alias("rk"),
        (F.col("event_id") % 4).alias("rel"),
    )
    return ndcg_at_k(ev, ["user_id"], "rk", "rel", 10)


# ------------------------------------------------------------------ q374
@query(
    "q374_map_at_k",
    """
    WITH ranked AS (
        SELECT user_id,
               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rk,
               CASE WHEN event_id % 4 = 0 THEN 1 ELSE 0 END AS rel
        FROM events
    ),
    hits AS (
        SELECT user_id, rk, rel,
               CAST(sum(rel) OVER (
                   PARTITION BY user_id ORDER BY rk ROWS UNBOUNDED PRECEDING
               ) AS BIGINT) AS h
        FROM ranked
    ),
    g AS (
        SELECT user_id,
               CAST(sum(CASE WHEN rk <= 10 AND rel > 0
                        THEN h * 2520 // rk ELSE 0 END) AS BIGINT) AS ap_scaled,
               CAST(sum(CASE WHEN rk <= 10 THEN rel ELSE 0 END) AS BIGINT) AS hits_at_k,
               CAST(sum(rel) AS BIGINT) AS total_rel
        FROM hits GROUP BY user_id
    )
    SELECT user_id, ap_scaled, hits_at_k, total_rel,
           CASE WHEN least(total_rel, 10) > 0
                THEN CAST(ap_scaled AS DOUBLE) / (2520 * least(total_rel, 10)) END AS ap_at_k
    FROM g
    """,
)
def q374(spark: SparkSession, sf: str) -> DataFrame:
    """MAP@10 per user (relevant = event_id divisible by 4): the
    average-precision sum scaled by lcm(1..10)=2520 stays an exact
    BIGINT; AP is one divide — completes the exact ranking-eval trio
    with recall_at_k (q-tests) and NDCG (q373)."""
    from pyspark.sql import Window

    from .functions.stats import map_at_k

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = load_table(spark, sf, "events").select(
        "user_id",
        F.row_number().over(w).alias("rk"),
        F.when(F.col("event_id") % 4 == 0, 1).otherwise(0).alias("rel"),
    )
    return map_at_k(ev, ["user_id"], "rk", "rel", 10)


# ------------------------------------------------------------------ q375
@query(
    "q375_code_score",
    """
    WITH synth AS (
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0 THEN
                   'def f(x):' || chr(10) || '    return x + 1;' || chr(10) || substr(text, 1, 40)
               WHEN doc_id % 3 = 1 THEN
                   substr(text, 1, 60) || chr(10) || 'y = f(2)' || chr(10) || 'import os'
               ELSE substr(text, 1, 80) END AS t
        FROM documents WHERE text IS NOT NULL
    ),
    scored AS (
        SELECT doc_id,
               len(regexp_extract_all(t,
                   '(?m)^(\\s{4,}\\S.*|.*[;{}]\\s*$|\\s*(def |class |import |from |return |if\\s*\\(|for\\s*\\(|while\\s*\\(|#include|function ).*|\\s*[A-Za-z_][A-Za-z0-9_\\.\\[\\]]*\\s*(=|\\+=|-=|\\*=|==)\\s*\\S.*)$'
               )) AS code_lines,
               len(string_split(t, chr(10))) AS n_lines
        FROM synth
    )
    SELECT doc_id, CAST(code_lines AS BIGINT) AS code_lines,
           CAST(n_lines AS BIGINT) AS n_lines,
           CAST(code_lines AS DOUBLE) / n_lines AS code_score
    FROM scored
    """,
)
def q375(spark: SparkSession, sf: str) -> DataFrame:
    """Code-vs-prose routing score over deterministically synthesized
    mixed documents: regexp line classifier (Java∩RE2 pattern subset)
    — exact integer line counts, one divide."""
    from .operators.text import code_line_count

    d = load_table(spark, sf, "documents").where(F.col("text").isNotNull())
    t = (
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.lit("def f(x):\n    return x + 1;\n"), F.substring("text", 1, 40)))
        .when(F.col("doc_id") % 3 == 1,
              F.concat(F.substring("text", 1, 60), F.lit("\ny = f(2)\nimport os")))
        .otherwise(F.substring("text", 1, 80))
    )
    synth = d.select("doc_id", t.alias("t"))
    return synth.select(
        "doc_id",
        code_line_count(F.col("t")).cast("bigint").alias("code_lines"),
        F.size(F.split(F.col("t"), "\n")).cast("bigint").alias("n_lines"),
        (code_line_count(F.col("t")) / F.size(F.split(F.col("t"), "\n"))).alias("code_score"),
    )


# ------------------------------------------------------------------ q376
@query(
    "q376_f1_scores",
    """
    WITH lab AS (
        SELECT lang AS t,
               CASE WHEN doc_id % 7 = 0 THEN 'en' ELSE lang END AS p
        FROM documents
    ),
    tp AS (SELECT t AS cls, CAST(count(*) AS BIGINT) AS tp FROM lab WHERE t = p GROUP BY t),
    byt AS (SELECT t AS cls, CAST(count(*) AS BIGINT) AS n_true FROM lab GROUP BY t),
    byp AS (SELECT p AS cls, CAST(count(*) AS BIGINT) AS n_pred FROM lab GROUP BY p),
    per AS (
        SELECT coalesce(byt.cls, byp.cls) AS cls,
               coalesce(tp.tp, 0) AS tp,
               coalesce(byp.n_pred, 0) - coalesce(tp.tp, 0) AS fp,
               coalesce(byt.n_true, 0) - coalesce(tp.tp, 0) AS fn
        FROM byt
        FULL JOIN byp ON byp.cls = byt.cls
        LEFT JOIN tp ON tp.cls = coalesce(byt.cls, byp.cls)
    ),
    metric AS (
        SELECT cls, tp, fp, fn,
               CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE) / (tp + fp) END AS precision,
               CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE) / (tp + fn) END AS recall,
               CASE WHEN 2 * tp + fp + fn > 0
                    THEN CAST(2 * tp AS DOUBLE) / (2 * tp + fp + fn) END AS f1
        FROM per
    ),
    micro AS (
        SELECT CAST(NULL AS VARCHAR) AS cls,
               CAST(sum(tp) AS BIGINT) AS tp, CAST(sum(fp) AS BIGINT) AS fp,
               CAST(sum(fn) AS BIGINT) AS fn,
               CAST(sum(tp) AS DOUBLE) / (sum(tp) + sum(fp)) AS precision,
               CAST(sum(tp) AS DOUBLE) / (sum(tp) + sum(fn)) AS recall,
               CAST(2 * sum(tp) AS DOUBLE) / (2 * sum(tp) + sum(fp) + sum(fn)) AS f1
        FROM per
    )
    SELECT * FROM metric UNION ALL SELECT * FROM micro
    """,
)
def q376(spark: SparkSession, sf: str) -> DataFrame:
    """Per-class + micro F1 of a perturbed language labeler (every 7th
    doc forced to 'en') against the truth column: one contingency agg,
    every metric an exact-BIGINT ratio."""
    from .functions.stats import f1_scores

    d = load_table(spark, sf, "documents").select(
        F.col("lang").alias("t"),
        F.when(F.col("doc_id") % 7 == 0, "en").otherwise(F.col("lang")).alias("p"),
    )
    return f1_scores(d, "t", "p")


# ------------------------------------------------------------------ q377
@query(
    "q377_cohen_kappa",
    """
    WITH lab AS (
        SELECT lang AS a,
               CASE WHEN doc_id % 5 = 0 THEN 'en' ELSE lang END AS b
        FROM documents
    ),
    cont AS (SELECT a, b, CAST(count(*) AS BIGINT) AS cnt FROM lab GROUP BY a, b),
    nd AS (
        SELECT CAST(sum(cnt) AS BIGINT) AS n,
               CAST(sum(CASE WHEN a = b THEN cnt ELSE 0 END) AS BIGINT) AS diag
        FROM cont
    ),
    rows_ AS (SELECT a, CAST(sum(cnt) AS BIGINT) AS row_n FROM cont GROUP BY a),
    cols_ AS (SELECT b, CAST(sum(cnt) AS BIGINT) AS col_n FROM cont GROUP BY b),
    pe AS (
        SELECT CAST(sum(row_n * col_n) AS BIGINT) AS exp_scaled
        FROM rows_ JOIN cols_ ON cols_.b = rows_.a
    )
    SELECT n, diag AS observed_agree, exp_scaled AS expected_scaled,
           CASE WHEN n * n != exp_scaled
                THEN CAST(n * diag - exp_scaled AS DOUBLE) / (n * n - exp_scaled)
           END AS kappa
    FROM nd CROSS JOIN pe
    """,
)
def q377(spark: SparkSession, sf: str) -> DataFrame:
    """Cohen's κ between the lang column and a 1-in-5 perturbed copy:
    exact contingency integers, κ = one divide — the labeling-QA
    agreement metric."""
    from .functions.stats import cohen_kappa

    d = load_table(spark, sf, "documents").select(
        F.col("lang").alias("a"),
        F.when(F.col("doc_id") % 5 == 0, "en").otherwise(F.col("lang")).alias("b"),
    )
    return cohen_kappa(d, "a", "b")


# ------------------------------------------------------------------ q378
@query(
    "q378_datasheet",
    """
    WITH norm AS (
        SELECT source, lang, n_chars, text,
               regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
        FROM documents
    ),
    base AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(CASE WHEN text IS NULL THEN 1 END) AS BIGINT) AS n_null_text,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
               CAST(count(DISTINCT t) AS BIGINT) AS distinct_texts,
               CAST(count(t) AS BIGINT) AS n_nonnull,
               CAST(count(CASE WHEN n_chars BETWEEN 100 AND 20000 THEN 1 END) AS BIGINT) AS n_len_ok
        FROM norm GROUP BY source
    ),
    lc AS (
        SELECT source, lang, count(*) AS c FROM norm
        WHERE lang IS NOT NULL GROUP BY source, lang
    ),
    ent AS (
        SELECT source, sum(c)::BIGINT AS n,
               sum(c::DOUBLE * ln(c::DOUBLE)) AS clc
        FROM lc GROUP BY source
    )
    SELECT b.source, b.n_docs, b.n_null_text, b.total_chars,
           CAST(b.total_chars AS DOUBLE) / b.n_docs AS mean_chars,
           b.n_langs,
           round(ln(e.n::DOUBLE) - e.clc / e.n, 6) AS lang_entropy,
           b.distinct_texts, b.n_nonnull,
           1.0 - CAST(b.distinct_texts AS DOUBLE) / b.n_nonnull AS dup_rate,
           CAST(b.n_len_ok AS DOUBLE) / b.n_docs AS len_ok_rate
    FROM base b JOIN ent e ON e.source = b.source
    """,
)
def q378(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source dataset datasheet (corpus card): volume, null rate,
    char mass, language diversity + entropy, exact-dup rate from
    normalized-text distincts, and a structural length gate — the
    one-relation summary a data curator reads first.  Everything is
    exact-integer ratios except the entropy (q204's rounding)."""
    from .operators.dedup import normalize_text

    d = load_table(spark, sf, "documents").withColumn(
        "t", normalize_text(F.col("text"))
    )
    base = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.count(F.when(F.col("text").isNull(), 1)).cast("bigint").alias("n_null_text"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.countDistinct("t").cast("bigint").alias("distinct_texts"),
        F.count("t").cast("bigint").alias("n_nonnull"),
        F.count(F.when(F.col("n_chars").between(100, 20000), 1)).cast("bigint").alias("n_len_ok"),
    )
    lc = d.where(F.col("lang").isNotNull()).groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("c")
    )
    ent = lc.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.col("c").cast("double") * F.log(F.col("c").cast("double"))).alias("clc"),
    )
    out = base.join(ent, on="source")
    return out.select(
        "source", "n_docs", "n_null_text", "total_chars",
        (F.col("total_chars") / F.col("n_docs")).alias("mean_chars"),
        "n_langs",
        F.round(F.log(F.col("n").cast("double")) - F.col("clc") / F.col("n"), 6).alias("lang_entropy"),
        "distinct_texts", "n_nonnull",
        (F.lit(1.0) - F.col("distinct_texts") / F.col("n_nonnull")).alias("dup_rate"),
        (F.col("n_len_ok") / F.col("n_docs")).alias("len_ok_rate"),
    )


# ------------------------------------------------------------------ q379
@query(
    "q379_trajectory_profile",
    """
    WITH pts AS (
        SELECT user_id, ts, event_id,
               ((event_id * 37) % 400) * 500 AS la,
               ((event_id * 91) % 400) * 500 AS lo
        FROM events
    ),
    steps AS (
        SELECT user_id,
               la - lag(la) OVER w AS dla,
               lo - lag(lo) OVER w AS dlo
        FROM pts
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id,
           CAST(count(dla) AS BIGINT) AS n_steps,
           CAST(sum(dla * dla + dlo * dlo) AS BIGINT) AS sum_step2,
           CAST(max(dla * dla + dlo * dlo) AS BIGINT) AS max_step2,
           CAST(count(CASE WHEN dla = 0 AND dlo = 0 THEN 1 END) AS BIGINT) AS n_dwell
    FROM steps GROUP BY user_id
    """,
)
def q379(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user movement profile over the synthetic lattice walk:
    consecutive-step squared displacements (one lag window per user),
    then exact integer step-energy/max/dwell aggregates — the mobility
    summary that stays engine-exact by never taking the square root."""
    from pyspark.sql import Window

    ev = load_table(spark, sf, "events").select(
        "user_id", "ts", "event_id",
        (((F.col("event_id") * 37) % 400) * 500).alias("la"),
        (((F.col("event_id") * 91) % 400) * 500).alias("lo"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = ev.select(
        "user_id",
        (F.col("la") - F.lag("la").over(w)).alias("dla"),
        (F.col("lo") - F.lag("lo").over(w)).alias("dlo"),
    )
    d2 = F.col("dla") * F.col("dla") + F.col("dlo") * F.col("dlo")
    return steps.groupBy("user_id").agg(
        F.count("dla").cast("bigint").alias("n_steps"),
        F.sum(d2).cast("bigint").alias("sum_step2"),
        F.max(d2).cast("bigint").alias("max_step2"),
        F.count(F.when((F.col("dla") == 0) & (F.col("dlo") == 0), 1)).cast("bigint").alias("n_dwell"),
    )


# ------------------------------------------------------------------ q380
@query(
    "q380_stratified_kfold",
    """
    WITH h AS (
        SELECT doc_id, lang,
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS hv
        FROM documents
    ),
    dealt AS (
        SELECT doc_id, lang,
               (row_number() OVER (PARTITION BY lang ORDER BY hv, doc_id) - 1) % 5 AS fold
        FROM h
    )
    SELECT lang, CAST(fold AS INTEGER) AS fold, CAST(count(*) AS BIGINT) AS n
    FROM dealt GROUP BY lang, fold
    """,
)
def q380(spark: SparkSession, sf: str) -> DataFrame:
    """Stratified 5-fold assignment by language (portable md5 deal
    order so the oracle replays the exact fold of every row), rolled up
    to per-(stratum, fold) counts — each language splits within-1
    across folds by construction."""
    from .operators.pipeline import stratified_kfold

    d = load_table(spark, sf, "documents").select("doc_id", "lang")
    out = stratified_kfold(d, "doc_id", "lang", k=5, hash_kind="md5")
    return out.groupBy("lang", "fold").agg(F.count(F.lit(1)).cast("bigint").alias("n"))


# ------------------------------------------------------------------ q381
@query(
    "q381_classifier_scorecard",
    """
    WITH base AS (
        SELECT CASE WHEN value > 500 THEN 1 ELSE 0 END AS y,
               CAST(round(value * 100) AS BIGINT) // 10000 + event_id % 7 AS s
        FROM events
    ),
    lab AS (
        SELECT y, CASE WHEN s >= 8 THEN 1 ELSE 0 END AS p,
               least(s * 10, 100) AS prob
        FROM base
    ),
    cells AS (
        SELECT CAST(sum(y * p) AS BIGINT) AS tp,
               CAST(sum((1 - y) * (1 - p)) AS BIGINT) AS tn,
               CAST(sum((1 - y) * p) AS BIGINT) AS fp,
               CAST(sum(y * (1 - p)) AS BIGINT) AS fn,
               count(*) AS n,
               CAST(sum((prob - 100 * y) * (prob - 100 * y)) AS BIGINT) AS ss
        FROM lab
    )
    SELECT tp, tn, fp, fn,
           CASE WHEN (tp + fp) * (tp + fn) * (tn + fp) * (tn + fn) > 0 THEN
               CAST(tp * tn - fp * fn AS DOUBLE)
               / sqrt(CAST(tp + fp AS DOUBLE) * CAST(tp + fn AS DOUBLE)
                      * CAST(tn + fp AS DOUBLE) * CAST(tn + fn AS DOUBLE))
           END AS mcc,
           CAST(ss AS DOUBLE) / (10000 * n) AS brier
    FROM cells
    """,
)
def q381(spark: SparkSession, sf: str) -> DataFrame:
    """Binary-classifier scorecard (MCC + Brier) for a noisy threshold
    model of value>500: four exact cells, one exact squared sum, two
    divides — the radicand double chain written identically in both
    engines."""
    from .functions.stats import brier_score, mcc

    base = load_table(spark, sf, "events").select(
        (F.col("value") > 500).cast("long").alias("y"),
        (F.expr("CAST(round(value * 100) AS BIGINT) DIV 10000") + F.col("event_id") % 7).alias("s"),
    )
    lab = base.select(
        "y",
        (F.col("s") >= 8).cast("long").alias("p"),
        F.least(F.col("s") * 10, F.lit(100)).alias("prob"),
    )
    m = mcc(lab, "y", "p")
    b = brier_score(lab, "prob", "y")
    return m.crossJoin(F.broadcast(b)).select("tp", "tn", "fp", "fn", "mcc", "brier")


# ------------------------------------------------------------------ q382
@query(
    "q382_calibration_ece",
    """
    WITH lab AS (
        SELECT least((CAST(round(value * 100) AS BIGINT) // 10000 + event_id % 7) * 10, 100) AS prob,
               CASE WHEN value > 500 THEN 1 ELSE 0 END AS y
        FROM events
    ),
    per AS (
        SELECT CAST(prob * 10 // 101 AS INTEGER) AS bin,
               CAST(count(*) AS BIGINT) AS n_b,
               CAST(sum(y) AS BIGINT) AS pos_b,
               CAST(sum(prob) AS BIGINT) AS sum_p_b
        FROM lab GROUP BY 1
    ),
    tot AS (
        SELECT CAST(sum(abs(100 * pos_b - sum_p_b)) AS BIGINT) AS sdev,
               CAST(sum(n_b) AS BIGINT) AS n
        FROM per
    )
    SELECT per.bin, per.n_b, per.pos_b, per.sum_p_b,
           CAST(abs(100 * per.pos_b - per.sum_p_b) AS BIGINT) AS abs_dev_scaled,
           CAST(tot.sdev AS DOUBLE) / (100 * tot.n) AS ece
    FROM per CROSS JOIN tot
    """,
)
def q382(spark: SparkSession, sf: str) -> DataFrame:
    """Expected calibration error of the q381 probability model:
    per-bin |accuracy − confidence| collapses to the integer
    |100·pos − Σp|, so ECE is one divide of exact BIGINTs — zero
    per-bin float ratios."""
    from .functions.stats import expected_calibration_error

    lab = load_table(spark, sf, "events").select(
        F.least(
            (F.expr("CAST(round(value * 100) AS BIGINT) DIV 10000") + F.col("event_id") % 7) * 10,
            F.lit(100),
        ).cast("long").alias("prob"),
        (F.col("value") > 500).cast("long").alias("y"),
    )
    return expected_calibration_error(lab, "prob", "y", n_bins=10)


# ------------------------------------------------------------------ q383
@query(
    "q383_f1_threshold_curve",
    """
    WITH lab AS (
        SELECT CAST(round(value * 100) AS BIGINT) // 10000 + event_id % 7 AS s,
               CASE WHEN value > 500 THEN 1 ELSE 0 END AS y
        FROM events
    ),
    per AS (
        SELECT s AS threshold, count(*) AS n, CAST(sum(y) AS BIGINT) AS pos
        FROM lab GROUP BY s
    ),
    cum AS (
        SELECT threshold,
               CAST(sum(pos) OVER w AS BIGINT) AS tp,
               CAST(sum(n) OVER w - sum(pos) OVER w AS BIGINT) AS fp
        FROM per
        WINDOW w AS (ORDER BY threshold DESC ROWS UNBOUNDED PRECEDING)
    ),
    tot AS (SELECT CAST(sum(y) AS BIGINT) AS p_all FROM lab)
    SELECT c.threshold, c.tp, c.fp,
           CAST(t.p_all - c.tp AS BIGINT) AS fn,
           CASE WHEN 2 * c.tp + c.fp + (t.p_all - c.tp) > 0
                THEN CAST(2 * c.tp AS DOUBLE) / (2 * c.tp + c.fp + (t.p_all - c.tp))
           END AS f1
    FROM cum c CROSS JOIN tot t
    """,
)
def q383(spark: SparkSession, sf: str) -> DataFrame:
    """Exact F1 at every score threshold (value-domain cumulative
    counts): the threshold-tuning curve whose argmax is the optimal
    operating point — all BIGINT, one divide per row."""
    from .functions.stats import f1_threshold_curve

    lab = load_table(spark, sf, "events").select(
        (F.expr("CAST(round(value * 100) AS BIGINT) DIV 10000") + F.col("event_id") % 7).alias("s"),
        (F.col("value") > 500).cast("long").alias("y"),
    )
    return f1_threshold_curve(lab, "s", "y")


# ------------------------------------------------------------------ q384
@query(
    "q384_shapley_attribution",
    """
    WITH conv AS (
        SELECT user_id, max(CASE WHEN value > 900 THEN 1 ELSE 0 END) AS conv
        FROM events GROUP BY user_id
    ),
    pu AS (
        SELECT t.user_id,
               bit_or(CASE t.event_type WHEN 'click' THEN 1
                      WHEN 'view' THEN 2 ELSE 4 END) AS mask,
               max(c.conv) AS conv
        FROM events t JOIN conv c USING (user_id)
        WHERE t.event_type IN ('click', 'view', 'error')
        GROUP BY t.user_id
    ),
    mc AS (SELECT mask, CAST(sum(conv) AS BIGINT) AS conversions FROM pu GROUP BY mask),
    s_rel AS (SELECT unnest(range(0, 8)) AS s),
    v AS (
        SELECT s_rel.s, CAST(coalesce(sum(mc.conversions), 0) AS BIGINT) AS v
        FROM s_rel LEFT JOIN mc ON (mc.mask & s_rel.s) = mc.mask
        GROUP BY s_rel.s
    ),
    chans(channel, chbit) AS (VALUES ('click', 1), ('view', 2), ('error', 4)),
    terms AS (
        SELECT c.channel, s_rel.s, s_rel.s | c.chbit AS s_with,
               CASE bit_count(s_rel.s) WHEN 0 THEN 2 WHEN 1 THEN 1 ELSE 2 END AS wgt
        FROM chans c CROSS JOIN s_rel
        WHERE (s_rel.s & c.chbit) = 0
    ),
    scored AS (
        SELECT t.channel,
               CAST(sum(t.wgt * (vw.v - vs.v)) AS BIGINT) AS shapley_scaled
        FROM terms t
        JOIN v vs ON vs.s = t.s
        JOIN v vw ON vw.s = t.s_with
        GROUP BY t.channel
    )
    SELECT channel, shapley_scaled,
           CAST(shapley_scaled AS DOUBLE) / 6 AS shapley
    FROM scored
    """,
)
def q384(spark: SparkSession, sf: str) -> DataFrame:
    """Shapley conversion attribution across the click/view/error
    channels (conversion = any value>900 event): per-user touch
    bitmasks, subset-lattice coalition values, k!-scaled integer
    credits — the efficiency axiom (Σ = v(full)) holds exactly."""
    from .operators.mining import shapley_attribution

    ev = load_table(spark, sf, "events")
    conv = ev.groupBy("user_id").agg(
        F.max(F.when(F.col("value") > 900, 1).otherwise(0)).alias("conv")
    )
    touches = ev.where(F.col("event_type").isin("click", "view", "error")).select(
        "user_id", "event_type"
    ).join(conv, on="user_id")
    return shapley_attribution(
        touches, "user_id", "event_type", "conv", ["click", "view", "error"]
    )


# ------------------------------------------------------------------ q385
@query(
    "q385_gini_split",
    """
    WITH lab AS (
        SELECT CAST(round(value * 100) AS BIGINT) // 5000 AS x,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events
    ),
    per AS (
        SELECT x AS threshold, count(*) AS n, CAST(sum(y) AS BIGINT) AS pos
        FROM lab GROUP BY x
    ),
    cum AS (
        SELECT threshold,
               CAST(sum(n) OVER w AS BIGINT) AS n_l,
               CAST(sum(pos) OVER w AS BIGINT) AS pos_l
        FROM per WINDOW w AS (ORDER BY threshold ROWS UNBOUNDED PRECEDING)
    ),
    tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n_all, CAST(sum(y) AS BIGINT) AS pos_all
        FROM lab
    ),
    scored AS (
        SELECT c.threshold, c.n_l, c.pos_l,
               t.n_all - c.n_l AS n_r, t.pos_all - c.pos_l AS pos_r,
               CAST(
                 (t.n_all - c.n_l) * (c.n_l * c.n_l - c.pos_l * c.pos_l
                     - (c.n_l - c.pos_l) * (c.n_l - c.pos_l))
                 + c.n_l * ((t.n_all - c.n_l) * (t.n_all - c.n_l)
                     - (t.pos_all - c.pos_l) * (t.pos_all - c.pos_l)
                     - ((t.n_all - c.n_l) - (t.pos_all - c.pos_l))
                       * ((t.n_all - c.n_l) - (t.pos_all - c.pos_l)))
               AS DOUBLE) / (c.n_l * (t.n_all - c.n_l)) AS gini_scaled
        FROM cum c CROSS JOIN tot t
        WHERE t.n_all - c.n_l > 0
    )
    SELECT threshold, n_l, pos_l, CAST(n_r AS BIGINT) AS n_r,
           CAST(pos_r AS BIGINT) AS pos_r, gini_scaled,
           row_number() OVER (ORDER BY gini_scaled, threshold) = 1 AS is_best
    FROM scored
    """,
)
def q385(spark: SparkSession, sf: str) -> DataFrame:
    """CART split-finding curve for predicting 'purchase' from a
    bucketed value feature: weighted child Gini at every threshold as
    one exact-BIGINT divide — the argmin (is_best) is deterministic
    cross-engine because the compared doubles are identical."""
    from .functions.stats import gini_split_curve

    lab = load_table(spark, sf, "events").select(
        F.expr("CAST(round(value * 100) AS BIGINT) DIV 5000").alias("x"),
        (F.col("event_type") == "purchase").cast("long").alias("y"),
    )
    return gini_split_curve(lab, "x", "y")


# ------------------------------------------------------------------ q386
@query(
    "q386_feature_ranking",
    """
    WITH lab AS (
        SELECT CAST(round(value * 100) AS BIGINT) // 5000 AS f_value,
               event_id % 24 AS f_hour,
               user_id % 10 AS f_user,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events
    ),
    stacked AS (
        SELECT 'f_value' AS feature, f_value AS x, y FROM lab
        UNION ALL SELECT 'f_hour', f_hour, y FROM lab
        UNION ALL SELECT 'f_user', f_user, y FROM lab
    ),
    per AS (
        SELECT feature, x AS threshold, count(*) AS n, CAST(sum(y) AS BIGINT) AS pos
        FROM stacked GROUP BY feature, x
    ),
    cum AS (
        SELECT feature, threshold,
               CAST(sum(n) OVER w AS BIGINT) AS n_l,
               CAST(sum(pos) OVER w AS BIGINT) AS pos_l
        FROM per
        WINDOW w AS (PARTITION BY feature ORDER BY threshold ROWS UNBOUNDED PRECEDING)
    ),
    tot AS (
        SELECT feature, CAST(sum(n) AS BIGINT) AS n_all, CAST(sum(pos) AS BIGINT) AS pos_all
        FROM per GROUP BY feature
    ),
    scored AS (
        SELECT c.feature, c.threshold,
               CAST(
                 (t.n_all - c.n_l) * (c.n_l * c.n_l - c.pos_l * c.pos_l
                     - (c.n_l - c.pos_l) * (c.n_l - c.pos_l))
                 + c.n_l * ((t.n_all - c.n_l) * (t.n_all - c.n_l)
                     - (t.pos_all - c.pos_l) * (t.pos_all - c.pos_l)
                     - ((t.n_all - c.n_l) - (t.pos_all - c.pos_l))
                       * ((t.n_all - c.n_l) - (t.pos_all - c.pos_l)))
               AS DOUBLE) / (c.n_l * (t.n_all - c.n_l)) AS gini_scaled
        FROM cum c JOIN tot t USING (feature)
        WHERE t.n_all - c.n_l > 0
    ),
    best AS (
        SELECT feature, threshold, gini_scaled,
               row_number() OVER (
                   PARTITION BY feature ORDER BY gini_scaled, threshold
               ) AS rn
        FROM scored
    )
    SELECT feature, threshold AS best_threshold, gini_scaled AS best_gini_scaled,
           CAST(row_number() OVER (ORDER BY gini_scaled, feature) AS BIGINT) AS feature_rank
    FROM best WHERE rn = 1
    """,
)
def q386(spark: SparkSession, sf: str) -> DataFrame:
    """Single-split feature ranking: stack three candidate features,
    run the q385 Gini machinery per feature in ONE windowed pass, keep
    each feature's best split, rank features by that score — the
    stump-importance screen before any model training."""
    from pyspark.sql import Window

    from .functions.stats import gini_split_curve

    ev = load_table(spark, sf, "events")
    lab = ev.select(
        F.expr("CAST(round(value * 100) AS BIGINT) DIV 5000").alias("f_value"),
        (F.col("event_id") % 24).alias("f_hour"),
        (F.col("user_id") % 10).alias("f_user"),
        (F.col("event_type") == "purchase").cast("long").alias("y"),
    )
    parts = []
    for feat in ["f_value", "f_hour", "f_user"]:
        curve = gini_split_curve(lab.select(F.col(feat).alias("x"), "y"), "x", "y")
        parts.append(
            curve.where(F.col("is_best")).select(
                F.lit(feat).alias("feature"),
                F.col("threshold").alias("best_threshold"),
                F.col("gini_scaled").alias("best_gini_scaled"),
            )
        )
    best = parts[0].unionByName(parts[1]).unionByName(parts[2])
    w = Window.orderBy(F.col("best_gini_scaled").asc(), F.col("feature").asc())
    return best.withColumn("feature_rank", F.row_number().over(w).cast("bigint"))


# ------------------------------------------------------------------ q387
@query(
    "q387_categorical_split",
    """
    WITH lab AS (
        SELECT source AS category,
               CASE WHEN n_chars > 2000 THEN 1 ELSE 0 END AS y
        FROM documents
    ),
    per AS (
        SELECT category, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS pos
        FROM lab GROUP BY category
    ),
    ranked AS (
        SELECT category, n, pos,
               CAST(row_number() OVER (
                   ORDER BY CAST(pos AS DOUBLE) / n, category
               ) AS BIGINT) AS rate_rank
        FROM per
    ),
    cum AS (
        SELECT category, rate_rank, n, pos,
               CAST(sum(n) OVER w AS BIGINT) AS n_l,
               CAST(sum(pos) OVER w AS BIGINT) AS pos_l
        FROM ranked WINDOW w AS (ORDER BY rate_rank ROWS UNBOUNDED PRECEDING)
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_all, CAST(sum(pos) AS BIGINT) AS pos_all FROM per),
    scored AS (
        SELECT c.category, c.rate_rank, c.n, c.pos, c.n_l, c.pos_l,
               CASE WHEN t.n_all - c.n_l > 0 THEN
                 CAST(
                   (t.n_all - c.n_l) * (c.n_l * c.n_l - c.pos_l * c.pos_l
                       - (c.n_l - c.pos_l) * (c.n_l - c.pos_l))
                   + c.n_l * ((t.n_all - c.n_l) * (t.n_all - c.n_l)
                       - (t.pos_all - c.pos_l) * (t.pos_all - c.pos_l)
                       - ((t.n_all - c.n_l) - (t.pos_all - c.pos_l))
                         * ((t.n_all - c.n_l) - (t.pos_all - c.pos_l)))
                 AS DOUBLE) / (c.n_l * (t.n_all - c.n_l))
               END AS gini_scaled
        FROM cum c CROSS JOIN tot t
    )
    SELECT category, rate_rank, n, pos, n_l, pos_l, gini_scaled,
           row_number() OVER (
               ORDER BY CASE WHEN gini_scaled IS NULL THEN 1 ELSE 0 END,
                        gini_scaled, rate_rank
           ) = 1 AS is_best
    FROM scored
    """,
)
def q387(spark: SparkSession, sf: str) -> DataFrame:
    """Optimal categorical binary split (Breiman ordering) of document
    sources against a long-document target: categories ranked by exact
    target rate, the prefix-scan Gini choosing the best left set —
    2^C subset search collapsed to C cumulative rows."""
    from .functions.stats import gini_split_categorical

    lab = load_table(spark, sf, "documents").select(
        F.col("source").alias("c"),
        (F.col("n_chars") > 2000).cast("long").alias("y"),
    )
    return gini_split_categorical(lab, "c", "y")


# ------------------------------------------------------------------ q388
@query(
    "q388_time_series_folds",
    """
    WITH ranked AS (
        SELECT event_id,
               row_number() OVER (ORDER BY ts, event_id) - 1 AS rk,
               count(*) OVER () AS n
        FROM events WHERE event_id < 4000
    )
    SELECT least(CAST(rk * 6 // n AS BIGINT), 5) AS segment,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(event_id) AS BIGINT) AS first_event,
           CAST(max(event_id) AS BIGINT) AS last_event
    FROM ranked GROUP BY 1
    """,
)
def q388(spark: SparkSession, sf: str) -> DataFrame:
    """Expanding-window time-series CV: six contiguous time segments
    (fold f trains on segments < f, tests on f) rolled up to per-
    segment bounds — the oracle's single-partition rank is fine on its
    side; Spark uses the range-bucketed with_rowid ranks.  Uniqueness
    of (ts, event_id) makes both orders identical."""
    from .operators.pipeline import time_series_folds

    ev = load_table(spark, sf, "events").where(F.col("event_id") < 4000).select(
        "event_id", "ts"
    )
    out = time_series_folds(ev, ["ts", "event_id"], k=5)
    return out.groupBy("segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.min("event_id").cast("bigint").alias("first_event"),
        F.max("event_id").cast("bigint").alias("last_event"),
    )


# ------------------------------------------------------------------ q389
@query(
    "q389_wasserstein_ks",
    """
    WITH a AS (
        SELECT CAST(round(value * 100) AS BIGINT) AS v FROM events
        WHERE event_type = 'click'
    ),
    b AS (
        SELECT CAST(round(value * 100) AS BIGINT) AS v FROM events
        WHERE event_type = 'purchase'
    ),
    pa AS (SELECT v, count(*) AS ca FROM a GROUP BY v),
    pb AS (SELECT v, count(*) AS cb FROM b GROUP BY v),
    dom AS (
        SELECT coalesce(pa.v, pb.v) AS v,
               coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
        FROM pa FULL JOIN pb ON pb.v = pa.v
    ),
    cum AS (
        SELECT v,
               CAST(sum(ca) OVER w AS BIGINT) AS cumA,
               CAST(sum(cb) OVER w AS BIGINT) AS cumB,
               lead(v) OVER (ORDER BY v) - v AS gap
        FROM dom WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)
    ),
    tot AS (
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM a) AS n_a,
               (SELECT CAST(count(*) AS BIGINT) FROM b) AS n_b
    )
    SELECT t.n_a, t.n_b,
           CAST(max(abs(c.cumA * t.n_b - c.cumB * t.n_a)) AS BIGINT) AS ks_scaled,
           CAST(sum(CASE WHEN c.gap IS NOT NULL
                    THEN abs(c.cumA * t.n_b - c.cumB * t.n_a) * c.gap
                    ELSE 0 END) AS BIGINT) AS w1_scaled,
           CAST(max(abs(c.cumA * t.n_b - c.cumB * t.n_a)) AS DOUBLE)
               / (t.n_a * t.n_b) AS ks,
           CAST(sum(CASE WHEN c.gap IS NOT NULL
                    THEN abs(c.cumA * t.n_b - c.cumB * t.n_a) * c.gap
                    ELSE 0 END) AS DOUBLE) / (t.n_a * t.n_b) AS w1
    FROM cum c CROSS JOIN tot t
    GROUP BY t.n_a, t.n_b
    """,
)
def q389(spark: SparkSession, sf: str) -> DataFrame:
    """Exact Wasserstein-1 and KS distance between the click and
    purchase value distributions (in cents): cross-multiplied
    integer CDF deviations over the merged value domain — the ordered
    drift metrics, zero float accumulation."""
    from .functions.stats import distribution_distance

    ev = load_table(spark, sf, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    a = ev.where(F.col("event_type") == "click").select(cents.alias("x"))
    b = ev.where(F.col("event_type") == "purchase").select(cents.alias("x"))
    return distribution_distance(a, b, "x", scale=1)  # cents units


# ------------------------------------------------------------------ q390
@query(
    "q390_quantile_match",
    """
    WITH a AS (
        SELECT CAST(round(value * 100) AS BIGINT) AS v FROM events
        WHERE event_type = 'view'
    ),
    b AS (
        SELECT CAST(round(value * 100) AS BIGINT) AS v FROM events
        WHERE event_type = 'purchase'
    ),
    na AS (SELECT CAST(count(*) AS BIGINT) AS n_a FROM a),
    nb AS (SELECT CAST(count(*) AS BIGINT) AS n_b FROM b),
    adist AS (
        SELECT v, CAST(sum(count(*)) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS cumA
        FROM a GROUP BY v
    ),
    bdist AS (
        SELECT v AS value, CAST(count(*) AS BIGINT) AS n_b_rows,
               CAST(sum(count(*)) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS cumB
        FROM b GROUP BY v
    )
    SELECT bd.value, bd.n_b_rows,
           coalesce(
               (SELECT min(ad.v) FROM adist ad CROSS JOIN nb
                WHERE ad.cumA * nb.n_b >= bd.cumB * na.n_a),
               (SELECT max(v) FROM adist)
           ) AS matched_value
    FROM bdist bd CROSS JOIN na
    """,
)
def q390(spark: SparkSession, sf: str) -> DataFrame:
    """Quantile matching of purchase onto view value distributions
    (cents): cross-multiplied integer percentile thresholds + ONE
    searchsorted union — Spark's merge-shaped lookup vs the oracle's
    correlated min subquery, same exact mapping."""
    from .functions.stats import quantile_match

    ev = load_table(spark, sf, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    a = ev.where(F.col("event_type") == "view").select(cents.alias("x"))
    b = ev.where(F.col("event_type") == "purchase").select(cents.alias("x"))
    return quantile_match(a, b, "x")


# ------------------------------------------------------------------ q391
@query(
    "q391_spearman",
    """
    WITH lab AS (
        SELECT user_id,
               CAST(round(value * 100) AS BIGINT) AS x,
               event_id % 50 AS y
        FROM events
    ),
    rx AS (
        SELECT user_id, x,
               CAST(2 * coalesce(sum(count(*)) OVER (
                   PARTITION BY user_id ORDER BY x
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) + count(*) + 1 AS BIGINT) AS drx
        FROM lab GROUP BY user_id, x
    ),
    ry AS (
        SELECT user_id, y,
               CAST(2 * coalesce(sum(count(*)) OVER (
                   PARTITION BY user_id ORDER BY y
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) + count(*) + 1 AS BIGINT) AS dry
        FROM lab GROUP BY user_id, y
    ),
    j AS (
        SELECT l.user_id, rx.drx AS a, ry.dry AS b
        FROM lab l
        JOIN rx ON rx.user_id = l.user_id AND rx.x = l.x
        JOIN ry ON ry.user_id = l.user_id AND ry.y = l.y
    ),
    g AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(a) AS BIGINT) AS sa, CAST(sum(b) AS BIGINT) AS sb,
               CAST(sum(a * a) AS BIGINT) AS saa, CAST(sum(b * b) AS BIGINT) AS sbb,
               CAST(sum(a * b) AS BIGINT) AS sab
        FROM j GROUP BY user_id
    )
    SELECT user_id, n,
           CASE WHEN CAST(n * saa - sa * sa AS DOUBLE) > 0
                 AND CAST(n * sbb - sb * sb AS DOUBLE) > 0
                THEN CAST(n * sab - sa * sb AS DOUBLE)
                     / sqrt(CAST(n * saa - sa * sa AS DOUBLE)
                            * CAST(n * sbb - sb * sb AS DOUBLE))
           END AS spearman
    FROM g
    """,
)
def q391(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user Spearman rank correlation between value cents and an
    event-class column: doubled average ranks (exact integers even
    under ties) → exact power sums → one guarded divide — the robust
    correlation without a single float accumulation."""
    from .functions.stats import spearman_corr

    ev = load_table(spark, sf, "events").select(
        "user_id",
        F.round(F.col("value") * 100).cast("bigint").alias("x"),
        (F.col("event_id") % 50).alias("y"),
    )
    return spearman_corr(ev, "x", "y", by=["user_id"])


# ------------------------------------------------------------------ q392
@query(
    "q392_bh_fdr",
    """
    WITH hyp AS (
        SELECT event_id % 500 AS test_id,
               CAST((event_id * 37) % 1000 AS DOUBLE) / 1000 AS p
        FROM events WHERE event_id < 500
    ),
    ranked AS (
        SELECT p, row_number() OVER (ORDER BY p) AS rank,
               count(*) OVER () AS m
        FROM hyp
    ),
    kstar AS (
        SELECT max(CASE WHEN p * m * 100 <= rank * 5 THEN rank ELSE 0 END) AS k
        FROM ranked
    )
    SELECT r.p, CAST(r.rank AS BIGINT) AS rank, CAST(r.m AS BIGINT) AS m,
           r.rank <= kstar.k AS is_rejected
    FROM ranked r CROSS JOIN kstar
    """,
)
def q392(spark: SparkSession, sf: str) -> DataFrame:
    """Benjamini-Hochberg FDR over 500 synthetic exact-rational
    p-values (α = 5/100): step-up k* via a running max over the ranked
    relation, the rejection rule a cross-multiplied integer
    comparison."""
    from .functions.stats import bh_fdr

    # aggregate the hypothesis relation first (each test_id has exactly
    # one row, so min == the value): the BH rank window then sorts an
    # AGGREGATED 500-row relation, not a raw scan — the lint-clean shape
    hyp = (
        load_table(spark, sf, "events")
        .where(F.col("event_id") < 500)
        .groupBy((F.col("event_id") % 500).alias("test_id"))
        .agg(F.min(((F.col("event_id") * 37) % 1000).cast("double") / 1000).alias("p"))
        .select("p")
    )
    return bh_fdr(hyp, "p", alpha_num=5, alpha_den=100)


# ------------------------------------------------------------------ q393
@query(
    "q393_mann_whitney",
    """
    WITH sel AS (
        SELECT event_type AS g, CAST(round(value * 100) AS BIGINT) AS v
        FROM events WHERE event_type IN ('click', 'purchase')
    ),
    per AS (
        SELECT v, count(*) AS t,
               CAST(sum(CASE WHEN g = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS ta
        FROM sel GROUP BY v
    ),
    ranked AS (
        SELECT v, t, ta,
               CAST(2 * coalesce(sum(t) OVER (
                   ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) + t + 1 AS BIGINT) AS dr
        FROM per
    ),
    agg AS (
        SELECT CAST(sum(ta) AS BIGINT) AS n_a,
               CAST(sum(t - ta) AS BIGINT) AS n_b,
               CAST(sum(dr * ta) AS BIGINT) AS r2a,
               CAST(sum(t * t * t - t) AS BIGINT) AS ties
        FROM ranked
    )
    SELECT n_a, n_b,
           CAST(r2a - n_a * (n_a + 1) AS BIGINT) AS u2,
           CAST(r2a - n_a * (n_a + 1) AS DOUBLE) / (n_a * n_b) - 1 AS cliffs_delta,
           CAST(r2a - n_a * (n_a + 1) - n_a * n_b AS DOUBLE)
             / (2 * sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0
                 * (CAST(n_a + n_b + 1 AS DOUBLE)
                    - CAST(ties AS DOUBLE)
                      / CAST((n_a + n_b) * (n_a + n_b - 1) AS DOUBLE)))) AS z
    FROM agg
    """,
)
def q393(spark: SparkSession, sf: str) -> DataFrame:
    """Mann-Whitney U between click and purchase value distributions:
    doubled tie-averaged ranks keep 2U and 2·R_a exact BIGINTs; Cliff's
    delta is one exact divide and the tie-corrected z composes from an
    identical double chain in both engines."""
    from .functions.stats import mann_whitney_u

    ev = load_table(spark, sf, "events").select(
        "event_type", F.round(F.col("value") * 100).cast("bigint").alias("cents")
    )
    return mann_whitney_u(ev, "event_type", "cents", "click", "purchase")


# ------------------------------------------------------------------ q394
@query(
    "q394_kruskal_wallis",
    """
    WITH sel AS (
        SELECT event_type AS g, CAST(round(value * 100) AS BIGINT) AS v
        FROM events
    ),
    per AS (SELECT v, count(*) AS t FROM sel GROUP BY v),
    dr AS (
        SELECT v,
               CAST(2 * coalesce(sum(t) OVER (
                   ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) + t + 1 AS BIGINT) AS dr
        FROM per
    ),
    byg AS (
        SELECT s.g, CAST(count(*) AS BIGINT) AS n_g,
               CAST(sum(dr.dr) AS BIGINT) AS r2_g
        FROM sel s JOIN dr ON dr.v = s.v
        GROUP BY s.g
    ),
    ties AS (SELECT CAST(sum(t * t * t - t) AS BIGINT) AS ties FROM per),
    folded AS (
        SELECT n_g,
               sum(CAST(r2_g * r2_g AS DOUBLE) / n_g) OVER (
                   ORDER BY g ROWS UNBOUNDED PRECEDING
               ) AS cum,
               row_number() OVER (ORDER BY g) AS rn
        FROM byg
    ),
    agg AS (
        SELECT CAST(sum(n_g) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k,
               max_by(cum, rn) AS sum_r2sq
        FROM folded
    )
    SELECT agg.n, agg.k,
           (12.0 * agg.sum_r2sq / (4.0 * CAST(agg.n AS DOUBLE) * (agg.n + 1))
              - 3 * (CAST(agg.n AS DOUBLE) + 1))
           / (1.0 - CAST(ties.ties AS DOUBLE)
               / (CAST(agg.n AS DOUBLE) * agg.n * agg.n - agg.n)) AS h
    FROM agg CROSS JOIN ties
    """,
)
def q394(spark: SparkSession, sf: str) -> DataFrame:
    """Kruskal-Wallis H across all five event types on value cents:
    doubled tie-averaged ranks keep every 2R_g exact; the Σ(2R)²/n_g
    fold is a sum of exact divides — the rank ANOVA completing the
    nonparametric family."""
    from .functions.stats import kruskal_wallis

    ev = load_table(spark, sf, "events").select(
        "event_type", F.round(F.col("value") * 100).cast("bigint").alias("cents")
    )
    return kruskal_wallis(ev, "event_type", "cents")


# ------------------------------------------------------------------ q395
@query(
    "q395_kendall_tau",
    """
    WITH lab AS (
        SELECT CAST(round(value * 100) AS BIGINT) // 2000 AS x,
               event_id % 30 AS y
        FROM events
    ),
    cells AS (SELECT x, y, CAST(count(*) AS BIGINT) AS c FROM lab GROUP BY x, y),
    cd AS (
        SELECT
            CAST(sum(CASE WHEN b.y > a.y THEN a.c * b.c ELSE 0 END) AS BIGINT) AS concordant,
            CAST(sum(CASE WHEN b.y < a.y THEN a.c * b.c ELSE 0 END) AS BIGINT) AS discordant
        FROM cells a JOIN cells b ON b.x > a.x AND b.y != a.y
    ),
    xt AS (
        SELECT CAST(sum(tx * (tx - 1)) AS BIGINT) AS tie_x2
        FROM (SELECT CAST(sum(c) AS BIGINT) AS tx FROM cells GROUP BY x)
    ),
    yt AS (
        SELECT CAST(sum(ty * (ty - 1)) AS BIGINT) AS tie_y2
        FROM (SELECT CAST(sum(c) AS BIGINT) AS ty FROM cells GROUP BY y)
    ),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lab)
    SELECT nn.n, cd.concordant, cd.discordant,
           2.0 * (cd.concordant - cd.discordant)
             / sqrt(CAST(nn.n * (nn.n - 1) - xt.tie_x2 AS DOUBLE)
                    * CAST(nn.n * (nn.n - 1) - yt.tie_y2 AS DOUBLE)) AS tau_b
    FROM cd CROSS JOIN xt CROSS JOIN yt CROSS JOIN nn
    """,
)
def q395(spark: SparkSession, sf: str) -> DataFrame:
    """Kendall τ-b between bucketed value and an event-class column:
    concordant/discordant mass from a cell-domain dominance join
    (cells², never rows²), tie pair counts exact — the pairwise rank
    correlation beside q391's Spearman."""
    from .functions.stats import kendall_tau_b

    lab = load_table(spark, sf, "events").select(
        F.expr("CAST(round(value * 100) AS BIGINT) DIV 2000").alias("x"),
        (F.col("event_id") % 30).alias("y"),
    )
    return kendall_tau_b(lab, "x", "y")


# ------------------------------------------------------------------ q396
@query(
    "q396_seasonal_decomposition",
    """
    WITH hourly AS (
        SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS tot
        FROM events GROUP BY 1
    ),
    tr AS (
        SELECT h, tot,
               CASE WHEN count(*) OVER w = 24
                    THEN CAST(sum(tot) OVER w AS BIGINT) END AS trend_sum
        FROM hourly
        WINDOW w AS (ORDER BY h ROWS BETWEEN 12 PRECEDING AND 11 FOLLOWING)
    ),
    detr AS (
        SELECT h, tot, trend_sum,
               CASE WHEN trend_sum IS NOT NULL
                    THEN tot * 24 - trend_sum END AS d24
        FROM tr
    ),
    seas AS (
        SELECT h % 24 AS phase,
               CAST(sum(d24) AS BIGINT) AS s_sum,
               CAST(count(d24) AS BIGINT) AS s_n
        FROM detr GROUP BY h % 24
    )
    SELECT d.h, d.tot,
           CAST(d.trend_sum AS DOUBLE) / 24 AS trend,
           CAST(s.s_sum AS DOUBLE) / (24 * s.s_n) AS seasonal,
           CASE WHEN d.trend_sum IS NOT NULL
                THEN d.tot - CAST(d.trend_sum AS DOUBLE) / 24
                     - CAST(s.s_sum AS DOUBLE) / (24 * s.s_n) END AS residual
    FROM detr d JOIN seas s ON s.phase = d.h % 24
    """,
)
def q396(spark: SparkSession, sf: str) -> DataFrame:
    """Classical additive seasonal decomposition of the hourly revenue
    series (period 24): centered 24-hour trend as an exact integer
    window SUM (full-window gate), per-phase seasonal means from exact
    ×24-scaled detrended integers, residual composed from the two
    exact-divide doubles — STL-lite with zero float accumulation."""
    from pyspark.sql import Window

    hourly = load_table(spark, sf, "events").groupBy(
        F.floor(F.unix_seconds(F.col("ts").cast("timestamp")) / 3600).alias("h")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("bigint")).cast("bigint").alias("tot"))
    w = Window.orderBy("h").rowsBetween(-12, 11)
    tr = hourly.select(
        "h", "tot",
        F.when(F.count(F.lit(1)).over(w) == 24, F.sum("tot").over(w).cast("bigint")).alias("trend_sum"),
    )
    detr = tr.withColumn(
        "d24", F.when(F.col("trend_sum").isNotNull(), F.col("tot") * 24 - F.col("trend_sum"))
    )
    seas = detr.groupBy((F.col("h") % 24).alias("phase")).agg(
        F.sum("d24").cast("bigint").alias("s_sum"),
        F.count("d24").cast("bigint").alias("s_n"),
    )
    out = detr.join(F.broadcast(seas), (F.col("h") % 24) == F.col("phase"))
    trend = F.col("trend_sum").cast("double") / 24
    seasonal = F.col("s_sum").cast("double") / (24 * F.col("s_n"))
    return out.select(
        "h", "tot",
        trend.alias("trend"),
        seasonal.alias("seasonal"),
        F.when(F.col("trend_sum").isNotNull(), F.col("tot") - trend - seasonal).alias("residual"),
    )


# ------------------------------------------------------------------ q397
@query(
    "q397_effect_size",
    """
    WITH sel AS (
        SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v FROM events
    ),
    g AS (
        SELECT CAST(count(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS n_a,
               CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS n_b,
               CAST(sum(CASE WHEN event_type = 'click' THEN v END) AS BIGINT) AS sa,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN v END) AS BIGINT) AS sb,
               CAST(sum(CASE WHEN event_type = 'click' THEN v * v END) AS BIGINT) AS saa,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN v * v END) AS BIGINT) AS sbb
        FROM sel
    )
    SELECT n_a, n_b,
           CAST(sa AS DOUBLE) / n_a AS mean_a,
           CAST(sb AS DOUBLE) / n_b AS mean_b,
           (CAST(sa AS DOUBLE) / n_a - CAST(sb AS DOUBLE) / n_b)
             / sqrt(((CAST(saa AS DOUBLE) - CAST(n_a AS DOUBLE) * (CAST(sa AS DOUBLE) / n_a) * (CAST(sa AS DOUBLE) / n_a))
                     + (CAST(sbb AS DOUBLE) - CAST(n_b AS DOUBLE) * (CAST(sb AS DOUBLE) / n_b) * (CAST(sb AS DOUBLE) / n_b)))
                    / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 2)) AS cohens_d,
           ((CAST(sa AS DOUBLE) / n_a - CAST(sb AS DOUBLE) / n_b)
             / sqrt(((CAST(saa AS DOUBLE) - CAST(n_a AS DOUBLE) * (CAST(sa AS DOUBLE) / n_a) * (CAST(sa AS DOUBLE) / n_a))
                     + (CAST(sbb AS DOUBLE) - CAST(n_b AS DOUBLE) * (CAST(sb AS DOUBLE) / n_b) * (CAST(sb AS DOUBLE) / n_b)))
                    / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 2)))
           * (1.0 - 3.0 / (4 * (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) - 9)) AS hedges_g
    FROM g
    """,
)
def q397(spark: SparkSession, sf: str) -> DataFrame:
    """Cohen's d and Hedges g between click and purchase cents: exact
    integer power sums, identical double chains — the effect size
    beside q172's Welch t and q393's Mann-Whitney."""
    from .functions.stats import effect_size

    ev = load_table(spark, sf, "events").select(
        "event_type", F.round(F.col("value") * 100).cast("bigint").alias("cents")
    )
    return effect_size(ev, "event_type", "cents", "click", "purchase")


# ------------------------------------------------------------------ q398
@query(
    "q398_anova_oneway",
    """
    WITH sel AS (
        SELECT event_type AS g, CAST(round(value * 100) AS BIGINT) AS v FROM events
    ),
    byg AS (
        SELECT g, CAST(count(*) AS BIGINT) AS n_g,
               CAST(sum(v) AS BIGINT) AS s_g, CAST(sum(v * v) AS BIGINT) AS ss_g
        FROM sel GROUP BY g
    ),
    folded AS (
        SELECT n_g, s_g, ss_g,
               sum(CAST(s_g * s_g AS DOUBLE) / n_g) OVER (
                   ORDER BY g ROWS UNBOUNDED PRECEDING
               ) AS cum,
               row_number() OVER (ORDER BY g) AS rn
        FROM byg
    ),
    agg AS (
        SELECT CAST(sum(n_g) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k,
               CAST(sum(s_g) AS BIGINT) AS s_all, CAST(sum(ss_g) AS BIGINT) AS ss_all,
               max_by(cum, rn) AS between_term
        FROM folded
    )
    SELECT n, k,
           between_term - CAST(s_all * s_all AS DOUBLE) / n AS ss_between,
           CAST(ss_all AS DOUBLE) - between_term AS ss_within,
           CASE WHEN k > 1 AND CAST(ss_all AS DOUBLE) - between_term > 0 THEN
               ((between_term - CAST(s_all * s_all AS DOUBLE) / n) / (CAST(k AS DOUBLE) - 1))
               / ((CAST(ss_all AS DOUBLE) - between_term) / (CAST(n AS DOUBLE) - k))
           END AS f
    FROM agg
    """,
)
def q398(spark: SparkSession, sf: str) -> DataFrame:
    """One-way ANOVA F across event types on value cents: exact power
    sums + the ordered between-groups fold (ORACLES.md rule 19) — the
    parametric counterpart of q394."""
    from .functions.stats import anova_oneway

    ev = load_table(spark, sf, "events").select(
        "event_type", F.round(F.col("value") * 100).cast("bigint").alias("cents")
    )
    return anova_oneway(ev, "event_type", "cents")


# ------------------------------------------------------------------ q399
@query(
    "q399_levene",
    """
    WITH sel AS (
        SELECT event_type AS g, CAST(round(value * 100) AS BIGINT) AS v FROM events
    ),
    med AS (SELECT g, median(v) AS m FROM sel GROUP BY g),
    dev AS (
        SELECT sel.g, CAST(abs(2 * sel.v - CAST(2 * med.m AS BIGINT)) AS BIGINT) AS z2
        FROM sel JOIN med ON med.g = sel.g
    ),
    byg AS (
        SELECT g, CAST(count(*) AS BIGINT) AS n_g,
               CAST(sum(z2) AS BIGINT) AS s_g, CAST(sum(z2 * z2) AS BIGINT) AS ss_g
        FROM dev GROUP BY g
    ),
    folded AS (
        SELECT n_g, s_g, ss_g,
               sum(CAST(s_g * s_g AS DOUBLE) / n_g) OVER (
                   ORDER BY g ROWS UNBOUNDED PRECEDING
               ) AS cum,
               row_number() OVER (ORDER BY g) AS rn
        FROM byg
    ),
    agg AS (
        SELECT CAST(sum(n_g) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k,
               CAST(sum(s_g) AS BIGINT) AS s_all, CAST(sum(ss_g) AS BIGINT) AS ss_all,
               max_by(cum, rn) AS between_term
        FROM folded
    )
    SELECT n, k,
           between_term - CAST(s_all * s_all AS DOUBLE) / n AS ss_between,
           CAST(ss_all AS DOUBLE) - between_term AS ss_within,
           CASE WHEN k > 1 AND CAST(ss_all AS DOUBLE) - between_term > 0 THEN
               ((between_term - CAST(s_all * s_all AS DOUBLE) / n) / (CAST(k AS DOUBLE) - 1))
               / ((CAST(ss_all AS DOUBLE) - between_term) / (CAST(n AS DOUBLE) - k))
           END AS f
    FROM agg
    """,
)
def q399(spark: SparkSession, sf: str) -> DataFrame:
    """Brown-Forsythe Levene test across event types: ANOVA on doubled
    |x − group median| (medians of integers are half-integers ⇒ 2z
    exact BIGINT; scale cancels in F) — variance-homogeneity screening
    before trusting q398's pooled assumptions."""
    from .functions.stats import levene_bf

    ev = load_table(spark, sf, "events").select(
        "event_type", F.round(F.col("value") * 100).cast("bigint").alias("cents")
    )
    return levene_bf(ev, "event_type", "cents")


# ------------------------------------------------------------------ q400
@query(
    "q400_experiment_readout",
    """
    WITH sel AS (
        SELECT event_type AS g, CAST(round(value * 100) AS BIGINT) AS v FROM events
        WHERE event_type IN ('click', 'purchase')
    ),
    pw AS (
        SELECT CAST(count(CASE WHEN g = 'click' THEN 1 END) AS BIGINT) AS n_a,
               CAST(count(CASE WHEN g = 'purchase' THEN 1 END) AS BIGINT) AS n_b,
               CAST(sum(CASE WHEN g = 'click' THEN v END) AS BIGINT) AS sa,
               CAST(sum(CASE WHEN g = 'purchase' THEN v END) AS BIGINT) AS sb,
               CAST(sum(CASE WHEN g = 'click' THEN v * v END) AS BIGINT) AS saa,
               CAST(sum(CASE WHEN g = 'purchase' THEN v * v END) AS BIGINT) AS sbb
        FROM sel
    ),
    mom AS (
        SELECT n_a, n_b,
               CAST(sa AS DOUBLE) / n_a AS ma, CAST(sb AS DOUBLE) / n_b AS mb,
               (CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE) / n_a * sa) / (n_a - 1) AS va,
               (CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE) / n_b * sb) / (n_b - 1) AS vb,
               CAST(saa AS DOUBLE) - CAST(n_a AS DOUBLE) * (CAST(sa AS DOUBLE) / n_a) * (CAST(sa AS DOUBLE) / n_a) AS ssa,
               CAST(sbb AS DOUBLE) - CAST(n_b AS DOUBLE) * (CAST(sb AS DOUBLE) / n_b) * (CAST(sb AS DOUBLE) / n_b) AS ssb
        FROM pw
    ),
    per AS (
        SELECT v, count(*) AS t,
               CAST(sum(CASE WHEN g = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS ta
        FROM sel GROUP BY v
    ),
    ranked AS (
        SELECT v, t, ta,
               CAST(2 * coalesce(sum(t) OVER (
                   ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) + t + 1 AS BIGINT) AS dr
        FROM per
    ),
    mw AS (
        SELECT CAST(sum(dr * ta) AS BIGINT) AS r2a,
               CAST(sum(t * t * t - t) AS BIGINT) AS ties
        FROM ranked
    )
    SELECT m.n_a, m.n_b, m.ma AS mean_a, m.mb AS mean_b,
           (m.ma - m.mb) / sqrt(m.va / m.n_a + m.vb / m.n_b) AS welch_t,
           CAST(mw.r2a - m.n_a * (m.n_a + 1) AS DOUBLE) / (m.n_a * m.n_b) - 1 AS cliffs_delta,
           CAST(mw.r2a - m.n_a * (m.n_a + 1) - m.n_a * m.n_b AS DOUBLE)
             / (2 * sqrt(CAST(m.n_a AS DOUBLE) * CAST(m.n_b AS DOUBLE) / 12.0
                 * (CAST(m.n_a + m.n_b + 1 AS DOUBLE)
                    - CAST(mw.ties AS DOUBLE)
                      / CAST((m.n_a + m.n_b) * (m.n_a + m.n_b - 1) AS DOUBLE)))) AS mw_z,
           (m.ma - m.mb) / sqrt((m.ssa + m.ssb) / (CAST(m.n_a AS DOUBLE) + m.n_b - 2)) AS cohens_d,
           ((m.ma - m.mb) / sqrt((m.ssa + m.ssb) / (CAST(m.n_a AS DOUBLE) + m.n_b - 2)))
             * (1.0 - 3.0 / (4 * (CAST(m.n_a AS DOUBLE) + m.n_b) - 9)) AS hedges_g
    FROM mom m CROSS JOIN mw
    """,
)
def q400(spark: SparkSession, sf: str) -> DataFrame:
    """The composed experiment readout — Welch t, Mann-Whitney z,
    Cliff's delta, Cohen's d, Hedges g between click and purchase in
    ONE relation: the full parametric + nonparametric + effect-size
    A/B verdict, every input an exact integer power/rank sum."""
    from .functions.stats import effect_size, mann_whitney_u

    ev = load_table(spark, sf, "events").select(
        "event_type", F.round(F.col("value") * 100).cast("bigint").alias("cents")
    )
    es = effect_size(ev, "event_type", "cents", "click", "purchase")
    mw = mann_whitney_u(ev, "event_type", "cents", "click", "purchase").select(
        "cliffs_delta", F.col("z").alias("mw_z")
    )
    sel = ev.where(F.col("event_type").isin("click", "purchase"))
    c = F.col("cents")
    a = F.when(F.col("event_type") == "click", c)
    b = F.when(F.col("event_type") == "purchase", c)
    pw = sel.agg(
        F.count(a).cast("long").alias("n_a"), F.count(b).cast("long").alias("n_b"),
        F.sum(a).cast("long").alias("sa"), F.sum(b).cast("long").alias("sb"),
        F.sum(a * a).cast("long").alias("saa"), F.sum(b * b).cast("long").alias("sbb"),
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    ma, mb = F.col("sa") / na, F.col("sb") / nb
    va = (F.col("saa").cast("double") - ma * F.col("sa")) / (na - 1)
    vb = (F.col("sbb").cast("double") - mb * F.col("sb")) / (nb - 1)
    t_rel = pw.select(((ma - mb) / F.sqrt(va / na + vb / nb)).alias("welch_t"))
    out = es.select("n_a", "n_b", "mean_a", "mean_b", "cohens_d", "hedges_g") \
        .crossJoin(F.broadcast(t_rel)).crossJoin(F.broadcast(mw))
    return out.select(
        "n_a", "n_b", "mean_a", "mean_b", "welch_t",
        "cliffs_delta", "mw_z", "cohens_d", "hedges_g",
    )


# ------------------------------------------------------------------ q401
@query(
    "q401_mcnemar",
    """
    WITH paired AS (
        SELECT CASE WHEN (value > 500) = (event_id % 2 = 0) THEN 1 ELSE 0 END AS a,
               CASE WHEN (value > 500) = ((event_id * 7 + user_id) % 3 = 0) THEN 1 ELSE 0 END AS b
        FROM events
    ),
    g AS (
        SELECT CAST(sum(a * b) AS BIGINT) AS both_right,
               CAST(sum(a * (1 - b)) AS BIGINT) AS a_only,
               CAST(sum((1 - a) * b) AS BIGINT) AS b_only,
               CAST(sum((1 - a) * (1 - b)) AS BIGINT) AS neither
        FROM paired
    )
    SELECT both_right AS "both", a_only, b_only, neither,
           CASE WHEN a_only + b_only > 0 THEN
               CAST(greatest((abs(a_only - b_only) - 1)
                             * (abs(a_only - b_only) - 1), 0) AS DOUBLE)
               / (a_only + b_only)
           END AS chi2_cc
    FROM g
    """,
)
def q401(spark: SparkSession, sf: str) -> DataFrame:
    """McNemar's paired test between two deterministic classifiers of
    value>500 on the SAME rows: agreement cells from one conditional
    agg, continuity-corrected χ² as an exact integer ratio — the
    correct 'is model B better' test."""
    from .functions.stats import mcnemar

    ev = load_table(spark, sf, "events").select(
        ((F.col("value") > 500) == (F.col("event_id") % 2 == 0)).cast("long").alias("a"),
        ((F.col("value") > 500) == ((F.col("event_id") * 7 + F.col("user_id")) % 3 == 0))
        .cast("long").alias("b"),
    )
    return mcnemar(ev, "a", "b")


# ------------------------------------------------------------------ q402
@query(
    "q402_durbin_watson",
    """
    WITH resid AS (
        SELECT user_id, ts, event_id,
               CAST(round(value * 100) AS BIGINT) - 500 * (event_id % 3) AS e
        FROM events
    ),
    lagd AS (
        SELECT user_id,
               e - lag(e) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS d,
               e
        FROM resid
    )
    SELECT user_id, CAST(count(*) AS BIGINT) AS n,
           CASE WHEN sum(e * e) > 0
                THEN CAST(sum(d * d) AS DOUBLE) / sum(e * e) END AS dw
    FROM lagd GROUP BY user_id
    """,
)
def q402(spark: SparkSession, sf: str) -> DataFrame:
    """Durbin-Watson per user on synthetic regression residuals: lag
    window + two exact integer sums, one divide — the autocorrelation
    screen for per-key model residuals."""
    from .functions.stats import durbin_watson

    ev = load_table(spark, sf, "events").select(
        "user_id", "ts", "event_id",
        (F.round(F.col("value") * 100).cast("bigint") - 500 * (F.col("event_id") % 3)).alias("e"),
    )
    return durbin_watson(ev, ["user_id"], "e", ["ts", "event_id"])
