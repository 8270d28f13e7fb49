"""Driver-contract query registry, batch 14 (round-3 session 9,
q470+): entity-resolution threshold curves, graph assortativity,
robust location estimation, and the continuing analytics surface.
Registers into the same QUERIES/ORACLES dicts as queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .queries import query
from .sources.io import load_table



# ------------------------------------------------------------------ q470
@query(
    "q470_blocking_threshold_curve",
    r"""
    WITH toks AS (
        SELECT doc_id, unnest(list_distinct(regexp_split_to_array(lower(trim(text)), '\s+'))) AS tok
        FROM documents WHERE doc_id < 100
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
        FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    truth AS (
        SELECT x.doc_id AS a, y.doc_id AS b
        FROM documents x JOIN documents y
          ON regexp_replace(lower(trim(x.text)), '\s+', ' ', 'g')
             = regexp_replace(lower(trim(y.text)), '\s+', ' ', 'g')
         AND x.doc_id < y.doc_id
        WHERE x.doc_id < 100 AND y.doc_id < 100 AND x.text IS NOT NULL
    ),
    pred_a AS (
        SELECT id_a AS a, id_b AS b FROM inter
        JOIN sizes sa ON inter.id_a = sa.doc_id
        JOIN sizes sb ON inter.id_b = sb.doc_id
        WHERE n_shared / (sa.sz + sb.sz - n_shared) >= CAST('0.3' AS DOUBLE)
    ),
    j_a AS (
        SELECT coalesce(p.a, t.a) AS a, coalesce(p.b, t.b) AS b,
               p.a IS NOT NULL AS in_p, t.a IS NOT NULL AS in_t
        FROM pred_a p FULL OUTER JOIN truth t ON p.a = t.a AND p.b = t.b
    ),
    agg_a AS (
        SELECT CAST('0.3' AS DOUBLE) AS threshold,
               CAST(coalesce(sum(CASE WHEN in_p AND in_t THEN 1 ELSE 0 END), 0) AS BIGINT) AS tp,
               CAST(coalesce(sum(CASE WHEN in_p AND NOT in_t THEN 1 ELSE 0 END), 0) AS BIGINT) AS fp,
               CAST(coalesce(sum(CASE WHEN NOT in_p AND in_t THEN 1 ELSE 0 END), 0) AS BIGINT) AS fn
        FROM j_a
    ),
    pred_b AS (
        SELECT id_a AS a, id_b AS b FROM inter
        JOIN sizes sa ON inter.id_a = sa.doc_id
        JOIN sizes sb ON inter.id_b = sb.doc_id
        WHERE n_shared / (sa.sz + sb.sz - n_shared) >= CAST('0.5' AS DOUBLE)
    ),
    j_b AS (
        SELECT coalesce(p.a, t.a) AS a, coalesce(p.b, t.b) AS b,
               p.a IS NOT NULL AS in_p, t.a IS NOT NULL AS in_t
        FROM pred_b p FULL OUTER JOIN truth t ON p.a = t.a AND p.b = t.b
    ),
    agg_b AS (
        SELECT CAST('0.5' AS DOUBLE) AS threshold,
               CAST(coalesce(sum(CASE WHEN in_p AND in_t THEN 1 ELSE 0 END), 0) AS BIGINT) AS tp,
               CAST(coalesce(sum(CASE WHEN in_p AND NOT in_t THEN 1 ELSE 0 END), 0) AS BIGINT) AS fp,
               CAST(coalesce(sum(CASE WHEN NOT in_p AND in_t THEN 1 ELSE 0 END), 0) AS BIGINT) AS fn
        FROM j_b
    ),
    pred_c AS (
        SELECT id_a AS a, id_b AS b FROM inter
        JOIN sizes sa ON inter.id_a = sa.doc_id
        JOIN sizes sb ON inter.id_b = sb.doc_id
        WHERE n_shared / (sa.sz + sb.sz - n_shared) >= CAST('0.8' AS DOUBLE)
    ),
    j_c AS (
        SELECT coalesce(p.a, t.a) AS a, coalesce(p.b, t.b) AS b,
               p.a IS NOT NULL AS in_p, t.a IS NOT NULL AS in_t
        FROM pred_c p FULL OUTER JOIN truth t ON p.a = t.a AND p.b = t.b
    ),
    agg_c AS (
        SELECT CAST('0.8' AS DOUBLE) AS threshold,
               CAST(coalesce(sum(CASE WHEN in_p AND in_t THEN 1 ELSE 0 END), 0) AS BIGINT) AS tp,
               CAST(coalesce(sum(CASE WHEN in_p AND NOT in_t THEN 1 ELSE 0 END), 0) AS BIGINT) AS fp,
               CAST(coalesce(sum(CASE WHEN NOT in_p AND in_t THEN 1 ELSE 0 END), 0) AS BIGINT) AS fn
        FROM j_c
    ),
    unioned AS (
        SELECT * FROM agg_a UNION ALL SELECT * FROM agg_b UNION ALL SELECT * FROM agg_c
    )
    SELECT threshold, tp, fp, fn,
           CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE) / (tp + fp) END AS precision,
           CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE) / (tp + fn) END AS recall
    FROM unioned
""",
)
def q470(spark, sf):
    """Blocking-threshold precision/recall curve: q308's token-Jaccard
    candidate generator evaluated against exact-duplicate truth at
    thresholds 0.3/0.5/0.8 — the pair relation is computed ONCE at the
    loosest threshold and filtered per point, so the curve costs one
    extra filter per threshold (operators/dedup.ngram_jaccard_pairs +
    pair_eval machinery)."""
    from .operators import dedup

    d = load_table(spark, sf, "documents").where(F.col("doc_id") < 100)
    pairs = dedup.ngram_jaccard_pairs(d, "text", "doc_id", n=1, threshold=0.3)
    dd = d.where(F.col("text").isNotNull())
    norm = dedup.normalize_text(F.col("text"))
    x = dd.select(F.col("doc_id").alias("id_a"), norm.alias("__n__"))
    y = dd.select(F.col("doc_id").alias("id_b"), norm.alias("__n__"))
    truth = x.join(y, on="__n__").where(F.col("id_a") < F.col("id_b")).select("id_a", "id_b")
    parts = []
    for thr in (0.3, 0.5, 0.8):
        ev = dedup.pair_eval(pairs.where(F.col("jaccard") >= thr), truth)
        parts.append(ev.select(
            F.lit(thr).alias("threshold"),
            F.coalesce(F.col("tp"), F.lit(0)).cast("long").alias("tp"),
            F.coalesce(F.col("fp"), F.lit(0)).cast("long").alias("fp"),
            F.coalesce(F.col("fn"), F.lit(0)).cast("long").alias("fn"),
            "precision", "recall",
        ))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ------------------------------------------------------------------ q471
@query(
    "q471_degree_assortativity",
    """
    WITH base AS (
        SELECT doc_id % 200 AS s, (doc_id * 7 + 3) % 200 AS d FROM documents
        WHERE doc_id % 200 != (doc_id * 7 + 3) % 200
    ),
    e AS (SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b FROM base),
    bothdir AS (
        SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e
    ),
    deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM bothdir GROUP BY u),
    j AS (
        SELECT du.d AS du, dv.d AS dv
        FROM bothdir JOIN deg du ON du.u = bothdir.u JOIN deg dv ON dv.u = bothdir.v
    ),
    g AS (
        SELECT CAST(count(*) AS BIGINT) AS m2,
               CAST(sum(du) AS BIGINT) AS sx, CAST(sum(dv) AS BIGINT) AS sy,
               CAST(sum(du * du) AS BIGINT) AS sxx, CAST(sum(dv * dv) AS BIGINT) AS syy,
               CAST(sum(du * dv) AS BIGINT) AS sxy
        FROM j
    ),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg)
    SELECT CAST(m2 / 2 AS BIGINT) AS n_edges, nn.n_nodes,
           CASE WHEN m2 * sxx - sx * sx > 0 AND m2 * syy - sy * sy > 0
                THEN CAST(m2 * sxy - sx * sy AS DOUBLE)
                     / sqrt(CAST(m2 * sxx - sx * sx AS DOUBLE) * (m2 * syy - sy * sy)) END
             AS assortativity
    FROM g, nn
    """,
)
def q471(spark, sf):
    """Degree assortativity of the q344 document graph
    (operators/graph.degree_assortativity): Pearson correlation of
    endpoint degrees over both edge orientations — exact BIGINT
    moments, one sqrt."""
    from .operators import graph

    d = load_table(spark, sf, "documents")
    base = d.select(
        (F.col("doc_id") % 200).alias("src"),
        ((F.col("doc_id") * 7 + 3) % 200).alias("dst"),
    ).where(F.col("src") != F.col("dst"))
    return graph.degree_assortativity(base)


# ------------------------------------------------------------------ q472
@query(
    "q472_hodges_lehmann",
    """
    WITH daily AS (
        SELECT event_type, CAST(floor(epoch(ts) / 86400.0) AS BIGINT) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS rev
        FROM events GROUP BY 1, 2
    ),
    idx AS (
        SELECT event_type, rev,
               row_number() OVER (PARTITION BY event_type ORDER BY day) AS i
        FROM daily
    ),
    pairs AS (
        SELECT a.event_type, (a.rev + b.rev) / 2 AS walsh
        FROM idx a JOIN idx b ON a.event_type = b.event_type AND a.i <= b.i
    ),
    meta AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM daily GROUP BY 1)
    SELECT m.event_type, m.n, CAST(count(*) AS BIGINT) AS n_pairs,
           quantile_cont(walsh, 0.5) AS hl_estimate
    FROM pairs p JOIN meta m USING (event_type)
    GROUP BY m.event_type, m.n
    """,
)
def q472(spark, sf):
    """Hodges-Lehmann robust location of each event type's daily
    revenue (functions/stats.hodges_lehmann): the median of all Walsh
    pairwise averages — exact half-integers, so the pair multiset and
    its median are engine-identical."""
    from .functions import stats as st

    ev = load_table(spark, sf, "events")
    daily = ev.groupBy(
        "event_type",
        F.floor(F.unix_seconds(F.col("ts")) / 86400).cast("long").alias("day"),
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("rev"))
    return st.hodges_lehmann(daily, ["event_type"], "rev", max_n=500)


# ------------------------------------------------------------------ q473
@query(
    "q473_reorder_point",
    """
    WITH daily AS (
        SELECT l_partkey % 100 AS part, CAST(floor(epoch(l_shipdate) / 86400.0) AS BIGINT) AS day,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS d
        FROM lineitem GROUP BY 1, 2
    ),
    m AS (
        SELECT part, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(d) AS BIGINT) AS s, CAST(sum(d * d) AS BIGINT) AS ss
        FROM daily GROUP BY part
    )
    SELECT part, n,
           CAST(s AS DOUBLE) / n AS mean_daily,
           sqrt(CAST(n * ss - s * s AS DOUBLE) / (n * n)) AS sd_daily,
           (CAST(s AS DOUBLE) / n) * 7
             + CAST('1.645' AS DOUBLE) * sqrt(CAST(n * ss - s * s AS DOUBLE) / (n * n))
               * sqrt(CAST(7.0 AS DOUBLE)) AS reorder_point
    FROM m WHERE n > 1
    """,
)
def q473(spark: SparkSession, sf: str) -> DataFrame:
    """Inventory reorder point per part family: μ_d·L + z·σ_d·√L with a
    7-day lead time and z = 1.645 shipped as a STRING literal (DuckDB's
    decimal-literal→double cast is not correctly rounded — ORACLES rule)
    — population moments from exact BIGINT sums, sqrt/divide fixed
    trees (native composition)."""
    li = load_table(spark, sf, "lineitem")
    daily = li.groupBy(
        (F.col("l_partkey") % 100).alias("part"),
        F.floor(F.unix_seconds(F.col("l_shipdate").cast("timestamp")) / 86400).cast("long").alias("day"),
    ).agg(F.sum(F.col("l_quantity").cast("long")).cast("long").alias("d"))
    m = daily.groupBy("part").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("d").cast("long").alias("s"),
        F.sum(F.col("d") * F.col("d")).cast("long").alias("ss"),
    ).where(F.col("n") > 1)
    n = F.col("n")
    mean = F.col("s") / n
    sd = F.sqrt((n * F.col("ss") - F.col("s") * F.col("s")).cast("double") / (n * n))
    z = F.lit(1.645)
    return m.select(
        "part", "n", mean.alias("mean_daily"), sd.alias("sd_daily"),
        (mean * 7 + z * sd * F.sqrt(F.lit(7.0))).alias("reorder_point"),
    )


# ------------------------------------------------------------------ q474
def _q474_oracle() -> str:
    # Erlang-B recurrence B_k = rho*B_{k-1} / (k + rho*B_{k-1}), B_0 = 1,
    # unrolled for k = 1..10 as ONE fixed expression tree per row.
    b = "CAST(1.0 AS DOUBLE)"
    for k in range(1, 11):
        b = f"((rho * {b}) / ({k} + rho * {b}))"
    return f"""
    WITH traffic AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_calls,
               CAST(sum(CAST(round(value * 100) AS BIGINT) % 600 + 60) AS BIGINT)
                 AS hold_s
        FROM events GROUP BY event_type
    ),
    f AS (
        SELECT event_type, n_calls, hold_s,
               CAST(hold_s AS DOUBLE) / 86400 AS rho
        FROM traffic
    )
    SELECT event_type, n_calls, hold_s, rho, {b} AS blocking_prob
    FROM f
    """


@query("q474_erlang_b", _q474_oracle())
def q474(spark: SparkSession, sf: str) -> DataFrame:
    """Erlang-B blocking probability at 10 servers per event type: the
    classic recurrence B_k = ρB_{k−1}/(k + ρB_{k−1}) UNROLLED into one
    fixed expression tree (offered load ρ from exact integer hold-time
    sums), so the whole telecom formula is engine-identical without a
    single loop or UDF (native composition)."""
    ev = load_table(spark, sf, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    traffic = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_calls"),
        F.sum(cents % 600 + 60).cast("long").alias("hold_s"),
    )
    rho = F.col("hold_s").cast("double") / 86400
    b = F.lit(1.0)
    for k in range(1, 11):
        b = (rho * b) / (F.lit(k) + rho * b)
    return traffic.select(
        "event_type", "n_calls", "hold_s", rho.alias("rho"), b.alias("blocking_prob")
    )


# ------------------------------------------------------------------ q475
@query(
    "q475_impossible_travel",
    """
    WITH f AS (
        SELECT user_id, epoch_us(ts) AS tus, event_id,
               (CAST(round(value * 100) AS BIGINT) * 37) % 1000 AS gx,
               (CAST(round(value * 100) AS BIGINT) * 91) % 1000 AS gy
        FROM events
    ),
    lagged AS (
        SELECT user_id, event_id, tus, gx, gy,
               lag(gx) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS px,
               lag(gy) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS py,
               lag(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS pt
        FROM f
    )
    SELECT user_id, event_id,
           CAST((gx - px) * (gx - px) + (gy - py) * (gy - py) AS BIGINT) AS d2,
           CAST((tus - pt) // 1000000 AS BIGINT) AS dt_s,
           ((gx - px) * (gx - px) + (gy - py) * (gy - py)) * 12960000
             > 25 * ((tus - pt) // 1000000) * ((tus - pt) // 1000000) AS impossible
    FROM lagged WHERE pt IS NOT NULL
    """,
)
def q475(spark: SparkSession, sf: str) -> DataFrame:
    """Impossible-travel detection (security staple): consecutive
    logins per user on a synthetic planar grid, flagged when implied
    speed exceeds 5 units/hour — the test runs as the cross-multiplied
    integer comparison d²·(3600µs/h)² > v²·Δt², so no float speed or
    sqrt ever exists (native composition over the lag machinery)."""
    ev = load_table(spark, sf, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    f = ev.select(
        "user_id", F.unix_micros(F.col("ts")).alias("tus"), "event_id",
        ((cents * 37) % 1000).alias("gx"), ((cents * 91) % 1000).alias("gy"),
    )
    w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    lagged = f.select(
        "user_id", "event_id", "tus", "gx", "gy",
        F.lag("gx").over(w).alias("px"), F.lag("gy").over(w).alias("py"),
        F.lag("tus").over(w).alias("pt"),
    ).where(F.col("pt").isNotNull())
    dx = F.col("gx") - F.col("px")
    dy = F.col("gy") - F.col("py")
    d2 = dx * dx + dy * dy
    dt_s = F.floor((F.col("tus") - F.col("pt")) / 1_000_000).cast("long")
    return lagged.select(
        "user_id", "event_id",
        d2.cast("long").alias("d2"), dt_s.alias("dt_s"),
        (d2 * F.lit(12_960_000) > F.lit(25) * dt_s * dt_s).alias("impossible"),
    )


# ------------------------------------------------------------------ q476
@query(
    "q476_ledger_match",
    """
    WITH pay AS (
        SELECT event_id AS pay_id, user_id AS acct, epoch_us(ts) AS ptus,
               CAST(round(value * 100) AS BIGINT) AS amount
        FROM events WHERE event_id % 3 = 0
    ),
    inv AS (
        SELECT event_id AS inv_id, user_id AS acct, epoch_us(ts) AS itus,
               CAST(round(value * 100) AS BIGINT) + (event_id % 150) - 75 AS amount
        FROM events WHERE event_id % 3 = 1
    ),
    cand AS (
        SELECT p.pay_id, p.acct, p.amount AS pay_amount,
               i.inv_id, i.amount AS inv_amount,
               abs(p.amount - i.amount) AS amt_diff,
               abs(p.ptus - i.itus) AS t_diff
        FROM pay p JOIN inv i
          ON i.acct = p.acct AND abs(p.amount - i.amount) <= 100
    ),
    best AS (
        SELECT pay_id, acct, pay_amount, inv_id, inv_amount, amt_diff,
               row_number() OVER (PARTITION BY pay_id
                                  ORDER BY amt_diff, t_diff, inv_id) AS rn
        FROM cand
    )
    SELECT pay_id, acct, pay_amount, inv_id, inv_amount, amt_diff
    FROM best WHERE rn = 1
    """,
)
def q476(spark: SparkSession, sf: str) -> DataFrame:
    """Payment-to-invoice reconciliation: per payment, the best invoice
    on the same account within 100 cents (closest amount, then closest
    time, then id — a fully integer deterministic ranking).  The
    candidate join is an equi-join on the account (amounts filter
    post-join), never a cartesian — the fintech matching staple
    (native composition over grouped_topk ranking)."""
    ev = load_table(spark, sf, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    pay = ev.where(F.col("event_id") % 3 == 0).select(
        F.col("event_id").alias("pay_id"), F.col("user_id").alias("acct"),
        F.unix_micros(F.col("ts")).alias("ptus"), cents.alias("pay_amount"),
    )
    inv = ev.where(F.col("event_id") % 3 == 1).select(
        F.col("event_id").alias("inv_id"), F.col("user_id").alias("acct"),
        F.unix_micros(F.col("ts")).alias("itus"),
        (cents + (F.col("event_id") % 150) - 75).alias("inv_amount"),
    )
    cand = pay.join(inv, on="acct").where(
        F.abs(F.col("pay_amount") - F.col("inv_amount")) <= 100
    ).select(
        "pay_id", "acct", "pay_amount", "inv_id", "inv_amount",
        F.abs(F.col("pay_amount") - F.col("inv_amount")).alias("amt_diff"),
        F.abs(F.col("ptus") - F.col("itus")).alias("t_diff"),
    )
    w = Window.partitionBy("pay_id").orderBy("amt_diff", "t_diff", "inv_id")
    return cand.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1).select(
        "pay_id", "acct", "pay_amount", "inv_id", "inv_amount", "amt_diff"
    )


# ------------------------------------------------------------------ q477
def _q477_oracle() -> str:
    cells = ", ".join(
        f"CAST(coalesce(min(CASE WHEN pos = {p} THEN c END), 0) AS BIGINT) AS c{p}, "
        f"CAST(coalesce(min(CASE WHEN pos = {p} THEN i END), 0) AS BIGINT) AS i{p}"
        for p in range(1, 6)
    )
    # expected clicks per type: Σ_p i_p(type) · ctr_p(global), summed in
    # fixed position order as one expression
    exp_terms = " + ".join(
        f"(t.i{p} * (CAST(g.c{p} AS DOUBLE) / g.i{p}))" for p in range(1, 6)
    )
    return f"""
    WITH f AS (
        SELECT event_type, CAST(event_id % 5 + 1 AS BIGINT) AS pos,
               CASE WHEN CAST(round(value * 100) AS BIGINT) % (event_id % 5 + 2) = 0
                    THEN 1 ELSE 0 END AS click
        FROM events
    ),
    cnt AS (
        SELECT event_type, pos, CAST(sum(click) AS BIGINT) AS c,
               CAST(count(*) AS BIGINT) AS i
        FROM f GROUP BY 1, 2
    ),
    per_type AS (SELECT event_type, {cells} FROM cnt GROUP BY event_type),
    gbl AS (
        SELECT {cells} FROM (
            SELECT pos, CAST(sum(c) AS BIGINT) AS c, CAST(sum(i) AS BIGINT) AS i
            FROM cnt GROUP BY pos
        )
    )
    SELECT t.event_type,
           CAST(t.c1 + t.c2 + t.c3 + t.c4 + t.c5 AS BIGINT) AS clicks,
           CAST(t.i1 + t.i2 + t.i3 + t.i4 + t.i5 AS BIGINT) AS impressions,
           ({exp_terms}) AS expected_clicks,
           CAST(t.c1 + t.c2 + t.c3 + t.c4 + t.c5 AS DOUBLE) / ({exp_terms}) AS coec
    FROM per_type t, gbl g
    """


@query("q477_coec_ctr", _q477_oracle())
def q477(spark: SparkSession, sf: str) -> DataFrame:
    """Position-normalized click quality (COEC — clicks over expected
    clicks): each type's clicks divided by the clicks expected from the
    GLOBAL per-position CTR curve at its impression mix.  The five
    position terms pivot into fixed columns and sum in literal order
    (the bm25 float discipline); every count is an exact BIGINT (native
    composition)."""
    ev = load_table(spark, sf, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    pos = (F.col("event_id") % 5 + 1).cast("long")
    f = ev.select(
        "event_type", pos.alias("pos"),
        (cents % (F.col("event_id") % 5 + 2) == 0).cast("long").alias("click"),
    )
    cnt = f.groupBy("event_type", "pos").agg(
        F.sum("click").cast("long").alias("c"), F.count(F.lit(1)).cast("long").alias("i")
    )
    def pivot(df, keys):
        aggs = []
        for p in range(1, 6):
            aggs.append(F.coalesce(F.min(F.when(F.col("pos") == p, F.col("c"))), F.lit(0)).cast("long").alias(f"c{p}"))
            aggs.append(F.coalesce(F.min(F.when(F.col("pos") == p, F.col("i"))), F.lit(0)).cast("long").alias(f"i{p}"))
        return df.groupBy(*keys).agg(*aggs) if keys else df.groupBy().agg(*aggs)
    per_type = pivot(cnt, ["event_type"])
    glob = pivot(
        cnt.groupBy("pos").agg(F.sum("c").cast("long").alias("c"), F.sum("i").cast("long").alias("i")),
        [],
    )
    j = per_type.crossJoin(F.broadcast(glob.select(*[F.col(f"c{p}").alias(f"gc{p}") for p in range(1, 6)],
                                                   *[F.col(f"i{p}").alias(f"gi{p}") for p in range(1, 6)])))
    clicks = sum((F.col(f"c{p}") for p in range(2, 6)), F.col("c1"))
    imps = sum((F.col(f"i{p}") for p in range(2, 6)), F.col("i1"))
    expected = None
    for p in range(1, 6):
        term = F.col(f"i{p}") * (F.col(f"gc{p}").cast("double") / F.col(f"gi{p}"))
        expected = term if expected is None else expected + term
    return j.select(
        "event_type",
        clicks.cast("long").alias("clicks"),
        imps.cast("long").alias("impressions"),
        expected.alias("expected_clicks"),
        (clicks.cast("double") / expected).alias("coec"),
    )


# ------------------------------------------------------------------ q478
@query(
    "q478_raking_ipf",
    """
    WITH f AS (
        SELECT event_type AS r,
               CASE WHEN user_id % 2 = 0 THEN 'even' ELSE 'odd' END AS c
        FROM events
    ),
    cell AS (SELECT r, c, CAST(count(*) AS BIGINT) AS n FROM f GROUP BY 1, 2),
    rown AS (SELECT r, CAST(sum(n) AS BIGINT) AS nr FROM cell GROUP BY r),
    cellf AS (
        SELECT cell.r, cell.c, cell.n, rown.nr, CASE WHEN r = 'click' THEN CAST(2000 AS DOUBLE) / nr WHEN r = 'error' THEN CAST(2000 AS DOUBLE) / nr WHEN r = 'purchase' THEN CAST(2000 AS DOUBLE) / nr WHEN r = 'signup' THEN CAST(2000 AS DOUBLE) / nr WHEN r = 'view' THEN CAST(2000 AS DOUBLE) / nr END AS rf
        FROM cell JOIN rown USING (r)
    ),
    piv AS (
        SELECT c, coalesce(min(CASE WHEN r = 'click' THEN n * rf END), CAST(0.0 AS DOUBLE)) AS m0, coalesce(min(CASE WHEN r = 'error' THEN n * rf END), CAST(0.0 AS DOUBLE)) AS m1, coalesce(min(CASE WHEN r = 'purchase' THEN n * rf END), CAST(0.0 AS DOUBLE)) AS m2, coalesce(min(CASE WHEN r = 'signup' THEN n * rf END), CAST(0.0 AS DOUBLE)) AS m3, coalesce(min(CASE WHEN r = 'view' THEN n * rf END), CAST(0.0 AS DOUBLE)) AS m4 FROM cellf GROUP BY c
    ),
    colf AS (
        SELECT c,
               CASE WHEN c = 'even' THEN CAST(5000 AS DOUBLE) / (m0 + m1 + m2 + m3 + m4)
                    WHEN c = 'odd' THEN CAST(5000 AS DOUBLE) / (m0 + m1 + m2 + m3 + m4) END AS gf
        FROM piv
    )
    SELECT cellf.r AS event_type, cellf.c AS parity, cellf.n,
           cellf.rf AS row_factor, colf.gf AS col_factor,
           cellf.rf * colf.gf AS weight,
           cellf.n * cellf.rf * colf.gf AS weighted_mass
    FROM cellf JOIN colf ON colf.c = cellf.c
""",
)
def q478(spark, sf):
    """Survey raking / iterative proportional fitting, one full cycle
    (functions/stats.raking_ipf): cell weights hitting literal row
    targets (2000 per event type) then column targets (5000 per user
    parity).  The column-mass fold runs over FIXED literal row columns
    (rule 22 — never a float aggregation), so factors and weights are
    engine-identical fixed trees."""
    from .functions import stats as st

    ev = load_table(spark, sf, "events").select(
        "event_type",
        F.when(F.col("user_id") % 2 == 0, "even").otherwise("odd").alias("parity"),
    )
    out = st.raking_ipf(
        ev, "event_type", "parity",
        {"click": 2000, "error": 2000, "purchase": 2000, "signup": 2000, "view": 2000},
        {"even": 5000, "odd": 5000},
    )
    return out


# ------------------------------------------------------------------ q479
@query(
    "q479_time_decay_attribution",
    """
    WITH f AS (
        SELECT user_id, epoch_us(ts) AS tus, event_id,
               CASE WHEN event_type IN ('click', 'view') THEN 1 ELSE 0 END AS touch,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
        FROM events
    ),
    nxt AS (
        SELECT user_id, tus, event_id, touch,
               min(CASE WHEN conv = 1 THEN tus END)
                 OVER (PARTITION BY user_id ORDER BY tus, event_id
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS ct
        FROM f
    ),
    touches AS (
        SELECT user_id, tus, event_id, ct,
               least(CAST((ct - tus) // 604800000000 AS BIGINT), 62) AS b
        FROM nxt WHERE touch = 1 AND ct IS NOT NULL
    ),
    kk AS (
        SELECT user_id, tus, event_id, ct, b,
               max(b) OVER (PARTITION BY user_id, ct) AS k
        FROM touches
    ),
    wts AS (
        SELECT user_id, tus, event_id, ct, b,
               (CAST(1 AS BIGINT) << CAST(k - b AS INT)) AS ws
        FROM kk
    )
    SELECT user_id, tus, event_id, ct AS conversion_us, b AS age_buckets,
           ws AS weight_scaled,
           CAST(sum(ws) OVER (PARTITION BY user_id, ct) AS BIGINT) AS total_scaled,
           CAST(ws AS DOUBLE)
             / sum(ws) OVER (PARTITION BY user_id, ct) AS credit
    FROM wts
    """,
)
def q479(spark: SparkSession, sf: str) -> DataFrame:
    """Time-decay multi-touch attribution with DYADIC half-life decay
    (operators/window.attribute_time_decay): a touch k half-lives (7
    days) before its next conversion weighs 2^−k — powers of two make
    every weight an exact integer after rebasing, so credits are single
    divides with no exp() anywhere."""
    from .operators import window as win

    ev = load_table(spark, sf, "events").select(
        "user_id", "ts", "event_id",
        F.col("event_type").isin("click", "view").cast("int").alias("touch"),
        (F.col("event_type") == "purchase").cast("int").alias("conv"),
    )
    out = win.attribute_time_decay(
        ev, "user_id", "ts", "touch", "conv", half_life_days=7, order_tiebreak="event_id"
    )
    return out.select(
        "user_id", F.unix_micros(F.col("ts")).alias("tus"), "event_id",
        "conversion_us", "age_buckets", "weight_scaled", "total_scaled", "credit",
    )


# ------------------------------------------------------------------ q480
@query(
    "q480_prefix_autocomplete",
    r"""
    WITH toks AS (
        SELECT unnest(list_filter(
                   string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
                   x -> length(x) >= 3)) AS tok
        FROM documents WHERE text IS NOT NULL
    ),
    counts AS (
        SELECT substr(tok, 1, 3) AS prefix, tok, CAST(count(*) AS BIGINT) AS cnt
        FROM toks GROUP BY 1, 2
    )
    SELECT prefix, tok AS completion, cnt FROM (
        SELECT prefix, tok, cnt,
               row_number() OVER (PARTITION BY prefix ORDER BY cnt DESC, tok) AS rn
        FROM counts
    ) WHERE rn = 1
    """,
)
def q480(spark: SparkSession, sf: str) -> DataFrame:
    """Prefix autocomplete table: the most frequent completion for
    every 3-character token prefix (count desc, lexicographic
    tie-break) — the WindowGroupLimit streaming-top-k shape over the
    (prefix, token) aggregate (native composition with
    window.grouped_topk)."""
    from .operators.dedup import normalize_text
    from .operators.window import grouped_topk

    d = load_table(spark, sf, "documents").where(F.col("text").isNotNull())
    toks = F.filter(
        F.split(normalize_text(F.col("text")), " "), lambda x: F.length(x) >= 3
    )
    counts = (
        d.select(F.explode(toks).alias("tok"))
        .groupBy(F.substring("tok", 1, 3).alias("prefix"), "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    top = grouped_topk(counts, ["prefix"], "cnt", k=1, tiebreak=["tok"])
    return top.select("prefix", F.col("tok").alias("completion"), "cnt")


# ------------------------------------------------------------------ q481
@query(
    "q481_hotspot_gi",
    """
    WITH pts AS (
        SELECT (CAST(round(value * 100) AS BIGINT) * 37) % 1000 // 100 AS cx,
               (CAST(round(value * 100) AS BIGINT) * 91) % 1000 // 100 AS cy
        FROM events
    ),
    cells AS (SELECT cx, cy, CAST(count(*) AS BIGINT) AS n FROM pts GROUP BY 1, 2),
    stats AS (
        SELECT CAST(count(*) AS BIGINT) AS nc,
               CAST(sum(n) AS BIGINT) AS s1, CAST(sum(n * n) AS BIGINT) AS s2
        FROM cells
    ),
    stencil AS (
        SELECT c.cx, c.cy, c.n, c.cx + dx.o AS px, c.cy + dy.o AS py
        FROM cells c,
             (SELECT unnest([-1, 0, 1]) AS o) dx,
             (SELECT unnest([-1, 0, 1]) AS o) dy
    ),
    nbr AS (
        SELECT s.cx, s.cy, min(s.n) AS n,
               CAST(sum(o.n) AS BIGINT) AS s_i, CAST(count(o.n) AS BIGINT) AS k_i
        FROM stencil s JOIN cells o ON o.cx = s.px AND o.cy = s.py
        GROUP BY s.cx, s.cy
    )
    SELECT nbr.cx, nbr.cy, nbr.n, nbr.s_i, nbr.k_i,
           (nbr.s_i - nbr.k_i * (CAST(st.s1 AS DOUBLE) / st.nc))
             / (sqrt(CAST(st.nc * st.s2 - st.s1 * st.s1 AS DOUBLE) / (st.nc * st.nc))
                * sqrt(CAST(st.nc * nbr.k_i - nbr.k_i * nbr.k_i AS DOUBLE) / (st.nc - 1)))
             AS gi_z
    FROM nbr, stats st
    """,
)
def q481(spark: SparkSession, sf: str) -> DataFrame:
    """Getis-Ord Gi* hotspot z-scores over a synthetic 10×10 activity
    grid: each cell's 3×3 neighborhood sum against the global cell-count
    distribution — the stencil is the grid_neighbor_join equi-join
    discipline, and every statistic composes from exact BIGINT moments
    with fixed divide/sqrt trees (native composition)."""
    ev = load_table(spark, sf, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    pts = ev.select(
        F.floor(((cents * 37) % 1000) / 100).cast("long").alias("cx"),
        F.floor(((cents * 91) % 1000) / 100).cast("long").alias("cy"),
    )
    cells = pts.groupBy("cx", "cy").agg(F.count(F.lit(1)).cast("long").alias("n"))
    stats = cells.agg(
        F.count(F.lit(1)).cast("long").alias("nc"),
        F.sum("n").cast("long").alias("s1"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("s2"),
    )
    offs = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]
    stencil = cells.select(
        "cx", "cy", "n",
        F.explode(F.array(*[
            F.struct((F.col("cx") + dx).alias("px"), (F.col("cy") + dy).alias("py"))
            for dx, dy in offs
        ])).alias("p"),
    ).select("cx", "cy", "n", F.col("p.px").alias("px"), F.col("p.py").alias("py"))
    other = cells.select(
        F.col("cx").alias("px"), F.col("cy").alias("py"), F.col("n").alias("no")
    )
    nbr = stencil.join(other, on=["px", "py"]).groupBy("cx", "cy").agg(
        F.min("n").alias("n"),
        F.sum("no").cast("long").alias("s_i"),
        F.count("no").cast("long").alias("k_i"),
    )
    j = nbr.crossJoin(F.broadcast(stats))
    mu = F.col("s1").cast("double") / F.col("nc")
    sigma = F.sqrt((F.col("nc") * F.col("s2") - F.col("s1") * F.col("s1")).cast("double")
                   / (F.col("nc") * F.col("nc")))
    denom2 = F.sqrt((F.col("nc") * F.col("k_i") - F.col("k_i") * F.col("k_i")).cast("double")
                    / (F.col("nc") - 1))
    return j.select(
        "cx", "cy", "n", "s_i", "k_i",
        ((F.col("s_i") - F.col("k_i") * mu) / (sigma * denom2)).alias("gi_z"),
    )


# ------------------------------------------------------------------ q482
@query(
    "q482_forecast_reconcile",
    """
    WITH hist AS (
        SELECT o_orderpriority AS prio,
               CAST(count(*) AS BIGINT) AS w
        FROM orders WHERE year(o_orderdate) < 2000 GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM hist),
    months AS (SELECT unnest(range(0, 6)) AS m),
    tops AS (SELECT m, CAST(10000 + 500 * m AS BIGINT) AS top_forecast FROM months),
    alloc AS (
        SELECT t.m, t.top_forecast, h.prio, h.w, tt.tw,
               t.top_forecast * h.w // tt.tw AS base_share,
               t.top_forecast * h.w % tt.tw AS rem,
               row_number() OVER (PARTITION BY t.m
                                  ORDER BY t.top_forecast * h.w % tt.tw DESC, h.prio) AS rr
        FROM tops t CROSS JOIN hist h CROSS JOIN tot tt
    ),
    need AS (
        SELECT m, top_forecast - sum(base_share) AS extra FROM alloc GROUP BY m, top_forecast
    )
    SELECT a.m AS month, a.prio,
           CAST(a.base_share + CASE WHEN a.rr <= n.extra THEN 1 ELSE 0 END AS BIGINT)
             AS forecast_units
    FROM alloc a JOIN need n ON n.m = a.m
    """,
)
def q482(spark: SparkSession, sf: str) -> DataFrame:
    """Top-down forecast reconciliation: six monthly top-level forecasts
    apportioned to order priorities by historical share with the
    LARGEST-REMAINDER rule per month — every month's allocation sums
    back to its top-level number EXACTLY (the allocate_proportional /
    rev_schedule discipline applied per group; native composition)."""
    o = load_table(spark, sf, "orders").where(F.year("o_orderdate") < 2000)
    hist = o.groupBy(F.col("o_orderpriority").alias("prio")).agg(
        F.count(F.lit(1)).cast("long").alias("w")
    )
    tot = hist.agg(F.sum("w").cast("long").alias("tw"))
    months = load_table(spark, sf, "region").sparkSession.range(0, 6).select(
        F.col("id").alias("m"), (10000 + 500 * F.col("id")).cast("long").alias("top_forecast")
    )
    alloc = months.crossJoin(hist).crossJoin(F.broadcast(tot)).select(
        "m", "top_forecast", "prio", "w", "tw",
        F.floor(F.col("top_forecast") * F.col("w") / F.col("tw")).cast("long").alias("base_share"),
        (F.col("top_forecast") * F.col("w") % F.col("tw")).alias("rem"),
    )
    w = Window.partitionBy("m").orderBy(F.col("rem").desc(), "prio")
    alloc = alloc.withColumn("rr", F.row_number().over(w))
    need = alloc.groupBy("m", "top_forecast").agg(
        (F.min("top_forecast") - F.sum("base_share")).cast("long").alias("extra")
    ).select("m", "extra")
    j = alloc.join(need, on="m")
    return j.select(
        F.col("m").alias("month"), "prio",
        (F.col("base_share") + (F.col("rr") <= F.col("extra")).cast("long")).cast("long")
        .alias("forecast_units"),
    )


# ------------------------------------------------------------------ q483
@query(
    "q483_partial_corr",
    """
    WITH f AS (
        SELECT CAST(round(value * 100) AS BIGINT) % 100 AS z,
               (CAST(round(value * 100) AS BIGINT) % 100) * 2 + CAST(round(value * 100) AS BIGINT) % 7 AS x,
               (CAST(round(value * 100) AS BIGINT) % 100) * 3 + CAST(round(value * 100) AS BIGINT) % 11 AS y
        FROM events
    ),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(z) AS BIGINT) AS sz,
               CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * z) AS BIGINT) AS sxz,
               CAST(sum(y * z) AS BIGINT) AS syz,
               CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy,
               CAST(sum(z * z) AS BIGINT) AS szz
        FROM f
    ),
    r AS (
        SELECT n,
               CAST(n * sxy - sx * sy AS DOUBLE)
                 / sqrt(CAST(n * sxx - sx * sx AS DOUBLE) * (n * syy - sy * sy)) AS rxy,
               CAST(n * sxz - sx * sz AS DOUBLE)
                 / sqrt(CAST(n * sxx - sx * sx AS DOUBLE) * (n * szz - sz * sz)) AS rxz,
               CAST(n * syz - sy * sz AS DOUBLE)
                 / sqrt(CAST(n * syy - sy * sy AS DOUBLE) * (n * szz - sz * sz)) AS ryz
        FROM m
    )
    SELECT n, rxy, rxz, ryz,
           (rxy - rxz * ryz) / sqrt((1 - rxz * rxz) * (1 - ryz * ryz)) AS partial_rxy_z
    FROM r
    """,
)
def q483(spark: SparkSession, sf: str) -> DataFrame:
    """Partial correlation r_xy·z on a synthetic confounded triple: the
    three pairwise correlations come from exact BIGINT moments, the
    partial from the standard fixed-tree formula — with x and y both
    driven by z plus independent noise, controlling for z must collapse
    the raw correlation (native composition over the corr_matrix
    moment machinery)."""
    ev = load_table(spark, sf, "events")
    c = F.round(F.col("value") * 100).cast("long")
    z = c % 100
    f = ev.select(
        z.alias("z"), (z * 2 + c % 7).alias("x"), (z * 3 + c % 11).alias("y")
    )
    m = f.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"), F.sum("y").cast("long").alias("sy"),
        F.sum("z").cast("long").alias("sz"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("z")).cast("long").alias("sxz"),
        F.sum(F.col("y") * F.col("z")).cast("long").alias("syz"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("z") * F.col("z")).cast("long").alias("szz"),
    )
    n = F.col("n")
    def corr(sab, sa, sb, saa, sbb):
        return (n * F.col(sab) - F.col(sa) * F.col(sb)) / F.sqrt(
            (n * F.col(saa) - F.col(sa) * F.col(sa)).cast("double")
            * (n * F.col(sbb) - F.col(sb) * F.col(sb))
        )
    rxy = corr("sxy", "sx", "sy", "sxx", "syy")
    rxz = corr("sxz", "sx", "sz", "sxx", "szz")
    ryz = corr("syz", "sy", "sz", "syy", "szz")
    out = m.select("n", rxy.alias("rxy"), rxz.alias("rxz"), ryz.alias("ryz"))
    return out.select(
        "n", "rxy", "rxz", "ryz",
        ((F.col("rxy") - F.col("rxz") * F.col("ryz"))
         / F.sqrt((1 - F.col("rxz") * F.col("rxz")) * (1 - F.col("ryz") * F.col("ryz"))))
        .alias("partial_rxy_z"),
    )


# ------------------------------------------------------------------ q484
_Q484_COS = (
    "list_dot_product({a}::DOUBLE[], {b}::DOUBLE[])"
    " / (sqrt(list_dot_product({a}::DOUBLE[], {a}::DOUBLE[]))"
    " * sqrt(list_dot_product({b}::DOUBLE[], {b}::DOUBLE[])))"
)


@query(
    "q484_nearest_centroid_eval",
    f"""
    WITH base AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    sums AS (
        SELECT label, CAST(count(*) AS BIGINT) AS n_l, i,
               sum(v[i]) AS s
        FROM base, range(1, 65) t(i) GROUP BY label, i
    ),
    cents AS (
        SELECT label, list(s / n_l ORDER BY i) AS cv FROM sums GROUP BY label, n_l
    ),
    assigned AS (
        SELECT b.vec_id, b.label AS true_label, c.label AS pred_label
        FROM (
            SELECT b.vec_id, b.label, c.label AS clabel,
                   row_number() OVER (PARTITION BY b.vec_id
                                      ORDER BY {_Q484_COS.format(a='b.v', b='c.cv')} DESC,
                                               c.label) AS rn
            FROM base b, cents c
        ) x
        JOIN base b ON b.vec_id = x.vec_id
        JOIN cents c ON c.label = x.clabel
        WHERE x.rn = 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN true_label = pred_label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
           CAST(sum(CASE WHEN true_label = pred_label THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) AS accuracy
    FROM assigned
    """,
)
def q484(spark: SparkSession, sf: str) -> DataFrame:
    """Nearest-centroid classifier evaluation on the embeddings table:
    per-label mean vectors (exact per-dim sums, one divide), each
    vector assigned to its max-cosine centroid (identical-double
    ranking, label tie-break), accuracy from exact counts — the
    sanity-check eval every embedding space gets (native composition
    over group_centroids/ivf_assign machinery)."""
    from .operators.similarity import cosine

    e = load_table(spark, sf, "embeddings")
    dvec = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = e.select("vec_id", "label", dvec.alias("v"))
    sums = base.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_l"),
        *[F.sum(F.element_at("v", i + 1)).alias(f"s{i}") for i in range(64)],
    )
    cents = sums.select(
        F.col("label").alias("clabel"),
        F.array(*[F.col(f"s{i}") / F.col("n_l") for i in range(64)]).alias("cv"),
    )
    crossed = base.crossJoin(F.broadcast(cents))
    scored = crossed.select(
        "vec_id", "label", "clabel", cosine(F.col("v"), F.col("cv")).alias("cs")
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("cs").desc(), F.col("clabel"))
    assigned = scored.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    return assigned.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((F.col("label") == F.col("clabel")).cast("long")).cast("long").alias("n_correct"),
    ).select(
        "n", "n_correct", (F.col("n_correct") / F.col("n")).alias("accuracy")
    )


# ------------------------------------------------------------------ q485
@query(
    "q485_graph_summary",
    """
    WITH base AS (
        SELECT doc_id % 200 AS s, (doc_id * 7 + 3) % 200 AS d FROM documents
        WHERE doc_id % 200 != (doc_id * 7 + 3) % 200
    ),
    e AS (SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b FROM base),
    bothdir AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
    deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM bothdir GROUP BY u),
    tri AS (
        SELECT CAST(count(*) AS BIGINT) AS n_tri FROM (
            SELECT ab.a, ab.b, bc.b AS c
            FROM e ab JOIN e bc ON bc.a = ab.b
            JOIN e ac ON ac.a = ab.a AND ac.b = bc.b
        )
    ),
    agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n_nodes,
               CAST(sum(d) AS BIGINT) AS deg_sum,
               CAST(max(d) AS BIGINT) AS max_degree
        FROM deg
    ),
    ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e)
    SELECT agg.n_nodes, ne.n_edges, agg.max_degree,
           CAST(agg.deg_sum AS DOUBLE) / agg.n_nodes AS avg_degree,
           CAST(2 * ne.n_edges AS DOUBLE) / (agg.n_nodes * (agg.n_nodes - 1)) AS density,
           tri.n_tri AS n_triangles
    FROM agg, ne, tri
    """,
)
def q485(spark: SparkSession, sf: str) -> DataFrame:
    """One-row graph profile of the q344 document graph: nodes, edges,
    max/avg degree, density, and the oriented triangle count — the
    summary card a graph pipeline prints before running anything
    expensive (composes operators/graph.triangle_count with the degree
    machinery; all exact integers + single divides)."""
    from .operators import graph

    d = load_table(spark, sf, "documents")
    base = d.select(
        (F.col("doc_id") % 200).alias("s"), ((F.col("doc_id") * 7 + 3) % 200).alias("d")
    ).where(F.col("s") != F.col("d"))
    e = base.select(
        F.least("s", "d").alias("a"), F.greatest("s", "d").alias("b")
    ).distinct()
    bothdir = e.select(F.col("a").alias("u")).unionByName(e.select(F.col("b").alias("u")))
    deg = bothdir.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("dg"))
    agg = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.sum("dg").cast("long").alias("deg_sum"),
        F.max("dg").cast("long").alias("max_degree"),
    )
    tri = graph.triangle_count(e, "a", "b")
    j = agg.crossJoin(F.broadcast(tri))
    return j.select(
        "n_nodes", "n_edges", "max_degree",
        (F.col("deg_sum") / F.col("n_nodes")).alias("avg_degree"),
        ((2 * F.col("n_edges")) / (F.col("n_nodes") * (F.col("n_nodes") - 1))).alias("density"),
        F.col("n_triangles").alias("n_triangles"),
    )


# ------------------------------------------------------------------ q486
@query(
    "q486_seasonal_mase",
    """
    WITH f AS (
        SELECT event_type,
               CAST(floor(epoch(ts) / 3600.0) AS BIGINT) AS hr,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS a
        FROM events GROUP BY 1, 2
    ),
    fc AS (
        SELECT event_type, hr, a, CAST(hr % 40000 + 100 AS BIGINT) AS pred FROM f
    ),
    w AS (
        SELECT event_type, a, pred, pred - a AS e,
               abs(a - lag(a, 24) OVER (PARTITION BY event_type ORDER BY hr)) AS naive
        FROM fc
    ),
    g AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(e) AS BIGINT) AS sum_e,
               CAST(sum(abs(e)) AS BIGINT) AS sum_ae,
               CAST(sum(abs(a)) AS BIGINT) AS sum_aa,
               CAST(sum(abs(a) + abs(pred)) AS BIGINT) AS sum_af,
               CAST(sum(naive) AS BIGINT) AS sum_naive
        FROM w GROUP BY event_type
    )
    SELECT event_type, n,
           CAST(sum_e AS DOUBLE) / n AS bias,
           CAST(sum_ae AS DOUBLE) / n AS mae,
           CASE WHEN sum_aa > 0 THEN CAST(sum_ae AS DOUBLE) / sum_aa END AS wape,
           CASE WHEN sum_af > 0 THEN CAST(2 * sum_ae AS DOUBLE) / sum_af END AS smape,
           CASE WHEN n > 24 AND sum_naive > 0
                THEN CAST(sum_ae * (n - 24) AS DOUBLE) / (n * sum_naive) END AS mase
    FROM g
    """,
)
def q486(spark: SparkSession, sf: str) -> DataFrame:
    """Seasonal MASE (m = 24 hours) over hourly revenue series
    (functions/stats.forecast_accuracy(seasonal_period=24)): the scaled
    error now benchmarks against the seasonal-naive lag-24 walk — the
    fair baseline for any series with a daily cycle."""
    from .functions import stats as st

    ev = load_table(spark, sf, "events")
    f = ev.groupBy(
        "event_type",
        F.floor(F.unix_seconds(F.col("ts")) / 3600).cast("long").alias("hr"),
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("a"))
    fc = f.select(
        "event_type", "hr", "a", (F.col("hr") % 40000 + 100).cast("long").alias("pred")
    )
    return st.forecast_accuracy(fc, ["event_type"], "a", "pred", ["hr"], seasonal_period=24)


# ------------------------------------------------------------------ q487
@query(
    "q487_cost_allocation",
    """
    WITH direct AS (
        SELECT user_id % 8 AS team,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS direct_cents,
               CAST(count(*) AS BIGINT) AS usage
        FROM events GROUP BY 1
    ),
    shared AS (SELECT CAST(1000000 AS BIGINT) AS pool),
    tot AS (SELECT CAST(sum(usage) AS BIGINT) AS tu FROM direct),
    alloc AS (
        SELECT d.team, d.direct_cents, d.usage,
               s.pool * d.usage // t.tu AS base_share,
               s.pool * d.usage % t.tu AS rem,
               row_number() OVER (ORDER BY s.pool * d.usage % t.tu DESC, d.team) AS rr,
               s.pool
        FROM direct d, shared s, tot t
    ),
    need AS (SELECT CAST(min(pool) - sum(base_share) AS BIGINT) AS extra FROM alloc)
    SELECT a.team, a.direct_cents, a.usage,
           CAST(a.base_share + CASE WHEN a.rr <= n.extra THEN 1 ELSE 0 END AS BIGINT)
             AS shared_cents,
           CAST(a.direct_cents + a.base_share
                + CASE WHEN a.rr <= n.extra THEN 1 ELSE 0 END AS BIGINT) AS total_cents
    FROM alloc a, need n
    """,
)
def q487(spark: SparkSession, sf: str) -> DataFrame:
    """FinOps cost allocation: each team's direct spend plus its
    largest-remainder share of a fixed shared pool (1,000,000 cents)
    apportioned by usage — the shared pool conserves EXACTLY across
    teams (the rev_schedule/q482 discipline; native composition)."""
    ev = load_table(spark, sf, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    direct = ev.groupBy((F.col("user_id") % 8).alias("team")).agg(
        F.sum(cents).cast("long").alias("direct_cents"),
        F.count(F.lit(1)).cast("long").alias("usage"),
    )
    tot = direct.agg(F.sum("usage").cast("long").alias("tu"))
    pool = 1_000_000
    alloc = direct.crossJoin(F.broadcast(tot)).select(
        "team", "direct_cents", "usage",
        F.floor(F.lit(pool) * F.col("usage") / F.col("tu")).cast("long").alias("base_share"),
        (F.lit(pool) * F.col("usage") % F.col("tu")).alias("rem"),
    )
    w = Window.orderBy(F.col("rem").desc(), "team")
    alloc = alloc.withColumn("rr", F.row_number().over(w))
    need = alloc.agg((F.lit(pool) - F.sum("base_share")).cast("long").alias("extra"))
    j = alloc.crossJoin(F.broadcast(need))
    sh = F.col("base_share") + (F.col("rr") <= F.col("extra")).cast("long")
    return j.select(
        "team", "direct_cents", "usage",
        sh.cast("long").alias("shared_cents"),
        (F.col("direct_cents") + sh).cast("long").alias("total_cents"),
    )


# ------------------------------------------------------------------ q488
@query(
    "q488_mrr_at_k",
    """
    WITH ranked AS (
        SELECT user_id AS q,
               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rk,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS rel
        FROM events
    ),
    per AS (
        SELECT q, min(CASE WHEN rel > 0 AND rk <= 10 THEN rk END) AS first_rel_rank
        FROM ranked GROUP BY q
    ),
    scaled AS (
        SELECT q, first_rel_rank,
               CAST(CASE WHEN first_rel_rank IS NOT NULL
                         THEN 2520 / first_rel_rank ELSE 0 END AS BIGINT) AS rr_scaled
        FROM per
    ),
    g AS (
        SELECT CAST(count(*) AS BIGINT) AS n_queries,
               CAST(sum(rr_scaled) AS BIGINT) AS rr_sum FROM scaled
    )
    SELECT s.q AS user_id, s.first_rel_rank, s.rr_scaled, g.n_queries,
           CAST(g.rr_sum AS DOUBLE) / (2520 * g.n_queries) AS mrr
    FROM scaled s, g
    """,
)
def q488(spark: SparkSession, sf: str) -> DataFrame:
    """MRR@10 treating each user's event stream as a ranking and
    purchases as the relevant items (functions/stats.mrr_at_k): with
    L = lcm(1..10) = 2520, every reciprocal rank is an exact BIGINT, so
    the mean is one divide — completes the ranking-eval trio beside
    NDCG (q373) and MAP (q374)."""
    from .functions import stats as st

    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = ev.select(
        F.col("user_id").alias("q"),
        F.row_number().over(w).alias("rk"),
        (F.col("event_type") == "purchase").cast("long").alias("rel"),
    )
    out = st.mrr_at_k(ranked, ["q"], "rk", "rel", k=10)
    return out.select(
        F.col("q").alias("user_id"), "first_rel_rank", "rr_scaled", "n_queries", "mrr"
    )


# ------------------------------------------------------------------ q489
@query(
    "q489_wma",
    """
    WITH daily AS (
        SELECT event_type, CAST(floor(epoch(ts) / 86400.0) AS BIGINT) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS rev
        FROM events GROUP BY 1, 2
    )
    SELECT event_type, day, rev,
           CASE WHEN lag(rev, 4) OVER (PARTITION BY event_type ORDER BY day) IS NOT NULL
                THEN CAST(5 * rev
                          + 4 * lag(rev, 1) OVER (PARTITION BY event_type ORDER BY day)
                          + 3 * lag(rev, 2) OVER (PARTITION BY event_type ORDER BY day)
                          + 2 * lag(rev, 3) OVER (PARTITION BY event_type ORDER BY day)
                          + 1 * lag(rev, 4) OVER (PARTITION BY event_type ORDER BY day)
                      AS DOUBLE) / 15 END AS wma
    FROM daily
    """,
)
def q489(spark: SparkSession, sf: str) -> DataFrame:
    """Triangular 5-day weighted moving average of daily revenue per
    event type (operators/window.wma): the window is five explicit lag
    terms in fixed order — an exact BIGINT weighted sum, one divide,
    NULL until the window fills; no rolling float sum exists."""
    from .operators import window as win

    ev = load_table(spark, sf, "events")
    daily = ev.groupBy(
        "event_type",
        F.floor(F.unix_seconds(F.col("ts")) / 86400).cast("long").alias("day"),
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("rev"))
    return win.wma(daily, ["event_type"], ["day"], "rev", [5, 4, 3, 2, 1])


# ------------------------------------------------------------------ q490
@query(
    "q490_int_division_semantics",
    """
    WITH f AS (
        SELECT event_id,
               CAST(round(value * 100) AS BIGINT) % 97 - 48 AS a,
               CAST(event_id % 7 + 3 AS BIGINT) AS b
        FROM events WHERE event_id % 11 = 0
    )
    SELECT event_id, a, b,
           a % b AS c_mod,
           ((a % b) + b) % b AS pmod,
           CAST(trunc(CAST(a AS DOUBLE) / b) AS BIGINT) AS div_trunc,
           CAST(floor(CAST(a AS DOUBLE) / b) AS BIGINT) AS div_floor
    FROM f
    """,
)
def q490(spark: SparkSession, sf: str) -> DataFrame:
    """Integer division/modulo semantics parity on NEGATIVE operands:
    C-style % (sign of the dividend) agrees between engines, pmod is
    the ((a%b)+b)%b rewrite, truncating division is Spark's DIV ==
    trunc(a/b), flooring division is floor(a/b) — the translation table
    any cross-engine port needs pinned (native parity sweep; the
    integer quotients are exact doubles below 2^53 so trunc/floor are
    boundary-safe)."""
    ev = load_table(spark, sf, "events").where(F.col("event_id") % 11 == 0)
    cents = F.round(F.col("value") * 100).cast("long")
    f = ev.select(
        "event_id", (cents % 97 - 48).alias("a"), (F.col("event_id") % 7 + 3).alias("b")
    )
    return f.select(
        "event_id", "a", "b",
        (F.col("a") % F.col("b")).alias("c_mod"),
        F.pmod(F.col("a"), F.col("b")).alias("pmod"),
        F.expr("a DIV b").alias("div_trunc"),
        F.floor(F.col("a") / F.col("b")).cast("long").alias("div_floor"),
    )


# ------------------------------------------------------------------ q491
@query(
    "q491_luhn_check",
    """
    WITH f AS (
        SELECT event_id,
               lpad(CAST(CAST(round(value * 100) AS BIGINT) * 9973 % 1000000000 AS VARCHAR),
                    10, '0') AS pan
        FROM events WHERE event_id % 5 = 0
    ),
    digits AS (
        SELECT event_id, pan, i,
               CAST(substr(pan, len(pan) - i + 1, 1) AS BIGINT) AS d
        FROM f, unnest(generate_series(1, 10)) AS u(i)
    ),
    scored AS (
        SELECT event_id, pan,
               CAST(sum(CASE WHEN i % 2 = 0
                             THEN CASE WHEN d * 2 > 9 THEN d * 2 - 9 ELSE d * 2 END
                             ELSE d END) AS BIGINT) AS luhn_sum
        FROM digits GROUP BY event_id, pan
    )
    SELECT event_id, pan, luhn_sum, luhn_sum % 10 = 0 AS luhn_valid
    FROM scored
    """,
)
def q491(spark: SparkSession, sf: str) -> DataFrame:
    """Luhn checksum validation over synthetic 10-digit account numbers:
    right-to-left digit walk with even-position doubling (the 2d−9
    fold), all exact integer arithmetic over an exploded digit-position
    grid — the payments-ingest validity gate (native parity sweep)."""
    ev = load_table(spark, sf, "events").where(F.col("event_id") % 5 == 0)
    cents = F.round(F.col("value") * 100).cast("long")
    f = ev.select(
        "event_id",
        F.lpad((cents * 9973 % 1_000_000_000).cast("string"), 10, "0").alias("pan"),
    )
    digits = f.select(
        "event_id", "pan", F.explode(F.sequence(F.lit(1), F.lit(10))).alias("i")
    ).withColumn(
        "d", F.substring_index(F.expr("substr(pan, length(pan) - i + 1, 1)"), " ", 1).cast("long")
    )
    doubled = F.when(
        F.col("i") % 2 == 0,
        F.when(F.col("d") * 2 > 9, F.col("d") * 2 - 9).otherwise(F.col("d") * 2),
    ).otherwise(F.col("d"))
    scored = digits.groupBy("event_id", "pan").agg(
        F.sum(doubled).cast("long").alias("luhn_sum")
    )
    return scored.select(
        "event_id", "pan", "luhn_sum", (F.col("luhn_sum") % 10 == 0).alias("luhn_valid")
    )


# ------------------------------------------------------------------ q492
@query(
    "q492_auto_histogram",
    """
    WITH f AS (
        SELECT event_type, CAST(round(value * 100) AS BIGINT) AS x FROM events
    ),
    meta AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(min(x) AS BIGINT) AS lo, CAST(max(x) AS BIGINT) AS hi,
               CAST(length(bin(count(*))) AS BIGINT) AS bits
        FROM f GROUP BY event_type
    ),
    binned AS (
        SELECT f.event_type, m.n, m.bits AS n_bins,
               least(CAST((f.x - m.lo) * m.bits // (m.hi - m.lo + 1) AS BIGINT),
                     m.bits - 1) AS bin
        FROM f JOIN meta m USING (event_type)
    )
    SELECT event_type, n_bins, bin, CAST(count(*) AS BIGINT) AS cnt
    FROM binned GROUP BY 1, 2, 3
    """,
)
def q492(spark: SparkSession, sf: str) -> DataFrame:
    """Sturges auto-binned histogram per event type: the bin count is
    ⌊log2 n⌋+1 computed as the BIT LENGTH of n (pure integer — no
    float log), bins assigned by exact integer scaling — the
    automatic-histogram shape with zero float boundaries (native
    composition)."""
    ev = load_table(spark, sf, "events")
    f = ev.select("event_type", F.round(F.col("value") * 100).cast("long").alias("x"))
    meta = f.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("x").alias("lo"), F.max("x").alias("hi"),
        F.length(F.bin(F.count(F.lit(1)))).cast("long").alias("bits"),
    )
    j = f.join(F.broadcast(meta), on="event_type")
    bin_ = F.least(
        F.floor((F.col("x") - F.col("lo")) * F.col("bits") / (F.col("hi") - F.col("lo") + 1)).cast("long"),
        F.col("bits") - 1,
    )
    return j.groupBy("event_type", F.col("bits").alias("n_bins"), bin_.alias("bin")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )


# ------------------------------------------------------------------ q493
@query(
    "q493_sla_credits",
    """
    WITH f AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN CAST(round(value * 100) AS BIGINT) % 50 = 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_err
        FROM events GROUP BY event_type
    )
    SELECT event_type, n, n_err,
           CAST(n - n_err AS DOUBLE) / n AS attainment,
           CASE WHEN (n - n_err) * 1000 >= 999 * n THEN 0
                WHEN (n - n_err) * 1000 >= 990 * n THEN 10
                WHEN (n - n_err) * 1000 >= 950 * n THEN 25
                ELSE 100 END AS credit_pct
    FROM f
    """,
)
def q493(spark: SparkSession, sf: str) -> DataFrame:
    """SLA attainment and contractual service credits per event type:
    tier thresholds (99.9/99/95%) tested by integer cross-
    multiplication — no float attainment ever gates a credit (native
    composition beside sla_burn q419)."""
    ev = load_table(spark, sf, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    f = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((cents % 50 == 0).cast("long")).cast("long").alias("n_err"),
    )
    ok = F.col("n") - F.col("n_err")
    credit = (
        F.when(ok * 1000 >= 999 * F.col("n"), 0)
        .when(ok * 1000 >= 990 * F.col("n"), 10)
        .when(ok * 1000 >= 950 * F.col("n"), 25)
        .otherwise(100)
    )
    return f.select(
        "event_type", "n", "n_err",
        (ok / F.col("n")).alias("attainment"),
        credit.cast("int").alias("credit_pct"),
    )


# ------------------------------------------------------------------ q494
@query(
    "q494_validity_audit",
    r"""
    WITH seeded AS (
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0 THEN 'user' || doc_id || '@example.com'
                    WHEN doc_id % 3 = 1 THEN 'not-an-email-' || doc_id
                    ELSE 'u' || doc_id || '@bad' END AS email,
               CASE WHEN doc_id % 2 = 0
                    THEN '10.0.' || (doc_id % 256) || '.' || ((doc_id * 7) % 256)
                    ELSE '999.12.' || doc_id END AS ip
        FROM documents
    )
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN regexp_matches(email,
                '^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}$') THEN 1 ELSE 0 END)
                AS BIGINT) AS n_valid_email,
           CAST(sum(CASE WHEN regexp_matches(ip,
                '^([0-9]|[1-9][0-9]|1[0-9][0-9]|2[0-4][0-9]|25[0-5])(\.([0-9]|[1-9][0-9]|1[0-9][0-9]|2[0-4][0-9]|25[0-5])){3}$')
                THEN 1 ELSE 0 END) AS BIGINT) AS n_valid_ip
    FROM seeded
    """,
)
def q494(spark: SparkSession, sf: str) -> DataFrame:
    """Field-validity audit: RFC-ish email and strict dotted-quad IPv4
    validation rates over deterministically seeded good/bad values —
    the regexes stay in the Java∩RE2 subset (the scrub_pii q148
    discipline turned from redaction to validation)."""
    d = load_table(spark, sf, "documents")
    email = (
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.lit("user"), F.col("doc_id").cast("string"), F.lit("@example.com")))
        .when(F.col("doc_id") % 3 == 1,
              F.concat(F.lit("not-an-email-"), F.col("doc_id").cast("string")))
        .otherwise(F.concat(F.lit("u"), F.col("doc_id").cast("string"), F.lit("@bad")))
    )
    ip = (
        F.when(F.col("doc_id") % 2 == 0,
               F.concat(F.lit("10.0."), (F.col("doc_id") % 256).cast("string"),
                        F.lit("."), ((F.col("doc_id") * 7) % 256).cast("string")))
        .otherwise(F.concat(F.lit("999.12."), F.col("doc_id").cast("string")))
    )
    seeded = d.select("doc_id", email.alias("email"), ip.alias("ip"))
    em_re = r"^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}$"
    ip_re = r"^([0-9]|[1-9][0-9]|1[0-9][0-9]|2[0-4][0-9]|25[0-5])(\.([0-9]|[1-9][0-9]|1[0-9][0-9]|2[0-4][0-9]|25[0-5])){3}$"
    return seeded.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("email").rlike(em_re).cast("long")).cast("long").alias("n_valid_email"),
        F.sum(F.col("ip").rlike(ip_re).cast("long")).cast("long").alias("n_valid_ip"),
    )


# ------------------------------------------------------------------ q495
@query(
    "q495_jains_index",
    """
    WITH f AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS x FROM events GROUP BY user_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(x) AS BIGINT) AS total,
           CAST(sum(x) * sum(x) AS DOUBLE) / (count(*) * sum(x * x)) AS jains_index
    FROM f
    """,
)
def q495(spark: SparkSession, sf: str) -> DataFrame:
    """Jain's fairness index of per-user event counts: (Σx)²/(n·Σx²) —
    1 when perfectly even, →1/n under monopoly; exact BIGINT sums, one
    divide (native composition; the fairness twin of q254's Gini)."""
    ev = load_table(spark, sf, "events")
    f = ev.groupBy("user_id").agg(F.count(F.lit(1)).cast("long").alias("x"))
    return f.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("total"),
        ((F.sum("x") * F.sum("x")) / (F.count(F.lit(1)) * F.sum(F.col("x") * F.col("x"))))
        .alias("jains_index"),
    )


# ------------------------------------------------------------------ q496
@query(
    "q496_peak_to_average",
    """
    WITH hourly AS (
        SELECT event_type, CAST(floor(epoch(ts) / 3600.0) AS BIGINT) AS hr,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_hours,
           CAST(sum(n) AS BIGINT) AS total,
           CAST(max(n) AS BIGINT) AS peak,
           CAST(max(n) * count(*) AS DOUBLE) / sum(n) AS peak_to_avg,
           CAST(sum(n) AS DOUBLE) / (max(n) * count(*)) AS load_factor
    FROM hourly GROUP BY event_type
    """,
)
def q496(spark: SparkSession, sf: str) -> DataFrame:
    """Peak-to-average ratio and load factor per event type over hourly
    traffic — the capacity-planning pair (provision for peak, bill for
    average); exact integer counts, single divides (native
    composition)."""
    ev = load_table(spark, sf, "events")
    hourly = ev.groupBy(
        "event_type",
        F.floor(F.unix_seconds(F.col("ts")) / 3600).cast("long").alias("hr"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    g = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_hours"),
        F.sum("n").cast("long").alias("total"),
        F.max("n").cast("long").alias("peak"),
    )
    return g.select(
        "event_type", "n_hours", "total", "peak",
        ((F.col("peak") * F.col("n_hours")) / F.col("total")).alias("peak_to_avg"),
        (F.col("total") / (F.col("peak") * F.col("n_hours"))).alias("load_factor"),
    )


# ------------------------------------------------------------------ q497
@query(
    "q497_generalization_ladder",
    """
    WITH lvl AS (
        SELECT unnest([10, 50, 200]) AS coarseness
    ),
    classes AS (
        SELECT l.coarseness, o.o_custkey // l.coarseness AS qi,
               CAST(count(*) AS BIGINT) AS n
        FROM orders o CROSS JOIN lvl l
        GROUP BY 1, 2
    ),
    audit AS (
        SELECT coarseness,
               CAST(count(*) AS BIGINT) AS n_classes,
               CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
               CAST(min(n) AS BIGINT) AS min_class
        FROM classes GROUP BY coarseness
    )
    SELECT coarseness, n_classes, n_violations, min_class,
           n_violations = 0 AS k_satisfied
    FROM audit
    """,
)
def q497(spark: SparkSession, sf: str) -> DataFrame:
    """k-anonymity generalization ladder: the same quasi-identifier at
    three coarsening levels (customer-key buckets of 10/50/200), each
    audited for k=5 — release at the FINEST level with zero violations.
    Completes the k/l/t privacy family (q413/q461) with the mitigation
    step (native composition over profile.k_anonymity machinery)."""
    o = load_table(spark, sf, "orders")
    parts = []
    for c in (10, 50, 200):
        cl = o.groupBy(F.floor(F.col("o_custkey") / c).cast("long").alias("qi")).agg(
            F.count(F.lit(1)).cast("long").alias("n")
        )
        parts.append(
            cl.agg(
                F.lit(c).cast("long").alias("coarseness"),
                F.count(F.lit(1)).cast("long").alias("n_classes"),
                F.sum((F.col("n") < 5).cast("long")).cast("long").alias("n_violations"),
                F.min("n").cast("long").alias("min_class"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(
        "coarseness", "n_classes", "n_violations", "min_class",
        (F.col("n_violations") == 0).alias("k_satisfied"),
    )


# ------------------------------------------------------------------ q498
@query(
    "q498_dup_cluster_histogram",
    r"""
    WITH norm AS (
        SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
        FROM documents WHERE text IS NOT NULL
    ),
    comp AS (
        SELECT t, CAST(count(*) AS BIGINT) AS cluster_size FROM norm GROUP BY t
    )
    SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(cluster_size * count(*) AS BIGINT) AS n_docs
    FROM comp GROUP BY cluster_size
    """,
)
def q498(spark: SparkSession, sf: str) -> DataFrame:
    """Duplicate-cluster size histogram: exact-dup clusters by
    normalized text, reported as the count-of-counts distribution
    (1 = unique docs, 2+ = duplicate families) — the dedup report that
    says what a dedup pass will actually delete (native composition
    over the fingerprint machinery)."""
    from .operators.dedup import normalize_text

    d = load_table(spark, sf, "documents").where(F.col("text").isNotNull())
    comp = d.groupBy(normalize_text(F.col("text")).alias("t")).agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return comp.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        (F.min("cluster_size") * F.count(F.lit(1))).cast("long").alias("n_docs"),
    )


# ------------------------------------------------------------------ q499
@query(
    "q499_retention_ttl_audit",
    """
    WITH snap AS (SELECT CAST(max(epoch_us(ts)) AS BIGINT) AS now_us FROM events),
    ttl AS (
        SELECT event_type,
               CASE event_type WHEN 'error' THEN 7 WHEN 'click' THEN 30
                    WHEN 'view' THEN 30 ELSE 365 END AS ttl_days
        FROM (SELECT DISTINCT event_type FROM events)
    )
    SELECT e.event_type, t.ttl_days,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN a.now_us - epoch_us(e.ts) > t.ttl_days * 86400000000
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_expired,
           CAST(sum(CASE WHEN a.now_us - epoch_us(e.ts) > t.ttl_days * 86400000000
                         THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS expired_share
    FROM events e JOIN ttl t USING (event_type), snap a
    GROUP BY e.event_type, t.ttl_days
    """,
)
def q499(spark: SparkSession, sf: str) -> DataFrame:
    """Data-retention TTL compliance audit: rows past their class's
    retention window measured against the dataset's own max timestamp
    (no wall clock — determinism), exact microsecond age comparisons —
    the GDPR/records-management sweep every governed table runs
    (native composition)."""
    ev = load_table(spark, sf, "events")
    asof = ev.agg(F.max(F.unix_micros(F.col("ts"))).cast("long").alias("now_us"))
    ttl = (
        F.when(F.col("event_type") == "error", 7)
        .when(F.col("event_type").isin("click", "view"), 30)
        .otherwise(365)
        .cast("long")
    )
    j = ev.select("event_type", F.unix_micros(F.col("ts")).alias("tus")).withColumn(
        "ttl_days", ttl
    ).crossJoin(F.broadcast(asof))
    expired = (F.col("now_us") - F.col("tus") > F.col("ttl_days") * 86_400_000_000).cast("long")
    g = j.groupBy("event_type", "ttl_days").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(expired).cast("long").alias("n_expired"),
    )
    return g.select(
        "event_type", "ttl_days", "n_rows", "n_expired",
        (F.col("n_expired") / F.col("n_rows")).alias("expired_share"),
    )


# ------------------------------------------------------------------ q500
@query(
    "q500_pipeline_scorecard",
    r"""
    WITH w AS (
        SELECT doc_id, source, lang, n_chars, text,
               string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ') AS toks
        FROM documents WHERE text IS NOT NULL
    ),
    raw AS (SELECT source, CAST(count(*) AS BIGINT) AS n_raw FROM w GROUP BY source),
    f AS (
        SELECT doc_id, source, lang, n_chars, text, len(toks) AS n_toks,
               len(toks) BETWEEN 50 AND 100000 AS r_word_count,
               (length(regexp_replace(text, '\s+', '', 'g'))::DOUBLE
                / greatest(len(toks), 1)) BETWEEN 3.0 AND 10.0 AS r_mean_word_len,
               len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE
                / greatest(len(toks), 1) >= 0.8 AS r_alpha
        FROM w
    ),
    gated AS (
        SELECT * FROM f WHERE r_word_count AND r_mean_word_len AND r_alpha
    ),
    ng AS (SELECT source, CAST(count(*) AS BIGINT) AS n_gated FROM gated GROUP BY source),
    deduped AS (
        SELECT doc_id, source, lang, n_chars, text, n_toks FROM (
            SELECT *, row_number() OVER (
                PARTITION BY regexp_replace(lower(trim(text)), '\s+', ' ', 'g')
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
        SELECT doc_id, string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
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
        SELECT d.*, c.doc_id IS NOT NULL AS contam,
               CASE WHEN (('0x'||substr(md5(CAST(d.doc_id AS VARCHAR)),1,15))::BIGINT % 1000) < 800 THEN 'train'
                    WHEN (('0x'||substr(md5(CAST(d.doc_id AS VARCHAR)),1,15))::BIGINT % 1000) < 900 THEN 'val'
                    ELSE 'test' END AS split
        FROM deduped d LEFT JOIN contaminated c ON c.doc_id = d.doc_id
    ),
    released AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_unique,
               CAST(sum(CASE WHEN contam THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
               CAST(sum(CASE WHEN NOT contam THEN 1 ELSE 0 END) AS BIGINT) AS n_released,
               CAST(sum(CASE WHEN NOT contam THEN n_toks ELSE 0 END) AS BIGINT) AS token_sum,
               CAST(count(DISTINCT CASE WHEN NOT contam THEN lang END) AS BIGINT) AS n_langs,
               CAST(sum(CASE WHEN NOT contam AND split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
               CAST(sum(CASE WHEN NOT contam AND split = 'val' THEN 1 ELSE 0 END) AS BIGINT) AS n_val,
               CAST(sum(CASE WHEN NOT contam AND split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS n_test
        FROM marked GROUP BY source
    )
    SELECT r.source, r.n_raw, ng.n_gated, rel.n_unique, rel.n_contaminated,
           rel.n_released, rel.token_sum, rel.n_langs,
           rel.n_train, rel.n_val, rel.n_test,
           CAST(ng.n_gated AS DOUBLE) / r.n_raw AS gate_pass_rate,
           CAST(rel.n_unique AS DOUBLE) / ng.n_gated AS unique_rate
    FROM raw r JOIN ng USING (source) JOIN released rel USING (source)
    """,
)
def q500(spark: SparkSession, sf: str) -> DataFrame:
    """QUERY 500 — the per-source pipeline scorecard: raw counts →
    quality-gate pass rate → exact-dedup survivors → decontamination
    removals → released docs/tokens/langs/split mix, all in ONE
    relation whose ENTIRE chain (regex quality rules, dedup tie-breaks,
    3-gram contamination, md5 split hashing, per-source rollup) replays
    in SQL — the corpus release card a 100 TB curation run prints,
    composing pipeline.curate_corpus + decontaminate end to end."""
    from .operators.dedup import dedup_exact
    from .operators.pipeline import decontaminate, hash_split
    from .operators.text import token_count

    d = load_table(spark, sf, "documents").where(F.col("text").isNotNull())
    raw = d.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n_raw"))
    # ONE Gopher-flag evaluation shared by the gate count and the
    # curation chain (round 6: the regex rule battery was evaluated
    # twice — once inside curate_corpus, once for n_gated — and the
    # curated relation twice more, once per consumer; the stages below
    # are exactly curate_corpus's verified operators inlined so the
    # shared intermediates can be materialized once)
    from .operators import text as tx

    gated = (
        tx.gopher_quality_flags(d)
        .where(F.col("r_word_count") & F.col("r_mean_word_len") & F.col("r_alpha"))
        .localCheckpoint(eager=True)
    )
    cur = hash_split(
        dedup_exact(gated.select(*d.columns), "text", "doc_id"),
        "doc_id",
        {"train": 0.8, "val": 0.1, "test": 0.1},
        hash_kind="md5",
    ).localCheckpoint(eager=True)
    ng = gated.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n_gated"))
    bench = d.where((F.col("doc_id") % 101 == 0)).select(
        F.substring("text", 1, 120).alias("text")
    )
    cont = decontaminate(cur, bench, "text", "doc_id", n=3, min_hits=8).select("doc_id")
    marked = cur.join(
        cont.withColumn("__c__", F.lit(1)), on="doc_id", how="left"
    ).withColumn("contam", F.col("__c__").isNotNull()).withColumn(
        "n_toks", token_count(F.col("text"))
    )
    keep = ~F.col("contam")
    rel = marked.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_unique"),
        F.sum(F.col("contam").cast("long")).cast("long").alias("n_contaminated"),
        F.sum(keep.cast("long")).cast("long").alias("n_released"),
        F.sum(F.when(keep, F.col("n_toks")).otherwise(0)).cast("long").alias("token_sum"),
        F.countDistinct(F.when(keep, F.col("lang"))).cast("long").alias("n_langs"),
        F.sum((keep & (F.col("split") == "train")).cast("long")).cast("long").alias("n_train"),
        F.sum((keep & (F.col("split") == "val")).cast("long")).cast("long").alias("n_val"),
        F.sum((keep & (F.col("split") == "test")).cast("long")).cast("long").alias("n_test"),
    )
    j = raw.join(ng, on="source").join(rel, on="source")
    return j.select(
        "source", "n_raw", "n_gated", "n_unique", "n_contaminated",
        "n_released", "token_sum", "n_langs", "n_train", "n_val", "n_test",
        (F.col("n_gated") / F.col("n_raw")).alias("gate_pass_rate"),
        (F.col("n_unique") / F.col("n_gated")).alias("unique_rate"),
    )


# ------------------------------------------------------------------ q501
@query(
    "q501_wilson_ranking",
    """
    WITH f AS (
        SELECT user_id % 40 AS item,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN CAST(round(value * 100) AS BIGINT) % 3 = 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS pos
        FROM events GROUP BY 1
    ),
    sc AS (
        SELECT item, n, pos,
               (CAST(pos AS DOUBLE) / n
                + CAST('1.9208' AS DOUBLE) / n
                - CAST('1.96' AS DOUBLE)
                  * sqrt((CAST(pos AS DOUBLE) / n) * (1 - CAST(pos AS DOUBLE) / n) / n
                         + CAST('0.9604' AS DOUBLE) / (n * n)))
               / (1 + CAST('3.8416' AS DOUBLE) / n) AS wilson_lb
        FROM f WHERE n > 0
    )
    SELECT item, n, pos, wilson_lb,
           CAST(row_number() OVER (ORDER BY wilson_lb DESC, item) AS BIGINT) AS rank
    FROM sc
    """,
)
def q501(spark: SparkSession, sf: str) -> DataFrame:
    """Wilson-lower-bound ranking (the "how not to sort by average
    rating" fix): items ordered by the 95% Wilson interval's lower
    bound — all constants shipped as STRING literals (z=1.96, z²,
    z²/2, z⁴/4), the formula one fixed tree over exact counts, ranking
    deterministic with an item tie-break (native composition beside
    proportion_ci q235)."""
    ev = load_table(spark, sf, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    f = ev.groupBy((F.col("user_id") % 40).alias("item")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((cents % 3 == 0).cast("long")).cast("long").alias("pos"),
    )
    p = F.col("pos").cast("double") / F.col("n")
    n = F.col("n")
    z, z2, z2h, z4q = F.lit(1.96), F.lit(3.8416), F.lit(1.9208), F.lit(0.9604)
    lb = (p + z2h / n - z * F.sqrt(p * (1 - p) / n + z4q / (n * n))) / (1 + z2 / n)
    sc = f.where(n > 0).withColumn("wilson_lb", lb)
    w = Window.orderBy(F.col("wilson_lb").desc(), "item")
    return sc.withColumn("rank", F.row_number().over(w).cast("long"))


# ------------------------------------------------------------------ q502
@query(
    "q502_bayes_rating",
    """
    WITH f AS (
        SELECT user_id % 40 AS item,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum((CAST(round(value * 100) AS BIGINT) % 5) + 1) AS BIGINT) AS rating_sum
        FROM events GROUP BY 1
    ),
    prior AS (
        SELECT CAST(sum(rating_sum) AS BIGINT) AS gs, CAST(sum(n) AS BIGINT) AS gn FROM f
    )
    SELECT f.item, f.n, f.rating_sum,
           CAST(f.rating_sum AS DOUBLE) / f.n AS raw_mean,
           CAST(20 * p.gs + f.rating_sum * p.gn AS DOUBLE)
             / (p.gn * (20 + f.n)) AS bayes_mean
    FROM f, prior p
    """,
)
def q502(spark: SparkSession, sf: str) -> DataFrame:
    """Bayesian-average rating with prior strength C=20 toward the
    global mean: the IMDb-style shrinkage (C·μ + Σx)/(C + n) kept as
    ONE divide of exact integer cross-products (μ never materializes —
    the target_encode exact-mode discipline)."""
    ev = load_table(spark, sf, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    f = ev.groupBy((F.col("user_id") % 40).alias("item")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((cents % 5) + 1).cast("long").alias("rating_sum"),
    )
    prior = f.agg(
        F.sum("rating_sum").cast("long").alias("gs"), F.sum("n").cast("long").alias("gn")
    )
    j = f.crossJoin(F.broadcast(prior))
    return j.select(
        "item", "n", "rating_sum",
        (F.col("rating_sum") / F.col("n")).alias("raw_mean"),
        ((20 * F.col("gs") + F.col("rating_sum") * F.col("gn"))
         / (F.col("gn") * (20 + F.col("n")))).alias("bayes_mean"),
    )


# ------------------------------------------------------------------ q503
@query(
    "q503_rand_ari",
    """
    WITH f AS (
        SELECT label AS t, vec_id % 7 AS p FROM embeddings
    ),
    cont AS (SELECT t, p, CAST(count(*) AS BIGINT) AS nij FROM f GROUP BY 1, 2),
    rows_ AS (SELECT t, CAST(sum(nij) AS BIGINT) AS ai FROM cont GROUP BY t),
    cols_ AS (SELECT p, CAST(sum(nij) AS BIGINT) AS bj FROM cont GROUP BY p),
    tot AS (SELECT CAST(sum(nij) AS BIGINT) AS n FROM cont),
    sums AS (
        SELECT (SELECT CAST(sum(nij * (nij - 1) // 2) AS BIGINT) FROM cont) AS s_ij,
               (SELECT CAST(sum(ai * (ai - 1) // 2) AS BIGINT) FROM rows_) AS s_a,
               (SELECT CAST(sum(bj * (bj - 1) // 2) AS BIGINT) FROM cols_) AS s_b,
               (SELECT CAST(n * (n - 1) // 2 AS BIGINT) FROM tot) AS s_n
    )
    SELECT s_ij, s_a, s_b, s_n,
           CAST(s_n + 2 * s_ij - s_a - s_b AS DOUBLE) / s_n AS rand_index,
           CAST(s_ij * s_n - s_a * s_b AS DOUBLE)
             / ((s_a + s_b) * s_n // 2 - s_a * s_b) AS ari
    FROM sums
    """,
)
def q503(spark: SparkSession, sf: str) -> DataFrame:
    """Rand index and Adjusted Rand Index between the embedding labels
    and a synthetic clustering: pure pair-counting — every term a
    C(n,2)-style exact BIGINT, RI and ARI single divides of integer
    cross-products (the clustering-eval counterpart of q308's pair
    eval; no per-item float average exists)."""
    e = load_table(spark, sf, "embeddings")
    f = e.select(F.col("label").alias("t"), (F.col("vec_id") % 7).alias("p"))
    cont = f.groupBy("t", "p").agg(F.count(F.lit(1)).cast("long").alias("nij"))
    s_ij = cont.agg(F.sum(F.col("nij") * (F.col("nij") - 1) / 2).cast("long").alias("s_ij"))
    rows_ = cont.groupBy("t").agg(F.sum("nij").cast("long").alias("ai"))
    cols_ = cont.groupBy("p").agg(F.sum("nij").cast("long").alias("bj"))
    s_a = rows_.agg(F.sum(F.col("ai") * (F.col("ai") - 1) / 2).cast("long").alias("s_a"))
    s_b = cols_.agg(F.sum(F.col("bj") * (F.col("bj") - 1) / 2).cast("long").alias("s_b"))
    s_n = cont.agg((F.sum("nij") * (F.sum("nij") - 1) / 2).cast("long").alias("s_n"))
    j = s_ij.crossJoin(s_a).crossJoin(s_b).crossJoin(s_n)
    return j.select(
        "s_ij", "s_a", "s_b", "s_n",
        ((F.col("s_n") + 2 * F.col("s_ij") - F.col("s_a") - F.col("s_b")) / F.col("s_n"))
        .alias("rand_index"),
        ((F.col("s_ij") * F.col("s_n") - F.col("s_a") * F.col("s_b"))
         / (F.floor((F.col("s_a") + F.col("s_b")) * F.col("s_n") / 2).cast("long")
            - F.col("s_a") * F.col("s_b")))
        .alias("ari"),
    )


# ------------------------------------------------------------------ q504
@query(
    "q504_symspell_suggest",
    r"""
    WITH toks AS (
        SELECT unnest(list_filter(
                   string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
                   x -> length(x) >= 4)) AS w
        FROM documents WHERE text IS NOT NULL
    ),
    vocab AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY w),
    vkeys AS (
        SELECT w, cnt, unnest(list_append(
            list_transform(generate_series(1, length(w)),
                           i -> substr(w, 1, i - 1) || substr(w, i + 1, 100)), w)) AS k
        FROM vocab
    ),
    queries AS (
        SELECT w AS orig,
               substr(w, 1, (ascii(w) % length(w))) ||
               substr(w, (ascii(w) % length(w)) + 2, 100) AS q
        FROM vocab
        WHERE length(w) >= 6 AND (ascii(w) + length(w)) % 7 = 0
    ),
    qkeys AS (
        SELECT orig, q, unnest(list_append(
            list_transform(generate_series(1, length(q)),
                           i -> substr(q, 1, i - 1) || substr(q, i + 1, 100)), q)) AS k
        FROM queries
    ),
    cand AS (
        SELECT DISTINCT qk.orig, qk.q, vk.w, vk.cnt
        FROM qkeys qk JOIN vkeys vk USING (k)
    ),
    verified AS (
        SELECT orig, q, w, cnt, levenshtein(q, w) AS lev
        FROM cand WHERE levenshtein(q, w) <= 1
    )
    SELECT orig, q, w AS suggestion, cnt, CAST(lev AS BIGINT) AS lev FROM (
        SELECT orig, q, w, cnt, lev,
               row_number() OVER (PARTITION BY q ORDER BY lev, cnt DESC, w) AS rn
        FROM verified
    ) WHERE rn = 1
    """,
)
def q504(spark: SparkSession, sf: str) -> DataFrame:
    """SymSpell-style spelling correction: vocabulary words index THEIR
    1-deletion variants; deterministically corrupted query tokens look
    up candidates by DELETE-KEY EQUI-JOIN (never a levenshtein cross
    product — the 100 TB trick), then an exact edit-distance ≤1 verify
    and a (distance, frequency, word) ranking pick the suggestion —
    both engines share identical levenshtein semantics (native
    composition; the lexical sibling of fuzzy_join)."""
    from .operators.dedup import normalize_text

    d = load_table(spark, sf, "documents").where(F.col("text").isNotNull())
    toks = F.filter(
        F.split(normalize_text(F.col("text")), " "), lambda x: F.length(x) >= 4
    )
    vocab = d.select(F.explode(toks).alias("w")).groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )

    vkeys = vocab.select(
        "w", "cnt",
        F.explode(
            F.concat(
                F.expr("transform(sequence(1, length(w)), i -> concat(substr(w, 1, i - 1), substr(w, i + 1, 100)))"),
                F.array(F.col("w")),
            )
        ).alias("k"),
    )
    queries = vocab.where(
        (F.length("w") >= 6) & ((F.ascii("w") + F.length("w")) % 7 == 0)
    ).select(
        F.col("w").alias("orig"),
        F.expr("concat(substr(w, 1, ascii(w) % length(w)), substr(w, ascii(w) % length(w) + 2, 100))").alias("q"),
    )
    qkeys = queries.select(
        "orig", "q",
        F.explode(
            F.concat(
                F.expr("transform(sequence(1, length(q)), i -> concat(substr(q, 1, i - 1), substr(q, i + 1, 100)))"),
                F.array(F.col("q")),
            )
        ).alias("k"),
    )
    cand = qkeys.join(vkeys, on="k").select("orig", "q", "w", "cnt").distinct()
    verified = cand.withColumn("lev", F.levenshtein("q", "w")).where(F.col("lev") <= 1)
    w = Window.partitionBy("q").orderBy("lev", F.col("cnt").desc(), "w")
    return verified.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1).select(
        "orig", "q", F.col("w").alias("suggestion"), "cnt", F.col("lev").cast("long").alias("lev")
    )


# ------------------------------------------------------------------ q505
@query(
    "q505_lob_match",
    # Full SQL replay: with unit quantities every arrival causes at most
    # one fill, so the book advances one order per recursive-CTE
    # iteration carrying both sides as price-time-SORTED struct lists
    # (insert = filter-split on price, since seq is strictly increasing;
    # pop = head drop) — all-integer, bit-identical to the heap scan.
    # Partial fills / multi-fill sweeps stay pytest-pinned
    # (tests/test_batch19_ops.py hand cases).
    """
    WITH RECURSIVE o AS (
        SELECT CAST(user_id AS VARCHAR) AS sym,
               CASE WHEN event_id % 2 = 0 THEN 'B' ELSE 'S' END AS side,
               CAST(round(value * 100) AS BIGINT) % 20 + 90 AS px,
               event_id AS id,
               CAST(row_number() OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS BIGINT) AS t
        FROM events
    ),
    st AS (
        SELECT sym, CAST(0 AS BIGINT) AS t,
               CAST([] AS STRUCT(np BIGINT, sq BIGINT, id BIGINT)[]) AS bids,
               CAST([] AS STRUCT(p BIGINT, sq BIGINT, id BIGINT)[]) AS asks,
               CAST(NULL AS BIGINT) AS buy_id, CAST(NULL AS BIGINT) AS sell_id,
               CAST(NULL AS BIGINT) AS price
        FROM (SELECT DISTINCT sym FROM o)
        UNION ALL
        SELECT sym, t,
               CASE WHEN side = 'B' AND matched THEN bids
                    WHEN side = 'B' THEN
                        list_concat(list_concat(
                            list_filter(bids, x -> x.np <= -px),
                            [{'np': -px, 'sq': t, 'id': id}]),
                            list_filter(bids, x -> x.np > -px))
                    WHEN matched THEN bids[2:]
                    ELSE bids END AS bids,
               CASE WHEN side = 'S' AND matched THEN asks
                    WHEN side = 'S' THEN
                        list_concat(list_concat(
                            list_filter(asks, x -> x.p <= px),
                            [{'p': px, 'sq': t, 'id': id}]),
                            list_filter(asks, x -> x.p > px))
                    WHEN matched THEN asks[2:]
                    ELSE asks END AS asks,
               CASE WHEN matched AND side = 'B' THEN id
                    WHEN matched THEN bb_id END AS buy_id,
               CASE WHEN matched AND side = 'S' THEN id
                    WHEN matched THEN ba_id END AS sell_id,
               CASE WHEN matched AND side = 'B' THEN ba_p
                    WHEN matched THEN bb_p END AS price
        FROM (
            SELECT s.sym, ord.t, ord.side, ord.px, ord.id, s.bids, s.asks,
                   CASE WHEN len(s.asks) > 0 THEN s.asks[1].p END AS ba_p,
                   CASE WHEN len(s.asks) > 0 THEN s.asks[1].id END AS ba_id,
                   CASE WHEN len(s.bids) > 0 THEN -s.bids[1].np END AS bb_p,
                   CASE WHEN len(s.bids) > 0 THEN s.bids[1].id END AS bb_id,
                   CASE WHEN ord.side = 'B'
                        THEN len(s.asks) > 0 AND s.asks[1].p <= ord.px
                        ELSE len(s.bids) > 0 AND -s.bids[1].np >= ord.px
                   END AS matched
            FROM st s JOIN o ord ON ord.sym = s.sym AND ord.t = s.t + 1
        )
    )
    SELECT sym, buy_id, sell_id, price, CAST(1 AS BIGINT) AS qty, t AS seq
    FROM st WHERE buy_id IS NOT NULL
    """,
)
def q505(spark: SparkSession, sf: str) -> DataFrame:
    """Limit-order-book replay per symbol (operators/finance.lob_match):
    synthetic unit-quantity buy/sell flow from events (one symbol per
    user bounds orders per book) matched under price-time priority,
    integer prices — the exact trade tape, hash-checked against a
    sorted-list recursive-SQL book replay."""
    from .operators import finance as fin

    ev = load_table(spark, sf, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    o = ev.select(
        F.col("user_id").cast("string").alias("sym"),
        "ts", "event_id",
        F.when(F.col("event_id") % 2 == 0, "B").otherwise("S").alias("side"),
        (cents % 20 + 90).alias("px"),
        F.lit(1).alias("qty"),
    )
    return fin.lob_match(o, "sym", ["ts", "event_id"], "side", "px", "qty", "event_id")


# ------------------------------------------------------------------ q506
@query(
    "q506_pert_estimate",
    """
    WITH daily AS (
        SELECT event_type, CAST(floor(epoch(ts) / 86400.0) AS BIGINT) AS day,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    )
    SELECT event_type,
           CAST(min(n) AS BIGINT) AS optimistic,
           median(n) AS most_likely,
           CAST(max(n) AS BIGINT) AS pessimistic,
           (min(n) + 4 * median(n) + max(n)) / 6 AS pert_estimate,
           CAST(max(n) - min(n) AS DOUBLE) / 6 AS pert_sd
    FROM daily GROUP BY event_type
    """,
)
def q506(spark: SparkSession, sf: str) -> DataFrame:
    """Three-point PERT estimate of daily volume per event type:
    (optimistic + 4·mode + pessimistic)/6 with the beta-approximation
    σ = range/6 — min/max exact integers, the median an exact
    half-integer, the estimate one fixed tree (native composition)."""
    ev = load_table(spark, sf, "events")
    daily = ev.groupBy(
        "event_type",
        F.floor(F.unix_seconds(F.col("ts")) / 86400).cast("long").alias("day"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    return daily.groupBy("event_type").agg(
        F.min("n").cast("long").alias("optimistic"),
        F.median("n").alias("most_likely"),
        F.max("n").cast("long").alias("pessimistic"),
        ((F.min("n") + 4 * F.median("n") + F.max("n")) / 6).alias("pert_estimate"),
        ((F.max("n") - F.min("n")).cast("double") / 6).alias("pert_sd"),
    )


# ------------------------------------------------------------------ q507
@query(
    "q507_budget_projection",
    """
    WITH bounds AS (
        SELECT CAST(min(floor(epoch(ts) / 86400.0)) AS BIGINT) AS d0,
               CAST(max(floor(epoch(ts) / 86400.0)) AS BIGINT) AS d1
        FROM events
    ),
    spend AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN CAST(round(value * 100) AS BIGINT) % 50 = 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS errors
        FROM events GROUP BY event_type
    )
    SELECT s.event_type, s.n, s.errors,
           b.d1 - b.d0 + 1 AS days_elapsed,
           CAST(s.errors * 30 AS DOUBLE) / (b.d1 - b.d0 + 1) AS projected_30d_errors,
           s.errors * 30 * 100 > 2 * s.n * 30 AS projected_over_budget
    FROM spend s, bounds b
    """,
)
def q507(spark: SparkSession, sf: str) -> DataFrame:
    """Error-budget projection: linear extrapolation of the observed
    error count to a 30-day window (exact integer cross-products; the
    over-budget test never builds a float rate) — the month-end
    forecast an SRE posts mid-cycle (native composition beside
    sla_burn/sla_credits)."""
    ev = load_table(spark, sf, "events")
    day = F.floor(F.unix_seconds(F.col("ts")) / 86400).cast("long")
    bounds = ev.agg(F.min(day).alias("d0"), F.max(day).alias("d1"))
    cents = F.round(F.col("value") * 100).cast("long")
    spend = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((cents % 50 == 0).cast("long")).cast("long").alias("errors"),
    )
    j = spend.crossJoin(F.broadcast(bounds))
    days = F.col("d1") - F.col("d0") + 1
    return j.select(
        "event_type", "n", "errors", days.alias("days_elapsed"),
        ((F.col("errors") * 30) / days).alias("projected_30d_errors"),
        (F.col("errors") * 30 * 100 > 2 * F.col("n") * 30).alias("projected_over_budget"),
    )


# ------------------------------------------------------------------ q508
@query(
    "q508_eoq_plan",
    """
    WITH d AS (
        SELECT p.p_brand,
               CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS demand,
               max(CAST(round(p.p_retailprice * 100) AS BIGINT)) AS unit_cost_cents
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY p.p_brand
    )
    SELECT p_brand, demand, unit_cost_cents,
           sqrt((1000000 * demand) / (20 * unit_cost_cents)) AS eoq_units,
           (CAST(365 AS DOUBLE) * sqrt((1000000 * demand) / (20 * unit_cost_cents))) / demand
               AS order_cycle_days,
           demand / sqrt((1000000 * demand) / (20 * unit_cost_cents)) AS orders_per_period
    FROM d
    """,
)
def q508(spark: SparkSession, sf: str) -> DataFrame:
    """Economic order quantity per brand (operators/finance.eoq_plan):
    EOQ = √(2DS/H) with exact-integer demand and cent costs — the
    radicand is one BIGINT ratio, so the single sqrt is engine-
    identical; cycle stats reuse the same operands in a fixed tree."""
    from .operators import finance as fin

    li = load_table(spark, sf, "lineitem").select("l_partkey", "l_quantity")
    pt = load_table(spark, sf, "part").select(
        "p_partkey", "p_brand",
        F.round(F.col("p_retailprice") * 100).cast("long").alias("cost_cents"),
    )
    d = li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
    return fin.eoq_plan(d, ["p_brand"], "l_quantity", "cost_cents",
                        order_cost_cents=5000, holding_rate_pct=20, period_days=365)


# ------------------------------------------------------------------ q509
@query(
    "q509_beacon_detect",
    """
    WITH pts AS (
        SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t, event_id FROM events
        UNION ALL
        SELECT -1, 1700000000 + i * 60, i FROM range(400) r(i)
    ),
    g AS (
        SELECT user_id,
               t - lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS gap
        FROM pts
    ),
    gc AS (
        SELECT user_id, gap, CAST(count(*) AS BIGINT) AS cnt
        FROM g WHERE gap IS NOT NULL GROUP BY 1, 2
    ),
    a AS (
        SELECT user_id,
               CAST(sum(cnt) AS BIGINT) AS n_gaps,
               CAST(sum(gap * cnt) AS BIGINT) AS span_s,
               sum(CAST(gap AS HUGEINT) * gap * cnt) AS g2,
               max(cnt * 4294967296 + (2147483647 - gap)) AS pk
        FROM gc GROUP BY 1
    )
    SELECT user_id, n_gaps, span_s,
           span_s / n_gaps AS mean_gap_s,
           CAST(2147483647 - pk % 4294967296 AS BIGINT) AS modal_gap_s,
           CAST(pk // 4294967296 AS BIGINT) AS modal_count,
           n_gaps >= 10 AND CAST(100 AS HUGEINT) * n_gaps * g2
                            < CAST(101 AS HUGEINT) * span_s * span_s AS is_beacon
    FROM a
    """,
)
def q509(spark: SparkSession, sf: str) -> DataFrame:
    """C2-beacon detection (operators/mining.beacon_detect): whole-
    second inter-arrival gaps per user, exact cross-multiplied CV
    test, packed-argmax modal gap; a synthesized 60-second timer user
    (id −1) guarantees a true beacon in the result."""
    from .operators.mining import beacon_detect

    ev = load_table(spark, sf, "events").select("user_id", "ts", "event_id")
    timer = spark.range(400).select(
        F.lit(-1).cast("long").alias("user_id"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id") * 60).alias("ts"),
        F.col("id").alias("event_id"),
    )
    pts = ev.unionByName(timer)
    return beacon_detect(pts, ["user_id"], "ts", "event_id",
                         cv_num=1, cv_den=10, min_gaps=10)


# ------------------------------------------------------------------ q510
def _fog_oracle() -> str:
    from .operators.text import FOG_W

    return rf"""
    WITH w AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                           x -> len(x) > 0) AS words,
               greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sentences
        FROM documents
    ),
    c AS (
        SELECT doc_id,
               CAST(len(words) AS BIGINT) AS n_words,
               CAST(n_sentences AS BIGINT) AS n_sentences,
               CAST(len(list_filter(words,
                        x -> len(regexp_extract_all(x, '[aeiouy]+')) >= 3)) AS BIGINT)
                   AS n_complex
        FROM w
    )
    SELECT doc_id, n_words, n_sentences, n_complex,
           CASE WHEN n_words > 0 THEN
               CAST('{FOG_W!r}' AS DOUBLE)
               * (n_words / n_sentences + CAST(100 AS DOUBLE) * (n_complex / n_words))
           END AS fog
    FROM c
    """


@query("q510_gunning_fog", _fog_oracle())
def q510(spark: SparkSession, sf: str) -> DataFrame:
    """Gunning fog readability per document (operators/text.gunning_fog):
    exact integer word/sentence/complex-word counts via codegen lambda
    filters, score as a fixed float tree on identical operands."""
    from .operators.text import gunning_fog

    d = load_table(spark, sf, "documents")
    return gunning_fog(d)


# ------------------------------------------------------------------ q511
@query(
    "q511_p_chart",
    """
    WITH base AS (
        SELECT event_type,
               CAST(floor(epoch(ts) / 86400.0) AS BIGINT) AS subgroup,
               CASE WHEN CAST(round(value * 100) AS BIGINT) % 50 = 0
                    THEN 1 ELSE 0 END AS defect
        FROM events
    ),
    counts AS (
        SELECT event_type, subgroup,
               CAST(count(*) AS BIGINT) AS n, CAST(sum(defect) AS BIGINT) AS x
        FROM base GROUP BY 1, 2
    ),
    pooled AS (
        SELECT event_type, CAST(sum(n) AS BIGINT) AS total_n,
               CAST(sum(x) AS BIGINT) AS total_x
        FROM counts GROUP BY 1
    )
    SELECT c.event_type, c.subgroup, c.n, c.x, p.total_n, p.total_x,
           c.x / c.n AS p_hat,
           p.total_x / p.total_n AS p_bar,
           CAST(c.x * p.total_n - c.n * p.total_x AS HUGEINT)
               * CAST(c.x * p.total_n - c.n * p.total_x AS HUGEINT)
               > CAST(9 * c.n * p.total_x * (p.total_n - p.total_x) AS HUGEINT)
             AND c.x * p.total_n - c.n * p.total_x > 0 AS out_high,
           CAST(c.x * p.total_n - c.n * p.total_x AS HUGEINT)
               * CAST(c.x * p.total_n - c.n * p.total_x AS HUGEINT)
               > CAST(9 * c.n * p.total_x * (p.total_n - p.total_x) AS HUGEINT)
             AND c.x * p.total_n - c.n * p.total_x < 0 AS out_low
    FROM counts c JOIN pooled p ON c.event_type = p.event_type
    """,
)
def q511(spark: SparkSession, sf: str) -> DataFrame:
    """Proportion p-chart (operators/window.p_chart): daily defect
    rates per event type against the pooled baseline, flags via exact
    DECIMAL cross-multiplication — a rate can never sit ON a limit."""
    from .operators.window import p_chart

    ev = load_table(spark, sf, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    base = ev.select(
        "event_type",
        F.floor(F.unix_seconds(F.col("ts")) / 86400).cast("long").alias("day"),
        (cents % 50 == 0).cast("long").alias("defect"),
    )
    return p_chart(base, ["event_type"], "day", "defect", sigmas=3)


# ------------------------------------------------------------------ q512
@query(
    "q512_stochastic_kd",
    """
    WITH p AS (
        SELECT user_id, ts, event_id, CAST(round(value * 100) AS BIGINT) AS px
        FROM events WHERE user_id % 20 = 0
    ),
    w AS (
        SELECT user_id, ts, event_id, px,
               max(px) OVER win AS hh, min(px) OVER win AS ll,
               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM p
        WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    ),
    k AS (
        SELECT user_id, ts, event_id, hh, ll,
               CASE WHEN rn >= 14 AND hh > ll THEN px - ll END AS n0,
               CASE WHEN rn >= 14 AND hh > ll THEN hh - ll END AS d0
        FROM w
    ),
    l AS (
        SELECT user_id, ts, event_id, hh, ll, n0, d0,
               lag(n0, 1) OVER win2 AS n1, lag(d0, 1) OVER win2 AS d1,
               lag(n0, 2) OVER win2 AS n2, lag(d0, 2) OVER win2 AS d2
        FROM k
        WINDOW win2 AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, ts, event_id, hh, ll,
           CAST(100 AS DOUBLE) * (n0 / d0) AS pct_k,
           (CAST(100 AS DOUBLE) * (n0 / d0 + n1 / d1 + n2 / d2)) / CAST(3 AS DOUBLE)
               AS pct_d
    FROM l
    """,
)
def q512(spark: SparkSession, sf: str) -> DataFrame:
    """Stochastic oscillator %K/%D (operators/finance.stochastic_kd):
    rolling integer-cents HH/LL extremes (exact under any fold), %K one
    divide, %D rebuilt from lagged integer pairs as a fixed expression
    tree — never a float window sum."""
    from .operators.finance import stochastic_kd

    ev = load_table(spark, sf, "events").where(F.col("user_id") % 20 == 0)
    p = ev.select(
        "user_id", "ts", "event_id",
        F.round(F.col("value") * 100).cast("long").alias("px"),
    )
    return stochastic_kd(p, ["user_id"], "px", ["ts", "event_id"], k_window=14)


# ------------------------------------------------------------------ q513
@query(
    "q513_rsi_cutler",
    """
    WITH p AS (
        SELECT user_id, ts, event_id, CAST(round(value * 100) AS BIGINT) AS px
        FROM events WHERE user_id % 20 = 0
    ),
    d AS (
        SELECT user_id, ts, event_id,
               px - lag(px) OVER win AS diff,
               row_number() OVER win AS rn
        FROM p WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    r AS (
        SELECT user_id, ts, event_id, rn,
               CAST(sum(CASE WHEN diff > 0 THEN diff ELSE 0 END) OVER win2 AS BIGINT) AS g,
               CAST(sum(CASE WHEN diff < 0 THEN -diff ELSE 0 END) OVER win2 AS BIGINT) AS lo
        FROM d
        WINDOW win2 AS (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, ts, event_id,
           CASE WHEN rn >= 15 THEN g END AS gain_sum,
           CASE WHEN rn >= 15 THEN lo END AS loss_sum,
           CASE WHEN rn >= 15 AND g + lo > 0 THEN (100 * g) / (g + lo) END AS rsi
    FROM r
    """,
)
def q513(spark: SparkSession, sf: str) -> DataFrame:
    """Cutler-form RSI (operators/finance.rsi_cutler): trailing
    integer-cent gain/loss sums (fold-order-free) and one divide —
    the bit-exact sibling of Wilder's EMA form."""
    from .operators.finance import rsi_cutler

    ev = load_table(spark, sf, "events").where(F.col("user_id") % 20 == 0)
    p = ev.select(
        "user_id", "ts", "event_id",
        F.round(F.col("value") * 100).cast("long").alias("px"),
    )
    return rsi_cutler(p, ["user_id"], "px", ["ts", "event_id"], period=14)


# ------------------------------------------------------------------ q514
@query(
    "q514_newsvendor",
    """
    WITH daily AS (
        SELECT p.p_brand, l.l_shipdate AS day,
               CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS q
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT p_brand, q,
               row_number() OVER (PARTITION BY p_brand ORDER BY q, day) AS rn,
               CAST(count(*) OVER (PARTITION BY p_brand) AS BIGINT) AS n_periods
        FROM daily
    )
    SELECT p_brand, n_periods,
           (3 * n_periods + 3) // 4 AS pick_rank,
           q AS stock_level,
           3 / CAST(4 AS BIGINT) AS service_target,
           ((3 * n_periods + 3) // 4) / n_periods AS achieved_service
    FROM ranked WHERE rn = (3 * n_periods + 3) // 4
    """,
)
def q514(spark: SparkSession, sf: str) -> DataFrame:
    """Newsvendor optimal stock per brand (operators/finance.
    newsvendor_stock): the ⌈CR·n⌉-th smallest daily demand at critical
    ratio 3/4 — exact integer ceil-division rank selection, total
    order under demand ties."""
    from .operators.finance import newsvendor_stock

    li = load_table(spark, sf, "lineitem").select("l_partkey", "l_shipdate", "l_quantity")
    pt = load_table(spark, sf, "part").select("p_partkey", "p_brand")
    daily = (
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .groupBy("p_brand", F.col("l_shipdate").alias("day"))
        .agg(F.sum(F.col("l_quantity").cast("long")).cast("long").alias("q"))
    )
    return newsvendor_stock(daily, ["p_brand"], "q", "day", cu=3, co=1)


# ------------------------------------------------------------------ q515
@query(
    "q515_clustering_coefficient",
    """
    WITH base AS (
        SELECT doc_id % 200 AS s, (doc_id * 7 + 3) % 200 AS d FROM documents
        WHERE doc_id % 200 != (doc_id * 7 + 3) % 200
    ),
    e AS (SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b FROM base),
    bothdir AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
    deg AS (SELECT u, CAST(count(*) AS BIGINT) AS degree FROM bothdir GROUP BY u),
    tri AS (
        SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM e e1 JOIN e e2 ON e2.a = e1.b
                  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    tn AS (
        SELECT u, CAST(count(*) AS BIGINT) AS n_triangles FROM (
            SELECT unnest([x, y, z]) AS u FROM tri
        ) GROUP BY u
    )
    SELECT deg.u AS node, degree,
           CAST(COALESCE(tn.n_triangles, 0) AS BIGINT) AS n_triangles,
           CASE WHEN degree >= 2
                THEN (2 * COALESCE(tn.n_triangles, 0)) / (degree * (degree - 1))
           END AS clustering
    FROM deg LEFT JOIN tn ON tn.u = deg.u
    """,
)
def q515(spark: SparkSession, sf: str) -> DataFrame:
    """Local clustering coefficient over the q471 document graph
    (operators/graph.clustering_coefficient): canonical-orientation
    triangle enumeration exploded to corners, cc = 2T/(d(d−1)) as one
    exact-integer divide."""
    from .operators.graph import clustering_coefficient

    d = load_table(spark, sf, "documents")
    base = d.select(
        (F.col("doc_id") % 200).alias("src"),
        ((F.col("doc_id") * 7 + 3) % 200).alias("dst"),
    ).where(F.col("src") != F.col("dst"))
    return clustering_coefficient(base)


# ------------------------------------------------------------------ q516
@query(
    "q516_fellegi_sunter",
    """
    WITH p AS (
        SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
               a.c_nationkey = b.c_nationkey AS same_nation,
               a.c_mktsegment = b.c_mktsegment AS same_segment,
               floor(a.c_acctbal / 1000.0) = floor(b.c_acctbal / 1000.0) AS same_bal_band,
               (a.c_acctbal >= 0) = (b.c_acctbal >= 0) AS same_bal_sign
        FROM customer a JOIN customer b ON a.c_custkey + 1 = b.c_custkey
    ),
    s AS (
        SELECT *,
               CAST(CASE WHEN coalesce(same_nation, false) THEN 225 ELSE 25 END AS BIGINT)
               * (CASE WHEN coalesce(same_segment, false) THEN 45 ELSE 5 END)
               * (CASE WHEN coalesce(same_bal_band, false) THEN 380 ELSE 20 END)
               * (CASE WHEN coalesce(same_bal_sign, false) THEN 98 ELSE 2 END) AS fs_num,
               CAST(CASE WHEN coalesce(same_nation, false) THEN 10 ELSE 240 END AS BIGINT)
               * (CASE WHEN coalesce(same_segment, false) THEN 10 ELSE 40 END)
               * (CASE WHEN coalesce(same_bal_band, false) THEN 20 ELSE 380 END)
               * (CASE WHEN coalesce(same_bal_sign, false) THEN 50 ELSE 50 END) AS fs_den
        FROM p
    )
    SELECT id_a, id_b, same_nation, same_segment, same_bal_band, same_bal_sign,
           fs_num, fs_den, fs_num / fs_den AS fs_weight,
           fs_num * 1 > fs_den * 2 AS is_match
    FROM s
    """,
)
def q516(spark: SparkSession, sf: str) -> DataFrame:
    """Fellegi–Sunter record-linkage scoring over consecutive customer
    pairs (operators/dedup.fellegi_sunter): rational m/u likelihood
    ratios accumulate as exact integer products, one divide for the
    weight, cross-multiplied match decision — no log-odds floats."""
    from .operators.dedup import fellegi_sunter

    c = load_table(spark, sf, "customer")
    a = c.select(*[F.col(x).alias(f"a_{x}") for x in c.columns])
    b = c.select(*[F.col(x).alias(f"b_{x}") for x in c.columns])
    pairs = a.join(b, F.col("a_c_custkey") + 1 == F.col("b_c_custkey")).select(
        F.col("a_c_custkey").alias("id_a"),
        F.col("b_c_custkey").alias("id_b"),
        (F.col("a_c_nationkey") == F.col("b_c_nationkey")).alias("same_nation"),
        (F.col("a_c_mktsegment") == F.col("b_c_mktsegment")).alias("same_segment"),
        (F.floor(F.col("a_c_acctbal") / 1000.0) == F.floor(F.col("b_c_acctbal") / 1000.0)).alias("same_bal_band"),
        ((F.col("a_c_acctbal") >= 0) == (F.col("b_c_acctbal") >= 0)).alias("same_bal_sign"),
    )
    return fellegi_sunter(
        pairs,
        [
            ("same_nation", (9, 10), (1, 25)),
            ("same_segment", (9, 10), (1, 5)),
            ("same_bal_band", (19, 20), (1, 20)),
            ("same_bal_sign", (49, 50), (1, 2)),
        ],
        threshold=(2, 1),
    )


# ------------------------------------------------------------------ q517
@query(
    "q517_vocab_growth",
    r"""
    WITH tok AS (
        SELECT doc_id,
               unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                                  x -> len(x) > 0)) AS t
        FROM documents
    ),
    totals AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens FROM tok GROUP BY 1),
    firsts AS (
        SELECT fid AS doc_id, CAST(count(*) AS BIGINT) AS n_new FROM (
            SELECT t, min(doc_id) AS fid FROM tok GROUP BY t
        ) GROUP BY 1
    ),
    per AS (
        SELECT totals.doc_id, n_tokens,
               CAST(COALESCE(n_new, 0) AS BIGINT) AS n_new_tokens
        FROM totals LEFT JOIN firsts ON firsts.doc_id = totals.doc_id
    )
    SELECT doc_id, n_tokens, n_new_tokens,
           CAST(sum(n_tokens) OVER w AS BIGINT) AS cum_tokens,
           CAST(sum(n_new_tokens) OVER w AS BIGINT) AS cum_vocab
    FROM per WINDOW w AS (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
    """,
)
def q517(spark: SparkSession, sf: str) -> DataFrame:
    """Heaps-law vocabulary growth (operators/text.vocab_growth):
    running distinct-vocab size via the first-occurrence decomposition,
    cumulative sums over the aggregated per-document relation — exact
    integer window sums."""
    from .operators.text import vocab_growth

    d = load_table(spark, sf, "documents")
    return vocab_growth(d)


# ------------------------------------------------------------------ q518
@query(
    "q518_dispersion_index",
    """
    WITH c AS (
        SELECT event_type, CAST(floor(epoch(ts) / 86400.0) AS BIGINT) AS b,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    a AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_buckets,
               CAST(sum(c) AS BIGINT) AS total,
               CAST(sum(c * c) AS BIGINT) AS q
        FROM c GROUP BY 1
    )
    SELECT event_type, n_buckets, total,
           total / n_buckets AS mean_count,
           (n_buckets * q - total * total) / (n_buckets * total) AS fano,
           n_buckets * q - total * total > n_buckets * total AS overdispersed
    FROM a
    """,
)
def q518(spark: SparkSession, sf: str) -> DataFrame:
    """Fano-factor burstiness of daily event counts per type
    (operators/profile.dispersion_index): Var/Mean as one divide of
    exact BIGINT moments; the overdispersion flag never builds a float
    limit."""
    from .operators.profile import dispersion_index

    ev = load_table(spark, sf, "events")
    return dispersion_index(ev, ["event_type"], "ts", bucket_seconds=86400)


# ------------------------------------------------------------------ q519
@query(
    "q519_rake_keywords",
    r"""
    WITH seg AS (
        SELECT doc_id, unnest(regexp_split_to_array(
            regexp_replace(regexp_replace(lower(text), '[^a-z ]+', '|', 'g'),
                           '\b(?:the|and|of|to|in|a|is|that|it|for)\b', '|', 'g'),
            '\|')) AS s
        FROM documents WHERE doc_id < 200
    ),
    pz AS (
        SELECT doc_id, ws, len(ws) AS plen, array_to_string(ws, ' ') AS phrase
        FROM (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(trim(s), ' +'), w -> len(w) > 0) AS ws
            FROM seg
        ) WHERE len(ws) BETWEEN 1 AND 4
    ),
    wx AS (
        SELECT doc_id, phrase, plen, i, ws[i] AS w
        FROM pz, unnest(generate_series(1, len(ws))) AS t(i)
    ),
    stats AS (
        SELECT w, CAST(count(*) AS BIGINT) AS freq, CAST(sum(plen) AS BIGINT) AS deg
        FROM wx GROUP BY w
    ),
    sc AS (
        SELECT doc_id, phrase,
               CAST(max(plen) AS BIGINT) AS n_words,
               list_reduce([CAST(0 AS DOUBLE)] || list(deg / freq ORDER BY i),
                           (a, b) -> a + b) AS score
        FROM (SELECT DISTINCT doc_id, phrase, plen, i, w FROM wx) d
        JOIN stats USING (w)
        GROUP BY doc_id, phrase
    )
    SELECT doc_id, phrase, n_words, score, CAST(r AS BIGINT) AS "rank"
    FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                       ORDER BY score DESC, phrase) AS r
          FROM sc)
    WHERE r <= 5
    """,
)
def q519(spark: SparkSession, sf: str) -> DataFrame:
    """RAKE keyword extraction (operators/text.rake_keywords): stopword-
    delimited candidate phrases scored by Σ deg(w)/freq(w) — exact
    integer corpus stats, one divide per word, position-ordered left
    fold per phrase (never a hash-agg float sum), top-5 per doc."""
    from .operators.text import rake_keywords

    d = load_table(spark, sf, "documents").where(F.col("doc_id") < 200)
    return rake_keywords(d, top_k=5, max_phrase_len=4)


# ------------------------------------------------------------------ q520
@query(
    "q520_interval_join",
    """
    WITH base AS (
        SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS s
        FROM events WHERE user_id % 5 = 0
    ),
    l AS (SELECT user_id, event_id AS lid, s, s + event_id % 20000 + 1000 AS e
          FROM base WHERE event_id % 2 = 0),
    r AS (SELECT user_id, event_id AS rid, s, s + event_id % 20000 + 1000 AS e
          FROM base WHERE event_id % 2 = 1)
    SELECT l.user_id,
           l.lid AS l_lid, l.s AS l_s, l.e AS l_e,
           r.rid AS r_rid, r.s AS r_s, r.e AS r_e,
           CAST(least(l.e, r.e) - greatest(l.s, r.s) AS BIGINT) AS overlap
    FROM l JOIN r ON l.user_id = r.user_id AND l.s < r.e AND r.s < l.e
    """,
)
def q520(spark: SparkSession, sf: str) -> DataFrame:
    """Interval-overlap join on synthetic per-user activity intervals
    (operators/merge.interval_join): grid-cell equi-join candidates,
    exact report-once claim on the overlap-start cell, integer residual
    predicate — never a nested loop; the oracle is the plain non-equi
    SQL."""
    from .operators.merge import interval_join

    ev = load_table(spark, sf, "events").where(F.col("user_id") % 5 == 0)
    base = ev.select(
        "user_id", "event_id", F.unix_seconds(F.col("ts")).alias("s")
    ).withColumn("e", F.col("s") + F.col("event_id") % 20000 + 1000)
    left = base.where(F.col("event_id") % 2 == 0).select(
        "user_id", F.col("event_id").alias("lid"), "s", "e"
    )
    right = base.where(F.col("event_id") % 2 == 1).select(
        "user_id", F.col("event_id").alias("rid"), "s", "e"
    )
    return interval_join(left, right, "s", "e", "s", "e",
                         bucket_width=16384, by=["user_id"])


# ------------------------------------------------------------------ q521
@query(
    "q521_yules_k",
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
               CAST(sum(c) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS n_types,
               CAST(sum(c * c) AS BIGINT) AS sum_f2
        FROM tc GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(g.n, 0) AS n_tokens,
           coalesce(g.n_types, 0) AS n_types,
           coalesce(g.sum_f2, 0) AS sum_f2,
           CASE WHEN g.n >= 2 THEN (10000 * (g.sum_f2 - g.n)) / (g.n * g.n) END AS yules_k,
           CASE WHEN g.n >= 2 THEN (g.sum_f2 - g.n) / (g.n * (g.n - 1)) END AS simpson
    FROM documents d LEFT JOIN g ON g.doc_id = d.doc_id
    """,
)
def q521(spark: SparkSession, sf: str) -> DataFrame:
    """Yule's K + Simpson repeat rate per document (operators/text.
    yules_k): Σf² folds horizontally over the sorted token array (zero
    shuffle — the whole statistic is a projection), one exact-integer
    divide each; the oracle takes the explode-and-count route."""
    from .operators.text import yules_k

    d = load_table(spark, sf, "documents")
    return yules_k(d)


# ------------------------------------------------------------------ q522
@query(
    "q522_grubbs",
    """
    WITH v AS (
        SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c FROM events
    ),
    m AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(c) AS BIGINT) AS s, CAST(sum(c * c) AS BIGINT) AS q
        FROM v GROUP BY 1
    ),
    d AS (
        SELECT v.event_type, v.c, abs(v.c * m.n - m.s) AS dev, m.n, m.s, m.q
        FROM v JOIN m ON m.event_type = v.event_type
    ),
    r AS (
        SELECT *, row_number() OVER (PARTITION BY event_type
                                     ORDER BY dev DESC, c DESC) AS rn
        FROM d
    )
    SELECT event_type, n,
           s / n AS mean,
           CASE WHEN n >= 2 THEN sqrt((n * q - s * s) / (n * (n - 1))) END AS stddev,
           c AS suspect_scaled,
           CASE WHEN n >= 2 AND n * q - s * s > 0
                THEN (dev / n) / sqrt((n * q - s * s) / (n * (n - 1))) END AS g_stat
    FROM r WHERE rn = 1
    """,
)
def q522(spark: SparkSession, sf: str) -> DataFrame:
    """Grubbs outlier statistic per event type (operators/profile.
    grubbs_stat): exact-BIGINT deviations |x·n − S| with fold-free max,
    G as a fixed float tree over exact operands — the single-most-
    outlying value and its test statistic."""
    from .operators.profile import grubbs_stat

    ev = load_table(spark, sf, "events").select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("c")
    )
    return grubbs_stat(ev, ["event_type"], "c")


# ------------------------------------------------------------------ q523
@query(
    "q523_durbin_watson",
    """
    WITH v AS (
        SELECT user_id, ts, event_id, CAST(round(value * 100) AS BIGINT) AS c
        FROM events WHERE user_id % 20 = 0
    ),
    d AS (
        SELECT user_id, c,
               c - lag(c) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dx
        FROM v
    ),
    a AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(c) AS BIGINT) AS s, CAST(sum(c * c) AS BIGINT) AS q,
               CAST(coalesce(sum(dx * dx), 0) AS BIGINT) AS sum_sq_diff
        FROM d GROUP BY 1
    )
    SELECT user_id, n, sum_sq_diff,
           CASE WHEN n * q - s * s > 0
                THEN (n * sum_sq_diff) / (n * q - s * s) END AS dw
    FROM a
    """,
)
def q523(spark: SparkSession, sf: str) -> DataFrame:
    """Durbin–Watson autocorrelation statistic per user (operators/
    window.durbin_watson): n·Σ(Δx)²/(n·Q−S²) as ONE divide of exact
    BIGINTs — white noise ≈ 2, trending < 2."""
    from .operators.window import durbin_watson

    ev = load_table(spark, sf, "events").where(F.col("user_id") % 20 == 0)
    v = ev.select(
        "user_id", "ts", "event_id",
        F.round(F.col("value") * 100).cast("long").alias("c"),
    )
    return durbin_watson(v, ["user_id"], "c", ["ts", "event_id"])


# ------------------------------------------------------------------ q524
@query(
    "q524_runs_test",
    """
    WITH v AS (
        SELECT user_id, ts, event_id, CAST(round(value * 100) AS BIGINT) AS c
        FROM events WHERE user_id % 20 = 0
    ),
    m AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS cnt, CAST(sum(c) AS BIGINT) AS s
        FROM v GROUP BY 1
    ),
    sg AS (
        SELECT v.user_id, v.ts, v.event_id,
               CASE WHEN v.c * m.cnt > m.s THEN 1
                    WHEN v.c * m.cnt < m.s THEN -1 END AS sgn
        FROM v JOIN m ON m.user_id = v.user_id
    ),
    t AS (
        SELECT user_id, sgn,
               CASE WHEN lag(sgn) OVER w IS NULL THEN 1
                    WHEN sgn != lag(sgn) OVER w THEN 1 ELSE 0 END AS new_run
        FROM sg WHERE sgn IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    a AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_signs,
               CAST(sum(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_plus,
               CAST(sum(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_minus,
               CAST(sum(new_run) AS BIGINT) AS runs
        FROM t GROUP BY 1
    )
    SELECT user_id, n_signs, n_plus, n_minus, runs,
           CASE WHEN n_signs >= 2 AND n_plus > 0 AND n_minus > 0
                     AND (2 * n_plus * n_minus) * (2 * n_plus * n_minus - n_signs) > 0
                THEN (runs - (CAST(1 AS DOUBLE) + (2 * n_plus * n_minus) / n_signs))
                     / sqrt(((2 * n_plus * n_minus) * (2 * n_plus * n_minus - n_signs))
                            / (n_signs * n_signs * (n_signs - 1))) END AS z
    FROM a
    """,
)
def q524(spark: SparkSession, sf: str) -> DataFrame:
    """Wald–Wolfowitz runs test about the mean per user (operators/
    window.runs_test): exact cross-product sign classification (never
    ON the mean), integer run counts, z as a fixed float tree."""
    from .operators.window import runs_test

    ev = load_table(spark, sf, "events").where(F.col("user_id") % 20 == 0)
    v = ev.select(
        "user_id", "ts", "event_id",
        F.round(F.col("value") * 100).cast("long").alias("c"),
    )
    return runs_test(v, ["user_id"], "c", ["ts", "event_id"])


# ------------------------------------------------------------------ q525
@query(
    "q525_mcnemar",
    """
    WITH p AS (
        SELECT event_type,
               (CAST(round(value * 100) AS BIGINT) % 7 < 3) AS t,
               (CAST(round(value * 100) AS BIGINT) % 7 < 2) AS a,
               ((CAST(round(value * 100) AS BIGINT) + 3) % 7 < 3) AS b
        FROM events
    ),
    g AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN a = t AND NOT (b = t) THEN 1 ELSE 0 END) AS BIGINT) AS b_only_a,
               CAST(sum(CASE WHEN NOT (a = t) AND b = t THEN 1 ELSE 0 END) AS BIGINT) AS c_only_b
        FROM p GROUP BY 1
    )
    SELECT event_type, n, b_only_a, c_only_b,
           CASE WHEN b_only_a + c_only_b > 0
                THEN ((abs(b_only_a - c_only_b) - 1) * (abs(b_only_a - c_only_b) - 1))
                     / (b_only_a + c_only_b) END AS chi2
    FROM g
    """,
)
def q525(spark: SparkSession, sf: str) -> DataFrame:
    """McNemar paired classifier comparison per event type (functions/
    stats.mcnemar_test): exact integer discordant counts from one fused
    conditional agg, continuity-corrected χ² as one divide."""
    from .functions.stats import mcnemar_test

    ev = load_table(spark, sf, "events")
    m = F.round(F.col("value") * 100).cast("long") % 7
    p = ev.select(
        "event_type",
        (m < 3).alias("t"),
        (m < 2).alias("a"),
        ((F.round(F.col("value") * 100).cast("long") + 3) % 7 < 3).alias("b"),
    )
    return mcnemar_test(p, ["event_type"], "t", "a", "b", continuity=True)


# ------------------------------------------------------------------ q526
@query(
    "q526_fleiss_kappa",
    """
    WITH r AS (
        SELECT doc_id % 7 AS g, doc_id, (doc_id * 7 + 0) % 4 AS cat FROM documents
        UNION ALL SELECT doc_id % 7, doc_id, (doc_id * 11 + 1) % 4 FROM documents
        UNION ALL SELECT doc_id % 7, doc_id, (doc_id * 13 + 2) % 4 FROM documents
    ),
    cnt AS (SELECT g, doc_id, cat, CAST(count(*) AS BIGINT) AS c FROM r GROUP BY 1, 2, 3),
    pk AS (SELECT g, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_items,
                  CAST(sum(c * c) AS BIGINT) AS ss FROM cnt GROUP BY 1),
    cj AS (SELECT g, cat, CAST(sum(c) AS BIGINT) AS cj FROM cnt GROUP BY 1, 2),
    cb AS (SELECT g, CAST(sum(cj * cj) AS BIGINT) AS cb FROM cj GROUP BY 1)
    SELECT pk.g, n_items, CAST(3 AS BIGINT) AS n_raters,
           (ss - n_items * 3) / (n_items * 3 * (3 - 1)) AS p_bar,
           cb / ((n_items * 3) * (n_items * 3)) AS p_e,
           CASE WHEN cb / ((n_items * 3) * (n_items * 3)) < 1
                THEN ((ss - n_items * 3) / (n_items * 3 * (3 - 1))
                      - cb / ((n_items * 3) * (n_items * 3)))
                     / (CAST(1 AS DOUBLE) - cb / ((n_items * 3) * (n_items * 3))) END AS kappa
    FROM pk JOIN cb ON cb.g = pk.g
    """,
)
def q526(spark: SparkSession, sf: str) -> DataFrame:
    """Fleiss' kappa over three synthesized raters of the documents
    table (functions/stats.fleiss_kappa): P̄ and Pₑ each ONE divide of
    exact BIGINT moments (identical denominators inside each sum), κ a
    fixed float tree."""
    from .functions.stats import fleiss_kappa

    d = load_table(spark, sf, "documents").select("doc_id")
    parts = []
    for j, p in enumerate([7, 11, 13]):
        parts.append(
            d.select(
                (F.col("doc_id") % 7).alias("g"),
                "doc_id",
                ((F.col("doc_id") * p + j) % 4).alias("cat"),
            )
        )
    ratings = parts[0].unionByName(parts[1]).unionByName(parts[2])
    return fleiss_kappa(ratings, ["g"], "doc_id", "cat", n_raters=3)


# ------------------------------------------------------------------ q527
@query(
    "q527_gower_distance",
    """
    WITH p AS (
        SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
               CAST(round(a.c_acctbal * 100) AS BIGINT) AS a_bal,
               CAST(round(b.c_acctbal * 100) AS BIGINT) AS b_bal,
               a.c_nationkey AS a_nat, b.c_nationkey AS b_nat,
               a.c_mktsegment AS a_seg, b.c_mktsegment AS b_seg
        FROM customer a JOIN customer b ON a.c_custkey + 1 = b.c_custkey
    )
    SELECT id_a, id_b, a_bal, b_bal, a_nat, b_nat, a_seg, b_seg,
           least(abs(a_bal - b_bal) / 1100000, CAST(1 AS DOUBLE)) AS d_a_bal,
           CAST(a_nat != b_nat AS DOUBLE) AS d_a_nat,
           CAST(a_seg != b_seg AS DOUBLE) AS d_a_seg,
           ((least(abs(a_bal - b_bal) / 1100000, CAST(1 AS DOUBLE))
             + CAST(a_nat != b_nat AS DOUBLE))
            + CAST(a_seg != b_seg AS DOUBLE)) / CAST(3 AS DOUBLE) AS gower
    FROM p
    """,
)
def q527(spark: SparkSession, sf: str) -> DataFrame:
    """Gower mixed-type distance over consecutive customer pairs
    (operators/dedup.gower_distance): integer-scaled numeric term (one
    divide against a literal range), 0/1 categorical mismatches, fixed
    float-tree mean — the ER distance beside Fellegi–Sunter."""
    from .operators.dedup import gower_distance

    c = load_table(spark, sf, "customer")
    a = c.select(*[F.col(x).alias(f"a_{x}") for x in c.columns])
    b = c.select(*[F.col(x).alias(f"b_{x}") for x in c.columns])
    pairs = a.join(b, F.col("a_c_custkey") + 1 == F.col("b_c_custkey")).select(
        F.col("a_c_custkey").alias("id_a"),
        F.col("b_c_custkey").alias("id_b"),
        F.round(F.col("a_c_acctbal") * 100).cast("long").alias("a_bal"),
        F.round(F.col("b_c_acctbal") * 100).cast("long").alias("b_bal"),
        F.col("a_c_nationkey").alias("a_nat"),
        F.col("b_c_nationkey").alias("b_nat"),
        F.col("a_c_mktsegment").alias("a_seg"),
        F.col("b_c_mktsegment").alias("b_seg"),
    )
    return gower_distance(
        pairs,
        numeric_fields=[("a_bal", "b_bal", 1100000)],
        categorical_fields=[("a_nat", "b_nat"), ("a_seg", "b_seg")],
    )


# ------------------------------------------------------------------ q528
@query(
    "q528_prr_signal",
    """
    WITH g AS (
        SELECT event_type,
               CAST(sum(CASE WHEN CAST(round(value * 100) AS BIGINT) % 10 = 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS a,
               CAST(sum(CASE WHEN CAST(round(value * 100) AS BIGINT) % 10 = 0
                             THEN 0 ELSE 1 END) AS BIGINT) AS b
        FROM events GROUP BY 1
    ),
    t AS (SELECT CAST(sum(a) AS BIGINT) AS ta, CAST(sum(b) AS BIGINT) AS tb FROM g)
    SELECT g.event_type, g.a, g.b,
           t.ta - g.a AS c, t.tb - g.b AS d,
           CASE WHEN t.ta - g.a > 0
                THEN (g.a * ((t.ta - g.a) + (t.tb - g.b)))
                     / ((g.a + g.b) * (t.ta - g.a)) END AS prr,
           CASE WHEN g.b > 0 AND t.ta - g.a > 0
                THEN (g.a * (t.tb - g.b)) / (g.b * (t.ta - g.a)) END AS ror
    FROM g, t
    """,
)
def q528(spark: SparkSession, sf: str) -> DataFrame:
    """Proportional reporting ratio + reporting odds ratio per event
    type (operators/profile.prr_signal): the pharmacovigilance 2×2 as
    exact BIGINT cross-products, PRR/ROR one divide each."""
    from .operators.profile import prr_signal

    ev = load_table(spark, sf, "events")
    flag = F.round(F.col("value") * 100).cast("long") % 10 == 0
    return prr_signal(ev.select("event_type", flag.alias("f")), "event_type", "f")


# ------------------------------------------------------------------ q529
@query(
    "q529_nb_overdispersion",
    """
    WITH c AS (
        SELECT event_type, CAST(floor(epoch(ts) / 86400.0) AS BIGINT) AS b,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    a AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_buckets,
               CAST(sum(c) AS BIGINT) AS total,
               CAST(sum(c * c) AS BIGINT) AS q
        FROM c GROUP BY 1
    )
    SELECT event_type, n_buckets, total,
           total / n_buckets AS mean_count,
           CASE WHEN total > 0
                THEN (n_buckets * q - total * total - n_buckets * total)
                     / (total * total) END AS alpha
    FROM a
    """,
)
def q529(spark: SparkSession, sf: str) -> DataFrame:
    """Negative-binomial overdispersion α by method of moments per
    event type (operators/profile.nb_overdispersion):
    (nQ−S²−nS)/S² as one exact divide — the Poisson-vs-NB model
    dial next to q518's Fano factor."""
    from .operators.profile import nb_overdispersion

    ev = load_table(spark, sf, "events")
    return nb_overdispersion(ev, ["event_type"], "ts", bucket_seconds=86400)


# ------------------------------------------------------------------ q530
@query(
    "q530_bitemporal_asof",
    """
    WITH ch AS (
        SELECT user_id, event_id, event_type,
               CAST(round(value * 100) AS BIGINT) AS cents,
               epoch_us(ts) AS valid_us,
               epoch_us(ts) + (event_id % 1000) * 1000000 AS tx_us
        FROM events
    ),
    q AS (
        SELECT *, row_number() OVER (PARTITION BY user_id
                                     ORDER BY valid_us DESC, event_id DESC) AS rn
        FROM ch
        WHERE valid_us <= 1705276800000000 AND tx_us <= 1705277300000000
    )
    SELECT user_id, valid_us, tx_us, event_id, event_type, cents
    FROM q WHERE rn = 1
    """,
)
def q530(spark: SparkSession, sf: str) -> DataFrame:
    """Bitemporal as-of lookup: the latest VALID-time version of each
    user's state among changes already RECORDED by transaction time T
    (late arrivals excluded exactly) — per-user packed-struct argmax
    over exact µs bounds, no join (the scd2_build axis discipline)."""
    ev = load_table(spark, sf, "events")
    v_us = F.unix_micros(F.col("ts"))
    ch = ev.select(
        "user_id", "event_id", "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        v_us.alias("valid_us"),
        (v_us + (F.col("event_id") % 1000) * 1000000).alias("tx_us"),
    )
    V, T = 1705276800000000, 1705277300000000
    qual = ch.where((F.col("valid_us") <= V) & (F.col("tx_us") <= T))
    packed = F.struct(
        F.col("valid_us"), F.col("event_id"), F.col("tx_us"),
        F.col("event_type"), F.col("cents"),
    )
    top = qual.groupBy("user_id").agg(F.max(packed).alias("__p__"))
    return top.select(
        "user_id",
        F.col("__p__.valid_us").alias("valid_us"),
        F.col("__p__.tx_us").alias("tx_us"),
        F.col("__p__.event_id").alias("event_id"),
        F.col("__p__.event_type").alias("event_type"),
        F.col("__p__.cents").alias("cents"),
    )


