"""Driver-contract query registry, batch 15 (mechanical split of the
round-3 batch-14 file, q531-q587): statistics/econometrics panels,
microstructure and finance composites, calibration audits.  Registers
into the same QUERIES/ORACLES dicts as queries.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .queries import query
from .sources.io import load_table

# ------------------------------------------------------------------ q531
@query(
    "q531_two_prop_z",
    """
    WITH v AS (
        SELECT event_type, user_id % 2 = 0 AS g,
               CAST(round(value * 100) AS BIGINT) % 10 = 0 AS s
        FROM events
    ),
    a AS (
        SELECT event_type,
               CAST(sum(CASE WHEN g THEN 1 ELSE 0 END) AS BIGINT) AS n1,
               CAST(sum(CASE WHEN g AND s THEN 1 ELSE 0 END) AS BIGINT) AS x1,
               CAST(sum(CASE WHEN NOT g THEN 1 ELSE 0 END) AS BIGINT) AS n2,
               CAST(sum(CASE WHEN NOT g AND s THEN 1 ELSE 0 END) AS BIGINT) AS x2
        FROM v GROUP BY 1
    )
    SELECT event_type, n1, x1, n2, x2,
           x1 / n1 AS p1, x2 / n2 AS p2,
           CASE WHEN n1 > 0 AND n2 > 0 AND x1 + x2 > 0 AND x1 + x2 < n1 + n2
                THEN (x1 / n1 - x2 / n2)
                     / sqrt(((x1 + x2) / (n1 + n2)
                             * (CAST(1 AS DOUBLE) - (x1 + x2) / (n1 + n2)))
                            * ((n1 + n2) / (n1 * n2))) END AS z
    FROM a
    """,
)
def q531(spark: SparkSession, sf: str) -> DataFrame:
    """Two-proportion z-test per event type on a synthetic A/B split
    (functions/stats.two_prop_z): exact integer arm counts from one
    fused agg, z as a fixed float tree — the A/B readout primitive."""
    from .functions.stats import two_prop_z

    ev = load_table(spark, sf, "events")
    v = ev.select(
        "event_type",
        (F.col("user_id") % 2 == 0).alias("g"),
        (F.round(F.col("value") * 100).cast("long") % 10 == 0).alias("s"),
    )
    return two_prop_z(v, ["event_type"], "g", "s")


# ------------------------------------------------------------------ q532
def _sample_size_oracle() -> str:
    from .functions.stats import Z_ALPHA_05, Z_BETA_80

    return f"""
    WITH a AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_obs,
               CAST(sum(CASE WHEN CAST(round(value * 100) AS BIGINT) % 10 = 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS x
        FROM events GROUP BY 1
    ),
    g AS (SELECT a.*, unnest([1, 2, 5]) AS mde_pp FROM a),
    c AS (
        SELECT event_type, n_obs, CAST(mde_pp AS BIGINT) AS mde_pp,
               x / n_obs AS p1,
               x / n_obs + mde_pp / CAST(100 AS DOUBLE) AS p2
        FROM g
    )
    SELECT event_type, n_obs, p1 AS baseline, mde_pp,
           CASE WHEN p2 < 1 THEN CAST(floor(
               ((CAST('{Z_ALPHA_05!r}' AS DOUBLE) + CAST('{Z_BETA_80!r}' AS DOUBLE))
                * (CAST('{Z_ALPHA_05!r}' AS DOUBLE) + CAST('{Z_BETA_80!r}' AS DOUBLE)))
               * (p1 * (CAST(1 AS DOUBLE) - p1) + p2 * (CAST(1 AS DOUBLE) - p2))
               / ((p2 - p1) * (p2 - p1))) AS BIGINT) + 1 END AS required_n
    FROM c
    """


@query("q532_sample_size_plan", _sample_size_oracle())
def q532(spark: SparkSession, sf: str) -> DataFrame:
    """Experiment sample-size planner per event type (functions/stats.
    sample_size_plan): observed baseline rate × literal MDE grid,
    required per-arm n as floor(formula)+1 — a fixed float tree over
    exact ratios with the z-quantiles shipped as identical string
    literals."""
    from .functions.stats import sample_size_plan

    ev = load_table(spark, sf, "events")
    v = ev.select(
        "event_type",
        (F.round(F.col("value") * 100).cast("long") % 10 == 0).alias("s"),
    )
    return sample_size_plan(v, ["event_type"], "s", mdes_pp=[1, 2, 5])


# ------------------------------------------------------------------ q533
def _cramers_oracle() -> str:
    cats = ["click", "error", "purchase", "signup", "view"]
    xs = []
    for i, c in enumerate(cats):
        xs.append(
            f"CAST(sum(CASE WHEN event_type = '{c}' AND f THEN 1 ELSE 0 END) AS BIGINT) AS x{i},\n"
            f"               CAST(sum(CASE WHEN event_type = '{c}' AND NOT f THEN 1 ELSE 0 END) AS BIGINT) AS y{i}"
        )
    c1 = " + ".join(f"x{i}" for i in range(5))
    c2 = " + ".join(f"y{i}" for i in range(5))
    cells = []
    for i in range(5):
        ra = f"(x{i} + y{i})"
        d1 = f"CAST(x{i} * n - {ra} * c1 AS DOUBLE)"
        d2 = f"CAST(y{i} * n - {ra} * c2 AS DOUBLE)"
        t1 = f"(CASE WHEN {ra} > 0 THEN ({d1} * {d1}) / (n * {ra} * c1) ELSE CAST(0 AS DOUBLE) END)"
        t2 = f"(CASE WHEN {ra} > 0 THEN ({d2} * {d2}) / (n * {ra} * c2) ELSE CAST(0 AS DOUBLE) END)"
        cells.append(f"({t1} + {t2})")
    chi = cells[0]
    for cell in cells[1:]:
        chi = f"({chi} + {cell})"
    return f"""
    WITH v AS (
        SELECT event_type, CAST(round(value * 100) AS BIGINT) % 10 = 0 AS f FROM events
    ),
    a AS (
        SELECT {", ".join(xs)}
        FROM v
    ),
    m AS (SELECT *, ({c1}) AS c1, ({c2}) AS c2, ({c1}) + ({c2}) AS n FROM a)
    SELECT CAST(n AS BIGINT) AS n, {chi} AS chi2, CAST(4 AS BIGINT) AS dof,
           sqrt({chi} / n) AS cramers_v
    FROM m
    """


@query("q533_cramers_v", _cramers_oracle())
def q533(spark: SparkSession, sf: str) -> DataFrame:
    """Chi-square independence + Cramér's V for event_type × value-flag
    (functions/stats.cramers_v): 5×2 cells as ONE fused conditional
    agg, per-cell terms summed in literal order as a fixed expression
    tree (dev² in DOUBLE — the q200 widening rule), V = √(χ²/N)."""
    from .functions.stats import cramers_v

    ev = load_table(spark, sf, "events")
    v = ev.select(
        "event_type",
        (F.round(F.col("value") * 100).cast("long") % 10 == 0).alias("f"),
    )
    return cramers_v(v, "event_type", "f",
                     ["click", "error", "purchase", "signup", "view"])


# ------------------------------------------------------------------ q534
def _geohash_oracle(precision: int = 5) -> str:
    total = 5 * precision
    lon_bits = (total + 1) // 2
    lat_bits = total // 2
    xq = (f"least(greatest(CAST(floor(((lon + CAST(180 AS DOUBLE)) / CAST(360 AS DOUBLE))"
          f" * CAST({1 << lon_bits} AS DOUBLE)) AS BIGINT), 0), {(1 << lon_bits) - 1})")
    yq = (f"least(greatest(CAST(floor(((lat + CAST(90 AS DOUBLE)) / CAST(180 AS DOUBLE))"
          f" * CAST({1 << lat_bits} AS DOUBLE)) AS BIGINT), 0), {(1 << lat_bits) - 1})")
    terms = []
    xi, yi = lon_bits - 1, lat_bits - 1
    for pos in range(total - 1, -1, -1):
        if (total - 1 - pos) % 2 == 0:
            terms.append(f"(((x >> {xi}) & 1) << {pos})")
            xi -= 1
        else:
            terms.append(f"(((y >> {yi}) & 1) << {pos})")
            yi -= 1
    code = " + ".join(terms)
    chars = []
    for c in range(precision):
        sh = total - 5 * (c + 1)
        chars.append(
            f"substr('0123456789bcdefghjkmnpqrstuvwxyz', CAST((code >> {sh}) & 31 AS INT) + 1, 1)"
        )
    gh = " || ".join(chars)
    return f"""
    WITH pts AS (
        SELECT (CAST(round(value * 100) AS BIGINT) % 18000) / CAST(100 AS DOUBLE)
                   - CAST(90 AS DOUBLE) AS lat,
               (event_id % 36000) / CAST(100 AS DOUBLE) - CAST(180 AS DOUBLE) AS lon
        FROM events
    ),
    q AS (SELECT {xq} AS x, {yq} AS y FROM pts),
    k AS (SELECT {code} AS code FROM q)
    SELECT {gh} AS cell, CAST(count(*) AS BIGINT) AS n
    FROM k GROUP BY 1
    """


@query("q534_geohash_cells", _geohash_oracle(5))
def q534(spark: SparkSession, sf: str) -> DataFrame:
    """Geohash spatial bucketing of synthetic event coordinates
    (operators/geo.geohash_cell): quantize → fixed-tree bit interleave
    → literal base-32 lookup, all integer shifts/masks (no UDF, fully
    codegen); per-cell counts — the standard spatial partition key at
    scale."""
    from .operators.geo import geohash_cell

    ev = load_table(spark, sf, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    pts = ev.select(
        ((cents % 18000) / F.lit(100.0) - F.lit(90.0)).alias("lat"),
        ((F.col("event_id") % 36000) / F.lit(100.0) - F.lit(180.0)).alias("lon"),
    )
    cell = geohash_cell(F.col("lat"), F.col("lon"), precision=5)
    return pts.select(cell.alias("cell")).groupBy("cell").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


# ------------------------------------------------------------------ q535
@query(
    "q535_soundex_blocks",
    """
    WITH w AS (
        SELECT p_partkey, regexp_extract(p_name, '^[A-Za-z]+') AS fw FROM part
    ),
    sx AS (
        SELECT p_partkey, fw,
               upper(regexp_replace(fw, '[^A-Za-z]', '', 'g')) AS u
        FROM w
    ),
    d0 AS (
        SELECT p_partkey, fw, u,
               translate(u, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                            '01230120022455012623010202') AS d
        FROM sx
    ),
    dc AS (
        SELECT p_partkey, fw, u,
               regexp_replace(regexp_replace(regexp_replace(regexp_replace(
               regexp_replace(regexp_replace(regexp_replace(d,
                   '0+', '0', 'g'), '1+', '1', 'g'), '2+', '2', 'g'),
                   '3+', '3', 'g'), '4+', '4', 'g'), '5+', '5', 'g'),
                   '6+', '6', 'g') AS d
        FROM d0
    ),
    code AS (
        SELECT p_partkey, fw,
               substr(u, 1, 1)
               || rpad(substr(replace(substr(d, 2, 999), '0', ''), 1, 3), 3, '0')
                   AS sx_code
        FROM dc
    )
    SELECT sx_code, CAST(count(*) AS BIGINT) AS n_parts,
           CAST(count(DISTINCT fw) AS BIGINT) AS n_words
    FROM code GROUP BY 1
    """,
)
def q535(spark: SparkSession, sf: str) -> DataFrame:
    """Soundex phonetic blocking over part-name first words
    (functions/strings.soundex_simple): translate + global run
    collapse + zero drop, byte-identical cross-engine; per-block sizes
    — the ER blocking-key audit beside snm_pairs."""
    from .functions.strings import soundex_simple

    pt = load_table(spark, sf, "part")
    w = pt.select(
        "p_partkey", F.regexp_extract(F.col("p_name"), "^[A-Za-z]+", 0).alias("fw")
    )
    code = w.select("fw", soundex_simple(F.col("fw")).alias("sx_code"))
    return code.groupBy("sx_code").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.count_distinct(F.col("fw")).cast("long").alias("n_words"),
    )


# ------------------------------------------------------------------ q536
@query(
    "q536_cidr_match",
    """
    WITH ips AS (
        SELECT CASE event_id % 4
                   WHEN 0 THEN 167772160 + 655360 + (event_id * 2654435761) % 65536
                   WHEN 1 THEN 167772160 + 1310720 + (event_id * 2654435761) % 65536
                   WHEN 2 THEN 3232235520 + (event_id * 2654435761) % 512
                   ELSE 3405774848 + (event_id * 2654435761) % 65536
               END AS ip
        FROM events
    ),
    m AS (
        SELECT ip,
               COALESCE(
                   CASE WHEN ip >> 8 = 12625921 THEN 'guest' END,
                   CASE WHEN ip >> 16 = 2570 THEN 'vpn' END,
                   CASE WHEN ip >> 16 = 49320 THEN 'dmz' END,
                   CASE WHEN ip >> 24 = 10 THEN 'corp' END
               ) AS subnet,
               COALESCE(
                   CASE WHEN ip >> 8 = 12625921 THEN 24 END,
                   CASE WHEN ip >> 16 = 2570 THEN 16 END,
                   CASE WHEN ip >> 16 = 49320 THEN 16 END,
                   CASE WHEN ip >> 24 = 10 THEN 8 END
               ) AS prefix_len
        FROM ips
    )
    SELECT subnet, CAST(prefix_len AS BIGINT) AS prefix_len,
           CAST(count(*) AS BIGINT) AS n
    FROM m GROUP BY 1, 2
    """,
)
def q536(spark: SparkSession, sf: str) -> DataFrame:
    """Longest-prefix CIDR enrichment of synthetic IPv4 traffic
    (operators/mining.cidr_match): literal subnet table, exact integer
    shift matching, longest prefix via ordered coalesce — per-subnet
    traffic counts (unmatched → NULL)."""
    from .operators.mining import cidr_match

    ev = load_table(spark, sf, "events")
    low = (F.col("event_id") * 2654435761) % 65536
    ips = ev.select(
        F.when(F.col("event_id") % 4 == 0, F.lit(167772160 + 655360) + low)
        .when(F.col("event_id") % 4 == 1, F.lit(167772160 + 1310720) + low)
        .when(F.col("event_id") % 4 == 2, F.lit(3232235520) + low % 512)
        .otherwise(F.lit(3405774848) + low)
        .alias("ip")
    )
    out = cidr_match(
        ips, "ip",
        [
            ("corp", 10 << 24, 8),            # 10.0.0.0/8
            ("vpn", (10 << 24) + (10 << 16), 16),   # 10.10.0.0/16
            ("dmz", (192 << 24) + (168 << 16), 16), # 192.168.0.0/16
            ("guest", (192 << 24) + (168 << 16) + (1 << 8), 24),  # 192.168.1.0/24
        ],
    )
    return out.groupBy("subnet", "prefix_len").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


# ------------------------------------------------------------------ q537
@query(
    "q537_hampel_filter",
    """
    WITH v AS (
        SELECT user_id, ts, event_id, CAST(round(value * 100) AS BIGINT) AS c
        FROM events WHERE user_id % 20 = 0
    ),
    w AS (
        SELECT user_id, ts, event_id, c,
               list(c) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING) AS wl
        FROM v
    ),
    s AS (
        SELECT user_id, ts, event_id, c, len(wl) AS wn, list_sort(wl) AS ws
        FROM w
    ),
    m AS (
        SELECT *, CAST(ws[6] * 2 AS BIGINT) AS med2_raw FROM s
    ),
    d AS (
        SELECT *, list_sort(list_transform(ws, x -> abs(x * 2 - med2_raw))) AS ds
        FROM m
    )
    SELECT user_id, ts, event_id, c,
           CASE WHEN wn = 11 THEN med2_raw END AS med2,
           CASE WHEN wn = 11 THEN CAST(ds[6] AS BIGINT) END AS mad2,
           CASE WHEN wn = 11 THEN abs(c * 2 - med2_raw) > 3 * ds[6] END AS is_outlier
    FROM d
    """,
)
def q537(spark: SparkSession, sf: str) -> DataFrame:
    """Hampel rolling-median despiking per user (operators/window.
    hampel_filter): centered 11-row window, median and MAD doubled to
    exact half-integers from ONE window collect — the outlier flag is
    a pure BIGINT comparison, never on a float boundary."""
    from .operators.window import hampel_filter

    ev = load_table(spark, sf, "events").where(F.col("user_id") % 20 == 0)
    v = ev.select(
        "user_id", "ts", "event_id",
        F.round(F.col("value") * 100).cast("long").alias("c"),
    )
    return hampel_filter(v, ["user_id"], "c", ["ts", "event_id"],
                         half_window=5, k_scaled=3)


# ------------------------------------------------------------------ q538
@query(
    "q538_triple_rules",
    """
    WITH bi AS (SELECT DISTINCT l_orderkey AS b, l_partkey % 40 AS i FROM lineitem),
    capped AS (
        SELECT b, i FROM (
            SELECT b, i, count(*) OVER (PARTITION BY b) AS bs FROM bi
        ) WHERE bs <= 10
    ),
    nb AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS n FROM capped),
    tr AS (
        SELECT a.i AS x, c.i AS y, d.i AS z, CAST(count(*) AS BIGINT) AS n_triple
        FROM capped a
        JOIN capped c ON a.b = c.b AND a.i < c.i
        JOIN capped d ON c.b = d.b AND c.i < d.i
        GROUP BY 1, 2, 3 HAVING count(*) >= 5
    ),
    pr AS (
        SELECT a.i AS x, c.i AS y, CAST(count(*) AS BIGINT) AS n_pair
        FROM capped a JOIN capped c ON a.b = c.b AND a.i < c.i
        GROUP BY 1, 2
    ),
    it AS (SELECT i, CAST(count(*) AS BIGINT) AS n_conseq FROM capped GROUP BY 1),
    rot AS (
        SELECT x AS ante_a, y AS ante_b, z AS conseq, n_triple FROM tr
        UNION ALL SELECT x, z, y, n_triple FROM tr
        UNION ALL SELECT y, z, x, n_triple FROM tr
    )
    SELECT r.ante_a, r.ante_b, r.conseq, r.n_triple, p.n_pair, it.n_conseq,
           r.n_triple / p.n_pair AS confidence,
           (r.n_triple * nb.n) / (p.n_pair * it.n_conseq) AS lift
    FROM rot r
    JOIN pr p ON p.x = r.ante_a AND p.y = r.ante_b
    JOIN it ON it.i = r.conseq
    CROSS JOIN nb
    """,
)
def q538(spark: SparkSession, sf: str) -> DataFrame:
    """Three-itemset association rules over order baskets of part
    pseudo-categories (operators/mining.triple_rules): canonical
    a<b<c triples via two equi-joins with the mega-basket cap, all
    three rotations scored — confidence and lift one exact divide
    each."""
    from .operators.mining import triple_rules

    li = load_table(spark, sf, "lineitem").select(
        "l_orderkey", (F.col("l_partkey") % 40).alias("cat")
    )
    return triple_rules(li, "l_orderkey", "cat", min_count=5, max_basket=10)


# ------------------------------------------------------------------ q539
@query(
    "q539_reciprocity",
    """
    WITH e AS (
        SELECT DISTINCT doc_id % 200 AS s, (doc_id * 7 + 3) % 200 AS d
        FROM documents
        WHERE doc_id % 200 != (doc_id * 7 + 3) % 200
    ),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS n_mutual
        FROM e WHERE EXISTS (SELECT 1 FROM e r WHERE r.s = e.d AND r.d = e.s)
    ),
    t AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e)
    SELECT t.n_edges, m.n_mutual, m.n_mutual / t.n_edges AS reciprocity
    FROM t, m
    """,
)
def q539(spark: SparkSession, sf: str) -> DataFrame:
    """Reciprocity of the directed q471 document graph
    (operators/graph.reciprocity): reversed-key self-semi-join, one
    exact divide."""
    from .operators.graph import reciprocity

    d = load_table(spark, sf, "documents")
    edges = d.select(
        (F.col("doc_id") % 200).alias("src"),
        ((F.col("doc_id") * 7 + 3) % 200).alias("dst"),
    )
    return reciprocity(edges)


# ------------------------------------------------------------------ q540
@query(
    "q540_security_scorecard",
    """
    WITH ev AS (
        SELECT user_id, ts, event_id FROM events WHERE user_id % 10 = 0
    ),
    -- beacon component (q509 discipline)
    g AS (
        SELECT user_id,
               CAST(floor(epoch(ts)) AS BIGINT)
                   - lag(CAST(floor(epoch(ts)) AS BIGINT))
                     OVER (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id) AS gap
        FROM ev
    ),
    gc AS (SELECT user_id, gap, CAST(count(*) AS BIGINT) AS cnt
           FROM g WHERE gap IS NOT NULL GROUP BY 1, 2),
    bc AS (
        SELECT user_id,
               CAST(sum(cnt) AS BIGINT) AS n_gaps,
               CAST(sum(gap * cnt) AS BIGINT) AS span_s,
               sum(CAST(gap AS HUGEINT) * gap * cnt) AS g2
        FROM gc GROUP BY 1
    ),
    beacon AS (
        SELECT user_id,
               n_gaps >= 10 AND CAST(100 AS HUGEINT) * n_gaps * g2
                                < CAST(101 AS HUGEINT) * span_s * span_s AS is_beacon
        FROM bc
    ),
    -- offnet component (q536 ip synthesis; unmatched = offnet)
    ipm AS (
        SELECT user_id,
               CASE event_id % 4
                   WHEN 0 THEN 167772160 + 655360 + (event_id * 2654435761) % 65536
                   WHEN 1 THEN 167772160 + 1310720 + (event_id * 2654435761) % 65536
                   WHEN 2 THEN 3232235520 + (event_id * 2654435761) % 512
                   ELSE 3405774848 + (event_id * 2654435761) % 65536
               END AS ip
        FROM ev
    ),
    offn AS (
        SELECT user_id,
               CAST(sum(CASE WHEN COALESCE(
                   CASE WHEN ip >> 8 = 12625921 THEN 1 END,
                   CASE WHEN ip >> 16 = 2570 THEN 1 END,
                   CASE WHEN ip >> 16 = 49320 THEN 1 END,
                   CASE WHEN ip >> 24 = 10 THEN 1 END) IS NULL
                   THEN 1 ELSE 0 END) AS BIGINT) AS offnet_events
        FROM ipm GROUP BY 1
    ),
    -- burst component (c-chart cross-mult, daily buckets)
    daily AS (
        SELECT user_id, CAST(floor(epoch(ts) / 86400.0) AS BIGINT) AS b,
               CAST(count(*) AS BIGINT) AS n
        FROM ev GROUP BY 1, 2
    ),
    base AS (
        SELECT user_id, CAST(sum(n) AS BIGINT) AS total,
               CAST(max(b) - min(b) + 1 AS BIGINT) AS span_b
        FROM daily GROUP BY 1
    ),
    burst AS (
        SELECT d.user_id,
               CAST(sum(CASE WHEN d.n * b.span_b - b.total > 0
                             AND (d.n * b.span_b - b.total) * (d.n * b.span_b - b.total)
                                 > 9 * b.total * b.span_b
                             THEN 1 ELSE 0 END) AS BIGINT) AS burst_days
        FROM daily d JOIN base b ON b.user_id = d.user_id
        GROUP BY 1
    ),
    -- night + volume component
    vol AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CASE WHEN CAST(floor(epoch(ts) / 3600.0) AS BIGINT) % 24 < 6
                             THEN 1 ELSE 0 END) AS BIGINT) AS night_events
        FROM ev GROUP BY 1
    ),
    comp AS (
        SELECT v.user_id, v.n_events, v.night_events,
               COALESCE(b.is_beacon, false) AS is_beacon,
               o.offnet_events,
               COALESCE(bu.burst_days, 0) AS burst_days
        FROM vol v
        LEFT JOIN beacon b ON b.user_id = v.user_id
        JOIN offn o ON o.user_id = v.user_id
        LEFT JOIN burst bu ON bu.user_id = v.user_id
    )
    SELECT user_id, n_events, is_beacon, offnet_events,
           CAST(burst_days AS BIGINT) AS burst_days, night_events,
           CAST(CASE WHEN is_beacon THEN 3 ELSE 0 END
                + CASE WHEN offnet_events * 5 > n_events THEN 2 ELSE 0 END
                + CASE WHEN burst_days > 0 THEN 2 ELSE 0 END
                + CASE WHEN night_events * 4 > n_events THEN 1 ELSE 0 END AS BIGINT)
               AS risk_score,
           CASE WHEN (CASE WHEN is_beacon THEN 3 ELSE 0 END
                      + CASE WHEN offnet_events * 5 > n_events THEN 2 ELSE 0 END
                      + CASE WHEN burst_days > 0 THEN 2 ELSE 0 END
                      + CASE WHEN night_events * 4 > n_events THEN 1 ELSE 0 END) >= 5
                THEN 'high'
                WHEN (CASE WHEN is_beacon THEN 3 ELSE 0 END
                      + CASE WHEN offnet_events * 5 > n_events THEN 2 ELSE 0 END
                      + CASE WHEN burst_days > 0 THEN 2 ELSE 0 END
                      + CASE WHEN night_events * 4 > n_events THEN 1 ELSE 0 END) >= 3
                THEN 'medium' ELSE 'low' END AS tier
    FROM comp
    """,
)
def q540(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user security-posture scorecard — the SOC capstone composing
    FOUR engine operators over one user subset: beacon_detect (timer
    C2), cidr_match off-network share, c_chart burst days, and a
    night-hours profile, fused into an integer risk score and tier.
    Every component flag is exact integer cross-multiplication; the
    ENTIRE chain is replayed in one SQL oracle (the q450/q500
    discipline)."""
    from .operators.mining import beacon_detect, cidr_match
    from .operators.window import c_chart

    ev = load_table(spark, sf, "events").where(F.col("user_id") % 10 == 0).select(
        "user_id", "ts", "event_id"
    )
    beacon = beacon_detect(ev, ["user_id"], "ts", "event_id", min_gaps=10).select(
        "user_id", "is_beacon"
    )
    low = (F.col("event_id") * 2654435761) % 65536
    ips = ev.select(
        "user_id",
        F.when(F.col("event_id") % 4 == 0, F.lit(167772160 + 655360) + low)
        .when(F.col("event_id") % 4 == 1, F.lit(167772160 + 1310720) + low)
        .when(F.col("event_id") % 4 == 2, F.lit(3232235520) + low % 512)
        .otherwise(F.lit(3405774848) + low)
        .alias("ip"),
    )
    matched = cidr_match(
        ips, "ip",
        [
            ("corp", 10 << 24, 8),
            ("vpn", (10 << 24) + (10 << 16), 16),
            ("dmz", (192 << 24) + (168 << 16), 16),
            ("guest", (192 << 24) + (168 << 16) + (1 << 8), 24),
        ],
    )
    offn = matched.groupBy("user_id").agg(
        F.sum(F.col("subnet").isNull().cast("long")).cast("long").alias("offnet_events")
    )
    chart = c_chart(ev, ["user_id"], "ts", bucket_seconds=86400, sigmas=3)
    burst = chart.groupBy("user_id").agg(
        F.sum(F.col("out_high").cast("long")).cast("long").alias("burst_days")
    )
    vol = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(
            (F.floor(F.unix_seconds(F.col("ts")) / 3600).cast("long") % 24 < 6).cast("long")
        ).cast("long").alias("night_events"),
    )
    comp = (
        vol.join(beacon, on="user_id", how="left")
        .join(offn, on="user_id")
        .join(burst, on="user_id", how="left")
        .select(
            "user_id", "n_events", "night_events",
            F.coalesce(F.col("is_beacon"), F.lit(False)).alias("is_beacon"),
            "offnet_events",
            F.coalesce(F.col("burst_days"), F.lit(0)).cast("long").alias("burst_days"),
        )
    )
    score = (
        F.when(F.col("is_beacon"), 3).otherwise(0)
        + F.when(F.col("offnet_events") * 5 > F.col("n_events"), 2).otherwise(0)
        + F.when(F.col("burst_days") > 0, 2).otherwise(0)
        + F.when(F.col("night_events") * 4 > F.col("n_events"), 1).otherwise(0)
    )
    return comp.select(
        "user_id", "n_events", "is_beacon", "offnet_events", "burst_days", "night_events",
        score.cast("long").alias("risk_score"),
        F.when(score >= 5, "high").when(score >= 3, "medium").otherwise("low").alias("tier"),
    )


# ------------------------------------------------------------------ q541
@query(
    "q541_lindley_queue",
    """
    WITH v AS (
        SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS a,
               event_id % 30 + 1 AS s
        FROM events WHERE user_id % 20 = 0
    ),
    u AS (
        SELECT user_id, event_id, a, s,
               lag(s) OVER w - (a - lag(a) OVER w) AS uu
        FROM v WINDOW w AS (PARTITION BY user_id ORDER BY a, event_id)
    ),
    p AS (
        SELECT user_id, event_id, a, s,
               CAST(COALESCE(sum(uu) OVER wr, 0) AS BIGINT) AS pp,
               row_number() OVER w AS rn
        FROM u
        WINDOW w AS (PARTITION BY user_id ORDER BY a, event_id),
               wr AS (PARTITION BY user_id ORDER BY a, event_id ROWS UNBOUNDED PRECEDING)
    ),
    lp AS (
        SELECT *, lag(pp) OVER (PARTITION BY user_id ORDER BY a, event_id) AS lpp
        FROM p
    ),
    m AS (
        SELECT *, CAST(COALESCE(min(lpp) OVER
                   (PARTITION BY user_id ORDER BY a, event_id ROWS UNBOUNDED PRECEDING), 0)
                   AS BIGINT) AS mm
        FROM lp
    )
    SELECT user_id, event_id,
           a AS arrival, CAST(s AS BIGINT) AS service,
           CAST(CASE WHEN rn = 1 THEN 0
                ELSE greatest(0, pp - least(mm, 0)) END AS BIGINT) AS wait,
           a + (CASE WHEN rn = 1 THEN 0 ELSE greatest(0, pp - least(mm, 0)) END) + s
               AS depart
    FROM m
    """,
)
def q541(spark: SparkSession, sf: str) -> DataFrame:
    """FIFO queue waiting times per user via Lindley's recurrence
    (operators/window.lindley_waits): the sequential-looking recurrence
    solved EXACTLY as prefix-sum minus shifted running-min of integer
    U_i — two BIGINT windows, no scan operator, no float state."""
    from .operators.window import lindley_waits

    ev = load_table(spark, sf, "events").where(F.col("user_id") % 20 == 0)
    v = ev.select(
        "user_id", "event_id",
        F.unix_seconds(F.col("ts")).alias("a"),
        (F.col("event_id") % 30 + 1).alias("s"),
    )
    return lindley_waits(v, ["user_id"], "a", "s", ["a", "event_id"]).drop("a")


# ------------------------------------------------------------------ q542
@query(
    "q542_greedy_knapsack",
    """
    WITH items AS (
        SELECT p_brand, p_partkey,
               CAST(round(p_retailprice * 100) AS BIGINT) AS value,
               CAST(p_size AS BIGINT) AS weight
        FROM part
    ),
    ranked AS (
        SELECT p_brand, p_partkey, value, weight,
               value / weight AS density,
               CAST(sum(weight) OVER (PARTITION BY p_brand
                                      ORDER BY value / weight DESC, p_partkey
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS running_weight
        FROM items
    )
    SELECT p_brand, p_partkey, value, weight, density, running_weight
    FROM ranked WHERE running_weight <= 200
    """,
)
def q542(spark: SparkSession, sf: str) -> DataFrame:
    """Greedy knapsack selection per brand (operators/mining.
    greedy_knapsack): density sort on the exact-integer ratio (double
    identical cross-engine, id tie-break), integer running weight
    against the budget — the shelf-capacity planner."""
    from .operators.mining import greedy_knapsack

    pt = load_table(spark, sf, "part").select(
        "p_brand", "p_partkey",
        F.round(F.col("p_retailprice") * 100).cast("long").alias("val"),
        F.col("p_size").alias("wt"),
    )
    return greedy_knapsack(pt, ["p_brand"], "p_partkey", "val", "wt", budget=200)


# ------------------------------------------------------------------ q543
@query(
    "q543_psi_daily",
    """
    WITH bins AS (SELECT unnest(range(0, 10)) AS bin),
    days AS (
        SELECT DISTINCT CAST(floor(epoch(ts) / 86400.0) AS BIGINT) AS day
        FROM events WHERE event_type = 'click'
    ),
    hd AS (
        SELECT CAST(floor(epoch(ts) / 86400.0) AS BIGINT) AS day,
               CAST(greatest(0, least(9, floor((value - 0.0) / 200.0 * 10))) AS INT) AS bin,
               CAST(count(*) AS BIGINT) AS c
        FROM events WHERE event_type = 'click' AND value IS NOT NULL
        GROUP BY 1, 2
    ),
    hb AS (
        SELECT CAST(greatest(0, least(9, floor((value - 0.0) / 200.0 * 10))) AS INT) AS bin,
               CAST(count(*) AS BIGINT) AS cb
        FROM events WHERE event_type = 'click' AND value IS NOT NULL
        GROUP BY 1
    ),
    td AS (SELECT day, CAST(sum(c) AS BIGINT) AS nd FROM hd GROUP BY 1),
    tb AS (SELECT CAST(sum(cb) AS BIGINT) AS nb FROM hb),
    grid AS (SELECT d.day, b.bin FROM days d CROSS JOIN bins b)
    SELECT g.day, round(sum((pa - pb) * ln(pa / pb)), 6) AS psi FROM (
        SELECT g.day,
               (coalesce(hd.c, 0) + 1) / CAST(td.nd + 10 AS DOUBLE) AS pa,
               (coalesce(hb.cb, 0) + 1) / CAST(tb.nb + 10 AS DOUBLE) AS pb
        FROM grid g
        LEFT JOIN hd ON hd.day = g.day AND hd.bin = g.bin
        LEFT JOIN hb ON hb.bin = g.bin
        JOIN td ON td.day = g.day
        CROSS JOIN tb
    ) g GROUP BY g.day
    """,
)
def q543(spark: SparkSession, sf: str) -> DataFrame:
    """Daily PSI drift of the click-value distribution against the
    full-period baseline over a fixed 10-bin grid (q206's Laplace-
    smoothed discipline per day): exact integer masses, ≤10 ln terms
    per day, 6dp round."""
    ev = load_table(spark, sf, "events").where(
        (F.col("event_type") == "click") & F.col("value").isNotNull()
    )
    day = F.floor(F.unix_seconds(F.col("ts")) / 86400).cast("long")
    b = F.greatest(F.lit(0), F.least(F.lit(9), F.floor((F.col("value") - 0.0) / 200.0 * 10))).cast("int")
    base = ev.select(day.alias("day"), b.alias("bin"))
    days = base.select("day").distinct()
    bins = spark.range(10).select(F.col("id").cast("int").alias("bin"))
    hd = base.groupBy("day", "bin").agg(F.count(F.lit(1)).cast("long").alias("c"))
    hb = base.groupBy("bin").agg(F.count(F.lit(1)).cast("long").alias("cb"))
    td = hd.groupBy("day").agg(F.sum("c").cast("long").alias("nd"))
    tb = hb.agg(F.sum("cb").cast("long").alias("nb"))
    grid = days.crossJoin(F.broadcast(bins))
    j = (
        grid.join(hd, on=["day", "bin"], how="left")
        .join(F.broadcast(hb), on="bin", how="left")
        .join(F.broadcast(td), on="day")
        .crossJoin(F.broadcast(tb))
    )
    pa = (F.coalesce(F.col("c"), F.lit(0)) + 1) / (F.col("nd") + 10).cast("double")
    pb = (F.coalesce(F.col("cb"), F.lit(0)) + 1) / (F.col("nb") + 10).cast("double")
    return j.select("day", pa.alias("pa"), pb.alias("pb")).groupBy("day").agg(
        F.round(F.sum((F.col("pa") - F.col("pb")) * F.log(F.col("pa") / F.col("pb"))), 6).alias("psi")
    )


# ------------------------------------------------------------------ q544
def _q544_sql_term(k: int) -> str:
    # rho^k / k! as a left-associative product over k factors — linear
    # size, unlike the B_k recurrence whose unrolling doubles per step
    # (2^14 leaves at s=14 kills Janino codegen; q474 survives only
    # because s=10).
    import math

    if k == 0:
        return "CAST(1.0 AS DOUBLE)"
    p = "rho"
    for _ in range(k - 1):
        p = f"({p} * rho)"
    return f"({p} / CAST({math.factorial(k)} AS DOUBLE))"


def _q544_oracle() -> str:
    picks = []
    for s in (8, 10, 12, 14):
        terms = [_q544_sql_term(k) for k in range(s + 1)]
        ssum = terms[0]
        for t in terms[1:]:
            ssum = f"({ssum} + {t})"
        b = f"({terms[s]} / {ssum})"
        c = f"({b} / (CAST(1.0 AS DOUBLE) - (rho / {s}) * (CAST(1.0 AS DOUBLE) - {b})))"
        picks.append(
            f"SELECT event_type, n_calls, rho, CAST({s} AS BIGINT) AS servers,\n"
            f"       CASE WHEN rho < {s} THEN {c} END AS erlang_c,\n"
            f"       CASE WHEN rho < {s} THEN ({c} * aht) / ({s} - rho) END AS asa_s\n"
            f"FROM f"
        )
    body = "\nUNION ALL\n".join(picks)
    return f"""
    WITH traffic AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_calls,
               CAST(sum(CAST(round(value * 100) AS BIGINT) % 600 + 60) AS BIGINT)
                 AS hold_s
        FROM events GROUP BY event_type
    ),
    f AS (
        SELECT event_type, n_calls,
               CAST(hold_s AS DOUBLE) / 86400 AS rho,
               hold_s / n_calls AS aht
        FROM traffic
    )
    {body}
    """


def _q544_col_term(rho, k: int):
    import math

    if k == 0:
        return F.lit(1.0)
    p = rho
    for _ in range(k - 1):
        p = p * rho
    return p / F.lit(float(math.factorial(k)))


@query("q544_erlang_c_grid", _q544_oracle())
def q544(spark: SparkSession, sf: str) -> DataFrame:
    """Erlang-C staffing grid per event type: for each server count in
    {8,10,12,14}, wait probability C = B/(1 − (ρ/s)(1−B)) and average
    speed of answer. Erlang-B comes from the CLOSED FORM
    B = (ρ^s/s!) / Σ_{k≤s} ρ^k/k! — each term a linear-size
    left-associative product — because the q474 recurrence unrolling
    doubles per step and 2^14 leaves at s=14 breaks whole-stage
    codegen; the closed form is O(s²) nodes and bit-identical
    cross-engine (fixed association order, exact factorial literals).
    Offered load and AHT are exact integer ratios; the
    workforce-planning what-if relation."""
    ev = load_table(spark, sf, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    traffic = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_calls"),
        F.sum(cents % 600 + 60).cast("long").alias("hold_s"),
    )
    f = traffic.select(
        "event_type", "n_calls",
        (F.col("hold_s").cast("double") / 86400).alias("rho"),
        (F.col("hold_s") / F.col("n_calls")).alias("aht"),
    )
    outs = []
    for s in (8, 10, 12, 14):
        rho = F.col("rho")
        terms = [_q544_col_term(rho, k) for k in range(s + 1)]
        ssum = terms[0]
        for t in terms[1:]:
            ssum = ssum + t
        b = terms[s] / ssum
        c = b / (F.lit(1.0) - (rho / F.lit(s)) * (F.lit(1.0) - b))
        outs.append(
            f.select(
                "event_type", "n_calls", "rho",
                F.lit(s).cast("long").alias("servers"),
                F.when(rho < s, c).alias("erlang_c"),
                F.when(rho < s, (c * F.col("aht")) / (F.lit(s) - rho)).alias("asa_s"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


# ------------------------------------------------------------------ q545
@query(
    "q545_risk_ratios",
    """
    WITH daily AS (
        SELECT event_type, CAST(floor(epoch(ts) / 86400.0) AS BIGINT) AS day,
               CAST(sum((CASE WHEN user_id % 2 = 0 THEN 1 ELSE -1 END)
                        * CAST(round(value) AS BIGINT)) AS BIGINT) AS pnl
        FROM events GROUP BY 1, 2
    ),
    s AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(pnl) AS BIGINT) AS s,
               CAST(sum(pnl * pnl) AS BIGINT) AS q,
               CAST(sum(CASE WHEN pnl < 0 THEN pnl * pnl ELSE 0 END) AS BIGINT) AS dq
        FROM daily GROUP BY 1
    )
    SELECT event_type, n, s, q, dq,
           s / n AS mean_pnl,
           CASE WHEN n > 1 AND (q / n - (s / n) * (s / n)) > 0
                THEN (s / n) / sqrt(((q / n - (s / n) * (s / n)) * n) / (n - 1))
           END AS sharpe,
           CASE WHEN dq > 0 THEN (s / n) / sqrt(dq / n) END AS sortino
    FROM s
    """,
)
def q545(spark: SparkSession, sf: str) -> DataFrame:
    """Sharpe and Sortino ratios per event type over a signed daily
    P&L series (operators/finance.risk_ratios): exact BIGINT power
    sums (whole-dollar P&L keeps Σr² far under 2^53), moment algebra
    on identically-converted doubles — one two-stage hash agg."""
    from .operators.finance import risk_ratios

    ev = load_table(spark, sf, "events")
    sgn = F.when(F.col("user_id") % 2 == 0, F.lit(1)).otherwise(F.lit(-1))
    daily = ev.groupBy(
        "event_type",
        F.floor(F.unix_seconds(F.col("ts")) / 86400).cast("long").alias("day"),
    ).agg(F.sum(sgn * F.round(F.col("value")).cast("long")).cast("long").alias("pnl"))
    return risk_ratios(daily, ["event_type"], "pnl")


# ------------------------------------------------------------------ q546
@query(
    "q546_roll_spread",
    """
    WITH p AS (
        SELECT user_id, ts, event_id, CAST(round(value * 100) AS BIGINT) AS px
        FROM events
    ),
    d AS (
        SELECT user_id, ts, event_id,
               px - lag(px) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS d
        FROM p
    ),
    dd AS (
        SELECT user_id, d,
               lag(d) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dprev
        FROM d
    ),
    agg AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(sum(d * dprev) AS BIGINT) AS a,
               CAST(sum(d) AS BIGINT) AS s1,
               CAST(sum(dprev) AS BIGINT) AS s0
        FROM dd WHERE d IS NOT NULL AND dprev IS NOT NULL
        GROUP BY 1
    )
    SELECT user_id, n_pairs, a, s1, s0,
           a / n_pairs - (s1 / n_pairs) * (s0 / n_pairs) AS autocov,
           CASE WHEN a / n_pairs - (s1 / n_pairs) * (s0 / n_pairs) < 0
                THEN 2 * sqrt(-(a / n_pairs - (s1 / n_pairs) * (s0 / n_pairs)))
           END AS spread_scaled
    FROM agg
    """,
)
def q546(spark: SparkSession, sf: str) -> DataFrame:
    """Roll (1984) implied bid-ask spread per user path
    (operators/finance.roll_spread): 2·√(−serial autocovariance of
    price changes) from exact BIGINT sums over ONE per-key ordered
    window (the Δ column lagged again over the same sort), covariance
    assembled in double on identically-converted operands."""
    from .operators.finance import roll_spread

    ev = load_table(spark, sf, "events").select("user_id", "ts", "event_id", "value")
    return roll_spread(ev, ["user_id"], "value", ["ts", "event_id"], scale=100)


# ------------------------------------------------------------------ q547
@query(
    "q547_amihud_illiq",
    """
    WITH daily AS (
        SELECT user_id, CAST(floor(epoch(ts) / 86400.0) AS BIGINT) AS day,
               CAST(max(CAST(round(value * 100) AS BIGINT))
                    - min(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS rng,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ),
    per AS (
        SELECT user_id, (rng * 1000000) // n AS ppm FROM daily
    )
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(sum(ppm) AS BIGINT) AS ppm_sum,
           sum(ppm) / count(*) AS illiq_ppm
    FROM per GROUP BY 1
    """,
)
def q547(spark: SparkSession, sf: str) -> DataFrame:
    """Range-based Amihud illiquidity per user
    (operators/finance.amihud_illiquidity): per-day price range ·1e6
    DIV activity as an exact integer ppm, mean as ONE divide of two
    BIGINTs — two hash aggs sharing the key prefix, no window, no
    float sums."""
    from .operators.finance import amihud_illiquidity

    ev = load_table(spark, sf, "events")
    day = F.floor(F.unix_seconds(F.col("ts")) / 86400).cast("long")
    return amihud_illiquidity(ev, ["user_id"], day, "value", scale=100)


# ------------------------------------------------------------------ q548
@query(
    "q548_volume_profile",
    """
    WITH p AS (
        SELECT event_type, CAST(round(value * 100) AS BIGINT) AS px FROM events
    ),
    bands AS (
        SELECT event_type, px // 5000 AS band,
               CAST(sum(px) AS BIGINT) AS notional,
               CAST(count(*) AS BIGINT) AS n_trades
        FROM p GROUP BY 1, 2
    )
    SELECT event_type, band, notional, n_trades,
           (notional * 1000000) // (CAST(sum(notional) OVER (PARTITION BY event_type) AS BIGINT))
             AS share_ppm,
           notional = CAST(max(notional) OVER (PARTITION BY event_type) AS BIGINT) AS is_poc
    FROM bands
    """,
)
def q548(spark: SparkSession, sf: str) -> DataFrame:
    """Volume profile per event type (operators/finance.
    volume_profile): $50 price bands, notional share in exact integer
    ppm, point-of-control flag — per-key totals ride a window over
    the ALREADY AGGREGATED band relation (bounded state), never raw
    ticks."""
    from .operators.finance import volume_profile

    ev = load_table(spark, sf, "events").select("event_type", "value")
    return volume_profile(ev, ["event_type"], "value", band=5000, scale=100)


# ------------------------------------------------------------------ q549
@query(
    "q549_naive_bayes_lang",
    r"""
    WITH tr AS (
        SELECT lang, doc_id FROM documents WHERE doc_id % 2 = 0 AND text IS NOT NULL
    ),
    tr_tok AS (
        SELECT lang AS cls, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
        FROM documents WHERE doc_id % 2 = 0 AND text IS NOT NULL
    ),
    counts AS (SELECT cls, tok, CAST(count(*) AS BIGINT) AS cnt FROM tr_tok GROUP BY 1, 2),
    cls_stats AS (SELECT cls, CAST(sum(cnt) AS BIGINT) AS tok_c FROM counts GROUP BY 1),
    priors AS (SELECT lang AS cls, CAST(count(*) AS BIGINT) AS n_c FROM tr GROUP BY 1),
    vocab AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v FROM counts),
    ntot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tr),
    classes AS (
        SELECT cls, tok_c, n_c, v, n
        FROM cls_stats JOIN priors USING (cls) CROSS JOIN vocab CROSS JOIN ntot
    ),
    te AS (
        SELECT doc_id, lang, regexp_split_to_array(lower(trim(text)), '\s+')[1:12] AS toks
        FROM documents WHERE doc_id % 2 = 1 AND text IS NOT NULL
    ),
    te_tok AS (
        SELECT doc_id, i AS pos, toks[i] AS tok
        FROM te, unnest(generate_series(1, len(toks))) AS t(i)
    ),
    scored AS (
        SELECT doc_id, cls, pos, n_c, n,
               (coalesce(cnt, 0) + 1) / (tok_c + v) AS ratio
        FROM te_tok CROSS JOIN classes
        LEFT JOIN counts USING (cls, tok)
    ),
    folded AS (
        SELECT doc_id, cls, max(n_c) AS n_c, max(n) AS n,
               list_reduce([CAST(1.0 AS DOUBLE)] || list(ratio ORDER BY pos),
                           (a, b) -> a * b) AS prod
        FROM scored GROUP BY 1, 2
    ),
    per AS (SELECT doc_id, cls, (n_c / n) * prod AS score FROM folded),
    pred AS (
        SELECT doc_id, cls, score,
               row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cls) AS rn
        FROM per
    )
    SELECT p.doc_id, p.cls AS pred_lang, t.lang AS true_lang,
           p.cls = t.lang AS correct, p.score
    FROM pred p JOIN te t USING (doc_id) WHERE rn = 1
    """,
)
def q549(spark: SparkSession, sf: str) -> DataFrame:
    """Multinomial Naive Bayes language classifier (operators/text.
    naive_bayes_classify): add-1-smoothed per-class unigram models
    trained on even doc_ids, odd doc_ids scored over their first 12
    tokens — per-token likelihood is ONE exact-integer divide, the
    per-doc product a position-ordered LEFT FOLD (never a hash-agg
    float product), broadcast model joins, argmax under a (score DESC,
    class) total order; accuracy vs the lang label rides along."""
    from .operators.text import naive_bayes_classify

    d = load_table(spark, sf, "documents")
    train = d.where(F.col("doc_id") % 2 == 0)
    test = d.where(F.col("doc_id") % 2 == 1)
    preds = naive_bayes_classify(train, test, "doc_id", "lang", "text", k_tokens=12)
    truth = test.where(F.col("text").isNotNull()).select("doc_id", F.col("lang").alias("true_lang"))
    return preds.join(truth, "doc_id").select(
        "doc_id", "pred_lang", "true_lang",
        (F.col("pred_lang") == F.col("true_lang")).alias("correct"),
        "score",
    )


# ------------------------------------------------------------------ q550
@query(
    "q550_kcenter_diverse",
    """
    WITH ex AS (
        SELECT vec_id, d AS dim,
               CAST(round(CAST(embedding[d] AS DOUBLE) * 1000) AS BIGINT) AS xi
        FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(d)
    ),
    c1 AS (SELECT dim, xi AS ci FROM ex WHERE vec_id = (SELECT min(vec_id) FROM embeddings)),
    d1 AS (SELECT vec_id, CAST(sum((xi - ci) * (xi - ci)) AS BIGINT) AS dist
           FROM ex JOIN c1 USING (dim) GROUP BY 1),
    p2 AS (SELECT vec_id, dist FROM d1 ORDER BY dist DESC, vec_id LIMIT 1),
    c2 AS (SELECT dim, xi AS ci FROM ex WHERE vec_id = (SELECT vec_id FROM p2)),
    d2 AS (SELECT d1.vec_id, least(d1.dist, x.dist2) AS dist
           FROM d1 JOIN (SELECT vec_id, CAST(sum((xi - ci) * (xi - ci)) AS BIGINT) AS dist2
                         FROM ex JOIN c2 USING (dim) GROUP BY 1) x USING (vec_id)),
    p3 AS (SELECT vec_id, dist FROM d2 ORDER BY dist DESC, vec_id LIMIT 1),
    c3 AS (SELECT dim, xi AS ci FROM ex WHERE vec_id = (SELECT vec_id FROM p3)),
    d3 AS (SELECT d2.vec_id, least(d2.dist, x.dist3) AS dist
           FROM d2 JOIN (SELECT vec_id, CAST(sum((xi - ci) * (xi - ci)) AS BIGINT) AS dist3
                         FROM ex JOIN c3 USING (dim) GROUP BY 1) x USING (vec_id)),
    p4 AS (SELECT vec_id, dist FROM d3 ORDER BY dist DESC, vec_id LIMIT 1)
    SELECT CAST(1 AS BIGINT) AS sel_round,
           (SELECT min(vec_id) FROM embeddings) AS vec_id, CAST(0 AS BIGINT) AS dist
    UNION ALL SELECT CAST(2 AS BIGINT), vec_id, dist FROM p2
    UNION ALL SELECT CAST(3 AS BIGINT), vec_id, dist FROM p3
    UNION ALL SELECT CAST(4 AS BIGINT), vec_id, dist FROM p4
    """,
)
def q550(spark: SparkSession, sf: str) -> DataFrame:
    """Greedy k-center diverse selection over embeddings
    (operators/similarity.kcenter_greedy, k=3): integer-scaled vectors
    make every squared distance an exact BIGINT and every farthest-
    point argmax tie-free under (dist DESC, id); row 4 is the coverage
    radius after the three picks.  Bounded passes, corpus never
    shuffles — the diverse-coreset seed for training-data sampling."""
    from .operators.similarity import kcenter_greedy

    emb = load_table(spark, sf, "embeddings")
    return kcenter_greedy(emb, "vec_id", "embedding", k=3, scale=1000)


# ------------------------------------------------------------------ q551
@query(
    "q551_weighted_kappa",
    r"""
    WITH r AS (
        SELECT least(n_chars // 200, 4) AS ra,
               least(CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS BIGINT) // 40,
                     4) AS rb
        FROM documents WHERE text IS NOT NULL
    ),
    cont AS (SELECT ra, rb, CAST(count(*) AS BIGINT) AS cnt FROM r GROUP BY 1, 2),
    wobs AS (
        SELECT CAST(sum(cnt) AS BIGINT) AS n,
               CAST(sum((ra - rb) * (ra - rb) * cnt) AS BIGINT) AS sum_w_obs
        FROM cont
    ),
    rows_ AS (SELECT ra, CAST(sum(cnt) AS BIGINT) AS row_n FROM cont GROUP BY 1),
    cols_ AS (SELECT rb, CAST(sum(cnt) AS BIGINT) AS col_n FROM cont GROUP BY 1),
    wexp AS (
        SELECT CAST(sum((ra - rb) * (ra - rb) * row_n * col_n) AS BIGINT) AS sum_w_exp
        FROM rows_ CROSS JOIN cols_
    )
    SELECT n, sum_w_obs, sum_w_exp,
           CASE WHEN sum_w_exp != 0 THEN 1 - (n * sum_w_obs) / sum_w_exp END AS kappa_w
    FROM wobs CROSS JOIN wexp
    """,
)
def q551(spark: SparkSession, sf: str) -> DataFrame:
    """Quadratically weighted Cohen's κ (functions/stats.
    weighted_kappa) between two ordinal document graders (length
    quintile vs token-count quintile): w_ij = (i−j)², all sums exact
    BIGINTs from one contingency pass + a broadcast marginal cross
    join, κ_w ONE divide — the ordinal labeling-QA metric."""
    from .functions.stats import weighted_kappa

    d = load_table(spark, sf, "documents").where(F.col("text").isNotNull())
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    r = d.select(
        F.least(F.expr("n_chars DIV 200"), F.lit(4).cast("long")).alias("ra"),
        F.least(F.expr(
            "CAST(size(split(lower(trim(text)), '\\\\s+')) AS BIGINT) DIV 40"
        ), F.lit(4).cast("long")).alias("rb"),
    )
    return weighted_kappa(r, "ra", "rb")


# ------------------------------------------------------------------ q552
@query(
    "q552_fd_discovery",
    """
    SELECT 'o_orderkey' AS determinant, 'o_custkey' AS dependent,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS viol_groups,
           CAST(sum(greatest(nd, 1) - 1) AS BIGINT) AS excess,
           sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0 AS holds
    FROM (SELECT o_orderkey, CAST(count(DISTINCT o_custkey) AS BIGINT) AS nd
          FROM orders GROUP BY 1)
    UNION ALL
    SELECT 'o_custkey', 'o_orderstatus',
           CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
           CAST(sum(greatest(nd, 1) - 1) AS BIGINT),
           sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0
    FROM (SELECT o_custkey, CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS nd
          FROM orders GROUP BY 1)
    UNION ALL
    SELECT 'o_orderpriority', 'o_orderstatus',
           CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
           CAST(sum(greatest(nd, 1) - 1) AS BIGINT),
           sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0
    FROM (SELECT o_orderpriority, CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS nd
          FROM orders GROUP BY 1)
    """,
)
def q552(spark: SparkSession, sf: str) -> DataFrame:
    """Functional-dependency audit over orders (operators/profile.
    fd_violations): per candidate det→dep pair, ONE count-distinct agg
    on the determinant + an integer roll-up — n_groups, violating
    groups, excess values, holds flag.  o_orderkey→o_custkey holds
    (key FD); the behavioral pairs do not."""
    from .operators.profile import fd_violations

    o = load_table(spark, sf, "orders")
    return fd_violations(
        o,
        [
            ("o_orderkey", "o_custkey"),
            ("o_custkey", "o_orderstatus"),
            ("o_orderpriority", "o_orderstatus"),
        ],
    )


# ------------------------------------------------------------------ q553
@query(
    "q553_personalized_pagerank",
    """
    WITH base AS (
        SELECT doc_id % 60 AS src, (doc_id * 11 + 5) % 60 AS dst FROM documents
        WHERE doc_id % 60 != (doc_id * 11 + 5) % 60
    ),
    edges AS (SELECT DISTINCT src, dst FROM base),
    nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
    deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
    r0 AS (SELECT node, CASE WHEN node = 0 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS rank FROM nodes),
    c1 AS (
        SELECT e.dst AS node, sum(r0.rank / deg.d) AS m
        FROM edges e JOIN r0 ON r0.node = e.src JOIN deg ON deg.src = e.src
        GROUP BY e.dst
    ),
    r1 AS (
        SELECT nodes.node,
               0.15 * (CASE WHEN nodes.node = 0 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)
               + 0.85 * coalesce(c1.m, 0) AS rank
        FROM nodes LEFT JOIN c1 ON c1.node = nodes.node
    ),
    c2 AS (
        SELECT e.dst AS node, sum(r1.rank / deg.d) AS m
        FROM edges e JOIN r1 ON r1.node = e.src JOIN deg ON deg.src = e.src
        GROUP BY e.dst
    ),
    r2 AS (
        SELECT nodes.node,
               0.15 * (CASE WHEN nodes.node = 0 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)
               + 0.85 * coalesce(c2.m, 0) AS rank
        FROM nodes LEFT JOIN c2 ON c2.node = nodes.node
    )
    SELECT node, round(rank, 9) AS rank FROM r2
    """,
)
def q553(spark: SparkSession, sf: str) -> DataFrame:
    """Personalized PageRank from seed node 0 (operators/graph.
    personalized_pagerank): the pagerank join+agg shape with ALL
    teleport mass on the seed — proximity ranking for
    recommendations; two distributed rounds replayed exactly by the
    oracle CTE chain (q175 discipline, 9dp-rounded)."""
    from .operators.graph import personalized_pagerank

    d = load_table(spark, sf, "documents")
    edges = d.select(
        (F.col("doc_id") % 60).alias("src"),
        ((F.col("doc_id") * 11 + 5) % 60).alias("dst"),
    ).where(F.col("src") != F.col("dst")).distinct()
    pr = personalized_pagerank(edges, 0, n_iter=2, damping=0.85)
    return pr.select("node", F.round("rank", 9).alias("rank"))


# ------------------------------------------------------------------ q554
def _q554_oracle() -> str:
    rounds = []
    for r in (1, 2, 3):
        rounds.append(f"""
    p{r} AS (
        SELECT t[i] || ' ' || t[i + 1] AS pair, CAST(sum(c) AS BIGINT) AS n
        FROM (SELECT c, string_split(trim(s), '  ') AS t FROM u{r - 1}) x,
             unnest(generate_series(1, len(t) - 1)) AS g(i)
        GROUP BY 1
    ),
    b{r} AS (SELECT pair, n FROM p{r} ORDER BY n DESC, pair LIMIT 1),
    u{r} AS (
        SELECT w, c,
               replace(s,
                       ' ' || split_part(b.pair, ' ', 1) || '  '
                           || split_part(b.pair, ' ', 2) || ' ',
                       ' ' || replace(b.pair, ' ', '') || ' ') AS s
        FROM u{r - 1} CROSS JOIN b{r} b
    )""")
    body = ",".join(rounds)
    return rf"""
    WITH words AS (
        SELECT w, CAST(count(*) AS BIGINT) AS c FROM (
            SELECT unnest(string_split(
                regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS w
            FROM documents
        ) WHERE w != '' GROUP BY w
    ),
    u0 AS (
        SELECT w, c, ' ' || substr(base, 1, length(base) - 1) AS s
        FROM (SELECT w, c, regexp_replace(w, '(.)', '\1  ', 'g') AS base FROM words)
    ),{body}
    SELECT CAST(1 AS BIGINT) AS merge_round,
           split_part(pair, ' ', 1) AS left_sym,
           split_part(pair, ' ', 2) AS right_sym, n AS pair_count FROM b1
    UNION ALL SELECT CAST(2 AS BIGINT), split_part(pair, ' ', 1), split_part(pair, ' ', 2), n FROM b2
    UNION ALL SELECT CAST(3 AS BIGINT), split_part(pair, ' ', 1), split_part(pair, ' ', 2), n FROM b3
    """


@query("q554_bpe_train", _q554_oracle())
def q554(spark: SparkSession, sf: str) -> DataFrame:
    """BPE tokenizer merge training, 3 rounds (operators/bpe.bpe_train —
    the 100 TB design: after ONE corpus pass to (distinct word, count),
    every round runs on that small weighted relation; pair counts are
    exact BIGINT aggs tie-broken (n DESC, pair); the greedy leftmost-
    non-overlapping merge is ONE literal double-space replace).  The
    oracle replays every round — unit-string construction, pair
    explode, argmax, replace — term for term in SQL."""
    from .operators.bpe import bpe_train

    d = load_table(spark, sf, "documents")
    merges = bpe_train(d, "text", n_merges=3)
    rows = [(m["step"], m["left"], m["right"], m["n"]) for m in merges]
    return spark.createDataFrame(
        rows, "merge_round bigint, left_sym string, right_sym string, pair_count bigint"
    )


# ------------------------------------------------------------------ q555
def _q555_oracle() -> str:
    # reuse q554's training CTE chain, then segment the vocabulary with
    # the learned merges and report the subword-fertility histogram
    base = _q554_oracle()
    head = base[: base.rindex("SELECT CAST(1 AS BIGINT) AS merge_round")]
    return (
        head.rstrip()
        + """,
    seg AS (
        SELECT w, c,
               replace(replace(replace(u0.s,
                   ' ' || split_part(b1.pair, ' ', 1) || '  ' || split_part(b1.pair, ' ', 2) || ' ',
                   ' ' || replace(b1.pair, ' ', '') || ' '),
                   ' ' || split_part(b2.pair, ' ', 1) || '  ' || split_part(b2.pair, ' ', 2) || ' ',
                   ' ' || replace(b2.pair, ' ', '') || ' '),
                   ' ' || split_part(b3.pair, ' ', 1) || '  ' || split_part(b3.pair, ' ', 2) || ' ',
                   ' ' || replace(b3.pair, ' ', '') || ' ') AS s
        FROM u0 CROSS JOIN b1 CROSS JOIN b2 CROSS JOIN b3
    ),
    fert AS (
        SELECT CAST(len(string_split(trim(s), '  ')) AS BIGINT) AS n_units,
               length(w) AS n_chars, c
        FROM seg
    )
    SELECT n_units,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(c) AS BIGINT) AS n_occurrences,
           CAST(sum(n_chars * c) AS BIGINT) AS chars_weighted
    FROM fert GROUP BY 1
    """
    )
    # NOTE: u0's s is rebuilt from scratch here (not u3) so the replay
    # applies the merges in ORDER to the original char segmentation —
    # exactly what bpe_segment does.


@query("q555_bpe_segment", _q555_oracle())
def q555(spark: SparkSession, sf: str) -> DataFrame:
    """Subword-fertility histogram after applying the 3 learned BPE
    merges (operators/bpe.bpe_segment): per distinct word the merge
    chain replays IN ORDER as literal replaces, then words group by
    their unit count — n_words, corpus occurrences, char mass.  The
    tokenizer-quality relation (fertility = units per word) that
    decides whether a merge table is worth shipping."""
    from .operators.bpe import bpe_segment, bpe_train, word_counts

    d = load_table(spark, sf, "documents")
    merges = bpe_train(d, "text", n_merges=3)
    wc = word_counts(d, "text")
    seg = bpe_segment(d, merges, "text").dropDuplicates(["w"]).join(wc, "w")
    return (
        seg.select(
            F.size("units").cast("long").alias("n_units"),
            F.length("w").cast("long").alias("n_chars"),
            "c",
        )
        .groupBy("n_units")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("c").cast("long").alias("n_occurrences"),
            F.sum(F.col("n_chars") * F.col("c")).cast("long").alias("chars_weighted"),
        )
    )


# ------------------------------------------------------------------ q556
@query(
    "q556_dau_wau_mau",
    """
    WITH active AS (
        SELECT DISTINCT user_id, CAST(floor(epoch(ts) / 86400.0) AS BIGINT) AS day
        FROM events
    ),
    days AS (SELECT DISTINCT day FROM active),
    dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM active GROUP BY 1),
    contrib7 AS (
        SELECT user_id, day + o AS day
        FROM active, unnest(generate_series(0, 6)) AS t(o)
    ),
    wau AS (
        SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
        FROM contrib7 GROUP BY 1
    ),
    contrib28 AS (
        SELECT user_id, day + o AS day
        FROM active, unnest(generate_series(0, 27)) AS t(o)
    ),
    mau AS (
        SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS mau
        FROM contrib28 GROUP BY 1
    )
    SELECT d.day, dau.dau, wau.wau, mau.mau,
           (dau.dau * 1000000) // mau.mau AS stickiness_ppm
    FROM days d JOIN dau USING (day) JOIN wau USING (day) JOIN mau USING (day)
    """,
)
def q556(spark: SparkSession, sf: str) -> DataFrame:
    """DAU / WAU / MAU engagement with DAU/MAU stickiness in exact
    integer ppm: trailing-window DISTINCT users computed by exploding
    each (user, active-day) into the bounded set of future days it
    contributes to (7 / 28 rows) — turning a sliding distinct-count
    window (unbounded state) into plain hash aggs; only observed days
    report (the days relation gates the calendar)."""
    ev = load_table(spark, sf, "events")
    active = ev.select(
        "user_id",
        F.floor(F.unix_seconds(F.col("ts")) / 86400).cast("long").alias("day"),
    ).distinct()
    days = active.select("day").distinct()
    dau = active.groupBy("day").agg(F.count(F.lit(1)).cast("long").alias("dau"))
    c7 = active.select(
        "user_id", F.explode(F.sequence(F.col("day"), F.col("day") + 6)).alias("day")
    )
    wau = c7.groupBy("day").agg(F.countDistinct("user_id").cast("long").alias("wau"))
    c28 = active.select(
        "user_id", F.explode(F.sequence(F.col("day"), F.col("day") + 27)).alias("day")
    )
    mau = c28.groupBy("day").agg(F.countDistinct("user_id").cast("long").alias("mau"))
    out = days.join(dau, "day").join(wau, "day").join(mau, "day")
    return out.select(
        "day", "dau", "wau", "mau",
        F.expr("(dau * 1000000) DIV mau").alias("stickiness_ppm"),
    )


# ------------------------------------------------------------------ q557
_Q557_POLY = [(100, 100), (900, 200), (700, 800), (500, 400), (200, 700)]


def _q557_oracle() -> str:
    terms = []
    n = len(_Q557_POLY)
    for i in range(n):
        x1, y1 = _Q557_POLY[i]
        x2, y2 = _Q557_POLY[(i + 1) % n]
        if y1 == y2:
            continue
        op = "<" if y2 > y1 else ">"
        terms.append(
            f"CASE WHEN ({y1} > gy) != ({y2} > gy)"
            f" AND (gx - {x1}) * ({y2 - y1}) {op} (gy - {y1}) * ({x2 - x1})"
            f" THEN 1 ELSE 0 END"
        )
    total = " + ".join(terms)
    return f"""
    WITH pts AS (
        SELECT event_id,
               (CAST(round(value * 100) AS BIGINT) * 37) % 1000 AS gx,
               (CAST(round(value * 100) AS BIGINT) * 91) % 1000 AS gy
        FROM events WHERE event_id % 7 = 0
    )
    SELECT event_id, gx, gy, ({total}) % 2 = 1 AS inside
    FROM pts
    """


@query("q557_point_in_polygon", _q557_oracle())
def q557(spark: SparkSession, sf: str) -> DataFrame:
    """Geofence tagging (operators/geo.point_in_polygon): even-odd ray
    casting against a literal concave pentagon, every edge term an
    exact integer cross product (cross-multiplied — no division, no
    epsilon), the edge set unrolled into ONE codegen expression — zero
    shuffles, zero joins."""
    from .operators.geo import point_in_polygon

    ev = load_table(spark, sf, "events").where(F.col("event_id") % 7 == 0)
    cents = F.round(F.col("value") * 100).cast("long")
    pts = ev.select(
        "event_id",
        ((cents * 37) % 1000).alias("gx"),
        ((cents * 91) % 1000).alias("gy"),
    )
    return point_in_polygon(pts, "gx", "gy", _Q557_POLY)


# ------------------------------------------------------------------ q558
def _q558_oracle() -> str:
    rounds = []
    for r in (1, 2, 3):
        rounds.append(f"""
    p1_{r} AS (SELECT x, y FROM pts ORDER BY md5(CAST(id AS VARCHAR) || ':{r}') LIMIT 1),
    p2_{r} AS (SELECT x, y FROM pts WHERE x != (SELECT x FROM p1_{r})
               ORDER BY md5(CAST(id AS VARCHAR) || ':{r}') LIMIT 1),
    r{r} AS (
        SELECT CAST({r} AS BIGINT) AS sel_round,
               a.x AS x1, a.y AS y1, b.x AS x2, b.y AS y2,
               CAST(sum(CASE WHEN abs(p.y * (b.x - a.x) - p.x * (b.y - a.y)
                                      - (a.y * (b.x - a.x) - a.x * (b.y - a.y)))
                                  <= 1000 * abs(b.x - a.x) THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_inliers
        FROM pts p CROSS JOIN p1_{r} a CROSS JOIN p2_{r} b
        GROUP BY a.x, a.y, b.x, b.y
    )""")
    body = ",".join(rounds)
    return f"""
    WITH pts AS (
        SELECT event_id AS id,
               CAST(round(value * 100) AS BIGINT) AS x,
               3 * CAST(round(value * 100) AS BIGINT) + event_id % 1000 - 500
                 + CASE WHEN event_id % 50 = 0 THEN 70000 ELSE 0 END AS y
        FROM events
    ),{body},
    m AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2 UNION ALL SELECT * FROM r3)
    SELECT *, n_inliers = max(n_inliers) OVER () AS is_best FROM m
    """


@query("q558_ransac_line", _q558_oracle())
def q558(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic RANSAC line fit (functions/stats.ransac_line) on a
    synthetic noisy line with 2% gross outliers: 2-point samples drawn
    by portable md5 hash order (no RNG), exact rational models, fully
    cross-multiplied BIGINT inlier tests — the consensus flag marks
    the round(s) that dodge the outliers."""
    from .functions.stats import ransac_line

    ev = load_table(spark, sf, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    pts = ev.select(
        F.col("event_id").alias("id"),
        cents.alias("x"),
        (
            3 * cents + F.col("event_id") % 1000 - 500
            + F.when(F.col("event_id") % 50 == 0, 70000).otherwise(0)
        ).alias("y"),
    )
    return ransac_line(pts, "id", "x", "y", n_rounds=3, threshold=1000)


# ------------------------------------------------------------------ q559
@query(
    "q559_second_price_auction",
    """
    WITH bids AS (
        SELECT event_type, CAST(floor(epoch(ts) / 86400.0) AS BIGINT) AS day,
               user_id AS bidder, CAST(round(value * 100) AS BIGINT) AS bid
        FROM events
    ),
    ranked AS (
        SELECT event_type, day, bidder, bid,
               row_number() OVER (PARTITION BY event_type, day
                                  ORDER BY bid DESC, bidder) AS rn,
               CAST(count(*) OVER (PARTITION BY event_type, day) AS BIGINT) AS n
        FROM bids
    ),
    agg AS (
        SELECT event_type, day,
               CAST(max(n) AS BIGINT) AS n_bids,
               max(CASE WHEN rn = 1 THEN bidder END) AS winner,
               max(CASE WHEN rn = 1 THEN bid END) AS win_bid,
               max(CASE WHEN rn = 2 THEN bid END) AS second
        FROM ranked WHERE rn <= 2 GROUP BY 1, 2
    )
    SELECT event_type, day, n_bids,
           CASE WHEN win_bid >= 5000 THEN winner END AS winner,
           win_bid,
           CASE WHEN win_bid >= 5000
                THEN greatest(coalesce(second, 0), 5000) END AS clearing_price,
           win_bid >= 5000 AS sold
    FROM agg
    """,
)
def q559(spark: SparkSession, sf: str) -> DataFrame:
    """Second-price auction clearing per (event_type, day) lot
    (operators/finance.second_price_auction): top-2 bids under a
    total order pivot to fixed columns, clearing price =
    max(second bid, $50 reserve) — exact integer money;
    WindowGroupLimit prunes each lot to 2 rows pre-shuffle."""
    from .operators.finance import second_price_auction

    ev = load_table(spark, sf, "events")
    bids = ev.select(
        "event_type",
        F.floor(F.unix_seconds(F.col("ts")) / 86400).cast("long").alias("day"),
        F.col("user_id").alias("bidder"),
        F.round(F.col("value") * 100).cast("long").alias("bid"),
    )
    return second_price_auction(bids, ["event_type", "day"], "bidder", "bid", reserve=5000)


# ------------------------------------------------------------------ q560
@query(
    "q560_vpin",
    """
    WITH p AS (
        SELECT user_id, ts, event_id, CAST(round(value * 100) AS BIGINT) AS px
        FROM events
    ),
    d AS (
        SELECT user_id, ts, event_id,
               px - lag(px) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dp
        FROM p
    ),
    nz AS (SELECT * FROM d WHERE dp IS NOT NULL AND dp != 0),
    seq AS (
        SELECT user_id,
               CASE WHEN dp > 0 THEN 1 ELSE 0 END AS buy,
               (row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1) // 50
                 AS bucket
        FROM nz
    ),
    b AS (
        SELECT user_id, bucket,
               CAST(count(*) AS BIGINT) AS n_ticks,
               CAST(sum(buy) AS BIGINT) AS n_buys
        FROM seq GROUP BY 1, 2
    ),
    imb AS (
        SELECT user_id, bucket, n_ticks, n_buys,
               (abs(2 * n_buys - n_ticks) * 1000000) // n_ticks AS imb_ppm
        FROM b
    )
    SELECT user_id, bucket, n_ticks, n_buys, imb_ppm,
           CAST(sum(imb_ppm) OVER w AS BIGINT)
             / CAST(count(*) OVER w AS BIGINT) AS vpin_ppm
    FROM imb
    WINDOW w AS (PARTITION BY user_id ORDER BY bucket
                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
    """,
)
def q560(spark: SparkSession, sf: str) -> DataFrame:
    """VPIN order-flow toxicity per user path (operators/finance.vpin):
    sign-of-Δp classification, 50-tick volume buckets, |buys−sells|
    imbalance in exact integer ppm, trailing-4-bucket mean as an
    integer rolling sum + ONE divide — the flow-toxicity monitor, all
    BIGINT until the final division."""
    from .operators.finance import vpin

    ev = load_table(spark, sf, "events").select("user_id", "ts", "event_id", "value")
    return vpin(ev, ["user_id"], ["ts", "event_id"], "value",
                bucket_size=50, window_buckets=4, scale=100)


# ------------------------------------------------------------------ q561
@query(
    "q561_hubness",
    """
    WITH ex AS (
        SELECT vec_id, d AS dim,
               CAST(round(CAST(embedding[d] AS DOUBLE) * 1000) AS BIGINT) AS xi
        FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(d)
        WHERE vec_id < 300
    ),
    ids AS (SELECT DISTINCT vec_id FROM ex),
    pd AS (
        SELECT a.vec_id AS qid, b.vec_id AS nid,
               CAST(sum((a.xi - b.xi) * (a.xi - b.xi)) AS BIGINT) AS d
        FROM ex a JOIN ex b ON a.dim = b.dim AND a.vec_id != b.vec_id
        GROUP BY 1, 2
    ),
    topk AS (
        SELECT nid FROM (
            SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY d, nid) AS rn
            FROM pd
        ) WHERE rn <= 5
    ),
    occ AS (SELECT nid, CAST(count(*) AS BIGINT) AS k_occurrences FROM topk GROUP BY 1)
    SELECT ids.vec_id, coalesce(occ.k_occurrences, 0) AS k_occurrences
    FROM ids LEFT JOIN occ ON ids.vec_id = occ.nid
    """,
)
def q561(spark: SparkSession, sf: str) -> DataFrame:
    """k-occurrence hubness over a 300-vector sample
    (operators/similarity.hubness, k=5): exact integer squared
    distances make the top-k cut tie-free, the scoring pass is the
    deliberate broadcast brute-force baseline, zero-occurrence vectors
    report 0 — the ANN-pathology diagnostic."""
    from .operators.similarity import hubness

    emb = load_table(spark, sf, "embeddings").where(F.col("vec_id") < 300)
    return hubness(emb, "vec_id", "embedding", k=5, scale=1000)


# ------------------------------------------------------------------ q562
@query(
    "q562_fairness_audit",
    """
    WITH f AS (
        SELECT user_id % 3 AS grp,
               CASE WHEN CAST(round(value * 100) AS BIGINT) % 5 < 2 THEN 1 ELSE 0 END AS y_true,
               CASE WHEN (CASE WHEN CAST(round(value * 100) AS BIGINT) % 5 < 2 THEN 1 ELSE 0 END)
                         != (CASE WHEN (CAST(round(value * 100) AS BIGINT) * (user_id % 3 + 1)) % 13 = 0
                                  THEN 1 ELSE 0 END)
                    THEN 1 ELSE 0 END AS y_pred
        FROM events
    ),
    g AS (
        SELECT grp, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(y_pred) AS BIGINT) AS n_selected,
               CAST(sum(y_true) AS BIGINT) AS n_pos,
               CAST(sum(y_true * y_pred) AS BIGINT) AS tp,
               CAST(sum((1 - y_true) * y_pred) AS BIGINT) AS fp
        FROM f GROUP BY 1
    ),
    rates AS (
        SELECT grp, n, n_selected, n_pos,
               (n_selected * 1000000) // n AS sel_ppm,
               CASE WHEN n_pos > 0 THEN (tp * 1000000) // n_pos END AS tpr_ppm,
               CASE WHEN n - n_pos > 0 THEN (fp * 1000000) // (n - n_pos) END AS fpr_ppm
        FROM g
    )
    SELECT grp, n, n_selected, n_pos, sel_ppm, tpr_ppm, fpr_ppm,
           max(sel_ppm) OVER () - min(sel_ppm) OVER () AS parity_gap_ppm,
           max(tpr_ppm) OVER () - min(tpr_ppm) OVER () AS tpr_gap_ppm,
           max(fpr_ppm) OVER () - min(fpr_ppm) OVER () AS fpr_gap_ppm,
           (max(sel_ppm) OVER () - min(sel_ppm) OVER ()) <= 100000
           AND (max(tpr_ppm) OVER () - min(tpr_ppm) OVER ()) <= 100000
           AND (max(fpr_ppm) OVER () - min(fpr_ppm) OVER ()) <= 100000 AS passes
    FROM rates
    """,
)
def q562(spark: SparkSession, sf: str) -> DataFrame:
    """Group-fairness audit (functions/stats.fairness_audit): per
    protected group the selection rate / TPR / FPR in exact integer
    ppm, demographic-parity and equalized-odds gaps as cross-group
    max−min over the tiny per-group relation, pass flag at a 10% gap
    budget — a classifier with group-dependent noise trips it."""
    from .functions.stats import fairness_audit

    ev = load_table(spark, sf, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    truth = (cents % 5 < 2).cast("long")
    flip = ((cents * (F.col("user_id") % 3 + 1)) % 13 == 0).cast("long")
    f = ev.select(
        (F.col("user_id") % 3).alias("grp"),
        truth.alias("y_true"),
        (truth != flip).cast("long").alias("y_pred"),
    )
    return fairness_audit(f, "grp", "y_true", "y_pred", gap_threshold_ppm=100_000)


# ------------------------------------------------------------------ q563
@query(
    "q563_position_bias_em",
    """
    WITH f AS (
        SELECT CAST(round(value * 100) AS BIGINT) % 40 AS item,
               event_id % 10 + 1 AS pos,
               CASE WHEN (CAST(round(value * 100) AS BIGINT) * 7 + event_id)
                         % (event_id % 10 + 3) = 0 THEN 1 ELSE 0 END AS click
        FROM events
    ),
    cells AS (
        SELECT item, pos, CAST(count(*) AS BIGINT) AS n_ip,
               CAST(sum(click) AS BIGINT) AS c_ip
        FROM f GROUP BY 1, 2
    ),
    item_stats AS (
        SELECT item, CAST(sum(n_ip) AS BIGINT) AS n_i, CAST(sum(c_ip) AS BIGINT) AS c_i
        FROM cells GROUP BY 1
    ),
    pos_stats AS (
        SELECT pos, CAST(sum(n_ip) AS BIGINT) AS n_p, CAST(sum(c_ip) AS BIGINT) AS c_p
        FROM cells GROUP BY 1
    ),
    den1 AS (
        SELECT pos, list_reduce([CAST(0.0 AS DOUBLE)] || list((n_ip * c_i) / n_i ORDER BY item),
                                (a, b) -> a + b) AS den
        FROM cells JOIN item_stats USING (item) GROUP BY pos
    ),
    theta1 AS (
        SELECT pos, n_p, c_p, c_p / den AS theta1
        FROM pos_stats JOIN den1 USING (pos)
    ),
    den2 AS (
        SELECT item, list_reduce([CAST(0.0 AS DOUBLE)] || list(n_ip * theta1 ORDER BY pos),
                                 (a, b) -> a + b) AS den
        FROM cells JOIN theta1 USING (pos) GROUP BY item
    ),
    gamma2 AS (
        SELECT item, c_i / den AS gamma2
        FROM item_stats JOIN den2 USING (item)
    ),
    den3 AS (
        SELECT pos, list_reduce([CAST(0.0 AS DOUBLE)] || list(n_ip * gamma2 ORDER BY item),
                                (a, b) -> a + b) AS den
        FROM cells JOIN gamma2 USING (item) GROUP BY pos
    )
    SELECT t.pos, t.n_p AS n_impressions, t.c_p AS n_clicks, t.theta1, t.c_p / d.den AS theta2
    FROM theta1 t JOIN den3 d USING (pos)
    """,
)
def q563(spark: SparkSession, sf: str) -> DataFrame:
    """Position-bias model estimation, two unrolled EM rounds
    (operators/retrieval.position_bias_em): synthetic click log with
    rate ∝ 1/(pos+2); every EM denominator is an item/position-ordered
    LEFT FOLD over the aggregated contingency cells, every term
    exact-integer with one divide — the examination-probability curve
    search ranking needs before training on clicks."""
    from .operators.retrieval import position_bias_em

    ev = load_table(spark, sf, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    pos = F.col("event_id") % 10 + 1
    f = ev.select(
        (cents % 40).alias("item"),
        pos.alias("pos"),
        ((cents * 7 + F.col("event_id")) % (pos + 2) == 0).cast("long").alias("click"),
    )
    return position_bias_em(f, "item", "pos", "click")


# ------------------------------------------------------------------ q564
def _q564_oracle() -> str:
    from .operators.mining import _MARKOV_STATES, markov_conversion_expr

    pivot = ",\n               ".join(
        f"coalesce(max(CASE WHEN i = '{i}' AND j = '{j}' THEN t END), CAST(0.0 AS DOUBLE))"
        f" AS t_{i}_{j}"
        for i in ["start"] + _MARKOV_STATES
        for j in _MARKOV_STATES + ["purchase"]
    )
    full = markov_conversion_expr("purchase", None)
    picks = []
    for c in _MARKOV_STATES:
        rem = markov_conversion_expr("purchase", c)
        picks.append(
            f"SELECT '{c}' AS channel, {full} AS conv_full, {rem} AS conv_removed,\n"
            f"       ({full} - {rem}) / {full} AS removal_effect FROM m"
        )
    body = "\nUNION ALL\n".join(picks)
    return f"""
    WITH ordered AS (
        SELECT event_type AS j,
               lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        FROM events
    ),
    trans AS (
        SELECT coalesce(prev, 'start') AS i, j FROM ordered
        WHERE prev IS NULL OR prev != 'purchase'
    ),
    counts AS (SELECT i, j, CAST(count(*) AS BIGINT) AS n FROM trans GROUP BY 1, 2),
    tot AS (SELECT i, CAST(sum(n) AS BIGINT) AS ni FROM counts GROUP BY 1),
    cells AS (SELECT i, j, n / ni AS t FROM counts JOIN tot USING (i)),
    m AS (SELECT {pivot} FROM cells)
    {body}
    """


@query("q564_markov_attribution", _q564_oracle())
def q564(spark: SparkSession, sf: str) -> DataFrame:
    """Markov removal-effect attribution (operators/mining.
    markov_attribution): journeys reduce to 25 transition cells on ONE
    row, the 3-step absorption polynomial and its per-channel removal
    variants are generated expression text evaluated VERBATIM by both
    engines (F.expr = oracle SQL) — float-identical by construction."""
    from .operators.mining import markov_attribution

    ev = load_table(spark, sf, "events")
    return markov_attribution(ev, "user_id", "event_type", ["ts", "event_id"], "purchase")


# ------------------------------------------------------------------ q565
@query(
    "q565_als_rank1",
    """
    WITH f AS (
        SELECT user_id AS u, CAST(round(value * 100) AS BIGINT) % 40 AS j
        FROM events
    ),
    ratings AS (SELECT u, j, CAST(count(*) AS BIGINT) AS r FROM f GROUP BY 1, 2),
    u1 AS (
        SELECT u,
               list_reduce([CAST(0.0 AS DOUBLE)] || list(r * CAST(1.0 AS DOUBLE) ORDER BY j),
                           (a, b) -> a + b)
             / list_reduce([CAST(0.0 AS DOUBLE)] || list(CAST(1.0 AS DOUBLE) * CAST(1.0 AS DOUBLE) ORDER BY j),
                           (a, b) -> a + b) AS uf
        FROM ratings GROUP BY u
    ),
    v1 AS (
        SELECT j,
               list_reduce([CAST(0.0 AS DOUBLE)] || list(r * uf ORDER BY u), (a, b) -> a + b)
             / list_reduce([CAST(0.0 AS DOUBLE)] || list(uf * uf ORDER BY u), (a, b) -> a + b) AS v
        FROM ratings JOIN u1 USING (u) GROUP BY j
    ),
    u2 AS (
        SELECT u,
               list_reduce([CAST(0.0 AS DOUBLE)] || list(r * v ORDER BY j), (a, b) -> a + b)
             / list_reduce([CAST(0.0 AS DOUBLE)] || list(v * v ORDER BY j), (a, b) -> a + b) AS uf
        FROM ratings JOIN v1 USING (j) GROUP BY u
    ),
    v2 AS (
        SELECT j,
               list_reduce([CAST(0.0 AS DOUBLE)] || list(r * uf ORDER BY u), (a, b) -> a + b)
             / list_reduce([CAST(0.0 AS DOUBLE)] || list(uf * uf ORDER BY u), (a, b) -> a + b) AS v
        FROM ratings JOIN u2 USING (u) GROUP BY j
    )
    SELECT j AS item, v FROM v2
    """,
)
def q565(spark: SparkSession, sf: str) -> DataFrame:
    """Rank-1 ALS recommender training, two full alternating rounds
    (operators/mining.als_rank1) on implicit play-count ratings:
    every factor update is a key-ordered LEFT FOLD ratio over the
    rating relation (never a hash-agg float sum) — bit-identical item
    factors cross-engine; the classic join+grouped-agg ALS shuffle."""
    from .operators.mining import als_rank1

    ev = load_table(spark, sf, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    f = ev.select(F.col("user_id").alias("u"), (cents % 40).alias("j"))
    ratings = f.groupBy("u", "j").agg(F.count(F.lit(1)).cast("long").alias("r"))
    return als_rank1(ratings, "u", "j", "r", n_rounds=2).withColumnRenamed("j", "item")


# ------------------------------------------------------------------ q566
def _q566_oracle() -> str:
    n_strata = 3
    cells = []
    for k in range(n_strata):
        cells.append(
            f"coalesce(max(CASE WHEN stratum = {k} THEN n_s END), CAST(0 AS BIGINT)) AS n_s{k},\n"
            f"           max(CASE WHEN stratum = {k} AND n1 > 0 AND n0 > 0\n"
            f"                    THEN s1 / n1 - s0 / n0 END) AS diff_s{k}"
        )
    pivot = ",\n           ".join(cells)
    total = " + ".join(f"n_s{k}" for k in range(n_strata))
    ate = " + ".join(f"coalesce(n_s{k} * diff_s{k}, CAST(0.0 AS DOUBLE))" for k in range(n_strata))
    return f"""
    WITH f AS (
        SELECT CAST(round(value * 100) AS BIGINT) % 8 AS bkt,
               CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END AS t,
               CAST(round(value * 100) AS BIGINT) % 100
                 + 10 * (CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END)
                 + 5 * (CAST(round(value * 100) AS BIGINT) % 8) AS y
        FROM events
    ),
    b AS (
        SELECT bkt, CAST(count(*) AS BIGINT) AS n_b,
               CAST(sum(t) AS BIGINT) AS nt_b,
               CAST(sum(t * y) AS BIGINT) AS sy1,
               CAST(sum((1 - t) * y) AS BIGINT) AS sy0
        FROM f GROUP BY 1
    ),
    ranked AS (
        SELECT *, (nt_b * 1000000) // n_b AS ppm FROM b
    ),
    rk AS (
        SELECT *, row_number() OVER (ORDER BY ppm, bkt) AS rk,
               CAST(count(*) OVER () AS BIGINT) AS nbkt
        FROM ranked
    ),
    strata AS (SELECT *, ((rk - 1) * 3) // nbkt AS stratum FROM rk),
    s AS (
        SELECT stratum, CAST(sum(n_b) AS BIGINT) AS n_s,
               CAST(sum(nt_b) AS BIGINT) AS n1,
               CAST(sum(n_b - nt_b) AS BIGINT) AS n0,
               CAST(sum(sy1) AS BIGINT) AS s1,
               CAST(sum(sy0) AS BIGINT) AS s0
        FROM strata GROUP BY 1
    ),
    wide AS (SELECT {pivot} FROM s)
    SELECT *, ({total}) AS n_total, ({ate}) / ({total}) AS ate FROM wide
    """


@query("q566_ps_stratified_ate", _q566_oracle())
def q566(spark: SparkSession, sf: str) -> DataFrame:
    """Propensity-stratified ATE (functions/stats.ps_stratified_ate) on
    a synthetic confounded outcome with a planted +10 effect:
    empirical propensities in exact integer ppm, integer-DIV stratum
    cut under a total order, within-stratum mean differences as
    one-divide rationals, ATE as a fixed-order pivoted expression —
    no float hash-agg sum anywhere."""
    from .functions.stats import ps_stratified_ate

    ev = load_table(spark, sf, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    t = (F.col("event_id") % 3 == 0).cast("long")
    f = ev.select(
        (cents % 8).alias("bkt"),
        t.alias("t"),
        (cents % 100 + 10 * t + 5 * (cents % 8)).alias("y"),
    )
    return ps_stratified_ate(f, "bkt", "t", "y", n_strata=3)


# ------------------------------------------------------------------ q567
def _q567_oracle() -> str:
    w = (
        "CASE WHEN abs(y - ({a} * x + {b})) <= 10 THEN CAST(1.0 AS DOUBLE) "
        "ELSE 10 / abs(y - ({a} * x + {b})) END"
    )
    folds = {
        "sw": "{w}",
        "swx": "{w} * x",
        "swy": "{w} * y",
        "swxx": "{w} * x * x",
        "swxy": "{w} * x * y",
    }

    def round_ctes(r):
        wr = w.format(a=f"a{r - 1}", b=f"b{r - 1}")
        fold_cols = ",\n               ".join(
            f"list_reduce([CAST(0.0 AS DOUBLE)] || list({t.format(w=wr)} ORDER BY id),"
            f" (p, q) -> p + q) AS {name}"
            for name, t in folds.items()
        )
        prev = "seed" if r == 1 else f"r{r - 1}b"
        carry = ", ".join(["n"] + [f"a{i}, b{i}" for i in range(r)])
        return f"""
    r{r} AS (
        SELECT {carry},
               {fold_cols}
        FROM pts CROSS JOIN {prev}
        GROUP BY {carry}
    ),
    r{r}s AS (
        SELECT *, (sw * swxy - swx * swy) / (sw * swxx - swx * swx) AS a{r} FROM r{r}
    ),
    r{r}b AS (
        SELECT * EXCLUDE (sw, swx, swy, swxx, swxy),
               (swy - a{r} * swx) / sw AS b{r}
        FROM r{r}s
    )"""

    return f"""
    WITH pts AS (
        SELECT event_id AS id, CAST(round(value) AS BIGINT) AS x,
               3 * CAST(round(value) AS BIGINT) + event_id % 11 - 5
                 + CASE WHEN event_id % 40 = 0 THEN 700 ELSE 0 END AS y
        FROM events WHERE event_id % 97 = 0
    ),
    seed0 AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(x * y) AS BIGINT) AS sxy
        FROM pts
    ),
    seed AS (
        SELECT n,
               (n * sxy - sx * sy) / (n * sxx - sx * sx) AS a0,
               (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n AS b0
        FROM seed0
    ),{round_ctes(1)},{round_ctes(2)}
    SELECT n, a0, b0, a1, b1, a2, b2 FROM r2b
    """


@query("q567_huber_fit", _q567_oracle())
def q567(spark: SparkSession, sf: str) -> DataFrame:
    """Huber robust line fit, 2 IRLS rounds (functions/stats.huber_fit)
    on a planted slope-3 line with 2.5% gross outliers: exact-integer
    OLS seed, id-ordered fold weighted moments per round (staged
    columns — never re-evaluated per reference), closed-form WLS —
    the per-round slopes walk from the outlier-dragged seed toward 3."""
    from .functions.stats import huber_fit

    ev = load_table(spark, sf, "events").where(F.col("event_id") % 97 == 0)
    dollars = F.round(F.col("value")).cast("long")
    pts = ev.select(
        F.col("event_id").alias("id"),
        dollars.alias("x"),
        (
            3 * dollars + F.col("event_id") % 11 - 5
            + F.when(F.col("event_id") % 40 == 0, 700).otherwise(0)
        ).alias("y"),
    )
    return huber_fit(pts, "id", "x", "y", k=10, n_rounds=2)


# ------------------------------------------------------------------ q568
@query(
    "q568_aa_calibration",
    """
    WITH users AS (
        SELECT user_id,
               CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS y
        FROM events GROUP BY 1
    ),
    splits AS (
        SELECT k, user_id, y,
               ('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':' || CAST(k AS VARCHAR)), 1, 15))::BIGINT % 2
                 AS treat
        FROM users, unnest(generate_series(1, 20)) AS t(k)
    ),
    agg AS (
        SELECT k,
               CAST(sum(treat) AS BIGINT) AS n1,
               CAST(sum(1 - treat) AS BIGINT) AS n0,
               CAST(sum(treat * y) AS BIGINT) AS s1,
               CAST(sum((1 - treat) * y) AS BIGINT) AS s0
        FROM splits GROUP BY 1
    ),
    flags AS (
        SELECT CAST(k AS BIGINT) AS split_id, n1, n0, s1, s0,
               10000 * (s1 * n0 - s0 * n1) * (s1 * n0 - s0 * n1) * (n1 + n0)
                 > 38416 * (s1 + s0) * (n1 + n0 - s1 - s0) * (n1 * n0) AS significant
        FROM agg
    )
    SELECT split_id, n1, n0, s1, s0, significant,
           CAST(sum(CASE WHEN significant THEN 1 ELSE 0 END) OVER () AS BIGINT)
             AS n_false_positives
    FROM flags
    """,
)
def q568(spark: SparkSession, sf: str) -> DataFrame:
    """A/A-test calibration sweep: 20 portable-md5 hash splits of the
    user base, each tested with the two-proportion z at α=0.05 via the
    FULLY INTEGER cross-multiplied form 10⁴·(s₁n₀−s₀n₁)²·N >
    38416·S(N−S)·n₁n₀ (c² = 1.96² as the exact rational 38416/10⁴ —
    zero float ops, zero boundary risk).  The false-positive count
    audits the experimentation stack's calibration: ~1 of 20 expected."""
    ev = load_table(spark, sf, "events")
    users = ev.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("y")
    )
    splits = users.select(
        "user_id", "y", F.explode(F.sequence(F.lit(1), F.lit(20))).alias("k")
    ).select(
        "k", "y",
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("user_id").cast("string"), F.lit(":"),
                                   F.col("k").cast("string"))),
                    1, 15,
                ),
                16, 10,
            ).cast("long")
            % 2
        ).alias("treat"),
    )
    agg = splits.groupBy("k").agg(
        F.sum("treat").cast("long").alias("n1"),
        F.sum(1 - F.col("treat")).cast("long").alias("n0"),
        F.sum(F.col("treat") * F.col("y")).cast("long").alias("s1"),
        F.sum((1 - F.col("treat")) * F.col("y")).cast("long").alias("s0"),
    )
    d = F.col("s1") * F.col("n0") - F.col("s0") * F.col("n1")
    n = F.col("n1") + F.col("n0")
    s = F.col("s1") + F.col("s0")
    flags = agg.select(
        F.col("k").cast("long").alias("split_id"), "n1", "n0", "s1", "s0",
        (10000 * d * d * n > 38416 * s * (n - s) * (F.col("n1") * F.col("n0")))
        .alias("significant"),
    )
    wall = Window.partitionBy()
    return flags.withColumn(
        "n_false_positives",
        F.sum(F.when(F.col("significant"), 1).otherwise(0)).over(wall).cast("long"),
    )


# ------------------------------------------------------------------ q569
@query(
    "q569_scc",
    """
    WITH RECURSIVE base AS (
        SELECT doc_id % 60 AS src, (doc_id * 13 + 7) % 60 AS dst FROM documents
        WHERE doc_id % 60 != (doc_id * 13 + 7) % 60
    ),
    edges AS (SELECT DISTINCT src, dst FROM base),
    closure AS (
        SELECT src, dst FROM edges
        UNION
        SELECT c.src, e.dst FROM closure c JOIN edges e ON c.dst = e.src
    ),
    mutual AS (
        SELECT a.src AS node, a.dst AS peer
        FROM closure a JOIN closure b ON a.src = b.dst AND a.dst = b.src
    ),
    nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
    pairs AS (
        SELECT node, peer FROM mutual
        UNION ALL
        SELECT node, node AS peer FROM nodes
    )
    SELECT node, min(peer) AS component FROM pairs GROUP BY 1
    """,
)
def q569(spark: SparkSession, sf: str) -> DataFrame:
    """Strongly connected components (operators/graph.scc_components)
    of the synthetic 60-node digraph: path-doubling transitive closure
    (6 rounds cover length-64 paths) ∩ its reverse = mutual
    reachability, component = min mutual id — exact set algebra; the
    oracle replays with a recursive CTE."""
    from .operators.graph import scc_components

    d = load_table(spark, sf, "documents")
    edges = d.select(
        (F.col("doc_id") % 60).alias("src"),
        ((F.col("doc_id") * 13 + 7) % 60).alias("dst"),
    ).where(F.col("src") != F.col("dst")).distinct()
    return scc_components(edges, "src", "dst", max_doubling=6)


# ------------------------------------------------------------------ q570
_Q570_T = "(CAST(1.0 AS DOUBLE) - (((s_jac * s_jac) * s_jac) * s_jac))"
_Q570_P = (
    f"CAST(1.0 AS DOUBLE) - ((({_Q570_T} * {_Q570_T}) * ({_Q570_T} * {_Q570_T}))"
    f" * (({_Q570_T} * {_Q570_T}) * ({_Q570_T} * {_Q570_T})))"
)


def _q570_oracle() -> str:
    from .operators import dedup as _dd

    num_perm, bands, rpb, p = 32, 8, 4, _dd._MERSENNE
    params = _dd._hash_params(num_perm)
    mh_cols = ", ".join(
        f"min((h * {a} + {b}) % {p}) AS mh{i}" for i, (a, b) in enumerate(params)
    )
    band_terms = " + ".join(
        "(CASE WHEN "
        + " AND ".join(f"sa.mh{b * rpb + r} = sb.mh{b * rpb + r}" for r in range(rpb))
        + " THEN 1 ELSE 0 END)"
        for b in range(bands)
    )
    return rf"""
    WITH docs AS (
        SELECT doc_id AS id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
        FROM documents WHERE doc_id < 100 AND text IS NOT NULL
        UNION ALL
        SELECT doc_id + 100000 AS id,
               regexp_replace(lower(trim(text || ' calibration tail')), '\s+', ' ', 'g') AS t
        FROM documents WHERE doc_id < 50 AND text IS NOT NULL
    ),
    sh AS (
        SELECT id, unnest(list_distinct(list_transform(
                   range(1, greatest(len(string_split(t, ' ')) - 2, 1) + 1),
                   i -> array_to_string((string_split(t, ' '))[i:i+2], ' ')))) AS s
        FROM docs
    ),
    hs AS (SELECT id, ('0x' || substr(md5(s), 1, 15))::BIGINT % {p} AS h FROM sh),
    sig AS (SELECT id, {mh_cols} FROM hs GROUP BY id),
    sizes AS (SELECT id, CAST(count(*) AS BIGINT) AS sz FROM sh GROUP BY id),
    inter AS (
        SELECT a.id AS ia, b.id AS ib, CAST(count(*) AS BIGINT) AS n_shared
        FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id
        GROUP BY 1, 2
    ),
    j AS (
        SELECT ia, ib, n_shared,
               n_shared / (za.sz + zb.sz - n_shared) AS s_jac
        FROM inter JOIN sizes za ON za.id = ia JOIN sizes zb ON zb.id = ib
    ),
    withsig AS (
        SELECT j.*, CAST({band_terms} AS BIGINT) AS bands_equal
        FROM j JOIN sig sa ON sa.id = j.ia JOIN sig sb ON sb.id = j.ib
    )
    SELECT ia AS doc_a, ib AS doc_b, n_shared, s_jac,
           {_Q570_P} AS p_candidate,
           bands_equal, bands_equal >= 1 AS is_candidate
    FROM withsig
    """


def _band_agreement_sql(bands: int, rpb: int) -> str:
    """Number of agreeing minhash bands between signature columns
    ``a0..`` and ``b0..`` (``bands`` bands of ``rpb`` rows)."""
    return " + ".join(
        "(CASE WHEN "
        + " AND ".join(f"a{bb * rpb + r} = b{bb * rpb + r}" for r in range(rpb))
        + " THEN 1 ELSE 0 END)"
        for bb in range(bands)
    )


def _q570_signed_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """The q570 planted corpus (docs < 100 plus tail-extended copies of
    docs < 50): every shingle-sharing pair (ia < ib) with its exact
    n_shared and Jaccard s_jac, and both docs' 32-perm portable-md5
    minhash signatures as ``a0..a31`` / ``b0..b31``."""
    from .operators.dedup import minhash_signature_df, shingles

    base = load_table(spark, sf, "documents").where(F.col("text").isNotNull())
    d = base.where(F.col("doc_id") < 100).select("doc_id", "text").unionByName(
        base.where(F.col("doc_id") < 50).select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" calibration tail")).alias("text"),
        )
    )
    sig = minhash_signature_df(d, "text", "doc_id", num_perm=32, shingle_n=3, hash_kind="md5")
    ex = d.select(F.col("doc_id").alias("id"), F.explode(shingles(F.col("text"), 3)).alias("s"))
    sizes = ex.groupBy("id").agg(F.count(F.lit(1)).cast("long").alias("sz"))
    a, b = ex.alias("a"), ex.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("ia"), F.col("b.id").alias("ib"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    za = sizes.select(F.col("id").alias("ia"), F.col("sz").alias("sza"))
    zb = sizes.select(F.col("id").alias("ib"), F.col("sz").alias("szb"))
    j = inter.join(za, "ia").join(zb, "ib").select(
        "ia", "ib", "n_shared",
        (F.col("n_shared") / (F.col("sza") + F.col("szb") - F.col("n_shared"))).alias("s_jac"),
    )
    sa = sig.select(F.col("doc_id").alias("ia"), *[F.col(f"mh{i}").alias(f"a{i}") for i in range(32)])
    sb = sig.select(F.col("doc_id").alias("ib"), *[F.col(f"mh{i}").alias(f"b{i}") for i in range(32)])
    return j.join(sa, "ia").join(sb, "ib")


@query("q570_lsh_calibration", _q570_oracle())
def q570(spark: SparkSession, sf: str) -> DataFrame:
    """LSH banding calibration audit: for every shingle-sharing doc
    pair, the exact Jaccard (one rational divide), the THEORETICAL
    candidate probability 1−(1−s⁴)⁸ as a mirrored fixed-association
    double chain, and the ACTUAL number of agreeing (32-perm, 8×4)
    portable-md5 minhash bands — the self-audit that the engine's own
    dedup banding matches the S-curve it promises
    (operators/dedup.minhash_signature_df)."""
    withsig = _q570_signed_pairs(spark, sf).select(
        "ia", "ib", "n_shared", "s_jac",
        F.expr(f"CAST({_band_agreement_sql(8, 4)} AS BIGINT)").alias("bands_equal"),
    )
    return withsig.select(
        F.col("ia").alias("doc_a"), F.col("ib").alias("doc_b"),
        "n_shared", "s_jac",
        F.expr(_Q570_P).alias("p_candidate"),
        "bands_equal",
        (F.col("bands_equal") >= 1).alias("is_candidate"),
    )


# ---------------------------------------------------------------- q571-q574
# TPC-H Q2/Q11/Q12/Q20 shapes. The synthetic schema has no partsupp and
# no l_shipmode/commitdate/receiptdate; both engines derive them
# DETERMINISTICALLY from existing keys (identical arithmetic), so the
# remaining four TPC-H query SHAPES are exercised end to end.
_PS_SQL = """
    nsupp AS (SELECT CAST(count(*) AS BIGINT) AS ns FROM supplier),
    ps AS (
        SELECT p_partkey,
               (p_partkey * 7 + i * 13) % ns AS ps_suppkey,
               (p_partkey * 31 + i * 7) % 100000 + 1 AS ps_supplycost,
               (p_partkey * 17 + i * 11) % 10000 + 1 AS ps_availqty
        FROM part CROSS JOIN nsupp, unnest(generate_series(0, 3)) AS t(i)
    )"""


def _synth_partsupp(spark: SparkSession, sf: str) -> DataFrame:
    """part × 4 pseudo-suppliers with hash-derived cost/availability —
    the deterministic stand-in for TPC-H partsupp (see _PS_SQL)."""
    part = load_table(spark, sf, "part")
    ns = load_table(spark, sf, "supplier").agg(
        F.count(F.lit(1)).cast("long").alias("ns")
    )
    return (
        part.crossJoin(F.broadcast(ns))
        .select("p_partkey", "ns", F.explode(F.sequence(F.lit(0), F.lit(3))).alias("i"))
        .select(
            "p_partkey",
            ((F.col("p_partkey") * 7 + F.col("i") * 13) % F.col("ns")).alias("ps_suppkey"),
            ((F.col("p_partkey") * 31 + F.col("i") * 7) % 100000 + 1).alias("ps_supplycost"),
            ((F.col("p_partkey") * 17 + F.col("i") * 11) % 10000 + 1).alias("ps_availqty"),
        )
    )


@query(
    "q571_tpch_q2",
    f"""
    WITH {_PS_SQL},
    eu AS (
        SELECT s_suppkey, s_name, CAST(round(s_acctbal * 100) AS BIGINT) AS acctbal_cents,
               n_name
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE'
    ),
    cand AS (
        SELECT p.p_partkey, p.p_type, e.s_name, e.n_name, e.acctbal_cents,
               CAST(ps.ps_supplycost AS BIGINT) AS cost_cents
        FROM ps JOIN eu e ON ps.ps_suppkey = e.s_suppkey
        JOIN part p ON ps.p_partkey = p.p_partkey
        WHERE p.p_size = 15
    ),
    mins AS (SELECT p_partkey, CAST(min(cost_cents) AS BIGINT) AS mc FROM cand GROUP BY 1)
    SELECT c.acctbal_cents, c.s_name, c.n_name, c.p_partkey, c.p_type, c.cost_cents
    FROM cand c JOIN mins m ON c.p_partkey = m.p_partkey AND c.cost_cents = m.mc
    """,
)
def q571(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q2 shape (min-cost supplier): correlated-min rewritten as
    a per-part min-aggregate join (the scale-correct form), European
    suppliers broadcast, exact cent costs — over the deterministic
    synthetic partsupp (_synth_partsupp)."""
    ps = _synth_partsupp(spark, sf)
    supp = load_table(spark, sf, "supplier")
    nat = load_table(spark, sf, "nation")
    reg = load_table(spark, sf, "region")
    part = load_table(spark, sf, "part").where(F.col("p_size") == 15)
    eu = (
        supp.join(nat, supp["s_nationkey"] == nat["n_nationkey"])
        .join(reg, nat["n_regionkey"] == reg["r_regionkey"])
        .where(F.col("r_name") == "EUROPE")
        .select(
            "s_suppkey", "s_name",
            F.round(F.col("s_acctbal") * 100).cast("long").alias("acctbal_cents"),
            "n_name",
        )
    )
    cand = (
        ps.join(F.broadcast(eu), ps["ps_suppkey"] == eu["s_suppkey"])
        .join(part, "p_partkey")
        .select(
            "p_partkey", "p_type", "s_name", "n_name", "acctbal_cents",
            F.col("ps_supplycost").cast("long").alias("cost_cents"),
        )
    )
    mins = cand.groupBy("p_partkey").agg(F.min("cost_cents").cast("long").alias("mc"))
    mins = mins.select(F.col("p_partkey").alias("mp"), "mc")
    return cand.join(
        mins, (F.col("p_partkey") == F.col("mp")) & (F.col("cost_cents") == F.col("mc"))
    ).select("acctbal_cents", "s_name", "n_name", "p_partkey", "p_type", "cost_cents")


@query(
    "q572_tpch_q11",
    f"""
    WITH {_PS_SQL},
    asia AS (
        SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'ASIA'
    ),
    vals AS (
        SELECT ps.p_partkey, CAST(sum(ps_supplycost * ps_availqty) AS BIGINT) AS pv
        FROM ps JOIN asia ON ps.ps_suppkey = asia.s_suppkey GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(pv) AS BIGINT) AS tv, CAST(count(*) AS BIGINT) AS np FROM vals)
    SELECT p_partkey, pv FROM vals CROSS JOIN tot WHERE pv * np > 2 * tv
    """,
)
def q572(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q11 shape (important stock): per-part Σ cost·qty over one
    region's suppliers, HAVING above 2× the mean share — the fraction
    threshold cross-multiplied (pv·n_parts > 2·total) so it stays
    discriminative at EVERY scale factor (the classic 0.0001 constant
    goes vacuous as parts grow)."""
    ps = _synth_partsupp(spark, sf)
    supp = load_table(spark, sf, "supplier")
    nat = load_table(spark, sf, "nation")
    reg = load_table(spark, sf, "region")
    asia = (
        supp.join(nat, supp["s_nationkey"] == nat["n_nationkey"])
        .join(reg, nat["n_regionkey"] == reg["r_regionkey"])
        .where(F.col("r_name") == "ASIA")
        .select("s_suppkey")
    )
    vals = (
        ps.join(F.broadcast(asia), ps["ps_suppkey"] == asia["s_suppkey"])
        .groupBy("p_partkey")
        .agg(F.sum(F.col("ps_supplycost") * F.col("ps_availqty")).cast("long").alias("pv"))
    )
    tot = vals.agg(
        F.sum("pv").cast("long").alias("tv"), F.count(F.lit(1)).cast("long").alias("np")
    )
    return (
        vals.crossJoin(F.broadcast(tot))
        .where(F.col("pv") * F.col("np") > 2 * F.col("tv"))
        .select("p_partkey", "pv")
    )


@query(
    "q573_tpch_q12",
    """
    WITH li AS (
        SELECT l_orderkey,
               CAST(floor(epoch(l_shipdate) / 86400.0) AS BIGINT) AS d0,
               (l_orderkey * 3 + l_linenumber * 5) % 7 AS mi,
               (l_orderkey * 11 + l_linenumber * 3) % 30 + 1 AS rlag,
               (l_orderkey * 5 + l_linenumber * 7) % 35 AS clag
        FROM lineitem
    ),
    f AS (
        SELECT l_orderkey,
               CASE mi WHEN 0 THEN 'MAIL' WHEN 1 THEN 'SHIP' WHEN 2 THEN 'AIR'
                       WHEN 3 THEN 'TRUCK' WHEN 4 THEN 'RAIL' WHEN 5 THEN 'REG AIR'
                       ELSE 'FOB' END AS shipmode,
               d0, d0 + clag AS cday, d0 + rlag AS rday
        FROM li
    )
    SELECT shipmode,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
                AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END)
                AS BIGINT) AS low_line_count
    FROM f JOIN orders ON l_orderkey = o_orderkey
    WHERE shipmode IN ('MAIL', 'SHIP') AND cday < rday AND d0 < cday
      AND rday >= 9496 AND rday < 9861
    GROUP BY shipmode
    """,
)
def q573(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q12 shape (shipmode priority split): ship mode and
    commit/receipt lags derived deterministically from line keys,
    ALL date logic in exact epoch-day integers (receipt in 1996,
    commit < receipt, shipped before commit), one broadcast-dim join +
    one conditional agg."""
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders").select("o_orderkey", "o_orderpriority")
    ok, ln = F.col("l_orderkey"), F.col("l_linenumber")
    d0 = F.floor(F.unix_seconds(F.col("l_shipdate").cast("timestamp")) / 86400).cast("long")
    mi = (ok * 3 + ln * 5) % 7
    f = li.select(
        ok.alias("l_orderkey"),
        F.element_at(
            F.array(*[F.lit(m) for m in ["MAIL", "SHIP", "AIR", "TRUCK", "RAIL", "REG AIR", "FOB"]]),
            (mi + 1).cast("int"),
        ).alias("shipmode"),
        d0.alias("d0"),
        (d0 + (ok * 5 + ln * 7) % 35).alias("cday"),
        (d0 + (ok * 11 + ln * 3) % 30 + 1).alias("rday"),
    ).where(
        F.col("shipmode").isin("MAIL", "SHIP")
        & (F.col("cday") < F.col("rday"))
        & (F.col("d0") < F.col("cday"))
        & (F.col("rday") >= 9496) & (F.col("rday") < 9861)
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        f.join(o, f["l_orderkey"] == o["o_orderkey"])
        .groupBy("shipmode")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(hi, 0).otherwise(1)).cast("long").alias("low_line_count"),
        )
    )


@query(
    "q574_tpch_q20",
    f"""
    WITH {_PS_SQL},
    q AS (
        SELECT l_partkey, l_suppkey,
               CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sq
        FROM lineitem
        WHERE CAST(floor(epoch(l_shipdate) / 86400.0) AS BIGINT) >= 9131
          AND CAST(floor(epoch(l_shipdate) / 86400.0) AS BIGINT) < 9496
        GROUP BY 1, 2
    ),
    pr AS (SELECT p_partkey FROM part WHERE p_type = 'PROMO'),
    hits AS (
        SELECT DISTINCT ps.ps_suppkey
        FROM ps JOIN pr ON ps.p_partkey = pr.p_partkey
        JOIN q ON q.l_partkey = ps.p_partkey AND q.l_suppkey = ps.ps_suppkey
        WHERE 2 * (ps.ps_availqty % 50) > q.sq
    )
    SELECT s.s_suppkey, s.s_name, n.n_name
    FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN hits ON s.s_suppkey = hits.ps_suppkey
    """,
)
def q574(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q20 shape (excess-stock suppliers): the nested
    EXISTS/IN chain rewritten as semi-join relations — promo parts ⋈
    synthetic partsupp ⋈ 1995 shipped quantity, the half-of-shipped
    threshold cross-multiplied (2·avail > Σqty), distinct suppliers
    joined back to names."""
    ps = _synth_partsupp(spark, sf)
    li = load_table(spark, sf, "lineitem")
    d = F.floor(F.unix_seconds(F.col("l_shipdate").cast("timestamp")) / 86400).cast("long")
    q = (
        li.where((d >= 9131) & (d < 9496))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.round(F.col("l_quantity")).cast("long")).cast("long").alias("sq"))
    )
    pr = load_table(spark, sf, "part").where(F.col("p_type") == "PROMO").select("p_partkey")
    hits = (
        ps.join(pr, "p_partkey")
        .join(
            q,
            (q["l_partkey"] == ps["p_partkey"]) & (q["l_suppkey"] == ps["ps_suppkey"]),
        )
        .where(2 * (F.col("ps_availqty") % 50) > F.col("sq"))
        .select(F.col("ps_suppkey").alias("s_suppkey"))
        .distinct()
    )
    s = load_table(spark, sf, "supplier")
    n = load_table(spark, sf, "nation")
    return (
        s.join(hits, "s_suppkey")
        .join(n, s["s_nationkey"] == n["n_nationkey"])
        .select("s_suppkey", "s_name", "n_name")
    )


# ------------------------------------------------------------------ q575
@query(
    "q575_window_funnel",
    """
    WITH ev AS (SELECT user_id AS k, event_type AS t, epoch_us(ts) AS us FROM events),
    a AS (SELECT k, us AS t1 FROM ev WHERE t = 'signup'),
    s2 AS (SELECT k, us AS s FROM ev WHERE t = 'click'),
    l2 AS (
        SELECT a.k, a.t1,
               min(CASE WHEN s2.s > a.t1 AND s2.s <= a.t1 + 86400000000 THEN s2.s END) AS t2
        FROM a LEFT JOIN s2 ON a.k = s2.k GROUP BY a.k, a.t1
    ),
    s3 AS (SELECT k, us AS s FROM ev WHERE t = 'purchase'),
    l3 AS (
        SELECT l2.k, l2.t1, l2.t2,
               min(CASE WHEN s3.s > l2.t2 AND s3.s <= l2.t1 + 86400000000 THEN s3.s END) AS t3
        FROM l2 LEFT JOIN s3 ON l2.k = s3.k GROUP BY l2.k, l2.t1, l2.t2
    ),
    d AS (SELECT k, CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2 ELSE 1 END AS depth
          FROM l3)
    SELECT k AS user_id, CAST(count(*) AS BIGINT) AS n_anchors,
           CAST(max(depth) AS BIGINT) AS max_depth
    FROM d GROUP BY 1
    """,
)
def q575(spark: SparkSession, sf: str) -> DataFrame:
    """windowFunnel (operators/window.window_funnel): deepest
    strictly-ordered signup→click→purchase prefix within 24 h of each
    signup anchor — µs-integer time logic, one per-key equi-join +
    conditional min per level, anchors with out-of-window steps
    survive with NULL mins (no pre-group filter)."""
    from .operators.window import window_funnel

    ev = load_table(spark, sf, "events")
    return window_funnel(
        ev, "user_id", "event_type", "ts", ["signup", "click", "purchase"], 86400
    )


# ------------------------------------------------------------------ q576
@query(
    "q576_conformance",
    """
    WITH f AS (
        SELECT user_id, CAST(floor(epoch(ts) / 86400.0) AS BIGINT) AS day,
               epoch_us(ts) AS us, event_id,
               CASE event_type WHEN 'signup' THEN 's' WHEN 'click' THEN 'c'
                    WHEN 'purchase' THEN 'p' WHEN 'view' THEN 'v' ELSE 'e' END AS ini
        FROM events
    ),
    paths AS (
        SELECT user_id, day, string_agg(ini, '' ORDER BY us, event_id) AS path
        FROM f GROUP BY 1, 2
    )
    SELECT user_id, day, path,
           CAST(levenshtein(path, 'scp') AS BIGINT) AS edit_dist,
           levenshtein(path, 'scp') <= 2 AS conformant
    FROM paths
    """,
)
def q576(spark: SparkSession, sf: str) -> DataFrame:
    """Process-mining conformance check: each (user, day) journey
    renders to an initial-string under the (µs, event_id) total order
    (sorted-struct fold — collect_list alone is order-nondeterministic)
    and scores its Levenshtein edit distance to the reference
    signup→click→purchase path — the deviation report."""
    ev = load_table(spark, sf, "events")
    ini = (
        F.when(F.col("event_type") == "signup", "s")
        .when(F.col("event_type") == "click", "c")
        .when(F.col("event_type") == "purchase", "p")
        .when(F.col("event_type") == "view", "v")
        .otherwise("e")
    )
    f = ev.select(
        "user_id",
        F.floor(F.unix_seconds(F.col("ts")) / 86400).cast("long").alias("day"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        "event_id",
        ini.alias("ini"),
    )
    paths = f.groupBy("user_id", "day").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("us", "event_id", "ini"))),
                lambda s: s.getField("ini"),
            ),
            "",
        ).alias("path")
    )
    dist = F.levenshtein(F.col("path"), F.lit("scp"))
    return paths.select(
        "user_id", "day", "path",
        dist.cast("long").alias("edit_dist"),
        (dist <= 2).alias("conformant"),
    )


# ------------------------------------------------------------------ q577
def _q577_capped_tf(spark: SparkSession, sf: str) -> DataFrame:
    """(doc_id, tok, c) term counts of docs < 200, keeping only tokens
    found in at most 50 documents (the stopword-bucket cap)."""
    d = (
        load_table(spark, sf, "documents")
        .where((F.col("doc_id") < 200) & F.col("text").isNotNull())
    )
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok"),
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).cast("long").alias("c"))
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    return tf.join(dfreq, "tok").where(F.col("df") <= 50).select("doc_id", "tok", "c")


def _sparse_dots(capped: DataFrame, keep: Column) -> DataFrame:
    """Integer dot products (ia, ib, dot) of the doc pairs that share a
    token in ``capped`` and satisfy ``keep`` (over ``ia``/``ib``)."""
    a = capped.select(F.col("doc_id").alias("ia"), "tok", F.col("c").alias("ca"))
    b = capped.select(F.col("doc_id").alias("ib"), "tok", F.col("c").alias("cb"))
    return (
        a.join(b, "tok")
        .where(keep)
        .groupBy("ia", "ib")
        .agg(F.sum(F.col("ca") * F.col("cb")).cast("long").alias("dot"))
    )


@query(
    "q577_sparse_cosine",
    r"""
    WITH toks AS (
        SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
        FROM documents WHERE doc_id < 200 AND text IS NOT NULL
    ),
    tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY 1, 2),
    dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
    capped AS (SELECT tf.* FROM tf JOIN dfreq USING (tok) WHERE dfreq.df <= 50),
    norms AS (SELECT doc_id, CAST(sum(c * c) AS BIGINT) AS n2 FROM capped GROUP BY 1),
    dots AS (
        SELECT a.doc_id AS ia, b.doc_id AS ib, CAST(sum(a.c * b.c) AS BIGINT) AS dot
        FROM capped a JOIN capped b ON a.tok = b.tok AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    cos AS (
        SELECT ia, ib, dot,
               dot / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cosine
        FROM dots JOIN norms na ON na.doc_id = ia JOIN norms nb ON nb.doc_id = ib
    )
    SELECT ia AS doc_a, ib AS doc_b, dot, cosine FROM cos WHERE cosine >= 0.5
    """,
)
def q577(spark: SparkSession, sf: str) -> DataFrame:
    """Exact sparse-vector cosine similarity via the inverted-index
    join (the IR-classic scale path for sparse vectors — dot products
    only touch SHARED tokens): integer tf products, a document-
    frequency cap kills the stopword O(n²) bucket, norms √ of exact
    BIGINTs, one divide per pair."""
    capped = _q577_capped_tf(spark, sf)
    norms = capped.groupBy("doc_id").agg(F.sum(F.col("c") * F.col("c")).cast("long").alias("n2"))
    dots = _sparse_dots(capped, F.col("ia") < F.col("ib"))
    na = norms.select(F.col("doc_id").alias("ia"), F.col("n2").alias("na2"))
    nb = norms.select(F.col("doc_id").alias("ib"), F.col("n2").alias("nb2"))
    cos = (
        dots.join(na, "ia")
        .join(nb, "ib")
        .select(
            "ia", "ib", "dot",
            (
                F.col("dot")
                / (F.sqrt(F.col("na2").cast("double")) * F.sqrt(F.col("nb2").cast("double")))
            ).alias("cosine"),
        )
    )
    return cos.where(F.col("cosine") >= 0.5).select(
        F.col("ia").alias("doc_a"), F.col("ib").alias("doc_b"), "dot", "cosine"
    )


# ------------------------------------------------------------------ q578
def _q578_oracle() -> str:
    from .queries import ORACLES

    roll = ORACLES["q546_roll_spread"]
    vpin = ORACLES["q560_vpin"]
    return f"""
    WITH users AS (SELECT DISTINCT user_id FROM events),
    r AS ({roll}),
    v AS ({vpin}),
    vm AS (SELECT user_id, max(vpin_ppm) AS vmax FROM v GROUP BY 1),
    g AS (
        SELECT user_id,
               CAST(floor(epoch(ts)) AS BIGINT)
                 - lag(CAST(floor(epoch(ts)) AS BIGINT))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
        FROM events
    ),
    gc AS (SELECT user_id, gap, CAST(count(*) AS BIGINT) AS cnt
           FROM g WHERE gap IS NOT NULL GROUP BY 1, 2),
    ba AS (
        SELECT user_id,
               CAST(sum(cnt) AS BIGINT) AS n_gaps,
               CAST(sum(gap * cnt) AS BIGINT) AS span_s,
               sum(CAST(gap AS HUGEINT) * gap * cnt) AS g2
        FROM gc GROUP BY 1
    ),
    b AS (
        SELECT user_id,
               n_gaps >= 10 AND CAST(100 AS HUGEINT) * n_gaps * g2
                                < CAST(101 AS HUGEINT) * span_s * span_s AS is_beacon
        FROM ba
    ),
    sig AS (
        SELECT u.user_id,
               coalesce(r.spread_scaled > 10000, false) AS sig_bounce,
               coalesce(vm.vmax >= 200000, false) AS sig_toxic,
               coalesce(b.is_beacon, false) AS sig_beacon
        FROM users u
        LEFT JOIN r ON r.user_id = u.user_id
        LEFT JOIN vm ON vm.user_id = u.user_id
        LEFT JOIN b ON b.user_id = u.user_id
    )
    SELECT user_id, sig_bounce, sig_toxic, sig_beacon,
           CAST((CASE WHEN sig_bounce THEN 1 ELSE 0 END)
              + (CASE WHEN sig_toxic THEN 1 ELSE 0 END)
              + (CASE WHEN sig_beacon THEN 1 ELSE 0 END) AS BIGINT) AS n_signals,
           (CASE WHEN sig_bounce THEN 1 ELSE 0 END)
              + (CASE WHEN sig_toxic THEN 1 ELSE 0 END)
              + (CASE WHEN sig_beacon THEN 1 ELSE 0 END) >= 2 AS flagged
    FROM sig
    """


@query("q578_surveillance_scorecard", _q578_oracle())
def q578(spark: SparkSession, sf: str) -> DataFrame:
    """Market-surveillance capstone: per user the Roll bid-ask-bounce
    signal (q546), max VPIN flow toxicity (q560) and timer-beacon
    cadence (q509's CV test) compose into a risk scorecard — flagged
    at ≥2 signals.  The oracle replays ALL THREE pipelines by reusing
    their registered SQL verbatim (composition, one codepath per
    signal)."""
    from .operators.finance import roll_spread, vpin
    from .operators.mining import beacon_detect

    ev = load_table(spark, sf, "events")
    users = ev.select("user_id").distinct()
    r = roll_spread(
        ev.select("user_id", "ts", "event_id", "value"), ["user_id"], "value",
        ["ts", "event_id"], scale=100,
    ).select("user_id", "spread_scaled")
    vm = (
        vpin(ev.select("user_id", "ts", "event_id", "value"), ["user_id"],
             ["ts", "event_id"], "value", bucket_size=50, window_buckets=4, scale=100)
        .groupBy("user_id")
        .agg(F.max("vpin_ppm").alias("vmax"))
    )
    b = beacon_detect(
        ev.select("user_id", "ts", "event_id"), ["user_id"], "ts", "event_id",
        cv_num=1, cv_den=10, min_gaps=10,
    ).select("user_id", "is_beacon")
    sig = (
        users.join(r, "user_id", "left")
        .join(vm, "user_id", "left")
        .join(b, "user_id", "left")
        .select(
            "user_id",
            F.coalesce(F.col("spread_scaled") > 10000, F.lit(False)).alias("sig_bounce"),
            F.coalesce(F.col("vmax") >= 200000, F.lit(False)).alias("sig_toxic"),
            F.coalesce(F.col("is_beacon"), F.lit(False)).alias("sig_beacon"),
        )
    )
    n_sig = (
        F.when(F.col("sig_bounce"), 1).otherwise(0)
        + F.when(F.col("sig_toxic"), 1).otherwise(0)
        + F.when(F.col("sig_beacon"), 1).otherwise(0)
    )
    return sig.select(
        "user_id", "sig_bounce", "sig_toxic", "sig_beacon",
        n_sig.cast("long").alias("n_signals"),
        (n_sig >= 2).alias("flagged"),
    )


# ------------------------------------------------------------------ q579
@query(
    "q579_xyz_class",
    """
    WITH daily AS (
        SELECT p.p_brand, CAST(floor(epoch(l.l_shipdate) / 86400.0) AS BIGINT) AS day,
               CAST(sum(CAST(round(l.l_quantity) AS BIGINT)) AS BIGINT) AS q
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY 1, 2
    ),
    s AS (
        SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(q) AS BIGINT) AS s,
               CAST(sum(q * q) AS BIGINT) AS qq
        FROM daily GROUP BY 1
    )
    SELECT p_brand, n, s, qq,
           CASE WHEN 16 * (n * qq - s * s) <= s * s THEN 'X'
                WHEN 4 * (n * qq - s * s) <= s * s THEN 'Y'
                ELSE 'Z' END AS xyz_class
    FROM s
    """,
)
def q579(spark: SparkSession, sf: str) -> DataFrame:
    """XYZ demand-variability classification per brand (the partner of
    ABC value classification): CV thresholds 0.25/0.5 applied as the
    FULLY INTEGER cross-multiplications 16·(nQ−S²) ≤ S² and
    4·(nQ−S²) ≤ S² — no float CV can sit on a class boundary."""
    li = load_table(spark, sf, "lineitem")
    p = load_table(spark, sf, "part").select("p_partkey", "p_brand")
    day = F.floor(
        F.unix_seconds(F.col("l_shipdate").cast("timestamp")) / 86400
    ).cast("long")
    daily = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand", day.alias("day"))
        .agg(F.sum(F.round(F.col("l_quantity")).cast("long")).cast("long").alias("q"))
    )
    s = daily.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("q").cast("long").alias("s"),
        F.sum(F.col("q") * F.col("q")).cast("long").alias("qq"),
    )
    m2 = F.col("n") * F.col("qq") - F.col("s") * F.col("s")
    s2 = F.col("s") * F.col("s")
    return s.select(
        "p_brand", "n", "s", "qq",
        F.when(16 * m2 <= s2, "X").when(4 * m2 <= s2, "Y").otherwise("Z").alias("xyz_class"),
    )


# ------------------------------------------------------------------ q580
@query(
    "q580_triplet_eval",
    """
    WITH ex AS (
        SELECT vec_id, label, d AS dim,
               CAST(round(CAST(embedding[d] AS DOUBLE) * 1000) AS BIGINT) AS xi
        FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(d)
        WHERE vec_id < 400
    ),
    pos_pick AS (
        SELECT vec_id, label,
               lead(vec_id) OVER (PARTITION BY label ORDER BY vec_id) AS pos_id
        FROM (SELECT DISTINCT vec_id, label FROM ex)
    ),
    neg_anchor AS (
        SELECT label, CAST(min(vec_id) AS BIGINT) AS neg_id
        FROM (SELECT DISTINCT vec_id, label FROM ex) GROUP BY 1
    ),
    trip AS (
        SELECT p.vec_id AS a, p.pos_id AS pos, na.neg_id AS neg, p.label
        FROM pos_pick p
        JOIN neg_anchor na ON na.label = (p.label + 1) % 10
        WHERE p.pos_id IS NOT NULL
    ),
    dp AS (
        SELECT t.a, t.label, CAST(sum((xa.xi - xp.xi) * (xa.xi - xp.xi)) AS BIGINT) AS d_pos
        FROM trip t JOIN ex xa ON xa.vec_id = t.a JOIN ex xp
          ON xp.vec_id = t.pos AND xp.dim = xa.dim
        GROUP BY 1, 2
    ),
    dn AS (
        SELECT t.a, CAST(sum((xa.xi - xn.xi) * (xa.xi - xn.xi)) AS BIGINT) AS d_neg
        FROM trip t JOIN ex xa ON xa.vec_id = t.a JOIN ex xn
          ON xn.vec_id = t.neg AND xn.dim = xa.dim
        GROUP BY 1
    )
    SELECT dp.label, CAST(count(*) AS BIGINT) AS n_triplets,
           CAST(sum(CASE WHEN d_pos >= d_neg THEN 1 ELSE 0 END) AS BIGINT) AS violations,
           (CAST(sum(CASE WHEN d_pos >= d_neg THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
             // count(*) AS violation_ppm
    FROM dp JOIN dn ON dp.a = dn.a
    GROUP BY 1
    """,
)
def q580(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding triplet evaluation: deterministic (anchor, next same-
    label vector, min-id vector of the next label) triplets, exact
    integer squared distances, per-label margin-violation rate in
    integer ppm — the metric-learning quality check (random synthetic
    embeddings violate ~half the time; a trained space wouldn't)."""
    emb = load_table(spark, sf, "embeddings").where(F.col("vec_id") < 400)
    x = F.transform(F.col("embedding"), lambda v: F.round(v.cast("double") * 1000).cast("long"))
    base = emb.select("vec_id", "label", x.alias("x"))
    w = Window.partitionBy("label").orderBy("vec_id")
    pos_pick = base.select(
        "vec_id", "label", "x", F.lead("vec_id").over(w).alias("pos_id")
    ).where(F.col("pos_id").isNotNull())
    neg_anchor = base.groupBy("label").agg(F.min("vec_id").cast("long").alias("neg_id"))
    trip = pos_pick.join(
        neg_anchor.select(F.col("label").alias("nl"), "neg_id"),
        F.col("nl") == (F.col("label") + 1) % 10,
    )
    pv = base.select(F.col("vec_id").alias("pos_id"), F.col("x").alias("xp"))
    nv = base.select(F.col("vec_id").alias("neg_id"), F.col("x").alias("xn"))
    j = trip.join(pv, "pos_id").join(nv, "neg_id")
    dist = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda u, v: (u - v) * (u - v)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    scored = j.select(
        "label",
        dist(F.col("x"), F.col("xp")).alias("d_pos"),
        dist(F.col("x"), F.col("xn")).alias("d_neg"),
    )
    return scored.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_triplets"),
        F.sum(F.when(F.col("d_pos") >= F.col("d_neg"), 1).otherwise(0))
        .cast("long")
        .alias("violations"),
    ).select(
        "label", "n_triplets", "violations",
        F.expr("(violations * 1000000) DIV n_triplets").alias("violation_ppm"),
    )


# ------------------------------------------------------------------ q581
@query(
    "q581_clv_geometric",
    """
    WITH f AS (
        SELECT user_id % 5 AS seg, user_id,
               CAST(floor(epoch(ts) / 604800.0) AS BIGINT) AS week,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    uw AS (SELECT seg, user_id, week, CAST(sum(cents) AS BIGINT) AS spend
           FROM f GROUP BY 1, 2, 3),
    ret AS (
        SELECT a.seg,
               CAST(count(*) AS BIGINT) AS d,
               CAST(sum(CASE WHEN b.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n
        FROM uw a LEFT JOIN uw b
          ON a.user_id = b.user_id AND a.seg = b.seg AND b.week = a.week + 1
        GROUP BY 1
    ),
    margin AS (
        SELECT seg, CAST(sum(spend) AS BIGINT) AS sp, CAST(count(*) AS BIGINT) AS nw
        FROM uw GROUP BY 1
    ),
    base AS (
        SELECT r.seg, r.n, r.d, n / d AS rr, sp / nw AS m
        FROM ret r JOIN margin USING (seg)
    )
    SELECT seg, n, d, rr, m,
           m * ((rr * CAST('0.95' AS DOUBLE))
              + ((rr * CAST('0.95' AS DOUBLE)) * (rr * CAST('0.95' AS DOUBLE)))
              + (((rr * CAST('0.95' AS DOUBLE)) * (rr * CAST('0.95' AS DOUBLE)))
                 * (rr * CAST('0.95' AS DOUBLE)))
              + (((rr * CAST('0.95' AS DOUBLE)) * (rr * CAST('0.95' AS DOUBLE)))
                 * ((rr * CAST('0.95' AS DOUBLE)) * (rr * CAST('0.95' AS DOUBLE)))))
             AS clv_cents
    FROM base
    """,
)
def q581(spark: SparkSession, sf: str) -> DataFrame:
    """Model-based customer lifetime value per segment: weekly repeat
    rate as ONE exact rational (user-weeks with a following active
    week / user-weeks), mean weekly spend as ONE rational, CLV =
    m·Σ_{t=1..4}(r·δ)^t with δ=0.95 shipped as a STRING-cast double
    (ORACLES rule: decimal-literal casts are not correctly rounded)
    and every power a fixed-association product — the planning
    sibling of the empirical ltv_curve."""
    ev = load_table(spark, sf, "events")
    f = ev.select(
        (F.col("user_id") % 5).alias("seg"),
        "user_id",
        F.floor(F.unix_seconds(F.col("ts")) / 604800).cast("long").alias("week"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    uw = f.groupBy("seg", "user_id", "week").agg(
        F.sum("cents").cast("long").alias("spend")
    )
    b = uw.select(
        F.col("seg").alias("bseg"), F.col("user_id").alias("bu"), F.col("week").alias("bw")
    )
    ret = (
        uw.join(
            b,
            (F.col("user_id") == F.col("bu"))
            & (F.col("seg") == F.col("bseg"))
            & (F.col("bw") == F.col("week") + 1),
            "left",
        )
        .groupBy("seg")
        .agg(
            F.count(F.lit(1)).cast("long").alias("d"),
            F.sum(F.when(F.col("bu").isNotNull(), 1).otherwise(0)).cast("long").alias("n"),
        )
    )
    margin = uw.groupBy("seg").agg(
        F.sum("spend").cast("long").alias("sp"), F.count(F.lit(1)).cast("long").alias("nw")
    )
    base = ret.join(margin, "seg").select(
        "seg", "n", "d",
        (F.col("n") / F.col("d")).alias("rr"),
        (F.col("sp") / F.col("nw")).alias("m"),
    )
    g = F.col("rr") * F.lit(0.95)
    g2 = g * g
    clv = F.col("m") * (g + g2 + (g2 * g) + (g2 * g2))
    return base.select("seg", "n", "d", "rr", "m", clv.alias("clv_cents"))


# ------------------------------------------------------------------ q582
@query(
    "q582_bradley_terry",
    """
    WITH daily AS (
        SELECT event_type, CAST(floor(epoch(ts) / 86400.0) AS BIGINT) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS score
        FROM events GROUP BY 1, 2
    ),
    matches AS (
        SELECT a.event_type AS i, b.event_type AS j,
               CASE WHEN a.score > b.score THEN 1
                    WHEN a.score < b.score THEN 0 END AS won
        FROM daily a JOIN daily b
          ON a.day = b.day AND a.event_type < b.event_type
    ),
    counts AS (
        SELECT i, j, CAST(count(*) AS BIGINT) AS n_ij,
               CAST(sum(won) AS BIGINT) AS w_ij
        FROM matches WHERE won IS NOT NULL GROUP BY 1, 2
    ),
    pairs AS (
        SELECT i AS p, j AS o, n_ij AS n, w_ij AS w FROM counts
        UNION ALL
        SELECT j AS p, i AS o, n_ij AS n, n_ij - w_ij AS w FROM counts
    ),
    wins AS (SELECT p, CAST(sum(w) AS BIGINT) AS tw FROM pairs GROUP BY 1),
    r1 AS (
        SELECT p, tw / list_reduce([CAST(0.0 AS DOUBLE)]
                 || list(n / (CAST(1.0 AS DOUBLE) + CAST(1.0 AS DOUBLE)) ORDER BY o),
                 (a, b) -> a + b) AS s
        FROM pairs JOIN wins USING (p) GROUP BY p, tw
    ),
    r2 AS (
        SELECT pr.p, wins.tw / list_reduce([CAST(0.0 AS DOUBLE)]
                 || list(pr.n / (sp.s + so.s) ORDER BY pr.o),
                 (a, b) -> a + b) AS s
        FROM pairs pr JOIN wins ON wins.p = pr.p
        JOIN r1 sp ON sp.p = pr.p JOIN r1 so ON so.p = pr.o
        GROUP BY pr.p, wins.tw
    )
    SELECT p AS player, s AS strength FROM r2
    """,
)
def q582(spark: SparkSession, sf: str) -> DataFrame:
    """Bradley-Terry pairwise-strength model over daily event-type
    score contests, two unrolled MM rounds (p_i ← W_i / Σ_j
    n_ij/(p_i+p_j), seeded at 1): every denominator an opponent-
    ordered LEFT FOLD, win counts exact BIGINTs — the SQL-replayable
    sibling of the rows-only Elo scan."""
    ev = load_table(spark, sf, "events")
    daily = ev.groupBy(
        "event_type",
        F.floor(F.unix_seconds(F.col("ts")) / 86400).cast("long").alias("day"),
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("score"))
    a = daily.select(F.col("event_type").alias("i"), "day", F.col("score").alias("sa"))
    b = daily.select(F.col("event_type").alias("j"), F.col("day").alias("bd"), F.col("score").alias("sb"))
    matches = a.join(b, (F.col("day") == F.col("bd")) & (F.col("i") < F.col("j"))).select(
        "i", "j",
        F.when(F.col("sa") > F.col("sb"), 1).when(F.col("sa") < F.col("sb"), 0).alias("won"),
    )
    counts = matches.where(F.col("won").isNotNull()).groupBy("i", "j").agg(
        F.count(F.lit(1)).cast("long").alias("n_ij"),
        F.sum("won").cast("long").alias("w_ij"),
    )
    pairs = counts.select(
        F.col("i").alias("p"), F.col("j").alias("o"),
        F.col("n_ij").alias("n"), F.col("w_ij").alias("w"),
    ).unionByName(
        counts.select(
            F.col("j").alias("p"), F.col("i").alias("o"),
            F.col("n_ij").alias("n"), (F.col("n_ij") - F.col("w_ij")).alias("w"),
        )
    )
    wins = pairs.groupBy("p").agg(F.sum("w").cast("long").alias("tw"))

    def _fold(grouped_term_df, term):
        return F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("o"), term.alias("t")))),
                lambda s: s.getField("t"),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    j1 = pairs.join(wins, "p")
    r1 = j1.groupBy("p", "tw").agg(
        _fold(j1, F.col("n") / (F.lit(1.0) + F.lit(1.0))).alias("den")
    ).select("p", (F.col("tw") / F.col("den")).alias("s"))
    sp = r1.select(F.col("p").alias("p2"), F.col("s").alias("s_self"))
    so = r1.select(F.col("p").alias("o2"), F.col("s").alias("s_opp"))
    j2 = (
        pairs.join(wins, "p")
        .join(sp, F.col("p") == F.col("p2"))
        .join(so, F.col("o") == F.col("o2"))
    )
    r2 = j2.groupBy("p", "tw").agg(
        _fold(j2, F.col("n") / (F.col("s_self") + F.col("s_opp"))).alias("den")
    ).select(F.col("p").alias("player"), (F.col("tw") / F.col("den")).alias("strength"))
    return r2


# ------------------------------------------------------------------ q583
def _q583_oracle() -> str:
    from .queries10 import _HLL_A

    return f"""
    WITH h AS (
        SELECT event_type,
               ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS hv
        FROM events WHERE user_id IS NOT NULL
    ),
    r AS (
        SELECT event_type, CAST(hv >> 52 AS INT) AS bucket,
               CAST(CASE WHEN (hv & ((1::BIGINT << 52) - 1)) = 0 THEN 53
                    ELSE 52 - length(bin(hv & ((1::BIGINT << 52) - 1))) + 1 END AS INT) AS rho0
        FROM h
    ),
    regs AS (SELECT event_type, bucket, max(rho0) AS rho FROM r GROUP BY 1, 2),
    agg AS (
        SELECT event_type, count(*) AS used,
               sum((1::BIGINT << (53 - rho))) AS s
        FROM regs GROUP BY 1
    ),
    est AS (
        SELECT event_type, used,
               round(CASE WHEN {_HLL_A} / ((s + (256 - used) * (1::BIGINT << 53)))::DOUBLE
                               <= 640.0 AND (256 - used) > 0
                          THEN 256.0 * ln(256.0 / (256 - used))
                          ELSE {_HLL_A} / ((s + (256 - used) * (1::BIGINT << 53)))::DOUBLE
                     END, 6) AS estimate
        FROM agg
    ),
    exact AS (
        SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
        FROM events WHERE user_id IS NOT NULL GROUP BY 1
    )
    SELECT e.event_type, exact_distinct, estimate,
           round((estimate - exact_distinct) * 1000000 / exact_distinct, 3) AS err_ppm
    FROM est e JOIN exact USING (event_type)
    """


@query("q583_hll_error_audit", _q583_oracle())
def q583(spark: SparkSession, sf: str) -> DataFrame:
    """HLL accuracy self-audit: per event type the portable-md5 HLL
    estimate (operators/sketch.hll_registers_by, p=8) side by side
    with the EXACT distinct-user count and the signed relative error
    in ppm — the sketch-governance relation that tells you whether
    p=8 is honest at your cardinalities."""
    from .operators.sketch import hll_registers_by
    from .queries10 import _HLL_A

    ev = load_table(spark, sf, "events")
    regs = hll_registers_by(ev, ["event_type"], "user_id", p=8, hash_kind="md5")
    agg = regs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("used"),
        F.sum(F.expr("CAST(shiftleft(1L, 53 - rho) AS BIGINT)")).alias("s"),
    )
    a = float(_HLL_A)
    raw = F.lit(a) / (
        (F.col("s") + (F.lit(256) - F.col("used")) * F.lit(1 << 53)).cast("double")
    )
    v = F.lit(256) - F.col("used")
    est = agg.select(
        "event_type", F.col("used"),
        F.round(
            F.when(
                (raw <= 640.0) & (v > 0),
                F.lit(256.0) * F.log(F.lit(256.0) / v),
            ).otherwise(raw),
            6,
        ).alias("estimate"),
    )
    exact = (
        ev.where(F.col("user_id").isNotNull())
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").cast("long").alias("exact_distinct"))
    )
    return est.join(exact, "event_type").select(
        "event_type", "exact_distinct", "estimate",
        F.round(
            (F.col("estimate") - F.col("exact_distinct")) * 1000000 / F.col("exact_distinct"),
            3,
        ).alias("err_ppm"),
    )


# ------------------------------------------------------------------ q584
_Q584_TERMS = ["slow join", "table scan", "batch batch", "spark", "lorem ipsum"]


def _q584_oracle() -> str:
    picks = []
    for t in _Q584_TERMS:
        picks.append(
            f"SELECT '{t}' AS term,\n"
            f"       CAST(sum(CASE WHEN len(regexp_extract_all(lower(text), '{t}')) > 0"
            f" THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,\n"
            f"       CAST(sum(len(regexp_extract_all(lower(text), '{t}'))) AS BIGINT)"
            f" AS total_hits\n"
            f"FROM documents WHERE text IS NOT NULL"
        )
    return "\nUNION ALL\n".join(picks)


@query("q584_blocklist_audit", _q584_oracle())
def q584(spark: SparkSession, sf: str) -> DataFrame:
    """Content-policy blocklist audit: per term the documents affected
    and total occurrences via regexp_count over the lowered text —
    pure codegen, one scan per term unioned (a handful of audited
    terms is the contract; a big lexicon would explode tokens and
    join instead — the trending_terms path)."""
    d = load_table(spark, sf, "documents").where(F.col("text").isNotNull())
    outs = []
    for t in _Q584_TERMS:
        c = F.expr(f"regexp_count(lower(text), '{t}')")
        outs.append(
            d.agg(
                F.sum(F.when(c > 0, 1).otherwise(0)).cast("long").alias("n_docs"),
                F.sum(c).cast("long").alias("total_hits"),
            ).select(F.lit(t).alias("term"), "n_docs", "total_hits")
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


# ------------------------------------------------------------------ q586
@query(
    "q586_neyman_allocation",
    """
    WITH daily AS (
        SELECT event_type, CAST(floor(epoch(ts) / 86400.0) AS BIGINT) AS day,
               CAST(sum(CAST(round(value) AS BIGINT)) AS BIGINT) AS rev
        FROM events GROUP BY 1, 2
    ),
    s AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(rev) AS BIGINT) AS sv,
               CAST(sum(rev * rev) AS BIGINT) AS q
        FROM daily GROUP BY 1
    ),
    w AS (
        SELECT event_type, n,
               n * (sqrt(CAST(n * q - sv * sv AS DOUBLE)) / n) AS wh
        FROM s
    ),
    tot AS (
        SELECT list_reduce([CAST(0.0 AS DOUBLE)] || list(wh ORDER BY event_type),
                           (a, b) -> a + b) AS tw
        FROM w
    ),
    base AS (
        SELECT event_type, n, wh,
               CAST(floor(1000 * wh / tw) AS BIGINT) AS base_n,
               1000 * wh / tw - floor(1000 * wh / tw) AS rem
        FROM w CROSS JOIN tot
    ),
    d2 AS (
        SELECT *, CAST(1000 - sum(base_n) OVER () AS BIGINT) AS deficit,
               row_number() OVER (ORDER BY rem DESC, event_type) AS rk
        FROM base
    )
    SELECT event_type, n, base_n,
           base_n + CASE WHEN rk <= deficit THEN 1 ELSE 0 END AS alloc
    FROM d2
    """,
)
def q586(spark: SparkSession, sf: str) -> DataFrame:
    """Neyman optimal stratified-sample allocation (n_h ∝ N_h·σ_h) for
    a 1000-unit budget: stratum σ from exact integer power sums, the
    float weight total as an ORDERED sum over the 5-row stratum
    relation (deterministic association), floor + largest-remainder
    rounding so the allocation conserves exactly — survey-methods
    machinery on the engine's exactness discipline."""
    ev = load_table(spark, sf, "events")
    daily = ev.groupBy(
        "event_type",
        F.floor(F.unix_seconds(F.col("ts")) / 86400).cast("long").alias("day"),
    ).agg(F.sum(F.round(F.col("value")).cast("long")).cast("long").alias("rev"))
    s = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("rev").cast("long").alias("sv"),
        F.sum(F.col("rev") * F.col("rev")).cast("long").alias("q"),
    )
    wh = F.col("n") * (
        F.sqrt((F.col("n") * F.col("q") - F.col("sv") * F.col("sv")).cast("double"))
        / F.col("n")
    )
    w = s.select("event_type", "n", wh.alias("wh"))
    tot = w.agg(
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("event_type"), F.col("wh").alias("t")))),
                lambda x: x.getField("t"),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("tw")
    )
    base = w.crossJoin(F.broadcast(tot)).select(
        "event_type", "n", "wh",
        F.floor(1000 * F.col("wh") / F.col("tw")).cast("long").alias("base_n"),
        (1000 * F.col("wh") / F.col("tw") - F.floor(1000 * F.col("wh") / F.col("tw"))).alias("rem"),
    )
    wall = Window.partitionBy()
    d2 = base.select(
        "*",
        (1000 - F.sum("base_n").over(wall)).cast("long").alias("deficit"),
        F.row_number().over(Window.partitionBy().orderBy(F.desc("rem"), "event_type")).alias("rk"),
    )
    return d2.select(
        "event_type", "n", "base_n",
        (F.col("base_n") + F.when(F.col("rk") <= F.col("deficit"), 1).otherwise(0)).alias("alloc"),
    )


# ------------------------------------------------------------------ q585
@query(
    "q585_novelty_effect",
    """
    WITH f AS (
        SELECT CAST(floor(epoch(ts) / 86400.0) AS BIGINT) AS day,
               CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS t,
               CAST(round(value) AS BIGINT) AS y
        FROM events
    ),
    daily AS (
        SELECT day,
               CAST(sum(t) AS BIGINT) AS n1,
               CAST(sum(1 - t) AS BIGINT) AS n0,
               CAST(sum(t * y) AS BIGINT) AS s1,
               CAST(sum((1 - t) * y) AS BIGINT) AS s0
        FROM f GROUP BY 1
    ),
    diffs AS (
        SELECT day - (SELECT min(day) FROM daily) AS x,
               s1 / n1 - s0 / n0 AS diff
        FROM daily WHERE n1 > 0 AND n0 > 0
    ),
    s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               list_reduce([CAST(0.0 AS DOUBLE)] || list(diff ORDER BY x),
                           (a, b) -> a + b) AS sy,
               list_reduce([CAST(0.0 AS DOUBLE)] || list(x * diff ORDER BY x),
                           (a, b) -> a + b) AS sxy
        FROM diffs
    )
    SELECT n, sy / n AS mean_effect,
           (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope_per_day
    FROM s
    """,
)
def q585(spark: SparkSession, sf: str) -> DataFrame:
    """Novelty-effect detector for experiments: the daily treatment
    effect (one-divide rationals) regressed on exposure day — Σ diff
    and Σ x·diff as DAY-ORDERED LEFT FOLDS (float terms never meet a
    hash agg), integer Σx/Σx², slope one closed form.  A decaying
    slope says the lift is novelty, not value."""
    ev = load_table(spark, sf, "events")
    t = (F.col("user_id") % 2 == 0).cast("long")
    f = ev.select(
        F.floor(F.unix_seconds(F.col("ts")) / 86400).cast("long").alias("day"),
        t.alias("t"),
        F.round(F.col("value")).cast("long").alias("y"),
    )
    daily = f.groupBy("day").agg(
        F.sum("t").cast("long").alias("n1"),
        F.sum(1 - F.col("t")).cast("long").alias("n0"),
        F.sum(F.col("t") * F.col("y")).cast("long").alias("s1"),
        F.sum((1 - F.col("t")) * F.col("y")).cast("long").alias("s0"),
    )
    dmin = daily.agg(F.min("day").alias("d0"))
    diffs = (
        daily.where((F.col("n1") > 0) & (F.col("n0") > 0))
        .crossJoin(F.broadcast(dmin))
        .select(
            (F.col("day") - F.col("d0")).alias("x"),
            (F.col("s1") / F.col("n1") - F.col("s0") / F.col("n0")).alias("diff"),
        )
    )

    def _fold(term):
        return F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("x"), term.alias("t")))),
                lambda s: s.getField("t"),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    s = diffs.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        _fold(F.col("diff")).alias("sy"),
        _fold(F.col("x") * F.col("diff")).alias("sxy"),
    )
    return s.select(
        "n",
        (F.col("sy") / F.col("n")).alias("mean_effect"),
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        ).alias("slope_per_day"),
    )


# ------------------------------------------------------------------ q587
def _q587_oracle() -> str:
    picks = []
    for r in (0, 2500, 5000, 7500):
        picks.append(f"""
    SELECT CAST({r} AS BIGINT) AS reserve,
           CAST(sum(CASE WHEN win_bid >= {r} THEN 1 ELSE 0 END) AS BIGINT) AS n_sold,
           CAST(sum(CASE WHEN win_bid >= {r}
                         THEN greatest(coalesce(second, 0), {r}) ELSE 0 END) AS BIGINT)
             AS revenue_cents
    FROM agg""")
    body = "\nUNION ALL".join(picks)
    return f"""
    WITH bids AS (
        SELECT event_type, CAST(floor(epoch(ts) / 86400.0) AS BIGINT) AS day,
               user_id AS bidder, CAST(round(value * 100) AS BIGINT) AS bid
        FROM events
    ),
    ranked AS (
        SELECT event_type, day, bid,
               row_number() OVER (PARTITION BY event_type, day
                                  ORDER BY bid DESC, bidder) AS rn
        FROM bids
    ),
    agg AS (
        SELECT event_type, day,
               max(CASE WHEN rn = 1 THEN bid END) AS win_bid,
               max(CASE WHEN rn = 2 THEN bid END) AS second
        FROM ranked WHERE rn <= 2 GROUP BY 1, 2
    )
    {body}
    """


@query("q587_reserve_sweep", _q587_oracle())
def q587(spark: SparkSession, sf: str) -> DataFrame:
    """Optimal-reserve what-if for the q559 auctions: ONE top-2
    ranking pass, then every candidate reserve is a conditional
    integer aggregate over the same tiny clearing relation — lots
    sold and total revenue per reserve, all exact cents (the revenue
    curve whose argmax prices the auction)."""
    ev = load_table(spark, sf, "events")
    bids = ev.select(
        "event_type",
        F.floor(F.unix_seconds(F.col("ts")) / 86400).cast("long").alias("day"),
        F.col("user_id").alias("bidder"),
        F.round(F.col("value") * 100).cast("long").alias("bid"),
    )
    w = Window.partitionBy("event_type", "day").orderBy(F.desc("bid"), "bidder")
    ranked = bids.select(
        "event_type", "day", "bid", F.row_number().over(w).alias("rn")
    ).where(F.col("rn") <= 2)
    agg = ranked.groupBy("event_type", "day").agg(
        F.max(F.when(F.col("rn") == 1, F.col("bid"))).alias("win_bid"),
        F.max(F.when(F.col("rn") == 2, F.col("bid"))).alias("second"),
    )
    outs = []
    for r in (0, 2500, 5000, 7500):
        sold = F.col("win_bid") >= r
        outs.append(
            agg.agg(
                F.sum(F.when(sold, 1).otherwise(0)).cast("long").alias("n_sold"),
                F.sum(
                    F.when(
                        sold,
                        F.greatest(F.coalesce(F.col("second"), F.lit(0).cast("long")),
                                   F.lit(r).cast("long")),
                    ).otherwise(0)
                ).cast("long").alias("revenue_cents"),
            ).select(F.lit(r).cast("long").alias("reserve"), "n_sold", "revenue_cents")
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


