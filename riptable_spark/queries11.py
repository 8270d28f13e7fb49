"""Driver-contract query registry, batch 11 (round 3, third
continuation): market analytics (VWAP, realized variance, drawdown,
Bollinger) — the reference's trading home domain re-expressed
Spark-first — plus Lorenz/Gini concentration, Benford first-digit
audits, and quality-aware dedup cluster canonicalization.
Registers into the same QUERIES/ORACLES dicts as queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .queries import query
from .sources.io import load_table


# ------------------------------------------------------------------ q250
@query(
    "q250_vwap",
    """
    WITH t AS (
        SELECT l_suppkey,
               date_trunc('month', l_shipdate) AS bucket,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS p,
               CAST(l_quantity AS BIGINT) AS v
        FROM lineitem
    )
    SELECT l_suppkey, bucket,
           (CAST(sum(p * v) AS BIGINT) / CAST(sum(v) AS BIGINT)) / 100 AS vwap,
           CAST(sum(v) AS BIGINT) AS volume,
           count(*) AS n_trades
    FROM t GROUP BY l_suppkey, bucket
    """,
)
def q250(spark: SparkSession, sf: str) -> DataFrame:
    """Monthly VWAP bars per supplier (price=extendedprice,
    volume=quantity): ONE two-stage hash agg; the Σ(p·v) accumulator is
    an exact integer so map-side partials combine associatively — the
    cheapest possible shape for bar-building at 100 TB of ticks."""
    from .operators import finance

    li = load_table(spark, sf, "lineitem")
    return finance.vwap(
        li, "l_suppkey", F.date_trunc("month", F.col("l_shipdate")), "l_extendedprice", "l_quantity"
    )


# ------------------------------------------------------------------ q251
@query(
    "q251_realized_variance",
    """
    WITH p AS (
        SELECT user_id,
               CAST(round(value * 100) AS BIGINT) AS p,
               lag(CAST(round(value * 100) AS BIGINT))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pp
        FROM events
    ),
    d AS (SELECT user_id, p - pp AS dp FROM p WHERE pp IS NOT NULL)
    SELECT user_id,
           CAST(sum(dp * dp) AS BIGINT) AS ss_change,
           count(*) AS n_changes,
           sqrt(CAST(sum(dp * dp) AS BIGINT)) / 100 AS realized_vol
    FROM d GROUP BY user_id
    """,
)
def q251(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user realized variance of the ordered value path.  Absolute
    (not log) returns keep every accumulator an exact BIGINT — ln is
    not correctly-rounded and differs by ulps across engines; sqrt IS
    correctly-rounded, so the one float op is engine-identical.  The
    lag window and the aggregation share one (user_id) exchange."""
    from .operators import finance

    ev = load_table(spark, sf, "events")
    return finance.realized_variance(ev, "user_id", ["ts", "event_id"], "value")


# ------------------------------------------------------------------ q252
@query(
    "q252_max_drawdown",
    """
    WITH r AS (
        SELECT user_id,
               CAST(round(value * 100) AS BIGINT) AS p,
               max(CAST(round(value * 100) AS BIGINT))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
        FROM events
    ),
    e AS (
        SELECT user_id,
               max((peak - p) * 1000000000 + peak) AS enc
        FROM r GROUP BY user_id
    )
    SELECT user_id,
           ((enc - enc % 1000000000) / 1000000000) / 100 AS max_drawdown,
           (enc % 1000000000) / 100 AS peak_at_max_dd
    FROM e
    """,
)
def q252(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user maximum drawdown with the peak it fell from.  Running
    max of integers is exact in any engine (idempotent — no float
    prefix-sum hazard); the (drawdown, peak) argmax packs into one
    BIGINT so drawdown ties resolve deterministically without
    arg_max/struct-max semantics."""
    from .operators import finance

    ev = load_table(spark, sf, "events")
    return finance.max_drawdown(ev, "user_id", ["ts", "event_id"], "value")


# ------------------------------------------------------------------ q253
@query(
    "q253_bollinger",
    """
    WITH r AS (
        SELECT user_id, ts, event_id, value,
               CAST(round(value * 100) AS BIGINT) AS p,
               count(*) OVER w AS cnt,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w AS BIGINT) AS s1,
               CAST(sum(CAST(round(value * 100) AS BIGINT)
                        * CAST(round(value * 100) AS BIGINT)) OVER w AS BIGINT) AS s2
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, ts, event_id, value,
           CASE WHEN cnt = 20 THEN s1 / 2000 END AS bb_mid,
           CASE WHEN cnt = 20 THEN s1 / 2000 + 2 * (sqrt(20 * s2 - s1 * s1) / 2000) END AS bb_upper,
           CASE WHEN cnt = 20 THEN s1 / 2000 - 2 * (sqrt(20 * s2 - s1 * s1) / 2000) END AS bb_lower
    FROM r
    """,
)
def q253(spark: SparkSession, sf: str) -> DataFrame:
    """Rolling Bollinger bands (20-row trailing, full-window NULL heads
    per the reference's rolling convention).  Moments compose from
    exact integer rolling sums — safe under DuckDB's segment-tree
    window association — and the only float ops are / and sqrt on
    identical operands."""
    from .operators import finance

    ev = load_table(spark, sf, "events")
    return finance.bollinger(ev, "user_id", ["ts", "event_id"], "value", n=20, k=2)


# ------------------------------------------------------------------ q254
@query(
    "q254_gini",
    """
    WITH v AS (
        SELECT o_orderpriority,
               CAST(round(o_totalprice * 100) AS BIGINT) AS v,
               row_number() OVER (PARTITION BY o_orderpriority
                                  ORDER BY CAST(round(o_totalprice * 100) AS BIGINT)) AS i
        FROM orders
    )
    SELECT o_orderpriority,
           count(*) AS n,
           CAST(sum(v) AS BIGINT) / 100 AS total,
           (CAST(2.0 AS DOUBLE) * CAST(sum(i * v) AS BIGINT)) / CAST(count(*) * CAST(sum(v) AS BIGINT) AS DOUBLE)
               - (count(*) + CAST(1.0 AS DOUBLE)) / count(*) AS gini
    FROM v GROUP BY o_orderpriority
    """,
)
def q254(spark: SparkSession, sf: str) -> DataFrame:
    """Per-priority Gini concentration of order value — the skew audit
    behind salting decisions and revenue-concentration reports.  Σi·xᵢ
    is tie-invariant (equal values permuting within a rank block leave
    the sum unchanged) so row_number needs no tiebreak; all sums stay
    integer until two final IEEE-exact divisions."""
    from .operators import finance

    o = load_table(spark, sf, "orders")
    return finance.lorenz_gini(o, "o_orderpriority", "o_totalprice")


# ------------------------------------------------------------------ q255
def _benford_oracle() -> str:
    from .operators.finance import BENFORD_P

    # CAST from a quoted STRING: DuckDB's decimal-literal → DOUBLE cast
    # is not correctly rounded (0.12493873660829993 lands 1 ulp off);
    # the string parse is strtod-exact and matches F.lit's Python float.
    case = " ".join(f"WHEN {d} THEN CAST('{p!r}' AS DOUBLE)" for d, p in BENFORD_P.items())
    return f"""
    WITH c AS (
        SELECT CAST(NULLIF(regexp_extract(CAST(abs(l_extendedprice) AS VARCHAR), '([1-9])', 1), '') AS INT) AS digit
        FROM lineitem WHERE l_extendedprice IS NOT NULL AND l_extendedprice != 0
    ),
    g AS (SELECT digit, count(*) AS observed FROM c WHERE digit IS NOT NULL GROUP BY digit),
    n AS (SELECT CAST(sum(observed) AS BIGINT) AS nn FROM g),
    e AS (SELECT digit, observed, (CASE digit {case} END) * nn AS expected FROM g, n)
    SELECT digit, observed, expected,
           (observed - expected) * (observed - expected) / expected AS chi2_component
    FROM e
    """


@query("q255_benford", _benford_oracle())
def q255(spark: SparkSession, sf: str) -> DataFrame:
    """Benford first-significant-digit audit of extended prices.  The
    digit comes from the decimal rendering (regexp), not log10 — exact
    and portable; expected probabilities are repr-identical literals in
    both engines so n·p and the χ² components match bit-for-bit.  One
    ≤9-group hash agg; the per-digit components are emitted instead of
    a cross-row float total (engine summation order would differ)."""
    from .operators import finance

    li = load_table(spark, sf, "lineitem")
    return finance.benford_audit(li, "l_extendedprice")


# ------------------------------------------------------------------ q256
@query(
    "q256_dedup_keep_best",
    """
    WITH RECURSIVE base_edges AS (
        SELECT doc_id AS src, doc_id + 1 AS dst
        FROM documents
        WHERE doc_id % 10 < 3 AND doc_id + 1 <= (SELECT max(doc_id) FROM documents)
    ),
    edges AS (
        SELECT src, dst FROM base_edges
        UNION SELECT dst AS src, src AS dst FROM base_edges
    ),
    walk(node, reach) AS (
        SELECT src, src FROM (SELECT DISTINCT src FROM edges)
        UNION
        SELECT w.node, e.dst FROM walk w JOIN edges e ON w.reach = e.src
    ),
    comp AS (SELECT node, min(reach) AS component FROM walk GROUP BY node),
    q AS (
        SELECT c.component, d.doc_id, d.n_chars
        FROM comp c JOIN documents d ON d.doc_id = c.node
    ),
    enc AS (
        SELECT component, count(*) AS cluster_size,
               max(CAST(n_chars AS BIGINT) * 1000000000 + doc_id) AS e
        FROM q GROUP BY component
    )
    SELECT component, cluster_size,
           e % 1000000000 AS keep_id,
           (e - e % 1000000000) / 1000000000 AS keep_quality
    FROM enc
    """,
)
def q256(spark: SparkSession, sf: str) -> DataFrame:
    """Quality-aware canonical selection per duplicate cluster: connected
    components over the q150 synthetic chain graph, then per-component
    argmax quality (n_chars, doc_id tiebreak) via a packed-BIGINT max —
    the KEEP/DROP policy step of a dedup pipeline (keep the
    highest-quality member, not an arbitrary one)."""
    from .operators import dedup

    d = load_table(spark, sf, "documents")
    ids = d.select("doc_id")
    mx = ids.agg(F.max("doc_id").alias("m"))
    pairs = (
        ids.where(F.col("doc_id") % 10 < 3)
        .crossJoin(F.broadcast(mx))
        .where(F.col("doc_id") + 1 <= F.col("m"))
        .select(F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1).alias("id_b"))
    )
    return dedup.keep_best(pairs, d, id_col="doc_id", quality_col="n_chars")


# ------------------------------------------------------------------ q257
@query(
    "q257_corr_matrix",
    """
    WITH v AS (
        SELECT CAST(round(l_quantity * 1) AS BIGINT) AS q,
               CAST(round(l_discount * 100) AS BIGINT) AS d,
               CAST(round(l_tax * 100) AS BIGINT) AS t
        FROM lineitem
        WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL AND l_tax IS NOT NULL
    ),
    s AS (
        SELECT count(*) AS n,
               CAST(sum(q) AS BIGINT) AS s_q, CAST(sum(q*q) AS BIGINT) AS ss_q,
               CAST(sum(d) AS BIGINT) AS s_d, CAST(sum(d*d) AS BIGINT) AS ss_d,
               CAST(sum(t) AS BIGINT) AS s_t, CAST(sum(t*t) AS BIGINT) AS ss_t,
               CAST(sum(q*d) AS BIGINT) AS sp_qd,
               CAST(sum(q*t) AS BIGINT) AS sp_qt,
               CAST(sum(d*t) AS BIGINT) AS sp_dt
        FROM v
    )
    SELECT 'l_quantity' AS col_x, 'l_discount' AS col_y, n,
           (n * sp_qd - s_q * s_d) / (sqrt(n * ss_q - s_q * s_q) * sqrt(n * ss_d - s_d * s_d)) AS corr
    FROM s
    UNION ALL
    SELECT 'l_quantity', 'l_tax', n,
           (n * sp_qt - s_q * s_t) / (sqrt(n * ss_q - s_q * s_q) * sqrt(n * ss_t - s_t * s_t))
    FROM s
    UNION ALL
    SELECT 'l_discount', 'l_tax', n,
           (n * sp_dt - s_d * s_t) / (sqrt(n * ss_d - s_d * s_d) * sqrt(n * ss_t - s_t * s_t))
    FROM s
    """,
)
def q257(spark: SparkSession, sf: str) -> DataFrame:
    """Pairwise Pearson correlation matrix in ONE pass: all C(k,2)
    pairs' power sums land in a single two-stage hash aggregate (one
    scan however many pairs), reshaped to long form driver-free.
    Integer-scaled sums keep every operand engine-exact; corr applies
    only int64→double conversion, sqrt, ·, / — all IEEE-identical."""
    from .functions.stats import corr_matrix

    li = load_table(spark, sf, "lineitem")
    return corr_matrix(li, ["l_quantity", "l_discount", "l_tax"], scales={"l_discount": 100, "l_tax": 100})


# ------------------------------------------------------------------ q258
@query(
    "q258_basket_pairs",
    """
    WITH bi AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
    capped AS (
        SELECT b, i FROM (
            SELECT b, i, count(*) OVER (PARTITION BY b) AS bs FROM bi
        ) WHERE bs <= 10
    ),
    nb AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS n_baskets FROM capped),
    ic AS (SELECT i, CAST(count(*) AS BIGINT) AS cnt FROM capped GROUP BY i),
    pc AS (
        SELECT a.i AS item_a, c.i AS item_b, CAST(count(*) AS BIGINT) AS n_ab
        FROM capped a JOIN capped c ON a.b = c.b AND a.i < c.i
        GROUP BY a.i, c.i HAVING count(*) >= 2
    )
    SELECT item_a, item_b, n_ab, x.cnt AS n_a, y.cnt AS n_b, n_baskets,
           (n_ab * n_baskets) / (x.cnt * y.cnt) AS lift
    FROM pc JOIN ic x ON pc.item_a = x.i JOIN ic y ON pc.item_b = y.i, nb
    """,
)
def q258(spark: SparkSession, sf: str) -> DataFrame:
    """Market-basket pair mining (order = basket, part = item):
    basket-keyed self-equi-join with an explicit mega-basket cap (the
    quadratic-blowup guard every association miner needs at 100 TB),
    exact integer counts, lift from one IEEE-exact division."""
    from .operators.mining import basket_pairs

    li = load_table(spark, sf, "lineitem")
    return basket_pairs(li, "l_orderkey", "l_partkey", min_count=2, max_basket=10)


# ------------------------------------------------------------------ q259
@query(
    "q259_constraints",
    """
    SELECT 'not_null(o_custkey)' AS rule,
           CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS violations FROM orders
    UNION ALL
    SELECT 'not_null(o_orderdate)',
           CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM orders
    UNION ALL
    SELECT 'range(o_totalprice)',
           CAST(sum(CASE WHEN o_totalprice IS NOT NULL
                          AND NOT (o_totalprice BETWEEN 0 AND 600000) THEN 1 ELSE 0 END) AS BIGINT) FROM orders
    UNION ALL
    SELECT 'regex(o_orderpriority)',
           CAST(sum(CASE WHEN o_orderpriority IS NOT NULL
                          AND NOT regexp_matches(o_orderpriority, '^[1-5]-') THEN 1 ELSE 0 END) AS BIGINT) FROM orders
    UNION ALL
    SELECT 'unique(o_orderkey)',
           CAST(count(o_orderkey) - count(DISTINCT o_orderkey) AS BIGINT) FROM orders
    UNION ALL
    SELECT 'fk(o_custkey)',
           CAST((SELECT count(*) FROM orders o WHERE o_custkey IS NOT NULL
                 AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
    """,
)
def q259(spark: SparkSession, sf: str) -> DataFrame:
    """Deequ-style constraint report: not_null/range/regex rules fuse
    into ONE aggregate pass; unique adds a distinct agg; the FK rule is
    one anti-join against the (broadcastable) dimension. The audit gate
    a 100 TB ingest runs before anything downstream trusts the table."""
    from .operators.profile import check_constraints

    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    return check_constraints(
        o,
        not_null=["o_custkey", "o_orderdate"],
        ranges={"o_totalprice": (0, 600000)},
        regex={"o_orderpriority": "^[1-5]-"},
        unique=["o_orderkey"],
        fk={"o_custkey": (c, "c_custkey")},
    )


# ------------------------------------------------------------------ q260
@query(
    "q260_lee_ready",
    """
    WITH t AS (SELECT * FROM events WHERE event_type = 'purchase'),
    q AS (SELECT * FROM events WHERE event_type = 'view'),
    j AS (
        SELECT t.user_id, t.ts, t.event_id, t.value, q.value AS qv
        FROM t ASOF LEFT JOIN q ON t.user_id = q.user_id AND t.ts >= q.ts
    ),
    r AS (
        SELECT user_id, ts, event_id, value,
               CAST(round(value * 100) AS BIGINT) AS p,
               CAST(round(qv * 100) AS BIGINT) AS m,
               row_number() OVER w AS rn,
               CAST(round(value * 100) AS BIGINT)
                   - lag(CAST(round(value * 100) AS BIGINT)) OVER w AS dp
        FROM j WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    e AS (
        SELECT *, max(CASE WHEN dp > 0 THEN rn * 4 + 2 WHEN dp < 0 THEN rn * 4 + 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS latest
        FROM r
    )
    SELECT event_id, user_id, round(value, 2) AS trade_price, m / 100 AS mid_price,
           CAST(CASE WHEN m IS NOT NULL AND p > m THEN 1
                     WHEN m IS NOT NULL AND p < m THEN -1
                     ELSE coalesce(latest % 4 - 1, 0) END AS INT) AS side
    FROM e
    """,
)
def q260(spark: SparkSession, sf: str) -> DataFrame:
    """Lee-Ready trade-side classification: merge_asof(backward) for the
    prevailing quote + quote-mid comparison, tick-test fallback at the
    mid via a packed (row_number, sign) running MAX — no
    last_value(IGNORE NULLS), whose frame semantics engines disagree on.
    All comparisons on integer cents → engine-exact."""
    from .operators import finance

    ev = load_table(spark, sf, "events")
    trades = ev.where(F.col("event_type") == "purchase").select("user_id", "ts", "event_id", "value")
    quotes = ev.where(F.col("event_type") == "view").select("user_id", "ts", F.col("value").alias("qv"))
    out = finance.lee_ready(
        trades, quotes, by="user_id", on="ts", trade_price="value", quote_mid="qv",
        order=["ts", "event_id"],
    )
    return out.select(
        "event_id", "user_id",
        F.round(F.col("value"), 2).alias("trade_price"),
        "mid_price", "side",
    )


# ------------------------------------------------------------------ q261
@query(
    "q261_trade_flow",
    """
    WITH t AS (SELECT * FROM events WHERE event_type = 'purchase'),
    q AS (SELECT * FROM events WHERE event_type = 'view'),
    j AS (
        SELECT t.user_id, t.ts, t.event_id, t.value, q.value AS qv
        FROM t ASOF LEFT JOIN q ON t.user_id = q.user_id AND t.ts >= q.ts
    ),
    r AS (
        SELECT user_id, ts, event_id, value,
               CAST(round(value * 100) AS BIGINT) AS p,
               CAST(round(qv * 100) AS BIGINT) AS m,
               row_number() OVER w AS rn,
               CAST(round(value * 100) AS BIGINT)
                   - lag(CAST(round(value * 100) AS BIGINT)) OVER w AS dp
        FROM j WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    e AS (
        SELECT *, max(CASE WHEN dp > 0 THEN rn * 4 + 2 WHEN dp < 0 THEN rn * 4 + 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS latest
        FROM r
    ),
    c AS (
        SELECT user_id, p, m, dp,
               CAST(CASE WHEN m IS NOT NULL AND p > m THEN 1
                         WHEN m IS NOT NULL AND p < m THEN -1
                         ELSE coalesce(latest % 4 - 1, 0) END AS INT) AS side
        FROM e
    ),
    agg AS (
        SELECT user_id,
               count(*) AS n_trades,
               CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_buys,
               CAST(sum(CASE WHEN side = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_sells,
               CAST(sum(2 * abs(p - m)) AS BIGINT) AS ses,
               count(2 * abs(p - m)) AS ces,
               count(CASE WHEN dp IS NOT NULL THEN 1 END) AS nxy,
               CAST(sum(CASE WHEN dp IS NOT NULL THEN side * p END) AS BIGINT) AS sx,
               CAST(sum(dp) AS BIGINT) AS sy,
               CAST(sum(CASE WHEN dp IS NOT NULL THEN side * p * dp END) AS BIGINT) AS sxy,
               CAST(sum(CASE WHEN dp IS NOT NULL THEN side * p * side * p END) AS BIGINT) AS sxx
        FROM c GROUP BY user_id
    )
    SELECT user_id, n_trades, n_buys, n_sells,
           (ses / ces) / 100 AS eff_spread,
           CASE WHEN nxy * sxx - sx * sx != 0
                THEN (nxy * sxy - sx * sy) / (nxy * sxx - sx * sx) END AS kyle_lambda
    FROM agg
    """,
)
def q261(spark: SparkSession, sf: str) -> DataFrame:
    """Microstructure rollup: Lee-Ready classification feeding effective
    spread (2·|p−mid|, exact cents) and Kyle's lambda (price-impact OLS
    slope from exact integer power sums — the lm closed form). The
    classify window, the Δp window, and the final agg all hash on
    user_id, so Catalyst reuses ONE exchange end-to-end."""
    from .operators import finance

    ev = load_table(spark, sf, "events")
    trades = ev.where(F.col("event_type") == "purchase").select("user_id", "ts", "event_id", "value")
    quotes = ev.where(F.col("event_type") == "view").select("user_id", "ts", F.col("value").alias("qv"))
    classified = finance.lee_ready(
        trades, quotes, by="user_id", on="ts", trade_price="value", quote_mid="qv",
        order=["ts", "event_id"],
    )
    return finance.trade_flow_stats(
        classified, "user_id", ["ts", "event_id"], "value", "qv"
    )


# ------------------------------------------------------------------ q262
@query(
    "q262_top_terms",
    """
    WITH toks AS (
        SELECT doc_id,
               unnest(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS term
        FROM documents WHERE text IS NOT NULL
    ),
    post AS (
        SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        FROM toks WHERE term != '' GROUP BY doc_id, term
    ),
    dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df_t FROM post GROUP BY term),
    scored AS (
        SELECT p.doc_id, p.term, p.tf, d.df_t, (p.tf * 1000000) // d.df_t AS score_key
        FROM post p JOIN dfreq d USING (term) WHERE p.tf >= 2
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score_key DESC, term) AS rank
        FROM scored
    )
    SELECT doc_id, term, tf, df_t, score_key, rank FROM ranked WHERE rank <= 3
    """,
)
def q262(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document keyword extraction: top-3 terms by the exact integer
    tf·1e6 DIV df ranking key (tf-idf ORDERING without ln's cross-engine
    ulps), term-string tiebreak. df relation broadcasts; postings
    shuffle once on term and once on doc."""
    from .operators.retrieval import top_terms

    d = load_table(spark, sf, "documents")
    return top_terms(d, k=3, min_tf=2)


# ------------------------------------------------------------------ q263
@query(
    "q263_triangles",
    """
    WITH bi AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
    capped AS (
        SELECT b, i FROM (
            SELECT b, i, count(*) OVER (PARTITION BY b) AS bs FROM bi
        ) WHERE bs <= 10
    ),
    pc AS (
        SELECT a.i AS item_a, c.i AS item_b
        FROM capped a JOIN capped c ON a.b = c.b AND a.i < c.i
        GROUP BY a.i, c.i HAVING count(*) >= 2
    ),
    edges AS (SELECT item_a AS a, item_b AS b FROM pc),
    tri AS (
        SELECT count(*) AS n FROM edges e1
        JOIN edges e2 ON e1.b = e2.a
        JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM edges) AS n_edges,
           (SELECT CAST(n AS BIGINT) FROM tri) AS n_triangles
    """,
)
def q263(spark: SparkSession, sf: str) -> DataFrame:
    """Triangle count over the co-purchase graph (edges = item pairs
    bought together ≥2 times): canonical a<b orientation closes each
    triangle exactly once via two equi-joins — never a cross join; the
    basket cap upstream bounds the wedge explosion."""
    from .operators.graph import triangle_count
    from .operators.mining import basket_pairs

    li = load_table(spark, sf, "lineitem")
    edges = basket_pairs(li, "l_orderkey", "l_partkey", min_count=2, max_basket=10)
    return triangle_count(edges, "item_a", "item_b")


# ------------------------------------------------------------------ q264
@query(
    "q264_pnl_curve",
    """
    WITH f AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE -1 END AS s,
               event_id % 5 + 1 AS q,
               CAST(round(value * 100) AS BIGINT) AS p
        FROM events WHERE event_type IN ('purchase', 'click')
    ),
    r AS (
        SELECT user_id, ts, event_id, value, p,
               CAST(sum(s * q) OVER w AS BIGINT) AS pos,
               CAST(-sum(s * p * q) OVER w AS BIGINT) AS cash
        FROM f WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, ts, event_id, value,
           pos AS position, cash / 100 AS cash, (pos * p + cash) / 100 AS mtm_pnl
    FROM r
    """,
)
def q264(spark: SparkSession, sf: str) -> DataFrame:
    """Running position / cash / mark-to-market P&L over a signed fill
    stream (purchase=buy, click=sell, deterministic qty): the linear
    accounting identities keep every running accumulator an exact
    integer — the shape that survives any engine's window association.
    One per-user sort window."""
    from .operators import finance

    ev = load_table(spark, sf, "events").where(F.col("event_type").isin("purchase", "click"))
    side = F.when(F.col("event_type") == "purchase", 1).otherwise(-1)
    qty = F.col("event_id") % 5 + 1
    return finance.pnl_curve(ev, "user_id", ["ts", "event_id"], side, "value", qty)


# ------------------------------------------------------------------ q265
@query(
    "q265_cuped",
    """
    WITH pu AS (
        SELECT user_id, user_id % 2 AS arm,
               CAST(sum(CASE WHEN event_type = 'view'
                             THEN CAST(round(value * 100) AS BIGINT) END) AS BIGINT) AS x,
               CAST(sum(CASE WHEN event_type = 'purchase'
                             THEN CAST(round(value * 100) AS BIGINT) END) AS BIGINT) AS y
        FROM events GROUP BY user_id
    ),
    keep AS (SELECT * FROM pu WHERE x IS NOT NULL AND y IS NOT NULL),
    a AS (
        SELECT arm, count(*) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(y * y) AS BIGINT) AS syy
        FROM keep GROUP BY arm
    ),
    p AS (
        SELECT CAST(sum(n) AS BIGINT) AS n_all, CAST(sum(sx) AS BIGINT) AS sx_all,
               CAST(sum(sy) AS BIGINT) AS sy_all, CAST(sum(sxy) AS BIGINT) AS sxy_all,
               CAST(sum(sxx) AS BIGINT) AS sxx_all, CAST(sum(syy) AS BIGINT) AS syy_all
        FROM a
    )
    SELECT arm, n,
           (sy / n) / 1 AS mean_raw,
           ((sy / n) - (CASE WHEN n_all * sxx_all - sx_all * sx_all != 0
                             THEN (n_all * sxy_all - sx_all * sy_all) / (n_all * sxx_all - sx_all * sx_all) END)
                       * ((sx / n) - (sx_all / n_all))) / 1 AS mean_adj,
           (CASE WHEN n_all * sxx_all - sx_all * sx_all != 0
                 THEN (n_all * sxy_all - sx_all * sy_all) / (n_all * sxx_all - sx_all * sx_all) END) * 1 / 1 AS theta,
           CASE WHEN n_all * sxx_all - sx_all * sx_all != 0 AND n_all * syy_all - sy_all * sy_all != 0
                THEN (CAST(n_all * sxy_all - sx_all * sy_all AS DOUBLE) * CAST(n_all * sxy_all - sx_all * sy_all AS DOUBLE))
                     / (CAST(n_all * sxx_all - sx_all * sx_all AS DOUBLE) * CAST(n_all * syy_all - sy_all * sy_all AS DOUBLE)) END
               AS var_reduction
    FROM a, p
    """,
)
def q265(spark: SparkSession, sf: str) -> DataFrame:
    """CUPED variance reduction: per-arm covariate-adjusted means with
    pooled θ and the explained-variance factor ρ², all composed from
    exact integer power sums (per-user view/purchase sums are integer cents;
    no per-row float product is ever summed).  Two tiny aggregations +
    a 1-row broadcast — the scan dominates at scale."""
    from .functions.stats import cuped_adjust

    ev = load_table(spark, sf, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    pu = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "view", cents)).cast("bigint").alias("x"),
        F.sum(F.when(F.col("event_type") == "purchase", cents)).cast("bigint").alias("y"),
    ).withColumn("arm", F.col("user_id") % 2)
    return cuped_adjust(pu, "arm", "y", "x", metric_scale=1, cov_scale=1)


# ------------------------------------------------------------------ q266
def _flesch_oracle() -> str:
    from .operators.text import FLESCH_BASE, FLESCH_SENT_W, FLESCH_SYL_W

    return f"""
    WITH c AS (
        SELECT doc_id,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(string_split(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' '))
               END AS n_words,
               greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sentences,
               len(regexp_extract_all(lower(text), '[aeiouy]+')) AS n_syllables
        FROM documents
    )
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(n_sentences AS BIGINT) AS n_sentences,
           CAST(n_syllables AS BIGINT) AS n_syllables,
           CASE WHEN n_words > 0 THEN
               CAST('{FLESCH_BASE!r}' AS DOUBLE)
               - CAST('{FLESCH_SENT_W!r}' AS DOUBLE) * (CAST(n_words AS BIGINT) / CAST(n_sentences AS BIGINT))
               - CAST('{FLESCH_SYL_W!r}' AS DOUBLE) * (CAST(n_syllables AS BIGINT) / CAST(n_words AS BIGINT))
           END AS flesch
    FROM c
    """


@query("q266_flesch", _flesch_oracle())
def q266(spark: SparkSession, sf: str) -> DataFrame:
    """Flesch reading-ease readability per document — counts are exact
    regexp integers (pure codegen, zero shuffles), the score is
    literal·(int/int) float ops on identical operands, literals shipped
    as identical strings to both engines (DuckDB decimal-literal
    lesson)."""
    from .operators.text import flesch_score

    d = load_table(spark, sf, "documents")
    return flesch_score(d)


# ------------------------------------------------------------------ q267
@query(
    "q267_lm_by",
    """
    WITH v AS (
        SELECT l_suppkey,
               CAST(round(l_quantity * 1) AS BIGINT) AS x,
               CAST(round(l_extendedprice * 1) AS BIGINT) AS y
        FROM lineitem WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
    ),
    a AS (
        SELECT l_suppkey, count(*) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(y * y) AS BIGINT) AS syy
        FROM v GROUP BY l_suppkey
    )
    SELECT l_suppkey, n,
           CASE WHEN n * sxx - sx * sx != 0 THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END AS slope,
           sy / n - (CASE WHEN n * sxx - sx * sx != 0
                          THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END) * (sx / n) AS intercept,
           CASE WHEN n * sxx - sx * sx != 0 AND n * syy - sy * sy != 0
                THEN (CAST(n * sxy - sx * sy AS DOUBLE) * CAST(n * sxy - sx * sy AS DOUBLE))
                     / (CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE)) END AS r2
    FROM a
    """,
)
def q267(spark: SparkSession, sf: str) -> DataFrame:
    """Per-supplier OLS (price vs quantity): grouped regression closed
    forms from exact integer power sums in ONE two-stage hash agg —
    the grouped sibling of functions.stats.lm (rt_stats.py:188)."""
    from .functions.stats import lm_by

    li = load_table(spark, sf, "lineitem")
    return lm_by(li, "l_suppkey", "l_quantity", "l_extendedprice", x_scale=1, y_scale=1)


# ------------------------------------------------------------------ q268
@query(
    "q268_stream_vwap",
    """
    WITH f AS (
        SELECT (floor(epoch(ts) / 3600) * 3600)::BIGINT AS bucket_s,
               CAST(round(value * 100) AS BIGINT) AS p,
               event_id % 5 + 1 AS q
        FROM events
    )
    SELECT bucket_s,
           (CAST(sum(p * q) AS BIGINT) / CAST(sum(q) AS BIGINT)) / 100 AS vwap,
           CAST(sum(q) AS BIGINT) AS volume,
           count(*) AS n_trades
    FROM f GROUP BY bucket_s
    """,
)
def q268(spark: SparkSession, sf: str) -> DataFrame:
    """Hourly VWAP bars through the STREAMING codepath run on a batch
    frame (identical groupBy — integer accumulators make incremental
    state ≡ batch agg, the property the stream/batch parity test pins
    on a real readStream)."""
    from .streaming.windows import stream_vwap_bars

    ev = load_table(spark, sf, "events")
    return stream_vwap_bars(ev, window="1 hour", qty=F.col("event_id") % 5 + 1)


# ------------------------------------------------------------------ q269
@query(
    "q269_topk_churn",
    """
    WITH t AS (
        SELECT (year(l_shipdate) * 12 + month(l_shipdate))::BIGINT AS period,
               l_partkey AS key,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS total
        FROM lineitem GROUP BY 1, 2
    ),
    tops AS (
        SELECT period, key FROM (
            SELECT period, key,
                   row_number() OVER (PARTITION BY period ORDER BY total DESC, key) AS r
            FROM t
        ) WHERE r <= 10
    ),
    prev AS (SELECT period + 1 AS period, key FROM tops),
    j AS (
        SELECT coalesce(c.period, p.period) AS period,
               c.key AS ck, p.key AS pk
        FROM tops c FULL OUTER JOIN prev p ON c.period = p.period AND c.key = p.key
    ),
    stats AS (
        SELECT period,
               CAST(sum(CASE WHEN ck IS NOT NULL AND pk IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS retained,
               CAST(sum(CASE WHEN ck IS NOT NULL AND pk IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS entered,
               CAST(sum(CASE WHEN ck IS NULL AND pk IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS dropped
        FROM j GROUP BY period
    )
    SELECT s.period, retained, entered, dropped,
           CASE WHEN retained + entered + dropped > 0
                THEN retained / (retained + entered + dropped) END AS jaccard
    FROM stats s
    JOIN (SELECT DISTINCT period FROM tops) hc ON s.period = hc.period
    JOIN (SELECT DISTINCT period FROM prev) hp ON s.period = hp.period
    """,
)
def q269(spark: SparkSession, sf: str) -> DataFrame:
    """Monthly top-10 revenue leaderboard churn: deterministic top-k
    sets (exact integer totals, key tiebreak) compared period-over-
    period — retained/entered/dropped and Jaccard overlap.  Everything
    after the first hash agg is k-rows-per-period tiny."""
    from .operators.mining import topk_churn

    li = load_table(spark, sf, "lineitem")
    period = (F.year("l_shipdate") * 12 + F.month("l_shipdate")).cast("bigint")
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    return topk_churn(li, period, "l_partkey", cents, k=10)


# ------------------------------------------------------------------ q270
@query(
    "q270_lorenz_points",
    """
    WITH r AS (
        SELECT o_orderpriority AS key,
               CAST(round(o_totalprice * 100) AS BIGINT) AS v,
               row_number() OVER (PARTITION BY o_orderpriority
                                  ORDER BY CAST(round(o_totalprice * 100) AS BIGINT)) AS i,
               count(*) OVER (PARTITION BY o_orderpriority) AS n
        FROM orders
    ),
    b AS (
        SELECT key, ((i - 1) * 10) // n + 1 AS bucket, CAST(sum(v) AS BIGINT) AS sv
        FROM r GROUP BY 1, 2
    ),
    c AS (
        SELECT key, bucket, sv,
               CAST(sum(sv) OVER (PARTITION BY key ORDER BY bucket
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
               CAST(sum(sv) OVER (PARTITION BY key) AS BIGINT) AS tot
        FROM b
    )
    SELECT key AS o_orderpriority, bucket, cum / 100 AS cum_value, cum / tot AS cum_share
    FROM c
    """,
)
def q270(spark: SparkSession, sf: str) -> DataFrame:
    """Lorenz curve decile points per order priority (the plot-ready
    companion of q254's Gini): integer-DIV bucket assignment (tie-safe,
    engine-identical), exact integer cumulative sums, one int/int share
    division."""
    from .operators.finance import lorenz_points

    o = load_table(spark, sf, "orders")
    out = lorenz_points(o, "o_orderpriority", "o_totalprice", buckets=10)
    return out.withColumnRenamed("key", "o_orderpriority")


# ------------------------------------------------------------------ q271
@query(
    "q271_xcorr",
    """
    WITH h AS (
        SELECT date_trunc('day', ts) AS day, hour(ts) AS hr,
               CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS x,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS y
        FROM events GROUP BY 1, 2
    ),
    l AS (
        SELECT day, x,
               lead(y, 0) OVER w AS y0, lead(y, 1) OVER w AS y1,
               lead(y, 2) OVER w AS y2, lead(y, 3) OVER w AS y3
        FROM h WINDOW w AS (PARTITION BY day ORDER BY hr)
    ),
    s AS (
        SELECT day, 0 AS lag, x, y0 AS y FROM l
        UNION ALL SELECT day, 1, x, y1 FROM l
        UNION ALL SELECT day, 2, x, y2 FROM l
        UNION ALL SELECT day, 3, x, y3 FROM l
    ),
    f AS (SELECT * FROM s WHERE y IS NOT NULL AND x IS NOT NULL),
    a AS (
        SELECT day, lag, count(*) AS n_pairs,
               CAST(CAST(sum(x) AS BIGINT) AS DOUBLE) AS sx,
               CAST(CAST(sum(y) AS BIGINT) AS DOUBLE) AS sy,
               CAST(CAST(sum(x * y) AS BIGINT) AS DOUBLE) AS sxy,
               CAST(CAST(sum(x * x) AS BIGINT) AS DOUBLE) AS sxx,
               CAST(CAST(sum(y * y) AS BIGINT) AS DOUBLE) AS syy
        FROM f GROUP BY day, lag
    )
    SELECT day, lag, n_pairs,
           CASE WHEN (sxx - sx * sx / CAST(n_pairs AS DOUBLE)) > 0
                 AND (syy - sy * sy / CAST(n_pairs AS DOUBLE)) > 0
                THEN (sxy - sx * sy / CAST(n_pairs AS DOUBLE))
                     / sqrt((sxx - sx * sx / CAST(n_pairs AS DOUBLE))
                            * (syy - sy * sy / CAST(n_pairs AS DOUBLE))) END AS xcorr
    FROM a
    """,
)
def q271(spark: SparkSession, sf: str) -> DataFrame:
    """Lead-lag cross-correlation (daily view-count series vs purchase
    count at lags 0-3): one sort window builds every lead column,
    pairs stack via a single explode, Pearson composes from exact
    integer power sums per (day, lag)."""
    from .operators.window import xcorr

    ev = load_table(spark, sf, "events")
    hourly = ev.groupBy(
        F.date_trunc("day", F.col("ts")).alias("day"), F.hour("ts").alias("hr")
    ).agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).cast("bigint").alias("x"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).cast("bigint").alias("y"),
    )
    return xcorr(hourly, "day", "hr", "x", "y", lags=3)


# ------------------------------------------------------------------ q272
def _jkd_oracle() -> str:
    left_cols = ["o_orderkey", "o_custkey", "o_orderpriority"]
    right_cols = ["l_orderkey", "l_partkey", "l_suppkey"]
    k = 128
    sk = lambda table, cols, name: " UNION ALL ".join(
        f"SELECT '{c}' AS col, ('0x' || substr(md5(CAST({c} AS VARCHAR)), 1, 15))::BIGINT AS hv "
        f"FROM {table} WHERE {c} IS NOT NULL" for c in cols
    )
    ea = " UNION ALL ".join(
        f"SELECT col AS col_a, '{cb}' AS col_b, hv, 1 AS in_a, 0 AS in_b FROM ska"
        for cb in right_cols
    )
    eb = " UNION ALL ".join(
        f"SELECT '{ca}' AS col_a, col AS col_b, hv, 0 AS in_a, 1 AS in_b FROM skb"
        for ca in left_cols
    )
    return f"""
    WITH rawa AS ({sk('orders', left_cols, 'a')}),
    rawb AS ({sk('lineitem', right_cols, 'b')}),
    da AS (SELECT DISTINCT col, hv FROM rawa),
    db AS (SELECT DISTINCT col, hv FROM rawb),
    ska AS (SELECT col, hv FROM (
        SELECT col, hv, row_number() OVER (PARTITION BY col ORDER BY hv) AS r FROM da
    ) WHERE r <= {k}),
    skb AS (SELECT col, hv FROM (
        SELECT col, hv, row_number() OVER (PARTITION BY col ORDER BY hv) AS r FROM db
    ) WHERE r <= {k}),
    ea AS ({ea}),
    eb AS ({eb}),
    u AS (
        SELECT col_a, col_b, hv, max(in_a) AS in_a, max(in_b) AS in_b
        FROM (SELECT * FROM ea UNION ALL SELECT * FROM eb)
        GROUP BY col_a, col_b, hv
    ),
    topu AS (SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY col_a, col_b ORDER BY hv) AS r FROM u
    ) WHERE r <= {k}),
    agg AS (
        SELECT col_a, col_b, count(*) AS k_union,
               CAST(sum(in_a * in_b) AS BIGINT) AS m_both,
               CAST(sum(in_a) AS BIGINT) AS m_a,
               CAST(sum(in_b) AS BIGINT) AS m_b
        FROM topu GROUP BY col_a, col_b
    )
    SELECT col_a, col_b, k_union, m_both,
           m_both / k_union AS jaccard_est,
           CASE WHEN m_a > 0 THEN m_both / m_a END AS containment_a_in_b,
           CASE WHEN m_b > 0 THEN m_both / m_b END AS containment_b_in_a
    FROM agg
    """


@query("q272_join_key_discovery", _jkd_oracle())
def q272(spark: SparkSession, sf: str) -> DataFrame:
    """FK-candidate discovery between orders and lineitem columns via
    KMV bottom-k domain sketches: one scan per table builds ALL
    columns' sketches, pairwise Jaccard/containment estimates come
    from sketch-sized integer arithmetic. o_orderkey↔l_orderkey should
    surface with containment ≈ 1."""
    from .operators.profile import join_key_discovery

    o = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    return join_key_discovery(
        o, li,
        ["o_orderkey", "o_custkey", "o_orderpriority"],
        ["l_orderkey", "l_partkey", "l_suppkey"],
        k=128,
    )


# ------------------------------------------------------------------ q273
@query(
    "q273_u_shaped_attribution",
    """
    WITH b AS (
        SELECT user_id, event_id, event_type,
               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pos
        FROM events
    ),
    c AS (SELECT *, CASE WHEN event_type = 'purchase' THEN pos END AS convpos FROM b),
    a AS (
        SELECT *, min(convpos) OVER (PARTITION BY user_id ORDER BY pos
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_conv
        FROM c
    ),
    t AS (
        SELECT user_id, event_id, event_type, pos, next_conv FROM a
        WHERE event_type IN ('view', 'click') AND next_conv IS NOT NULL
    ),
    r AS (
        SELECT *, row_number() OVER (PARTITION BY user_id, next_conv ORDER BY pos) AS i,
               count(*) OVER (PARTITION BY user_id, next_conv) AS n
        FROM t
    ),
    cv AS (SELECT user_id, pos AS next_conv, event_id AS conversion_id FROM a WHERE convpos IS NOT NULL)
    SELECT r.user_id, cv.conversion_id, r.event_id AS touch_id, r.event_type AS channel,
           CAST(i AS INT) AS position, CAST(n AS BIGINT) AS n_touches,
           CASE WHEN n = 1 THEN CAST(10000 AS DOUBLE)
                WHEN n = 2 THEN CAST(5000 AS DOUBLE)
                WHEN i = 1 OR i = n THEN CAST(4000 AS DOUBLE)
                ELSE CAST(2000 AS DOUBLE) / (n - 2) END AS credit_bp
    FROM r JOIN cv ON r.user_id = cv.user_id AND r.next_conv = cv.next_conv
    """,
)
def q273(spark: SparkSession, sf: str) -> DataFrame:
    """U-shaped (40-20-40) multi-touch attribution: touches assign to
    the NEXT conversion via a rows-to-end running MIN (linear — never
    the conversions×touches quadratic join; no IGNORE NULLS), credits
    are deterministic per-touch arithmetic with no cross-row float
    sum baked in."""
    from .operators.window import attribute_u_shaped

    ev = load_table(spark, sf, "events")
    return attribute_u_shaped(
        ev, "user_id", ["ts", "event_id"], "event_type",
        touch_types=["view", "click"], conversion_types=["purchase"],
    )


# ------------------------------------------------------------------ q274
@query(
    "q274_tokenizer_fertility",
    r"""
    WITH d AS (
        SELECT lang, n_chars,
               CASE WHEN text IS NULL THEN NULL
                    WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS ws_toks,
               CASE WHEN text IS NULL THEN NULL
                    ELSE len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) END AS bpe_toks
        FROM documents
    )
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum(ws_toks) AS BIGINT) AS total_ws_tokens,
           CAST(sum(bpe_toks) AS BIGINT) AS total_bpe_tokens,
           CAST(sum(n_chars) AS BIGINT) / CAST(sum(ws_toks) AS BIGINT) AS chars_per_ws_token,
           CAST(sum(n_chars) AS BIGINT) / CAST(sum(bpe_toks) AS BIGINT) AS chars_per_bpe_token
    FROM d GROUP BY lang
    """,
)
def q274(spark: SparkSession, sf: str) -> DataFrame:
    """Tokenizer fertility per language (chars per token, whitespace and
    BPE-ish pre-tokenizer): the budget planner for multilingual token
    accounting.  Pure codegen counting, one hash agg; ratios of exact
    integer sums."""
    from .operators import text as tx

    d = load_table(spark, sf, "documents")
    base = d.select(
        "lang",
        F.col("n_chars"),
        tx.token_count(F.col("text")).cast("bigint").alias("ws_toks"),
        F.when(F.col("text").isNotNull(), tx.bpe_ish_token_count(F.col("text")).cast("bigint")).alias("bpe_toks"),
    )
    return base.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.sum("ws_toks").cast("bigint").alias("total_ws_tokens"),
        F.sum("bpe_toks").cast("bigint").alias("total_bpe_tokens"),
        (F.sum("n_chars").cast("bigint") / F.sum("ws_toks").cast("bigint")).alias("chars_per_ws_token"),
        (F.sum("n_chars").cast("bigint") / F.sum("bpe_toks").cast("bigint")).alias("chars_per_bpe_token"),
    )


# ------------------------------------------------------------------ q275
@query(
    "q275_doc_novelty",
    r"""
    WITH docs AS (
        SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
        FROM documents WHERE text IS NOT NULL
    ),
    sh AS (
        SELECT doc_id, unnest(list_distinct(list_transform(
                   range(1, greatest(len(string_split(t, ' ')) - 2, 1) + 1),
                   i -> array_to_string((string_split(t, ' '))[i:i+2], ' ')))) AS s
        FROM docs
    ),
    hs AS (
        SELECT DISTINCT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h
        FROM sh WHERE s != ''
    ),
    dfreq AS (SELECT h, count(*) AS df FROM hs GROUP BY h)
    SELECT doc_id,
           count(*) AS n_shingles,
           CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
           1 - CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) / count(*) AS novelty
    FROM hs JOIN dfreq USING (h)
    GROUP BY doc_id
    """,
)
def q275(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document novelty (fraction of distinct 3-gram shingles unique
    to the document) — the memorization/boilerplate diagnostic.  The
    shingle relation reduces to (doc, 8-byte hash) before any shuffle;
    document frequency is a plain aggregate (no self-join, so no
    ubiquitous-shingle skew)."""
    from .operators.dedup import doc_novelty

    d = load_table(spark, sf, "documents")
    return doc_novelty(d, n=3)


# ------------------------------------------------------------------ q276
@query(
    "q276_curation_e2e",
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
        SELECT doc_id, lang, n_chars FROM (
            SELECT doc_id, lang, n_chars,
                   row_number() OVER (PARTITION BY regexp_replace(lower(trim(text)), '\s+', ' ', 'g')
                                      ORDER BY doc_id) AS rn
            FROM gated
        ) WHERE rn = 1
    ),
    split AS (
        SELECT lang, n_chars,
               CASE WHEN (('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT % 1000) < 800 THEN 'train'
                    WHEN (('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT % 1000) < 900 THEN 'val'
                    ELSE 'test' END AS split
        FROM deduped
    )
    SELECT split, lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM split GROUP BY split, lang
    """,
)
def q276(spark: SparkSession, sf: str) -> DataFrame:
    """END-TO-END batch curation (the standard pretraining data path in
    one call): Gopher 5-rule quality gate → exact dedup (min-id per
    normalized text) → deterministic 80/10/10 hash split, reported per
    (split, lang).  Every stage is an already-verified operator and the
    WHOLE chain replays in SQL — shuffle budget is dedup's single
    fingerprint exchange."""
    from .operators.pipeline import curate_corpus

    d = load_table(spark, sf, "documents")
    # the synthetic corpus carries few English stopwords — gate on the
    # three structural rules (the full 7-rule conjunction is q146's
    # audit; rules are a parameter precisely so corpora can tune them)
    out = curate_corpus(d, rules=("r_word_count", "r_mean_word_len", "r_alpha"))
    return out.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").cast("bigint").alias("total_chars")
    )


# ------------------------------------------------------------------ q277
@query(
    "q277_salt_plan",
    """
    SELECT o_custkey, count(*) AS n_rows,
           greatest((count(*) + 9) // 10, 1) AS salt_factor
    FROM orders WHERE o_custkey IS NOT NULL
    GROUP BY o_custkey
    """,
)
def q277(spark: SparkSession, sf: str) -> DataFrame:
    """Salting recommendation per join key (ceil(rows/target) via exact
    integer arithmetic) — the relation salted_join broadcasts; one hash
    aggregation, rerun-stable."""
    from .operators.skew import salt_plan

    o = load_table(spark, sf, "orders")
    return salt_plan(o, "o_custkey", target_rows_per_task=10)


# ------------------------------------------------------------------ q278
@query(
    "q278_implementation_shortfall",
    """
    WITH q AS (
        SELECT user_id, date_trunc('day', ts) AS d, ts, event_id,
               CAST(round(value * 100) AS BIGINT) AS m
        FROM events WHERE event_type = 'view'
    ),
    arr AS (
        SELECT user_id, d, m AS arr FROM (
            SELECT *, row_number() OVER (PARTITION BY user_id, d ORDER BY ts, event_id) AS rn FROM q
        ) WHERE rn = 1
    ),
    t AS (
        SELECT user_id, date_trunc('day', ts) AS d,
               CAST(round(value * 100) AS BIGINT) AS p, event_id % 5 + 1 AS q
        FROM events WHERE event_type = 'purchase'
    ),
    j AS (SELECT t.user_id, p, q, arr FROM t JOIN arr ON t.user_id = arr.user_id AND t.d = arr.d)
    SELECT user_id, count(*) AS n_trades, CAST(sum(q) AS BIGINT) AS total_qty,
           CAST(sum((p - arr) * q) AS BIGINT) / 100 AS shortfall,
           (CAST(sum((p - arr) * q) AS BIGINT) / CAST(sum(q) AS BIGINT)) / 100 AS shortfall_per_unit
    FROM j GROUP BY user_id
    """,
)
def q278(spark: SparkSession, sf: str) -> DataFrame:
    """Implementation shortfall vs each day's arrival quote: the
    benchmark relation is one row per (user, day) — a windowed rank on
    the quote stream — then an equi-join onto trades; Σ(p−arrival)·qty
    stays an exact integer."""
    from .operators import finance

    ev = load_table(spark, sf, "events")
    trades = ev.where(F.col("event_type") == "purchase")
    quotes = ev.where(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id", F.col("value").alias("qv")
    )
    return finance.implementation_shortfall(
        trades, quotes, by="user_id", day=F.date_trunc("day", F.col("ts")),
        trade_order=["ts", "event_id"], quote_order=["ts", "event_id"],
        trade_price="value", quote_mid="qv", qty=F.col("event_id") % 5 + 1,
    )


# ------------------------------------------------------------------ q279
@query(
    "q279_join_size_estimate",
    """
    WITH a AS (SELECT o_orderkey AS k, count(*) AS na FROM orders WHERE o_orderkey IS NOT NULL GROUP BY 1),
    b AS (SELECT l_orderkey AS k, count(*) AS nb FROM lineitem WHERE l_orderkey IS NOT NULL GROUP BY 1),
    j AS (SELECT na, nb FROM a FULL OUTER JOIN b USING (k))
    SELECT CAST(sum(na) AS BIGINT) AS n_left,
           CAST(sum(nb) AS BIGINT) AS n_right,
           CAST(sum(CASE WHEN nb IS NOT NULL THEN na END) AS BIGINT) AS n_left_matched,
           CAST(sum(CASE WHEN na IS NOT NULL THEN nb END) AS BIGINT) AS n_right_matched,
           CAST(sum(na * nb) AS BIGINT) AS n_join_rows,
           CAST(max(na * nb) AS BIGINT) AS max_key_contribution
    FROM j
    """,
)
def q279(spark: SparkSession, sf: str) -> DataFrame:
    """EXACT pre-flight join cardinality (orders ⋈ lineitem on
    orderkey): both tables reduce to (key, count) before the single
    count-relation join — the 1:1 / 1:N / M×N-explosion check a planner
    runs before firing a 100 TB join."""
    from .operators.profile import join_size_estimate

    o = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    return join_size_estimate(o, li, "o_orderkey", "l_orderkey")


# ------------------------------------------------------------------ q280
@query(
    "q280_rolling_corr",
    """
    WITH b AS (
        SELECT user_id, ts, event_id, value,
               event_id % 100 AS y,
               CAST(round(value * 100) AS BIGINT) AS x
        FROM events
    ),
    r AS (
        SELECT user_id, ts, event_id, value, y,
               count(*) OVER w AS cnt,
               CAST(sum(x) OVER w AS BIGINT) AS sx,
               CAST(sum(y) OVER w AS BIGINT) AS sy,
               CAST(sum(x * y) OVER w AS BIGINT) AS sxy,
               CAST(sum(x * x) OVER w AS BIGINT) AS sxx,
               CAST(sum(y * y) OVER w AS BIGINT) AS syy
        FROM b
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, ts, event_id, value, y,
           CASE WHEN cnt = 20 AND (20 * sxx - sx * sx) > 0 AND (20 * syy - sy * sy) > 0
                THEN (20 * sxy - sx * sy)
                     / (sqrt(20 * sxx - sx * sx) * sqrt(20 * syy - sy * sy)) END AS rolling_corr
    FROM r
    """,
)
def q280(spark: SparkSession, sf: str) -> DataFrame:
    """Rolling 20-row Pearson correlation (rolling-beta building block)
    between the value series and a deterministic second signal: six
    exact integer rolling sums in one per-key sort window, per-row corr
    from IEEE-exact ops."""
    from .operators.window import rolling_corr_exact

    ev = load_table(spark, sf, "events").withColumn("y", F.col("event_id") % 100)
    return rolling_corr_exact(ev, "user_id", ["ts", "event_id"], "value", "y", n=20, x_scale=100, y_scale=1)


# ------------------------------------------------------------------ q281
@query(
    "q281_apply_cdc",
    """
    WITH base AS (SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price FROM orders),
    changes AS (
        SELECT o_orderkey, o_custkey, round(o_totalprice + 1, 2) AS price,
               CASE WHEN o_orderkey % 10 = 0 THEN 'D' ELSE 'U' END AS op
        FROM orders WHERE o_orderkey % 10 IN (0, 1, 2)
        UNION ALL
        SELECT o_orderkey + 1000000000, o_custkey, round(o_totalprice, 2), 'I'
        FROM orders WHERE o_orderkey % 10 = 3
    ),
    touched AS (SELECT DISTINCT o_orderkey FROM changes),
    kept AS (
        SELECT b.* FROM base b LEFT JOIN touched t ON b.o_orderkey = t.o_orderkey
        WHERE t.o_orderkey IS NULL
    ),
    ups AS (SELECT o_orderkey, o_custkey, price FROM changes WHERE op != 'D')
    SELECT * FROM kept UNION ALL SELECT * FROM ups
    """,
)
def q281(spark: SparkSession, sf: str) -> DataFrame:
    """CDC MERGE (upsert + delete) onto a keyed snapshot: deterministic
    synthetic change batch (deletes, updates, inserts by key residue),
    one anti-join + union — the Delta/Iceberg MERGE shape without a
    table format."""
    from .operators.merge import apply_cdc

    o = load_table(spark, sf, "orders")
    base = o.select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("price"))
    upd = o.where(F.col("o_orderkey") % 10 <= 2).select(
        "o_orderkey", "o_custkey",
        F.round(F.col("o_totalprice") + 1, 2).alias("price"),
        F.when(F.col("o_orderkey") % 10 == 0, "D").otherwise("U").alias("op"),
    )
    ins = o.where(F.col("o_orderkey") % 10 == 3).select(
        (F.col("o_orderkey") + 1000000000).alias("o_orderkey"), "o_custkey",
        F.round("o_totalprice", 2).alias("price"), F.lit("I").alias("op"),
    )
    return apply_cdc(base, upd.unionByName(ins), keys=["o_orderkey"])


# ------------------------------------------------------------------ q282
@query(
    "q282_drawdown_duration",
    """
    WITH r AS (
        SELECT user_id,
               CAST(round(value * 100) AS BIGINT) AS p,
               max(CAST(round(value * 100) AS BIGINT)) OVER w AS peak,
               ts, event_id
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    u AS (
        SELECT user_id, CASE WHEN p < peak THEN 1 ELSE 0 END AS und,
               CAST(sum(CASE WHEN p < peak THEN 0 ELSE 1 END) OVER w AS BIGINT) AS seg
        FROM r
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    runs AS (
        SELECT user_id, seg, count(*) AS len FROM u WHERE und = 1 GROUP BY user_id, seg
    )
    SELECT user_id, max(len) AS max_underwater_run, count(*) AS n_drawdowns,
           CAST(sum(len) AS BIGINT) AS total_underwater_rows
    FROM runs GROUP BY user_id
    """,
)
def q282(spark: SparkSession, sf: str) -> DataFrame:
    """Longest underwater stretch per user (time-dimension companion of
    q252's max drawdown): segment-id run lengths from integer windows —
    one sort window + one agg on the same key."""
    from .operators import finance

    ev = load_table(spark, sf, "events")
    return finance.drawdown_duration(ev, "user_id", ["ts", "event_id"], "value")


# ------------------------------------------------------------------ q283
@query(
    "q283_split_adjust",
    """
    WITH s AS (
        SELECT DISTINCT user_id, TIMESTAMP '2024-01-10 00:00:00' AS sat, 1 AS k
        FROM events WHERE user_id % 5 = 0
        UNION ALL
        SELECT DISTINCT user_id, TIMESTAMP '2024-01-05 00:00:00', -1
        FROM events WHERE user_id % 5 = 1
    ),
    j AS (
        SELECT e.user_id, e.ts, e.event_id, e.value,
               CASE WHEN s.sat > e.ts THEN s.k ELSE 0 END AS kk
        FROM events e LEFT JOIN s ON e.user_id = s.user_id
    ),
    g AS (
        SELECT user_id, ts, event_id, value, CAST(sum(kk) AS BIGINT) AS K
        FROM j GROUP BY user_id, ts, event_id, value
    )
    SELECT user_id, ts, event_id, value,
           coalesce(K, 0) AS split_log2,
           value * pow(2.0, -K) AS adj_price
    FROM g
    """,
)
def q283(spark: SparkSession, sf: str) -> DataFrame:
    """Split back-adjustment with 2^k ratios: the cumulative adjustment
    is an INTEGER exponent (reverse-looking sum over the tiny split
    relation), and 2^−K is exact in binary floating point — no
    cumulative float product, engine-identical adjusted prices."""
    from .operators import finance

    ev = load_table(spark, sf, "events")
    s1 = ev.where(F.col("user_id") % 5 == 0).select("user_id").distinct().select(
        "user_id", F.lit("2024-01-10 00:00:00").cast("timestamp").alias("sat"), F.lit(1).alias("ratio_log2")
    )
    s2 = ev.where(F.col("user_id") % 5 == 1).select("user_id").distinct().select(
        "user_id", F.lit("2024-01-05 00:00:00").cast("timestamp").alias("sat"), F.lit(-1).alias("ratio_log2")
    )
    splits = s1.unionByName(s2)
    return finance.adjust_for_splits(
        ev, splits, key="user_id", order=["ts", "event_id"], price="value",
        split_order="sat",
    )


# ------------------------------------------------------------------ q284
@query(
    "q284_user_beta",
    """
    WITH hourly AS (
        SELECT user_id, date_trunc('hour', ts) AS h,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
        FROM events GROUP BY 1, 2
    ),
    mkt AS (
        SELECT date_trunc('hour', ts) AS h,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
        FROM events GROUP BY 1
    ),
    v AS (SELECT user_id, x, y FROM hourly JOIN mkt USING (h)),
    a AS (
        SELECT user_id, count(*) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(y * y) AS BIGINT) AS syy
        FROM v GROUP BY user_id
    )
    SELECT user_id, n,
           CASE WHEN n * sxx - sx * sx != 0 THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END AS slope,
           sy / n - (CASE WHEN n * sxx - sx * sx != 0
                          THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END) * (sx / n) AS intercept,
           CASE WHEN n * sxx - sx * sx != 0 AND n * syy - sy * sy != 0
                THEN (CAST(n * sxy - sx * sy AS DOUBLE) * CAST(n * sxy - sx * sy AS DOUBLE))
                     / (CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE)) END AS r2
    FROM a
    """,
)
def q284(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user beta vs the market (hourly user value regressed on the
    hourly aggregate): two hash aggs build the aligned integer series,
    then lm_by's grouped closed forms — a pure composition of verified
    operators."""
    from .functions.stats import lm_by

    ev = load_table(spark, sf, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    hourly = ev.groupBy("user_id", F.date_trunc("hour", F.col("ts")).alias("h")).agg(
        F.sum(cents).cast("bigint").alias("y")
    )
    mkt = ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("h")).agg(
        F.sum(cents).cast("bigint").alias("x")
    )
    v = hourly.join(mkt, on="h")
    return lm_by(v, "user_id", "x", "y", x_scale=1, y_scale=1)


# ------------------------------------------------------------------ q285
@query(
    "q285_twap",
    """
    WITH b AS (
        SELECT user_id, date_trunc('day', ts) AS bucket,
               CAST(round(value * 100) AS BIGINT) AS p,
               epoch_us(ts) AS tus, ts, event_id
        FROM events
    ),
    d AS (
        SELECT user_id, bucket, p,
               lead(tus) OVER (PARTITION BY user_id, bucket ORDER BY ts, event_id) - tus AS dt
        FROM b
    ),
    f AS (SELECT * FROM d WHERE dt IS NOT NULL)
    SELECT user_id, bucket,
           (CAST(sum(p * dt) AS BIGINT) / CAST(sum(dt) AS BIGINT)) / 100 AS twap,
           CAST(sum(dt) AS BIGINT) AS total_micros,
           count(*) AS n_intervals
    FROM f GROUP BY user_id, bucket
    """,
)
def q285(spark: SparkSession, sf: str) -> DataFrame:
    """Daily TWAP per user: interval weights are integer microsecond
    deltas, prices integer cents — Σp·Δt is an exact BIGINT and the one
    division engine-identical. One per-(user, day) sort window + one
    agg on the same keys."""
    from .operators import finance

    ev = load_table(spark, sf, "events")
    return finance.twap(
        ev, "user_id", F.date_trunc("day", F.col("ts")), ["ts", "event_id"], "value"
    )


# ------------------------------------------------------------------ q286
@query(
    "q286_event_study",
    """
    WITH w AS (
        SELECT user_id, event_type,
               CAST(round(value * 100) AS BIGINT) AS v,
               lag(CAST(round(value * 100) AS BIGINT), 3) OVER win AS m3,
               lag(CAST(round(value * 100) AS BIGINT), 2) OVER win AS m2,
               lag(CAST(round(value * 100) AS BIGINT), 1) OVER win AS m1,
               lead(CAST(round(value * 100) AS BIGINT), 1) OVER win AS p1,
               lead(CAST(round(value * 100) AS BIGINT), 2) OVER win AS p2,
               lead(CAST(round(value * 100) AS BIGINT), 3) OVER win AS p3
        FROM events
        WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
        SELECT -3 AS "offset", m3 AS v FROM w WHERE event_type = 'purchase'
        UNION ALL SELECT -2, m2 FROM w WHERE event_type = 'purchase'
        UNION ALL SELECT -1, m1 FROM w WHERE event_type = 'purchase'
        UNION ALL SELECT 0, v FROM w WHERE event_type = 'purchase'
        UNION ALL SELECT 1, p1 FROM w WHERE event_type = 'purchase'
        UNION ALL SELECT 2, p2 FROM w WHERE event_type = 'purchase'
        UNION ALL SELECT 3, p3 FROM w WHERE event_type = 'purchase'
    ),
    f AS (SELECT * FROM s WHERE v IS NOT NULL)
    SELECT "offset", count(*) AS n,
           (CAST(sum(v) AS BIGINT) / count(*)) / 100 AS mean_value
    FROM f GROUP BY "offset"
    """,
)
def q286(spark: SparkSession, sf: str) -> DataFrame:
    """Event study around purchases (PSTH): the value path at relative
    offsets −3..+3, averaged across all anchor events — one sort window
    builds every offset, a single explode stacks them, exact integer
    sums per offset."""
    from .operators import finance

    ev = load_table(spark, sf, "events")
    return finance.event_study(
        ev, "user_id", ["ts", "event_id"], "value",
        anchor=F.col("event_type") == "purchase", window_radius=3,
    )


# ------------------------------------------------------------------ q287
@query(
    "q287_cluster_distortion",
    """
    WITH ex AS (
        SELECT vec_id % 8 AS l, d - 1 AS dim,
               CAST(round(CAST(embedding[d] AS DOUBLE) * 1000) AS BIGINT) AS xi
        FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(d)
    ),
    comp AS (
        SELECT l, dim,
               CAST(sum(xi * xi) AS BIGINT) AS sxx,
               CAST(sum(xi) AS BIGINT) AS sx,
               count(*) AS n
        FROM ex GROUP BY l, dim
    ),
    pl AS (
        SELECT l, max(n) AS n_vecs,
               CAST(sum(sxx) AS BIGINT) AS A,
               CAST(sum(sx * sx) AS BIGINT) AS B
        FROM comp GROUP BY l
    )
    SELECT l AS list_id, n_vecs,
           (A - B / n_vecs) / 1000000 AS sse,
           ((A - B / n_vecs) / 1000000) / n_vecs AS mean_sse
    FROM pl
    """,
)
def q287(spark: SparkSession, sf: str) -> DataFrame:
    """Cluster distortion audit (SSE about the mean per hash-assigned
    list) via the power-sum identity — exact integer brackets, one
    division; the IVF quality signal that decides list splitting."""
    from .operators.similarity import cluster_distortion

    emb = load_table(spark, sf, "embeddings")
    return cluster_distortion(emb, F.col("vec_id") % 8)


# ------------------------------------------------------------------ q288
@query(
    "q288_factor_quintiles",
    """
    WITH panel AS (
        SELECT (epoch(date_trunc('day', ts)) // 86400)::BIGINT AS period, user_id AS k,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sig
        FROM events GROUP BY 1, 2
    ),
    ranked AS (
        SELECT period, k, sig,
               row_number() OVER (PARTITION BY period ORDER BY sig DESC, k) AS r,
               count(*) OVER (PARTITION BY period) AS n
        FROM panel
    ),
    cur AS (SELECT period, k, ((r - 1) * 5) // n + 1 AS bucket FROM ranked),
    nxt AS (SELECT period - 1 AS period, k, sig AS fwd FROM panel),
    j AS (SELECT cur.period, bucket, fwd FROM cur JOIN nxt ON cur.period = nxt.period AND cur.k = nxt.k)
    SELECT period, bucket, count(*) AS n,
           CAST(sum(fwd) AS BIGINT) / count(*) AS mean_fwd
    FROM j GROUP BY period, bucket
    """,
)
def q288(spark: SparkSession, sf: str) -> DataFrame:
    """Quintile-portfolio persistence backtest: daily cross-section
    ranked by user value, integer-DIV bucket cut, joined to the next
    day's panel — every number exact until the one mean division."""
    from .operators import finance

    ev = load_table(spark, sf, "events")
    period = (F.unix_seconds(F.date_trunc("day", F.col("ts"))) / 86400).cast("bigint")
    cents = F.round(F.col("value") * 100).cast("bigint")
    return finance.factor_quintiles(ev, "user_id", period, cents, buckets=5)


# ------------------------------------------------------------------ q289
@query(
    "q289_kwic",
    """
    SELECT doc_id,
           strpos(lower(text), 'spark') AS match_pos,
           substr(text, greatest(strpos(lower(text), 'spark') - 30, 1), 65) AS snippet
    FROM documents
    WHERE text IS NOT NULL AND strpos(lower(text), 'spark') > 0
    """,
)
def q289(spark: SparkSession, sf: str) -> DataFrame:
    """Keyword-in-context concordance for 'spark': first-match position
    + a ±30-char snippet, pure codegen string ops at scan speed."""
    from .operators.text import kwic

    d = load_table(spark, sf, "documents")
    return kwic(d, "spark", context=30)


# ------------------------------------------------------------------ q290
@query(
    "q290_theil_sen",
    """
    WITH s AS (
        SELECT user_id,
               epoch_us(ts) AS x,
               CAST(round(value * 100) AS BIGINT) AS y,
               ts, event_id
        FROM events
    ),
    d AS (
        SELECT user_id,
               x - lag(x) OVER w AS dx,
               y - lag(y) OVER w AS dy
        FROM s WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    f AS (SELECT user_id, dy / dx AS sl FROM d WHERE dx IS NOT NULL AND dx != 0)
    SELECT user_id, count(*) AS n_slopes, quantile_cont(sl, 0.5) AS ts_slope
    FROM f GROUP BY user_id
    """,
)
def q290(spark: SparkSession, sf: str) -> DataFrame:
    """Robust per-user value trend: median of consecutive-pair slopes
    (linear-cost Theil-Sen) on the microsecond time axis.  Slopes are
    divisions of exact integer deltas — identical double multisets — so
    the interpolated median is engine-identical."""
    from .functions.stats import theil_sen_consecutive

    ev = load_table(spark, sf, "events").withColumn("__x__", F.unix_micros(F.col("ts")))
    return theil_sen_consecutive(
        ev, "user_id", ["ts", "event_id"], "__x__", "value", x_scale=1, y_scale=100
    )


# ------------------------------------------------------------------ q291
@query(
    "q291_pairs_spread_zscore",
    """
    WITH ha AS (
        SELECT date_trunc('hour', ts) AS h,
               CAST(sum(CASE WHEN user_id % 2 = 0 THEN CAST(round(value * 100) AS BIGINT) END) AS BIGINT) AS a,
               CAST(sum(CASE WHEN user_id % 2 = 1 THEN CAST(round(value * 100) AS BIGINT) END) AS BIGINT) AS b
        FROM events GROUP BY 1
    ),
    sp AS (SELECT h, a - b AS spread FROM ha WHERE a IS NOT NULL AND b IS NOT NULL),
    r AS (
        SELECT h, spread,
               count(*) OVER w AS cnt,
               CAST(sum(spread) OVER w AS BIGINT) AS s1,
               CAST(sum(spread * spread) OVER w AS BIGINT) AS s2
        FROM sp
        WINDOW w AS (ORDER BY h ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
    )
    SELECT h, spread / 100 AS spread,
           CASE WHEN cnt = 24 AND 24 * s2 - s1 * s1 > 0
                THEN (24 * spread - s1) / sqrt(24 * s2 - s1 * s1) END AS zscore
    FROM r
    """,
)
def q291(spark: SparkSession, sf: str) -> DataFrame:
    """Pairs-trading spread monitor: hourly value spread between the two
    user cohorts, 24-hour rolling z-score via the integer-moment
    machinery (z = (n·p − S1)/√(n·S2 − S1²) — a single integer
    numerator, no separate mean/std divisions)."""
    from .operators import finance

    ev = load_table(spark, sf, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    ha = ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("h")).agg(
        F.sum(F.when(F.col("user_id") % 2 == 0, cents)).cast("bigint").alias("a"),
        F.sum(F.when(F.col("user_id") % 2 == 1, cents)).cast("bigint").alias("b"),
    )
    sp = ha.where(F.col("a").isNotNull() & F.col("b").isNotNull()).select(
        "h", ((F.col("a") - F.col("b")) / 100).alias("spread"), F.lit(1).alias("__k__")
    )
    out = finance.rolling_zscore(sp, "__k__", "h", "spread", n=24, scale=100)
    return out.select("h", "spread", "zscore")


# ------------------------------------------------------------------ q292
@query(
    "q292_ltv_curves",
    """
    WITH p AS (
        SELECT user_id, date_trunc('week', ts) AS m,
               CAST(round(value * 100) AS BIGINT) AS cents, ts
        FROM events WHERE event_type = 'purchase'
    ),
    firsts AS (SELECT user_id, min(m) AS cohort FROM p GROUP BY user_id),
    j AS (
        SELECT p.user_id, f.cohort,
               CAST(datediff('day', f.cohort, p.m) // 7 AS BIGINT) AS age, cents
        FROM p JOIN firsts f ON p.user_id = f.user_id
    ),
    per AS (
        SELECT cohort, age, count(DISTINCT user_id) AS n_active,
               CAST(sum(cents) AS BIGINT) AS rev
        FROM j GROUP BY cohort, age
    )
    SELECT cohort, age, n_active, rev / 100 AS revenue,
           CAST(sum(rev) OVER (PARTITION BY cohort ORDER BY age
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) / 100 AS cum_revenue
    FROM per
    """,
)
def q292(spark: SparkSession, sf: str) -> DataFrame:
    """Cohort LTV curves over purchase revenue: first-seen week cohorts,
    cumulative integer revenue per cohort-age — the growth dashboard's
    core table, exact to the final /100."""
    from .operators.groupby import ltv_curve

    ev = load_table(spark, sf, "events").where(F.col("event_type") == "purchase")
    cents = F.round(F.col("value") * 100).cast("bigint")
    return ltv_curve(ev, "user_id", "ts", cents, period="week")


# The TPC-H classics (Q3/Q5/Q10 shapes) — multi-join analytics where
# Catalyst's join reordering + broadcast of the dimension chain is the
# whole performance story.  Revenue is computed as the EXACT integer
# p_cents · (100 − d_cents) (revenue × 10^4), so the top-k ordering and
# the reported sums are engine-identical with no float-sum rounding.
_REV = "CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))"


def _rev_col():
    p = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    d = F.round(F.col("l_discount") * 100).cast("bigint")
    return p * (100 - d)


# ------------------------------------------------------------------ q293
@query(
    "q293_tpch_q3",
    f"""
    SELECT l_orderkey,
           CAST(sum({_REV}) AS BIGINT) / 10000 AS revenue,
           o_orderdate, o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY CAST(sum({_REV}) AS BIGINT) DESC, l_orderkey
    LIMIT 10
    """,
)
def q293(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q3 (shipping priority): customer-segment filter pushed to
    the (broadcastable) dim, two joins, integer-exact revenue top-10
    with an orderkey tiebreak."""
    c = load_table(spark, sf, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf, "orders").where(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = load_table(spark, sf, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    j = c.join(o, c["c_custkey"] == o["o_custkey"]).join(li, F.col("l_orderkey") == F.col("o_orderkey"))
    agg = j.groupBy("l_orderkey", "o_orderdate", "o_orderpriority").agg(
        F.sum(_rev_col()).alias("__r__")
    )
    return (
        agg.orderBy(F.col("__r__").desc(), F.col("l_orderkey"))
        .limit(10)
        .select(
            "l_orderkey", (F.col("__r__") / 10000).alias("revenue"),
            "o_orderdate", "o_orderpriority",
        )
    )


# ------------------------------------------------------------------ q294
@query(
    "q294_tpch_q5",
    f"""
    SELECT n_name, CAST(sum({_REV}) AS BIGINT) / 10000 AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey AND s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def q294(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q5 (local-supplier volume): the six-way join — region →
    nation → customer/supplier co-location + fact table; every
    dimension broadcasts, the fact shuffles once for the agg."""
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf, "lineitem")
    s = load_table(spark, sf, "supplier")
    n = load_table(spark, sf, "nation")
    r = load_table(spark, sf, "region").where(F.col("r_name") == "ASIA")
    j = (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(n, (c["c_nationkey"] == F.col("n_nationkey")) & (F.col("s_nationkey") == F.col("n_nationkey")))
        .join(r, F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return j.groupBy("n_name").agg((F.sum(_rev_col()) / 10000).alias("revenue"))


# ------------------------------------------------------------------ q295
@query(
    "q295_tpch_q10",
    f"""
    SELECT c.c_custkey, c.c_name,
           CAST(sum({_REV}) AS BIGINT) / 10000 AS revenue,
           round(c.c_acctbal, 2) AS acctbal, n.n_name
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1997-10-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY CAST(sum({_REV}) AS BIGINT) DESC, c.c_custkey
    LIMIT 20
    """,
)
def q295(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q10 (returned-item reporting): quarter of returned
    lineitems joined back through orders to customer + nation,
    integer-exact revenue top-20."""
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf, "lineitem").where(F.col("l_returnflag") == "R")
    n = load_table(spark, sf, "nation")
    j = (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(n, c["c_nationkey"] == F.col("n_nationkey"))
    )
    agg = j.groupBy("c_custkey", "c_name", "c_acctbal", "n_name").agg(
        F.sum(_rev_col()).alias("__r__")
    )
    return (
        agg.orderBy(F.col("__r__").desc(), F.col("c_custkey"))
        .limit(20)
        .select(
            "c_custkey", "c_name", (F.col("__r__") / 10000).alias("revenue"),
            F.round(F.col("c_acctbal"), 2).alias("acctbal"), "n_name",
        )
    )


# ------------------------------------------------------------------ q296
@query(
    "q296_tpch_q4",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
      AND EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o_orderpriority
    """,
)
def q296(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q4 shape (order-priority checking): EXISTS compiles to a
    LEFT SEMI join on the order key — late-shipping orders (any line
    shipped >60 days after order) counted per priority."""
    o = load_table(spark, sf, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = load_table(spark, sf, "lineitem")
    j = o.join(
        li,
        (li["l_orderkey"] == o["o_orderkey"])
        & (li["l_shipdate"] > o["o_orderdate"] + F.expr("INTERVAL 60 DAYS")),
        how="left_semi",
    )
    return j.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


# ------------------------------------------------------------------ q297
@query(
    "q297_tpch_q18",
    """
    WITH big AS (
        SELECT l_orderkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
        FROM lineitem GROUP BY l_orderkey
        HAVING sum(CAST(l_quantity AS BIGINT)) > 150
    )
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate,
           round(o.o_totalprice, 2) AS totalprice, b.total_qty
    FROM big b
    JOIN orders o ON o.o_orderkey = b.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    """,
)
def q297(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume customers): the HAVING subquery is
    one fact aggregation whose (small) survivor set drives the joins —
    exact integer quantity totals."""
    li = load_table(spark, sf, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("total_qty"))
        .where(F.col("total_qty") > 150)
    )
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    j = big.join(o, big["l_orderkey"] == o["o_orderkey"]).join(
        c, o["o_custkey"] == c["c_custkey"]
    )
    return j.select(
        "c_custkey", "c_name", "o_orderkey", "o_orderdate",
        F.round(F.col("o_totalprice"), 2).alias("totalprice"), "total_qty",
    )


# ------------------------------------------------------------------ q298
@query(
    "q298_tpch_q22",
    """
    WITH thr AS (
        SELECT CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
               / count(*) AS avg_cents
        FROM customer WHERE c_acctbal > 0
    )
    SELECT c.c_nationkey, count(*) AS n_customers,
           CAST(sum(CAST(round(c.c_acctbal * 100) AS BIGINT)) AS BIGINT) / 100 AS total_acctbal
    FROM customer c, thr
    WHERE CAST(round(c.c_acctbal * 100) AS BIGINT) > thr.avg_cents
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    GROUP BY c.c_nationkey
    """,
)
def q298(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q22 shape (global-sales opportunity): above-average-balance
    customers with no RECENT orders — a broadcast scalar threshold
    (integer cents, no float-sum boundary) + LEFT ANTI join, grouped by
    nation."""
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders").where(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    cents = F.round(F.col("c_acctbal") * 100).cast("bigint")
    thr = c.where(F.col("c_acctbal") > 0).agg(
        (F.sum(cents) / F.count(F.lit(1))).alias("avg_cents")
    )
    rich = c.withColumn("__cents__", cents).crossJoin(F.broadcast(thr)).where(
        F.col("__cents__") > F.col("avg_cents")
    )
    no_orders = rich.join(o, rich["c_custkey"] == o["o_custkey"], how="left_anti")
    return no_orders.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_customers"),
        (F.sum("__cents__") / 100).alias("total_acctbal"),
    )


# ------------------------------------------------------------------ q299
@query(
    "q299_tpch_q16",
    """
    SELECT p.p_brand, p.p_size,
           CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt,
           count(*) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_type NOT LIKE 'STANDARD%' AND p.p_size IN (1, 5, 9, 14, 23)
    GROUP BY p.p_brand, p.p_size
    """,
)
def q299(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q16 shape (parts/supplier relationship): NOT-LIKE + IN
    filters push to the (broadcast) part dim; exact COUNT(DISTINCT
    suppkey) per (brand, size)."""
    li = load_table(spark, sf, "lineitem")
    p = load_table(spark, sf, "part").where(
        ~F.col("p_type").like("STANDARD%") & F.col("p_size").isin(1, 5, 9, 14, 23)
    )
    j = li.join(p, li["l_partkey"] == p["p_partkey"])
    return j.groupBy("p_brand", "p_size").agg(
        F.countDistinct("l_suppkey").cast("bigint").alias("supplier_cnt"),
        F.count(F.lit(1)).alias("n_lines"),
    )


# ------------------------------------------------------------------ q300
@query(
    "q300_rank_family",
    """
    SELECT o_orderkey, o_orderpriority,
           rank() OVER w AS rnk,
           dense_rank() OVER w AS drnk,
           row_number() OVER w AS rn,
           percent_rank() OVER w AS prnk,
           cume_dist() OVER w AS cdist,
           ntile(4) OVER w AS quartile
    FROM orders
    WHERE o_orderkey % 37 = 0
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY CAST(round(o_totalprice * 100) AS BIGINT), o_orderkey)
    """,
)
def q300(spark: SparkSession, sf: str) -> DataFrame:
    """The complete SQL rank-function family in one pass (rank,
    dense_rank, row_number, percent_rank, cume_dist, ntile) — a fully
    total ORDER BY (cents + key tiebreak) makes every variant
    engine-deterministic; all six share ONE sort window."""
    from pyspark.sql import Window as W

    o = load_table(spark, sf, "orders").where(F.col("o_orderkey") % 37 == 0)
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    w = W.partitionBy("o_orderpriority").orderBy(cents, F.col("o_orderkey"))
    return o.select(
        "o_orderkey", "o_orderpriority",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.row_number().over(w).alias("rn"),
        F.percent_rank().over(w).alias("prnk"),
        F.cume_dist().over(w).alias("cdist"),
        F.ntile(4).over(w).alias("quartile"),
    )


# ------------------------------------------------------------------ q301
@query(
    "q301_time_bars",
    """
    WITH t AS (
        SELECT user_id, (floor(epoch(ts) / 900) * 900)::BIGINT AS bucket,
               CAST(round(value * 100) AS BIGINT) AS p,
               event_id % 5 + 1 AS q,
               epoch_us(ts) * 100 + event_id % 100 AS okey
        FROM events
    )
    SELECT user_id, bucket,
           arg_min(p, okey) / 100 AS open,
           max(p) / 100 AS high,
           min(p) / 100 AS low,
           arg_max(p, okey) / 100 AS close,
           CAST(sum(q) AS BIGINT) AS volume,
           (CAST(sum(p * q) AS BIGINT) / CAST(sum(q) AS BIGINT)) / 100 AS vwap,
           count(*) AS n_trades
    FROM t GROUP BY user_id, bucket
    """,
)
def q301(spark: SparkSession, sf: str) -> DataFrame:
    """The canonical 15-minute bar builder (OHLC + volume + VWAP +
    count) in ONE two-stage hash agg — open/close via min_by/max_by on
    a packed (µs, id) total order, every accumulator integral."""
    from .operators import finance

    ev = load_table(spark, sf, "events")
    bucket = (F.floor(F.unix_seconds(F.col("ts")) / 900) * 900).cast("bigint")
    return finance.time_bars(ev, "user_id", bucket, "value", F.col("event_id") % 5 + 1)


# ------------------------------------------------------------------ q302
@query(
    "q302_pareto_frontier",
    """
    SELECT p_partkey, p_brand, round(p_retailprice, 2) AS price, p_size
    FROM part a
    WHERE NOT EXISTS (
        SELECT 1 FROM part b
        WHERE b.p_brand = a.p_brand
          AND CAST(round(b.p_retailprice * 100) AS BIGINT) <= CAST(round(a.p_retailprice * 100) AS BIGINT)
          AND b.p_size >= a.p_size
          AND (CAST(round(b.p_retailprice * 100) AS BIGINT) < CAST(round(a.p_retailprice * 100) AS BIGINT)
               OR b.p_size > a.p_size)
    )
    """,
)
def q302(spark: SparkSession, sf: str) -> DataFrame:
    """Per-brand Pareto frontier (cheapest price for the biggest size):
    the LINEAR range-frame formulation vs the oracle's O(n²) NOT
    EXISTS — different algorithms, identical set semantics, exact
    integer axes."""
    from .operators.mining import pareto_frontier

    p = load_table(spark, sf, "part")
    out = pareto_frontier(p, "p_brand", "p_retailprice", "p_size", min_scale=100, max_scale=1)
    return out.select(
        "p_partkey", "p_brand", F.round(F.col("p_retailprice"), 2).alias("price"), "p_size"
    )


# ------------------------------------------------------------------ q303
@query(
    "q303_interval_coverage",
    """
    WITH iv AS (
        SELECT user_id, event_id,
               epoch_us(ts) AS s,
               epoch_us(ts) + CAST(round(value * 100) AS BIGINT) * 1000000 AS e
        FROM events
    ),
    m AS (
        SELECT user_id, s, e,
               max(e) OVER (PARTITION BY user_id ORDER BY s, e, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme,
               event_id
        FROM iv
    ),
    seg AS (
        SELECT user_id, s, e,
               CAST(sum(CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id ORDER BY s, e, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS isl
        FROM m
    ),
    islands AS (
        SELECT user_id, isl, max(e) - min(s) AS len FROM seg GROUP BY user_id, isl
    )
    SELECT user_id, CAST(sum(len) AS BIGINT) AS covered,
           count(*) AS n_islands, CAST(count(*) - 1 AS BIGINT) AS n_gaps
    FROM islands GROUP BY user_id
    """,
)
def q303(spark: SparkSession, sf: str) -> DataFrame:
    """Union-of-intervals coverage per user (each event spans
    value·seconds): gaps-and-islands with an exclusive-frame running
    max — total covered microseconds, island and gap counts, all
    integers."""
    from .operators.window import interval_coverage

    ev = load_table(spark, sf, "events")
    iv = ev.select(
        "user_id", "event_id",
        F.unix_micros(F.col("ts")).alias("s"),
        (F.unix_micros(F.col("ts")) + F.round(F.col("value") * 100).cast("bigint") * 1000000).alias("e"),
    )
    return interval_coverage(iv, "user_id", "s", "e", "event_id")


# ------------------------------------------------------------------ q304
@query(
    "q304_growth_accounting",
    """
    WITH ud AS (
        SELECT DISTINCT user_id AS k, (epoch(date_trunc('day', ts)) // 86400)::BIGINT AS day
        FROM events
    ),
    c AS (
        SELECT k, day, lag(day) OVER (PARTITION BY k ORDER BY day) AS prev
        FROM ud
    ),
    pd AS (
        SELECT day, count(*) AS dau,
               CAST(sum(CASE WHEN prev IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
               CAST(sum(CASE WHEN prev = day - 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
               CAST(sum(CASE WHEN prev IS NOT NULL AND prev < day - 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
        FROM c GROUP BY day
    )
    SELECT a.day, a.dau, a.n_new, a.n_retained, a.n_resurrected,
           b.dau - a.n_retained AS n_churned
    FROM pd a LEFT JOIN pd b ON b.day = a.day - 1
    """,
)
def q304(spark: SparkSession, sf: str) -> DataFrame:
    """DAU growth accounting: new / retained / resurrected from one
    per-user day-lag, churn from the previous day's DAU — the
    decomposition identity DAU(d) = new + retained + resurrected and
    DAU(d−1) = retained + churned holds exactly."""
    from .operators.groupby import growth_accounting

    ev = load_table(spark, sf, "events")
    return growth_accounting(ev, "user_id", "ts")


# ------------------------------------------------------------------ q305
@query(
    "q305_session_paths",
    """
    WITH s AS (
        SELECT user_id, ts, event_id, event_type,
               lag(epoch_us(ts)) OVER w AS prev
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    seg AS (
        SELECT user_id, ts, event_id, event_type,
               CAST(sum(CASE WHEN prev IS NULL OR epoch_us(ts) - prev > 1800000000
                             THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess
        FROM s
    ),
    per AS (
        SELECT user_id, sess,
               string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        FROM seg GROUP BY user_id, sess
    ),
    c AS (SELECT path, count(*) AS n_sessions FROM per GROUP BY path HAVING count(*) >= 2)
    SELECT path, n_sessions FROM c ORDER BY n_sessions DESC, path LIMIT 20
    """,
)
def q305(spark: SparkSession, sf: str) -> DataFrame:
    """Top-20 session journey paths (30-minute inactivity sessions):
    position-sorted path strings — collect_list alone is
    order-nondeterministic under partial aggregation, so the array
    sorts (position, type) structs first."""
    from .operators.window import session_paths

    ev = load_table(spark, sf, "events")
    return session_paths(ev, "user_id", "ts", "event_id", "event_type", gap_minutes=30)


# ------------------------------------------------------------------ q306
@query(
    "q306_transition_dwell",
    """
    WITH s AS (
        SELECT event_type,
               lag(event_type) OVER w AS from_type,
               epoch_us(ts) - lag(epoch_us(ts)) OVER w AS dw
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT from_type, event_type AS to_type, count(*) AS n,
           CAST(sum(dw) AS BIGINT) AS total_micros,
           CAST(sum(dw) AS BIGINT) / count(*) AS mean_micros
    FROM s WHERE from_type IS NOT NULL
    GROUP BY from_type, event_type
    """,
)
def q306(spark: SparkSession, sf: str) -> DataFrame:
    """Dwell time per journey transition (from → to): integer-µs sums,
    one per-user lag + one (from, to) aggregation — transition_matrix's
    timing companion."""
    from .operators.window import transition_dwell

    ev = load_table(spark, sf, "events")
    return transition_dwell(ev, "user_id", "ts", "event_id", "event_type")


# ------------------------------------------------------------------ q307
@query(
    "q307_max_concurrency",
    """
    WITH iv AS (
        SELECT user_id,
               epoch_us(ts) AS s,
               epoch_us(ts) + CAST(round(value * 100) AS BIGINT) * 1000000 AS e
        FROM events
    ),
    pts AS (
        SELECT user_id, s AS t, 1 AS d FROM iv
        UNION ALL
        SELECT user_id, e, -1 FROM iv
    ),
    r AS (
        SELECT user_id,
               CAST(sum(d) OVER (PARTITION BY user_id ORDER BY t, d
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c
        FROM pts
    )
    SELECT user_id, CAST(max(c) AS BIGINT) AS max_concurrent
    FROM r GROUP BY user_id
    """,
)
def q307(spark: SparkSession, sf: str) -> DataFrame:
    """Peak concurrent activity spans per user (each event holds
    value·seconds): sweep line with closings-before-openings ordering —
    the half-open [s, e) concurrency maximum, integers end to end."""
    from .operators.window import max_concurrency

    ev = load_table(spark, sf, "events")
    iv = ev.select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("s"),
        (F.unix_micros(F.col("ts")) + F.round(F.col("value") * 100).cast("bigint") * 1000000).alias("e"),
    )
    return max_concurrency(iv, "user_id", "s", "e")


# ------------------------------------------------------------------ q308
@query(
    "q308_pair_eval",
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
    pred AS (
        SELECT id_a AS a, id_b AS b FROM inter
        JOIN sizes sa ON inter.id_a = sa.doc_id
        JOIN sizes sb ON inter.id_b = sb.doc_id
        WHERE n_shared / (sa.sz + sb.sz - n_shared) >= 0.8
    ),
    truth AS (
        SELECT x.doc_id AS a, y.doc_id AS b
        FROM documents x JOIN documents y
          ON regexp_replace(lower(trim(x.text)), '\s+', ' ', 'g')
             = regexp_replace(lower(trim(y.text)), '\s+', ' ', 'g')
         AND x.doc_id < y.doc_id
        WHERE x.doc_id < 100 AND y.doc_id < 100 AND x.text IS NOT NULL
    ),
    j AS (
        SELECT coalesce(p.a, t.a) AS a, coalesce(p.b, t.b) AS b,
               p.a IS NOT NULL AS in_p, t.a IS NOT NULL AS in_t
        FROM pred p FULL OUTER JOIN truth t ON p.a = t.a AND p.b = t.b
    ),
    agg AS (
        SELECT CAST(sum(CASE WHEN in_p AND in_t THEN 1 ELSE 0 END) AS BIGINT) AS tp,
               CAST(sum(CASE WHEN in_p AND NOT in_t THEN 1 ELSE 0 END) AS BIGINT) AS fp,
               CAST(sum(CASE WHEN NOT in_p AND in_t THEN 1 ELSE 0 END) AS BIGINT) AS fn
        FROM j
    )
    SELECT tp, fp, fn,
           CASE WHEN tp + fp > 0 THEN tp / (tp + fp) END AS precision,
           CASE WHEN tp + fn > 0 THEN tp / (tp + fn) END AS recall,
           CASE WHEN (CASE WHEN tp + fp > 0 THEN tp / (tp + fp) END)
                   + (CASE WHEN tp + fn > 0 THEN tp / (tp + fn) END) > 0
                THEN 2 * (CASE WHEN tp + fp > 0 THEN tp / (tp + fp) END)
                       * (CASE WHEN tp + fn > 0 THEN tp / (tp + fn) END)
                     / ((CASE WHEN tp + fp > 0 THEN tp / (tp + fp) END)
                        + (CASE WHEN tp + fn > 0 THEN tp / (tp + fn) END)) END AS f1
    FROM agg
    """,
)
def q308(spark: SparkSession, sf: str) -> DataFrame:
    """Blocking-strategy evaluation: token-Jaccard ≥0.8 candidate pairs
    scored against exact-duplicate ground truth — TP/FP/FN from one
    pair-relation join, precision/recall/F1 from exact counts.  The
    harness any dedup recall claim should ship with."""
    from .operators import dedup

    d = load_table(spark, sf, "documents").where(F.col("doc_id") < 100)
    pred = dedup.ngram_jaccard_pairs(d, "text", "doc_id", n=1, threshold=0.8).select("id_a", "id_b")
    dd = d.where(F.col("text").isNotNull())
    norm = dedup.normalize_text(F.col("text"))
    x = dd.select(F.col("doc_id").alias("id_a"), norm.alias("__n__"))
    y = dd.select(F.col("doc_id").alias("id_b"), norm.alias("__n__"))
    truth = x.join(y, on="__n__").where(F.col("id_a") < F.col("id_b")).select("id_a", "id_b")
    return dedup.pair_eval(pred, truth)


# ------------------------------------------------------------------ q309
@query(
    "q309_langid_confusion",
    """
    WITH scored AS (
        SELECT doc_id,
               contains(' ' || lower(text) || ' ', ' the ')::INT + contains(' ' || lower(text) || ' ', ' and ')::INT
             + contains(' ' || lower(text) || ' ', ' of ')::INT + contains(' ' || lower(text) || ' ', ' to ')::INT
             + contains(' ' || lower(text) || ' ', ' in ')::INT AS s_en,
               contains(' ' || lower(text) || ' ', ' der ')::INT + contains(' ' || lower(text) || ' ', ' die ')::INT
             + contains(' ' || lower(text) || ' ', ' und ')::INT + contains(' ' || lower(text) || ' ', ' das ')::INT
             + contains(' ' || lower(text) || ' ', ' nicht ')::INT AS s_de,
               contains(' ' || lower(text) || ' ', ' le ')::INT + contains(' ' || lower(text) || ' ', ' la ')::INT
             + contains(' ' || lower(text) || ' ', ' les ')::INT + contains(' ' || lower(text) || ' ', ' et ')::INT
             + contains(' ' || lower(text) || ' ', ' est ')::INT AS s_fr,
               contains(' ' || lower(text) || ' ', ' el ')::INT + contains(' ' || lower(text) || ' ', ' la ')::INT
             + contains(' ' || lower(text) || ' ', ' los ')::INT + contains(' ' || lower(text) || ' ', ' que ')::INT
             + contains(' ' || lower(text) || ' ', ' y ')::INT AS s_es,
               lang
        FROM documents
    ),
    p AS (
        SELECT lang AS y,
               CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
                    WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
                    WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
                    WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
                    ELSE 'es' END AS yhat
        FROM scored
    ),
    cm AS (SELECT y, yhat, count(*) AS n FROM p GROUP BY y, yhat),
    tp AS (SELECT y AS cls, n AS tp FROM cm WHERE y = yhat),
    sup AS (SELECT y AS cls, CAST(sum(n) AS BIGINT) AS support FROM cm GROUP BY y),
    prd AS (SELECT yhat AS cls, CAST(sum(n) AS BIGINT) AS predicted FROM cm GROUP BY yhat),
    j AS (
        SELECT coalesce(s.cls, q.cls) AS cls,
               coalesce(support, 0) AS support, coalesce(predicted, 0) AS predicted,
               CAST(coalesce(tp, 0) AS BIGINT) AS tp
        FROM sup s FULL OUTER JOIN prd q ON s.cls = q.cls
        LEFT JOIN tp t ON coalesce(s.cls, q.cls) = t.cls
    )
    SELECT cls, support, predicted, tp,
           CASE WHEN predicted > 0 THEN tp / predicted END AS precision,
           CASE WHEN support > 0 THEN tp / support END AS recall,
           CASE WHEN (CASE WHEN predicted > 0 THEN tp / predicted END)
                   + (CASE WHEN support > 0 THEN tp / support END) > 0
                THEN 2 * (CASE WHEN predicted > 0 THEN tp / predicted END)
                       * (CASE WHEN support > 0 THEN tp / support END)
                     / ((CASE WHEN predicted > 0 THEN tp / predicted END)
                        + (CASE WHEN support > 0 THEN tp / support END)) END AS f1
    FROM j
    """,
)
def q309(spark: SparkSession, sf: str) -> DataFrame:
    """Per-class precision/recall/F1 of the lang_id heuristic against
    the true lang column — confusion_matrix as a relation, exact
    integer counts; evaluates one of THIS engine's own operators."""
    from .functions.stats import confusion_matrix
    from .operators.text import lang_id

    d = load_table(spark, sf, "documents")
    pred = d.select(F.col("lang"), lang_id(F.col("text")).alias("lang_pred"))
    return confusion_matrix(pred, "lang", "lang_pred")


# ------------------------------------------------------------------ q310
@query(
    "q310_schema_contract",
    """
    SELECT * FROM (VALUES
        ('doc_id', 'bigint', 'bigint', 'ok'),
        ('text', 'string', 'string', 'ok'),
        ('lang', 'string', 'string', 'ok'),
        ('source', 'string', 'string', 'ok'),
        ('n_chars', 'string', 'bigint', 'type_mismatch'),
        ('embedding', 'array<float>', NULL, 'missing'),
        ('quality', 'double', NULL, 'missing')
    ) AS t("column", expected, actual, status)
    """,
)
def q310(spark: SparkSession, sf: str) -> DataFrame:
    """Data-contract schema check against a deliberately drifted
    contract (wrong n_chars type, two absent columns): pure metadata —
    zero scan cost at any scale; the oracle pins the exact report."""
    from .operators.profile import schema_report

    d = load_table(spark, sf, "documents")
    return schema_report(d, {
        "doc_id": "bigint",
        "text": "string",
        "lang": "string",
        "source": "string",
        "n_chars": "string",        # wrong on purpose → type_mismatch
        "embedding": "array<float>",  # absent → missing
        "quality": "double",          # absent → missing
    })


# ------------------------------------------------------------------ q311
@query(
    "q311_ewm_stats",
    """
    WITH base AS (
        SELECT event_id, user_id, value, epoch(ts) / 3600.0 AS t,
               min(epoch(ts) / 3600.0) OVER (PARTITION BY user_id) AS tmin
        FROM events
    ),
    sums AS (
        SELECT event_id, user_id, value, t, tmin,
               exp(-0.05 * (t - tmin)) * sum(value * exp(0.05 * (t - tmin))) OVER w AS s1,
               exp(-0.05 * (t - tmin)) * sum(value * value * exp(0.05 * (t - tmin))) OVER w AS s2,
               exp(-0.05 * (t - tmin)) * sum(exp(0.05 * (t - tmin))) OVER w AS wsum
        FROM base
        WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id ROWS UNBOUNDED PRECEDING)
    )
    SELECT event_id, user_id,
           round(s1 / wsum, 4) AS ewm_mean,
           round(greatest(s2 / wsum - (s1 / wsum) * (s1 / wsum), 0.0), 4) AS ewm_var
    FROM sums
    """,
)
def q311(spark: SparkSession, sf: str) -> DataFrame:
    """Exponentially-weighted mean/variance (RiskMetrics volatility):
    three decayed sums over ONE closed-form codegen window (q35's
    telescoping identity), composed into mean and variance — rounded at
    4dp like the ema family's oracles."""
    from .operators.ema import ewm_stats

    ev = (
        load_table(spark, sf, "events")
        .withColumn("t_hours", F.unix_micros(F.col("ts")) / 3.6e9)
        .select("event_id", "user_id", "t_hours", "value")
    )
    out = ewm_stats(ev, ["user_id"], "value", "t_hours", rate=0.05, order_col="event_id")
    return out.select(
        "event_id", "user_id",
        F.round(F.col("ewm_mean"), 4).alias("ewm_mean"),
        F.round(F.col("ewm_var"), 4).alias("ewm_var"),
    )


# ------------------------------------------------------------------ q312
@query(
    "q312_cycle_time",
    """
    WITH per_order AS (
        SELECT o.o_orderkey, o.o_orderpriority,
               datediff('day', o.o_orderdate, max(l.l_shipdate)) AS days_to_last_ship
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderkey, o.o_orderpriority, o.o_orderdate
    )
    SELECT o_orderpriority, count(*) AS n_orders,
           quantile_cont(days_to_last_ship, 0.5) AS p50_days,
           quantile_cont(days_to_last_ship, 0.9) AS p90_days,
           CAST(max(days_to_last_ship) AS BIGINT) AS max_days
    FROM per_order GROUP BY o_orderpriority
    """,
)
def q312(spark: SparkSession, sf: str) -> DataFrame:
    """Order fulfillment cycle time (order date → last shipment) per
    priority: integer day lags per order, exact interpolated
    percentiles — the supply-chain SLA view."""
    o = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    per = (
        o.join(li, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_orderkey", "o_orderpriority", "o_orderdate")
        .agg(F.datediff(F.max("l_shipdate"), F.first("o_orderdate")).alias("days_to_last_ship"))
    )
    return per.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.percentile(F.col("days_to_last_ship"), F.lit(0.5)).alias("p50_days"),
        F.percentile(F.col("days_to_last_ship"), F.lit(0.9)).alias("p90_days"),
        F.max("days_to_last_ship").cast("bigint").alias("max_days"),
    )


# ------------------------------------------------------------------ q313
@query(
    "q313_open_order_backlog",
    """
    WITH spans AS (
        SELECT o.o_orderkey,
               (epoch(o.o_orderdate) // 86400)::BIGINT AS d_open,
               (epoch(max(l.l_shipdate)) // 86400)::BIGINT + 1 AS d_close
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderkey, o.o_orderdate
    ),
    pts AS (
        SELECT d_open AS day, 1 AS delta FROM spans
        UNION ALL SELECT d_close, -1 FROM spans
    ),
    daily AS (SELECT day, CAST(sum(delta) AS BIGINT) AS net FROM pts GROUP BY day)
    SELECT day, net,
           CAST(sum(net) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS open_orders
    FROM daily
    """,
)
def q313(spark: SparkSession, sf: str) -> DataFrame:
    """Open-order backlog curve: each order holds from order day until
    its last shipment day; +1/−1 deltas aggregate per day FIRST (the
    global running sum then runs over the day-cardinality relation —
    the legitimate aggregated-input global window), integers
    throughout."""
    from pyspark.sql import Window as W

    o = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    spans = (
        o.join(li, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.max("l_shipdate").alias("last_ship"))
        .select(
            # parquet NTZ timestamps: cast to (UTC-session) timestamp for epoch math
            (F.unix_seconds(F.col("o_orderdate").cast("timestamp")) / 86400).cast("bigint").alias("d_open"),
            ((F.unix_seconds(F.col("last_ship").cast("timestamp")) / 86400).cast("bigint") + 1).alias("d_close"),
        )
    )
    pts = spans.select(F.col("d_open").alias("day"), F.lit(1).alias("delta")).unionByName(
        spans.select(F.col("d_close").alias("day"), F.lit(-1).alias("delta"))
    )
    daily = pts.groupBy("day").agg(F.sum("delta").cast("bigint").alias("net"))
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    return daily.select("day", "net", F.sum("net").over(w).cast("bigint").alias("open_orders"))


# ------------------------------------------------------------------ q314
@query(
    "q314_l2_normalize",
    """
    WITH s AS (
        SELECT vec_id, embedding,
               CAST(list_sum(list_transform(embedding,
                    x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)
                         * CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))) AS BIGINT) AS si
        FROM embeddings
    )
    SELECT vec_id,
           CASE WHEN si > 0 THEN sqrt(si) / 1000 END AS l2_norm,
           CASE WHEN si > 0 THEN list_transform(embedding,
                x -> CAST(x AS DOUBLE) * 1000 / sqrt(si)) END AS unit_vec
    FROM s
    """,
)
def q314(spark: SparkSession, sf: str) -> DataFrame:
    """Engine-exact L2 normalization: the squared norm is an INTEGER
    fold (association-proof), so sqrt and the per-component divisions
    are bit-identical — no float-fold ulps, no rounding in the oracle
    compare.  Zero-shuffle projection."""
    from .operators.similarity import l2_normalize

    emb = load_table(spark, sf, "embeddings")
    return l2_normalize(emb).select("vec_id", "l2_norm", "unit_vec")


# ------------------------------------------------------------------ q315
@query(
    "q315_tpch_q17",
    """
    WITH pa AS (
        SELECT l_partkey,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sq,
               count(*) AS n
        FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(count(*) AS BIGINT) AS n_small_lines,
           CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT) / 100 AS total_price,
           (CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT) / 7) / 100 AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN pa ON pa.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#23'
      AND CAST(l.l_quantity AS BIGINT) * pa.n * 5 < pa.sq
    """,
)
def q315(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): the correlated
    'quantity < 0.2·avg(quantity) per part' subquery becomes one
    per-part aggregate joined back; the threshold compares CROSS-
    MULTIPLIED integers (q·n·5 < Σq) so no float average exists to
    sit on a boundary."""
    li = load_table(spark, sf, "lineitem")
    p = load_table(spark, sf, "part").where(F.col("p_brand") == "Brand#23")
    pa = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("sq"),
        F.count(F.lit(1)).alias("n"),
    )
    j = (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .join(pa, li["l_partkey"] == pa["pk"])
        .where(F.col("l_quantity").cast("bigint") * F.col("n") * 5 < F.col("sq"))
    )
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    return j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_small_lines"),
        (F.sum(cents) / 100).alias("total_price"),
        ((F.sum(cents) / 7) / 100).alias("avg_yearly"),
    )


# ------------------------------------------------------------------ q316
@query(
    "q316_tpch_q14",
    f"""
    SELECT CAST(sum(CASE WHEN p.p_type = 'PROMO' THEN {_REV} ELSE 0 END) AS BIGINT) AS promo_rev_e4,
           CAST(sum({_REV}) AS BIGINT) AS total_rev_e4,
           CAST(100 AS DOUBLE) * CAST(sum(CASE WHEN p.p_type = 'PROMO' THEN {_REV} ELSE 0 END) AS BIGINT)
               / CAST(sum({_REV}) AS BIGINT) AS promo_pct
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1997-10-01 00:00:00'
    """,
)
def q316(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q14 (promotion effect): promo revenue share for one month —
    conditional integer-revenue sums in ONE agg over a broadcast part
    join, a single IEEE-exact percentage at the end."""
    li = load_table(spark, sf, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    p = load_table(spark, sf, "part")
    j = li.join(p, li["l_partkey"] == p["p_partkey"])
    rev = _rev_col()
    promo = F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0)).cast("bigint")
    total = F.sum(rev).cast("bigint")
    return j.agg(
        promo.alias("promo_rev_e4"),
        total.alias("total_rev_e4"),
        (F.lit(100.0) * promo / total).alias("promo_pct"),
    )


# ------------------------------------------------------------------ q317
@query(
    "q317_tpch_q19",
    f"""
    SELECT CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum({_REV}) AS BIGINT) / 10000 AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
           AND CAST(l.l_quantity AS BIGINT) BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
           AND CAST(l.l_quantity AS BIGINT) BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15
           AND CAST(l.l_quantity AS BIGINT) BETWEEN 20 AND 30)
    """,
)
def q317(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q19 (discounted revenue, disjunctive predicates): the
    three-way OR of brand/size/quantity bands rides the equi-join as a
    post-join filter — Catalyst keeps the join hashed on partkey and
    pushes the brand/size disjunction to the part scan."""
    li = load_table(spark, sf, "lineitem")
    p = load_table(spark, sf, "part")
    q = F.col("l_quantity").cast("bigint")
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5) & q.between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 10) & q.between(10, 20))
        | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 15) & q.between(20, 30))
    )
    j = li.join(p, li["l_partkey"] == p["p_partkey"]).where(cond)
    return j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        (F.sum(_rev_col()) / 10000).alias("revenue"),
    )


# ------------------------------------------------------------------ q318
@query(
    "q318_tpch_q15",
    f"""
    WITH srev AS (
        SELECT l_suppkey, CAST(sum({_REV}) AS BIGINT) AS rev
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
        GROUP BY l_suppkey
    ),
    mx AS (SELECT max(rev) AS m FROM srev)
    SELECT s.s_suppkey, s.s_name, srev.rev / 10000 AS total_revenue
    FROM srev JOIN mx ON srev.rev = mx.m
    JOIN supplier s ON s.s_suppkey = srev.l_suppkey
    """,
)
def q318(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q15 (top supplier): the max-revenue view joins back on the
    EXACT integer revenue, so ties surface every co-leader (the spec's
    semantics) instead of an arbitrary limit-1."""
    li = load_table(spark, sf, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    s = load_table(spark, sf, "supplier")
    srev = li.groupBy("l_suppkey").agg(F.sum(_rev_col()).cast("bigint").alias("rev"))
    mx = srev.agg(F.max("rev").alias("m"))
    top = srev.crossJoin(F.broadcast(mx)).where(F.col("rev") == F.col("m"))
    return top.join(s, top["l_suppkey"] == s["s_suppkey"]).select(
        "s_suppkey", "s_name", (F.col("rev") / 10000).alias("total_revenue")
    )


# ------------------------------------------------------------------ q319
@query(
    "q319_littles_law",
    """
    WITH iv AS (
        SELECT user_id,
               epoch_us(ts) AS s,
               CAST(round(value * 100) AS BIGINT) * 1000000 AS dur
        FROM events
    ),
    agg AS (
        SELECT user_id, count(*) AS n,
               CAST(sum(dur) AS BIGINT) AS total_dur,
               max(s + dur) - min(s) AS span
        FROM iv GROUP BY user_id
    )
    SELECT user_id, n, total_dur, CAST(span AS BIGINT) AS span,
           CAST(total_dur AS BIGINT) / CAST(span AS BIGINT) AS avg_concurrency,
           CAST(n AS BIGINT) / (CAST(span AS BIGINT) / CAST(1000000 AS BIGINT)) AS lambda_per_sec,
           (CAST(total_dur AS BIGINT) / CAST(1000000 AS BIGINT)) / CAST(n AS BIGINT) AS mean_duration_sec
    FROM agg WHERE span > 0
    """,
)
def q319(spark: SparkSession, sf: str) -> DataFrame:
    """Little's-law utilization per user (L = λ·W over activity spans):
    average concurrency, arrival rate, and mean duration from exact
    integer totals — the identity L = λW holds by construction and the
    three reported ratios are each one IEEE-exact division."""
    ev = load_table(spark, sf, "events")
    iv = ev.select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("s"),
        (F.round(F.col("value") * 100).cast("bigint") * 1000000).alias("dur"),
    )
    agg = iv.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dur").cast("bigint").alias("total_dur"),
        (F.max(F.col("s") + F.col("dur")) - F.min("s")).cast("bigint").alias("span"),
    )
    return agg.where(F.col("span") > 0).select(
        "user_id", "n", "total_dur", "span",
        (F.col("total_dur") / F.col("span")).alias("avg_concurrency"),
        (F.col("n") / (F.col("span") / F.lit(1000000).cast("bigint"))).alias("lambda_per_sec"),
        ((F.col("total_dur") / F.lit(1000000).cast("bigint")) / F.col("n")).alias("mean_duration_sec"),
    )


# ------------------------------------------------------------------ q320
@query(
    "q320_price_elasticity",
    """
    WITH v AS (
        SELECT p.p_brand,
               CAST(round(l.l_extendedprice * 1) AS BIGINT) AS x,
               CAST(l.l_quantity AS BIGINT) AS y
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    a AS (
        SELECT p_brand, count(*) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
        FROM v GROUP BY p_brand
    )
    SELECT p_brand, n,
           CASE WHEN n * sxx - sx * sx != 0 THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END AS slope,
           CASE WHEN n * sxx - sx * sx != 0 AND sy != 0
                THEN ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * ((sx / n) / (sy / n)) END AS elasticity_at_mean
    FROM a
    """,
)
def q320(spark: SparkSession, sf: str) -> DataFrame:
    """Price elasticity at the mean per brand: OLS slope of quantity on
    price × (x̄/ȳ) — the log-log elasticity's first-order equivalent
    WITHOUT ln (cross-engine ulps), everything from exact power sums."""
    li = load_table(spark, sf, "lineitem")
    p = load_table(spark, sf, "part")
    v = li.join(p, li["l_partkey"] == p["p_partkey"]).select(
        "p_brand",
        F.round(F.col("l_extendedprice") * 1).cast("bigint").alias("x"),
        F.col("l_quantity").cast("bigint").alias("y"),
    )
    a = v.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    n = F.col("n")
    den = n * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = F.when(den != 0, (n * F.col("sxy") - F.col("sx") * F.col("sy")) / den)
    elast = F.when((den != 0) & (F.col("sy") != 0), slope * ((F.col("sx") / n) / (F.col("sy") / n)))
    return a.select("p_brand", "n", slope.alias("slope"), elast.alias("elasticity_at_mean"))


# ------------------------------------------------------------------ q321
@query(
    "q321_tpch_q6",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT) / 10000 AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      AND CAST(round(l_discount * 100) AS BIGINT) BETWEEN 5 AND 7
      AND CAST(l_quantity AS BIGINT) < 24
    """,
)
def q321(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q6 (forecast revenue change): the canonical single-scan
    predicate+aggregate — every filter pushes to the scan, revenue is
    the exact integer p_cents·d_cents, no join at all."""
    li = load_table(spark, sf, "lineitem")
    p = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    d = F.round(F.col("l_discount") * 100).cast("bigint")
    j = li.where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & d.between(5, 7)
        & (F.col("l_quantity").cast("bigint") < 24)
    )
    return j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        (F.sum(p * d) / 10000).alias("revenue"),
    )


# ------------------------------------------------------------------ q322
@query(
    "q322_tpch_q21",
    """
    WITH per_line AS (
        SELECT l_orderkey, l_suppkey,
               CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY THEN 1 ELSE 0 END AS late
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    per_order AS (
        SELECT l_orderkey,
               count(DISTINCT l_suppkey) AS n_supp,
               count(DISTINCT CASE WHEN late = 1 THEN l_suppkey END) AS n_late_supp,
               max(CASE WHEN late = 1 THEN l_suppkey END) AS late_supp
        FROM per_line GROUP BY l_orderkey
    ),
    blamed AS (
        SELECT late_supp AS s_suppkey, count(*) AS numwait
        FROM per_order
        WHERE n_supp >= 2 AND n_late_supp = 1
        GROUP BY late_supp
    )
    SELECT s.s_suppkey, s.s_name, b.numwait
    FROM blamed b JOIN supplier s ON s.s_suppkey = b.s_suppkey
    """,
)
def q322(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): the nested
    EXISTS/NOT-EXISTS pair becomes ONE per-order aggregate — multi-
    supplier orders where exactly one supplier shipped late blame that
    supplier; no correlated subquery survives the rewrite."""
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders")
    s = load_table(spark, sf, "supplier")
    per_line = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        "l_orderkey", "l_suppkey",
        F.when(
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"), 1
        ).otherwise(0).alias("late"),
    )
    per_order = per_line.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("late") == 1, F.col("l_suppkey"))).alias("n_late_supp"),
        F.max(F.when(F.col("late") == 1, F.col("l_suppkey"))).alias("late_supp"),
    )
    blamed = (
        per_order.where((F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1))
        .groupBy("late_supp")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )
    return blamed.join(s, blamed["late_supp"] == s["s_suppkey"]).select(
        "s_suppkey", "s_name", "numwait"
    )


# ------------------------------------------------------------------ q323
@query(
    "q323_value_functions",
    """
    SELECT event_id, user_id,
           first_value(CAST(round(value * 100) AS BIGINT)) OVER w AS first_v,
           last_value(CAST(round(value * 100) AS BIGINT)) OVER w AS running_last_v,
           nth_value(CAST(round(value * 100) AS BIGINT), 2) OVER w AS second_v,
           lag(CAST(round(value * 100) AS BIGINT), 1, -1) OVER w AS prev_or_default,
           lead(CAST(round(value * 100) AS BIGINT), 1, -1) OVER w AS next_or_default
    FROM events
    WHERE user_id < 20
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def q323(spark: SparkSession, sf: str) -> DataFrame:
    """The SQL value-function window family in one pass (first_value,
    running last_value, nth_value, lag/lead WITH DEFAULTS) under a
    total order on integer values — the remaining ordered-access
    parity surface after q300's rank family."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf, "events").where(F.col("user_id") < 20)
    cents = F.round(F.col("value") * 100).cast("bigint")
    w = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(W.unboundedPreceding, 0)
    wo = W.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id", "user_id",
        F.first(cents).over(w).alias("first_v"),
        F.last(cents).over(w).alias("running_last_v"),
        F.nth_value(cents, 2).over(w).alias("second_v"),
        F.lag(cents, 1, -1).over(wo).alias("prev_or_default"),
        F.lead(cents, 1, -1).over(wo).alias("next_or_default"),
    )


# ------------------------------------------------------------------ q324
@query(
    "q324_set_ops_all",
    """
    WITH a AS (SELECT l_partkey AS k FROM lineitem WHERE l_returnflag = 'R'),
    b AS (SELECT l_partkey AS k FROM lineitem WHERE l_linestatus = 'F'),
    i AS (SELECT k FROM a INTERSECT ALL SELECT k FROM b),
    e AS (SELECT k FROM a EXCEPT ALL SELECT k FROM b)
    SELECT 'intersect_all' AS op, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT k) AS BIGINT) AS n_keys FROM i
    UNION ALL
    SELECT 'except_all', CAST(count(*) AS BIGINT), CAST(count(DISTINCT k) AS BIGINT) FROM e
    """,
)
def q324(spark: SparkSession, sf: str) -> DataFrame:
    """MULTISET set operations (INTERSECT ALL / EXCEPT ALL — Spark
    intersectAll/exceptAll): bag semantics with per-key multiplicity
    min/difference, summarized by row and key counts."""
    li = load_table(spark, sf, "lineitem")
    a = li.where(F.col("l_returnflag") == "R").select(F.col("l_partkey").alias("k"))
    b = li.where(F.col("l_linestatus") == "F").select(F.col("l_partkey").alias("k"))
    i = a.intersectAll(b).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.countDistinct("k").cast("bigint").alias("n_keys"),
    ).select(F.lit("intersect_all").alias("op"), "n_rows", "n_keys")
    e = a.exceptAll(b).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.countDistinct("k").cast("bigint").alias("n_keys"),
    ).select(F.lit("except_all").alias("op"), "n_rows", "n_keys")
    return i.unionByName(e)


# ------------------------------------------------------------------ q325
@query(
    "q325_percentile_disc_cont",
    """
    SELECT o_orderpriority,
           quantile_disc(CAST(round(o_totalprice * 100) AS BIGINT), 0.5) AS p50_disc,
           quantile_cont(CAST(round(o_totalprice * 100) AS BIGINT), 0.5) AS p50_cont,
           quantile_disc(CAST(round(o_totalprice * 100) AS BIGINT), 0.9) AS p90_disc
    FROM orders GROUP BY o_orderpriority
    """,
)
def q325(spark: SparkSession, sf: str) -> DataFrame:
    """percentile_disc vs percentile_cont parity on integer cents: the
    discrete form returns an ACTUAL data value (lower-bound convention
    in both engines), the continuous form interpolates — both exact on
    the integer domain."""
    o = load_table(spark, sf, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    return o.groupBy("o_orderpriority").agg(
        # Spark's percentile_disc returns DOUBLE; the discrete result IS a
        # data value, so the bigint cast is exact and matches DuckDB's type
        F.expr(
            "percentile_disc(0.5) WITHIN GROUP (ORDER BY CAST(round(o_totalprice * 100) AS BIGINT))"
        ).cast("bigint").alias("p50_disc"),
        F.percentile(cents, F.lit(0.5)).alias("p50_cont"),
        F.expr(
            "percentile_disc(0.9) WITHIN GROUP (ORDER BY CAST(round(o_totalprice * 100) AS BIGINT))"
        ).cast("bigint").alias("p90_disc"),
    )


# ------------------------------------------------------------------ q326
@query(
    "q326_listagg",
    """
    SELECT o_orderpriority,
           string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderkey) AS keys_csv,
           CAST(count(*) AS BIGINT) AS n
    FROM orders WHERE o_orderkey % 997 = 0
    GROUP BY o_orderpriority
    """,
)
def q326(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered string aggregation (Spark 4 listagg WITHIN GROUP ≡
    DuckDB string_agg ORDER BY): deterministic CSV rendering under a
    total order — the report-formatting primitive."""
    o = load_table(spark, sf, "orders").where(F.col("o_orderkey") % 997 == 0)
    return o.groupBy("o_orderpriority").agg(
        F.expr(
            "listagg(CAST(o_orderkey AS STRING), ',') WITHIN GROUP (ORDER BY o_orderkey)"
        ).alias("keys_csv"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )


# ------------------------------------------------------------------ q327
@query(
    "q327_hof_array_family",
    """
    SELECT vec_id,
           len(list_filter(embedding, x -> x > 0)) AS n_pos,
           CAST(round(CAST(list_max(embedding) AS DOUBLE) * 1000) AS BIGINT) AS max_e3,
           CAST(round(CAST(list_min(embedding) AS DOUBLE) * 1000) AS BIGINT) AS min_e3,
           CAST(list_sum(list_transform(embedding,
                x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))) AS BIGINT) AS sum_e3,
           list_contains(list_transform(embedding, x -> x > 0.5), true) AS any_big,
           embedding[1] = list_min(embedding) AS first_is_min
    FROM embeddings
    """,
)
def q327(spark: SparkSession, sf: str) -> DataFrame:
    """Higher-order array-function family over embeddings (filter,
    transform, aggregate/fold, exists, min/max, indexing): per-row
    integer-exact reductions — the HOF surface that keeps vector math
    JVM-side instead of in Python."""
    emb = load_table(spark, sf, "embeddings")
    e = F.col("embedding")
    to_i = lambda x: F.round(x.cast("double") * 1000).cast("bigint")
    return emb.select(
        "vec_id",
        F.size(F.filter(e, lambda x: x > 0)).alias("n_pos"),
        F.round(F.array_max(e).cast("double") * 1000).cast("bigint").alias("max_e3"),
        F.round(F.array_min(e).cast("double") * 1000).cast("bigint").alias("min_e3"),
        F.aggregate(F.transform(e, to_i), F.lit(0).cast("bigint"), lambda a, x: a + x).alias("sum_e3"),
        F.exists(e, lambda x: x > 0.5).alias("any_big"),
        (F.element_at(e, 1) == F.array_min(e)).alias("first_is_min"),
    )


# ------------------------------------------------------------------ q328
@query(
    "q328_sessionize",
    """
    WITH s AS (
        SELECT user_id, ts, event_id, value, event_type,
               lag(epoch_us(ts)) OVER w AS prev
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    seg AS (
        SELECT user_id, ts, event_id, value, event_type,
               CAST(sum(CASE WHEN prev IS NULL OR epoch_us(ts) - prev > 1800000000
                             THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        FROM s
    )
    SELECT user_id, session_id,
           min(ts) AS session_start, max(ts) AS session_end,
           CAST(max(epoch_us(ts)) - min(epoch_us(ts)) AS BIGINT) AS duration_micros,
           count(*) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents,
           max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) = 1 AS converted
    FROM seg GROUP BY user_id, session_id
    """,
)
def q328(spark: SparkSession, sf: str) -> DataFrame:
    """First-class session table (30-minute inactivity gap): start/end,
    exact µs duration, event count, integer value sum, conversion flag
    — one sorted window + one (user, session) agg."""
    from .operators.window import sessionize

    ev = load_table(spark, sf, "events")
    return sessionize(
        ev, "user_id", "ts", "event_id", gap_minutes=30,
        value_col="value", conversion=F.col("event_type") == "purchase",
    )


# ------------------------------------------------------------------ q329
@query(
    "q329_fifo_pnl",
    # Full SQL replay via the cumulative-quantity interval identity: with
    # a synthetic opening buy sized to cover every later sell (position
    # never flips, all lots long), FIFO matching is EXACTLY the overlap
    # of each sell's cumulative-sell interval [cumS_prev, cumS) with the
    # buys' cumulative-buy intervals [cumB_prev, cumB) — an equi+range
    # join, no recursion.  All cents·qty math is integer, so the DP scan
    # and the interval join agree bit-for-bit.
    """
    WITH fills0 AS (
        SELECT user_id, event_id,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE -1 END AS s,
               CAST(round(value * 100) AS BIGINT) AS p,
               event_id % 5 + 1 AS q,
               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rk
        FROM events WHERE event_type IN ('purchase', 'click')
    ),
    openrow AS (
        SELECT user_id, CAST(-1 AS BIGINT) AS event_id, 1 AS s,
               CAST(5000 AS BIGINT) AS p,
               CAST(sum(CASE WHEN s = -1 THEN q ELSE 0 END) + 1 AS BIGINT) AS q,
               CAST(0 AS BIGINT) AS rk
        FROM fills0 GROUP BY user_id
    ),
    fills AS (
        SELECT user_id, event_id, s, p, CAST(q AS BIGINT) AS q, CAST(rk AS BIGINT) AS rk
        FROM fills0
        UNION ALL SELECT * FROM openrow
    ),
    buys AS (
        SELECT user_id, rk, p,
               sum(q) OVER (PARTITION BY user_id ORDER BY rk
                            ROWS UNBOUNDED PRECEDING) - q AS lo,
               sum(q) OVER (PARTITION BY user_id ORDER BY rk
                            ROWS UNBOUNDED PRECEDING) AS hi
        FROM fills WHERE s = 1
    ),
    sells AS (
        SELECT user_id, rk, p,
               sum(q) OVER (PARTITION BY user_id ORDER BY rk
                            ROWS UNBOUNDED PRECEDING) - q AS lo,
               sum(q) OVER (PARTITION BY user_id ORDER BY rk
                            ROWS UNBOUNDED PRECEDING) AS hi
        FROM fills WHERE s = -1
    ),
    matched AS (
        SELECT s.user_id, s.rk,
               sum((least(b.hi, s.hi) - greatest(b.lo, s.lo)) * (s.p - b.p)) AS r
        FROM sells s
        JOIN buys b ON b.user_id = s.user_id AND b.lo < s.hi AND s.lo < b.hi
        GROUP BY 1, 2
    ),
    perrow AS (
        SELECT f.user_id, f.event_id, f.rk, f.s * f.q AS dq, COALESCE(m.r, 0) AS r
        FROM fills f
        LEFT JOIN matched m ON m.user_id = f.user_id AND m.rk = f.rk
    )
    SELECT user_id, event_id,
           CAST(sum(r) OVER (PARTITION BY user_id ORDER BY rk
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS realized_cents,
           CAST(sum(dq) OVER (PARTITION BY user_id ORDER BY rk
                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS position_after
    FROM perrow
    QUALIFY event_id >= 0
    """,
)
def q329(spark: SparkSession, sf: str) -> DataFrame:
    """FIFO lot-based realized P&L over the signed fill stream
    (purchase=buy, click=sell, deterministic qty) with a synthetic
    opening buy per user sized to cover all later sells — one
    Arrow-batched applyInPandas scan per user (the path-dependent
    accounting the linear pnl_curve cannot express), hash-checked
    against the cumulative-interval FIFO identity."""
    from .operators import finance

    ev = load_table(spark, sf, "events").where(F.col("event_type").isin("purchase", "click"))
    fills0 = ev.select(
        "user_id",
        "event_id",
        F.when(F.col("event_type") == "purchase", 1).otherwise(-1).alias("s"),
        F.col("value").alias("price"),
        (F.col("event_id") % 5 + 1).alias("q"),
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .cast("long")
        .alias("rk"),
    )
    openrow = fills0.groupBy("user_id").agg(
        F.lit(-1).cast("long").alias("event_id"),
        F.lit(1).alias("s"),
        F.lit(50.0).alias("price"),
        (F.sum(F.when(F.col("s") == -1, F.col("q")).otherwise(0)) + 1)
        .cast("long")
        .alias("q"),
        F.lit(0).cast("long").alias("rk"),
    )
    fills = fills0.unionByName(openrow)
    out = finance.fifo_pnl(fills, "user_id", ["rk", "event_id"], "s", "price", "q")
    return out.where(F.col("event_id") >= 0).select(
        "user_id", "event_id", "realized_cents", "position_after"
    )


# ------------------------------------------------------------------ q330
_HOLT_A, _HOLT_B = 0.3, 0.1
_HOLT_LEV = (
    f"CAST('{_HOLT_A!r}' AS DOUBLE) * f.x"
    f" + CAST('{1 - _HOLT_A!r}' AS DOUBLE) * (s.lev + s.tr)"
)


@query(
    "q330_holt_forecast",
    # Full SQL replay: the coupled level/trend recurrence advances one
    # ranked row per user per recursive-CTE iteration with the IDENTICAL
    # IEEE-double expression tree the numpy scan evaluates (constants
    # shipped as quoted strings, each +,·,− correctly rounded in both
    # engines) — bit-identical, no rounding needed.
    f"""
    WITH RECURSIVE v AS (
        SELECT user_id, event_id, value AS x,
               CAST(row_number() OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS BIGINT) AS rk
        FROM events
    ),
    s AS (
        SELECT user_id, rk, event_id, x AS lev, CAST(0 AS DOUBLE) AS tr
        FROM v WHERE rk = 1
        UNION ALL
        SELECT f.user_id, f.rk, f.event_id,
               {_HOLT_LEV} AS lev,
               CAST('{_HOLT_B!r}' AS DOUBLE) * (({_HOLT_LEV}) - s.lev)
                   + CAST('{1 - _HOLT_B!r}' AS DOUBLE) * s.tr AS tr
        FROM s JOIN v f ON f.user_id = s.user_id AND f.rk = s.rk + 1
    )
    SELECT user_id, event_id, lev AS holt_level, tr AS holt_trend,
           lev + tr AS holt_forecast
    FROM s
    """,
)
def q330(spark: SparkSession, sf: str) -> DataFrame:
    """Holt double-exponential level/trend smoothing of each user's
    value path (one-step-ahead forecast): Arrow-batched scan per key —
    the trend-aware sibling of the ema family.  Ordered by the
    (ts, event_id) composite total order so the replay is
    deterministic; hash-checked bit-for-bit against a recursive-CTE
    replay of the same IEEE expression tree."""
    from .operators.ema import holt_linear

    ev = load_table(spark, sf, "events").select("user_id", "ts", "event_id", "value")
    out = holt_linear(ev, ["user_id"], "value", ["ts", "event_id"],
                      alpha=_HOLT_A, beta=_HOLT_B)
    return out.select(
        "user_id", "event_id",
        F.col("holt_level"), F.col("holt_trend"), F.col("holt_forecast"),
    )


# ------------------------------------------------------------------ q331
@query(
    "q331_tpch_q7",
    f"""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           year(l.l_shipdate) AS l_year,
           CAST(sum({_REV}) AS BIGINT) / 10000 AS revenue
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation sn ON sn.n_nationkey = s.s_nationkey
    JOIN nation cn ON cn.n_nationkey = c.c_nationkey
    WHERE ((sn.n_name = 'NATION_0' AND cn.n_name = 'NATION_1')
        OR (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_0'))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY sn.n_name, cn.n_name, year(l.l_shipdate)
    """,
)
def q331(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q7 (volume shipping; synthetic nations NATION_0/1): the
    bi-directional nation-pair
    disjunction over a double nation join — both nation dims broadcast
    twice under different aliases; one fact shuffle."""
    li = load_table(spark, sf, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    s = load_table(spark, sf, "supplier")
    n = load_table(spark, sf, "nation")
    sn = n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    cn = n.select(F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation"))
    j = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(sn, s["s_nationkey"] == F.col("sn_key"))
        .join(cn, c["c_nationkey"] == F.col("cn_key"))
        .where(
            ((F.col("supp_nation") == "NATION_0") & (F.col("cust_nation") == "NATION_1"))
            | ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_0"))
        )
    )
    return j.groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")).agg(
        (F.sum(_rev_col()) / 10000).alias("revenue")
    )


# ------------------------------------------------------------------ q332
@query(
    "q332_tpch_q8",
    f"""
    WITH base AS (
        SELECT year(o.o_orderdate) AS o_year,
               CASE WHEN sn.n_name = 'NATION_5' THEN {_REV} ELSE 0 END AS nat_rev,
               {_REV} AS rev
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation cn ON cn.n_nationkey = c.c_nationkey
        JOIN region r ON r.r_regionkey = cn.n_regionkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation sn ON sn.n_nationkey = s.s_nationkey
        WHERE r.r_name = 'AMERICA' AND p.p_type = 'ECONOMY'
    )
    SELECT o_year,
           CAST(sum(nat_rev) AS BIGINT) AS nat_rev_e4,
           CAST(sum(rev) AS BIGINT) AS total_rev_e4,
           CAST(sum(nat_rev) AS BIGINT) / CAST(sum(rev) AS BIGINT) AS mkt_share
    FROM base GROUP BY o_year
    """,
)
def q332(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q8 (national market share): one nation's share of ECONOMY-part
    revenue sold into AMERICA per year — conditional integer revenue
    over a seven-way broadcast-dim join, one exact share division."""
    li = load_table(spark, sf, "lineitem")
    p = load_table(spark, sf, "part").where(F.col("p_type") == "ECONOMY")
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    s = load_table(spark, sf, "supplier")
    n = load_table(spark, sf, "nation")
    r = load_table(spark, sf, "region").where(F.col("r_name") == "AMERICA")
    cn = n.select(F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_reg"))
    sn = n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    j = (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(cn, c["c_nationkey"] == F.col("cn_key"))
        .join(r, F.col("cn_reg") == r["r_regionkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(sn, s["s_nationkey"] == F.col("sn_key"))
    )
    rev = _rev_col()
    nat = F.sum(F.when(F.col("supp_nation") == "NATION_5", rev).otherwise(0)).cast("bigint")
    tot = F.sum(rev).cast("bigint")
    return j.groupBy(F.year("o_orderdate").alias("o_year")).agg(
        nat.alias("nat_rev_e4"), tot.alias("total_rev_e4"), (nat / tot).alias("mkt_share")
    )


# ------------------------------------------------------------------ q333
@query(
    "q333_tpch_q9",
    f"""
    SELECT sn.n_name AS nation, year(o.o_orderdate) AS o_year,
           CAST(sum({_REV}
                    - CAST(l.l_quantity AS BIGINT)
                      * ((CAST(round(p.p_retailprice * 100) AS BIGINT) * 3) // 5) * 100
                ) AS BIGINT) / 10000 AS profit
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation sn ON sn.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE p.p_name LIKE '%a%'
    GROUP BY sn.n_name, year(o.o_orderdate)
    """,
)
def q333(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit): profit = revenue −
    qty·supply_cost with the cost synthesized as 60% of retail (integer
    DIV — no partsupp table here); per (supplier nation, year), all
    integer arithmetic to the final /1e4."""
    li = load_table(spark, sf, "lineitem")
    p = load_table(spark, sf, "part").where(F.col("p_name").like("%a%"))
    s = load_table(spark, sf, "supplier")
    n = load_table(spark, sf, "nation")
    o = load_table(spark, sf, "orders")
    cost = F.expr("(CAST(round(p_retailprice * 100) AS BIGINT) * 3) DIV 5")
    j = (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(n, s["s_nationkey"] == n["n_nationkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
    )
    profit = _rev_col() - F.col("l_quantity").cast("bigint") * cost * 100
    return j.groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year")).agg(
        (F.sum(profit) / 10000).alias("profit")
    )


# ------------------------------------------------------------------ q334
@query(
    "q334_tpch_q13",
    """
    WITH per_cust AS (
        SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        FROM customer c
        LEFT JOIN orders o ON o.o_custkey = c.c_custkey
                           AND o.o_orderpriority != '1-URGENT'
        GROUP BY c.c_custkey
    )
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM per_cust GROUP BY c_count
    """,
)
def q334(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q13 (customer distribution): LEFT join keeps zero-order
    customers (count(o_orderkey) skips NULLs — the c_count=0 bucket),
    then the count-of-counts histogram."""
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders").where(F.col("o_orderpriority") != "1-URGENT")
    per = c.join(o, o["o_custkey"] == c["c_custkey"], how="left").groupBy(
        c["c_custkey"]
    ).agg(F.count(o["o_orderkey"]).alias("c_count"))
    return per.groupBy("c_count").agg(F.count(F.lit(1)).cast("bigint").alias("custdist"))


# ------------------------------------------------------------------ q335
@query(
    "q335_grouping_sets",
    """
    SELECT o_orderpriority, o_orderstatus,
           CAST(grouping(o_orderpriority) AS INT) AS g_pri,
           CAST(grouping(o_orderstatus) AS INT) AS g_st,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100 AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
    """,
)
def q335(spark: SparkSession, sf: str) -> DataFrame:
    """Explicit GROUPING SETS with grouping() indicator columns — the
    multi-level report form between q47's cube and q63's rollup;
    integer-exact totals at every level."""
    o = load_table(spark, sf, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    return o.groupingSets(
        [["o_orderpriority"], ["o_orderstatus"], []], "o_orderpriority", "o_orderstatus"
    ).agg(
        F.grouping("o_orderpriority").cast("int").alias("g_pri"),
        F.grouping("o_orderstatus").cast("int").alias("g_st"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (F.sum(cents) / 100).alias("total"),
    )


# ------------------------------------------------------------------ q336
@query(
    "q336_regexp_family",
    r"""
    SELECT doc_id,
           regexp_extract(text, '([a-z]+)(ing|ed)\b', 1) AS stem,
           regexp_extract(text, '([a-z]+)(ing|ed)\b', 2) AS suffix,
           len(regexp_extract_all(text, '\b[a-z]{4}\b')) AS n_four_letter,
           regexp_matches(text, '^[A-Za-z]') AS starts_alpha
    FROM documents WHERE text IS NOT NULL AND doc_id < 200
    """,
)
def q336(spark: SparkSession, sf: str) -> DataFrame:
    """Regexp surface parity: capture-group extraction (group 1 and 2),
    match counting, anchored boolean matching — all inside the
    Java∩RE2 syntax subset that behaves identically in both engines."""
    d = load_table(spark, sf, "documents").where(
        F.col("text").isNotNull() & (F.col("doc_id") < 200)
    )
    return d.select(
        "doc_id",
        F.regexp_extract(F.col("text"), r"([a-z]+)(ing|ed)\b", 1).alias("stem"),
        F.regexp_extract(F.col("text"), r"([a-z]+)(ing|ed)\b", 2).alias("suffix"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(r"\b[a-z]{4}\b"), 0)).alias("n_four_letter"),
        F.col("text").rlike("^[A-Za-z]").alias("starts_alpha"),
    )


# ------------------------------------------------------------------ q337
@query(
    "q337_calendar_functions",
    """
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INT) AS y,
           CAST(quarter(o_orderdate) AS INT) AS q,
           CAST(month(o_orderdate) AS INT) AS m,
           CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow_sun1,
           CAST(weekofyear(o_orderdate) AS INT) AS iso_week,
           CAST(dayofyear(o_orderdate) AS INT) AS doy,
           last_day(o_orderdate)::DATE AS month_end,
           (o_orderdate + INTERVAL 3 MONTH)::DATE AS plus3m
    FROM orders WHERE o_orderkey % 101 = 0
    """,
)
def q337(spark: SparkSession, sf: str) -> DataFrame:
    """Calendar-function parity sweep: quarter/ISO week/day-of-year/
    last_day/add_months — NOTE dayofweek conventions differ (Spark
    1=Sunday, DuckDB 0=Sunday), reconciled with +1 on the DuckDB side."""
    o = load_table(spark, sf, "orders").where(F.col("o_orderkey") % 101 == 0)
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.year(d).cast("int").alias("y"),
        F.quarter(d).cast("int").alias("q"),
        F.month(d).cast("int").alias("m"),
        F.dayofweek(d).cast("int").alias("dow_sun1"),
        F.weekofyear(d).cast("int").alias("iso_week"),
        F.dayofyear(d).cast("int").alias("doy"),
        F.last_day(d).alias("month_end"),
        F.add_months(d, 3).alias("plus3m"),
    )


# ------------------------------------------------------------------ q338
@query(
    "q338_decimal_money",
    """
    SELECT o_orderpriority,
           CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR) AS total_dec,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR) AS min_dec,
           CAST(max(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR) AS max_dec
    FROM orders GROUP BY o_orderpriority
    """,
)
def q338(spark: SparkSession, sf: str) -> DataFrame:
    """DECIMAL-native money arithmetic: sums/min/max of DECIMAL(12,2)
    are exact in BOTH engines by type (the alternative to this repo's
    integer-cents discipline when the schema carries decimals) — avg is
    deliberately absent (result-scale rules differ across engines)."""
    o = load_table(spark, sf, "orders")
    d = F.col("o_totalprice").cast("decimal(12,2)")
    # decimals hash-compare as canonical scale-2 STRINGS — the pandas
    # bridge converts low-precision DuckDB decimals to float64 otherwise
    return o.groupBy("o_orderpriority").agg(
        F.sum(d).cast("string").alias("total_dec"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.min(d).cast("string").alias("min_dec"),
        F.max(d).cast("string").alias("max_dec"),
    )


# ------------------------------------------------------------------ q339
@query(
    "q339_null_semantics",
    """
    WITH v AS (
        SELECT event_id,
               nullif(event_type, 'error') AS t,
               lag(nullif(event_type, 'error')) OVER (ORDER BY event_id) AS prev_t
        FROM events WHERE event_id < 2000
    )
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(t) AS BIGINT) AS n_nonnull,
           CAST(sum(CASE WHEN t IS NOT DISTINCT FROM prev_t THEN 1 ELSE 0 END) AS BIGINT) AS n_nullsafe_eq,
           CAST(sum(CASE WHEN t = prev_t THEN 1 ELSE 0 END) AS BIGINT) AS n_plain_eq,
           CAST(count(DISTINCT t) AS BIGINT) AS n_distinct_nonnull,
           coalesce(min(t), 'none') AS min_t
    FROM v
    """,
)
def q339(spark: SparkSession, sf: str) -> DataFrame:
    """NULL-semantics parity sweep: null-safe equality (<=> vs IS NOT
    DISTINCT FROM), NULL-skipping counts and DISTINCT, CASE over
    three-valued logic, coalesce — pinned on an injected-NULL column."""
    from .operators.window import shift_ungrouped

    ev = load_table(spark, sf, "events").where(F.col("event_id") < 2000)
    t = F.nullif(F.col("event_type"), F.lit("error"))
    # ungrouped lag via the blocked rank-arithmetic form — no
    # single-partition global window even on this bounded slice
    v = shift_ungrouped(
        ev.select("event_id", t.alias("t")), {"prev_t": "t"}, 1, ["event_id"]
    )
    return v.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.count("t").cast("bigint").alias("n_nonnull"),
        F.sum(F.when(F.col("t").eqNullSafe(F.col("prev_t")), 1).otherwise(0)).cast("bigint").alias("n_nullsafe_eq"),
        F.sum(F.when(F.col("t") == F.col("prev_t"), 1).otherwise(0)).cast("bigint").alias("n_plain_eq"),
        F.countDistinct("t").cast("bigint").alias("n_distinct_nonnull"),
        F.coalesce(F.min("t"), F.lit("none")).alias("min_t"),
    )


# ------------------------------------------------------------------ q340
@query(
    "q340_string_functions",
    """
    SELECT o_orderkey,
           lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS padded,
           reverse(o_orderpriority) AS rev_pri,
           translate(o_orderstatus, 'OF', 'of') AS xlated,
           repeat(left(o_orderpriority, 1), 3) AS rep3,
           right(o_orderpriority, 3) AS tail3,
           ascii(o_orderstatus) AS first_code,
           CAST(levenshtein(o_orderpriority, o_orderstatus) AS INT) AS lev
    FROM orders WHERE o_orderkey % 211 = 0
    """,
)
def q340(spark: SparkSession, sf: str) -> DataFrame:
    """String-function surface sweep (lpad/reverse/translate/repeat/
    left/right/ascii/levenshtein) — identical semantics in both engines
    on ASCII inputs."""
    o = load_table(spark, sf, "orders").where(F.col("o_orderkey") % 211 == 0)
    return o.select(
        "o_orderkey",
        F.lpad(F.col("o_orderkey").cast("string"), 12, "0").alias("padded"),
        F.reverse(F.col("o_orderpriority")).alias("rev_pri"),
        F.translate(F.col("o_orderstatus"), "OF", "of").alias("xlated"),
        F.repeat(F.substring(F.col("o_orderpriority"), 1, 1), 3).alias("rep3"),
        F.substring(F.col("o_orderpriority"), -3, 3).alias("tail3"),
        F.ascii(F.col("o_orderstatus")).alias("first_code"),
        F.levenshtein(F.col("o_orderpriority"), F.col("o_orderstatus")).cast("int").alias("lev"),
    )


# ------------------------------------------------------------------ q341
@query(
    "q341_bitwise_family",
    """
    SELECT user_id,
           CAST(bit_and(event_id % 256) AS BIGINT) AS band,
           CAST(bit_or(event_id % 256) AS BIGINT) AS bor,
           CAST(bit_xor(event_id % 256) AS BIGINT) AS bxor,
           CAST(sum(CAST(event_id << 2 AS BIGINT)) AS BIGINT) AS shifted_sum,
           CAST(sum(event_id & 7) AS BIGINT) AS masked_sum
    FROM events WHERE user_id < 10
    GROUP BY user_id
    """,
)
def q341(spark: SparkSession, sf: str) -> DataFrame:
    """Bitwise surface parity: bit_and/or/xor aggregates plus shift and
    mask expressions — exact integer semantics in both engines."""
    ev = load_table(spark, sf, "events").where(F.col("user_id") < 10)
    e = F.col("event_id")
    return ev.groupBy("user_id").agg(
        F.bit_and(e % 256).cast("bigint").alias("band"),
        F.bit_or(e % 256).cast("bigint").alias("bor"),
        F.bit_xor(e % 256).cast("bigint").alias("bxor"),
        F.sum(F.shiftleft(e, 2).cast("bigint")).cast("bigint").alias("shifted_sum"),
        F.sum(e.bitwiseAND(F.lit(7))).cast("bigint").alias("masked_sum"),
    )


# ------------------------------------------------------------------ q342
@query(
    "q342_conditional_family",
    """
    SELECT event_id,
           ifnull(nullif(event_type, 'error'), 'E') AS t_or_e,
           CASE WHEN nullif(value, 0) IS NULL THEN -1 ELSE 1 END AS nvl2_like,
           greatest(CAST(round(value * 100) AS BIGINT), 500, event_id % 1000) AS g3,
           least(CAST(round(value * 100) AS BIGINT), 500, event_id % 1000) AS l3,
           CASE WHEN event_id % 3 = 0 THEN NULL
                ELSE CAST(round(value * 100) AS BIGINT) // greatest(event_id % 5, 1) END AS guarded_div
    FROM events WHERE event_id < 3000
    """,
)
def q342(spark: SparkSession, sf: str) -> DataFrame:
    """Conditional-expression parity: ifnull∘nullif chains, an
    nvl2-equivalent CASE, variadic greatest/least over mixed integer
    operands, and guarded integer division."""
    ev = load_table(spark, sf, "events").where(F.col("event_id") < 3000)
    cents = F.round(F.col("value") * 100).cast("bigint")
    e = F.col("event_id")
    return ev.select(
        "event_id",
        F.ifnull(F.nullif(F.col("event_type"), F.lit("error")), F.lit("E")).alias("t_or_e"),
        F.when(F.nullif(F.col("value"), F.lit(0.0)).isNull(), -1).otherwise(1).alias("nvl2_like"),
        F.greatest(cents, F.lit(500).cast("bigint"), (e % 1000).cast("bigint")).alias("g3"),
        F.least(cents, F.lit(500).cast("bigint"), (e % 1000).cast("bigint")).alias("l3"),
        F.when(e % 3 == 0, F.lit(None)).otherwise(
            F.expr("CAST(round(value * 100) AS BIGINT) DIV greatest(event_id % 5, 1)")
        ).alias("guarded_div"),
    )
