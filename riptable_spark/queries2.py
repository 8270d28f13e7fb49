"""Driver-contract query registry, batch 2: scalar surface, reshape
extras, as-of variants, UDF surface, stats, rollup/cube, time windows.
Registers into the same QUERIES/ORACLES dicts as queries.py.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions import binning, datetime as dtf, stats, strings as s
from .operators import accum, apply as ap, ema, merge, reshape, window as win
from .operators import groupby as gb
from .queries import query
from .sources.io import load_table


# =====================================================================
# Scalar predicate / math / string / datetime surface
# =====================================================================

@query(
    "q39_qcut",
    """
    WITH e AS (
        SELECT quantile_cont(o_totalprice, 0.25) AS e1,
               quantile_cont(o_totalprice, 0.50) AS e2,
               quantile_cont(o_totalprice, 0.75) AS e3
        FROM orders
    )
    SELECT CASE WHEN o_totalprice <= e1 THEN 1
                WHEN o_totalprice <= e2 THEN 2
                WHEN o_totalprice <= e3 THEN 3
                ELSE 4 END AS bin,
           count(*) AS n, round(avg(o_totalprice), 4) AS avg_total
    FROM orders, e GROUP BY 1
    """,
)
def q39(spark: SparkSession, sf: str) -> DataFrame:
    """qcut quantile binning (rt_bin.py:155)."""
    o = load_table(spark, sf, "orders")
    binned = binning.qcut(o, "o_totalprice", 4)
    return binned.groupBy(F.col("o_totalprice_bin").alias("bin")).agg(
        gb.count().alias("n"), F.round(F.avg("o_totalprice"), 4).alias("avg_total")
    )


@query(
    "q40_predicates",
    """
    SELECT l_returnflag,
           count(*) AS n,
           round(sum(CASE WHEN l_quantity >= 10 AND l_quantity < 20 THEN l_quantity ELSE 0 END), 2) AS sum_between,
           round(sum(CASE WHEN l_discount > 0.05 THEN l_extendedprice ELSE -l_extendedprice END), 2) AS sum_where
    FROM lineitem
    WHERE l_returnflag IN ('A', 'R')
    GROUP BY l_returnflag
    """,
)
def q40(spark: SparkSession, sf: str) -> DataFrame:
    """isin / between / where (rt_fastarray.py:1691, 1769; rt_numpy.py:2917)."""
    from .functions.math import where

    li = load_table(spark, sf, "lineitem").where(F.col("l_returnflag").isin("A", "R"))
    return li.groupBy("l_returnflag").agg(
        gb.count().alias("n"),
        F.round(F.sum(where((F.col("l_quantity") >= 10) & (F.col("l_quantity") < 20), F.col("l_quantity"), F.lit(0.0))), 2).alias("sum_between"),
        F.round(F.sum(where(F.col("l_discount") > 0.05, F.col("l_extendedprice"), -F.col("l_extendedprice"))), 2).alias("sum_where"),
    )


@query(
    "q41_math_surface",
    """
    SELECT p_partkey,
           round(sqrt(p_retailprice), 6) AS sqrt_price,
           round(ln(p_retailprice), 6) AS log_price,
           round(pow(p_size, 2), 2) AS size_sq,
           round(least(greatest(p_retailprice, 920.0), 980.0), 2) AS clipped,
           abs(p_size - 25) AS size_dev,
           CAST(floor(p_retailprice / 10) AS BIGINT) AS price_decade
    FROM part
    """,
)
def q41(spark: SparkSession, sf: str) -> DataFrame:
    """Elementwise math kernels (MATH_OPERATION, rt_enum.py:193-284)."""
    from .functions import math as m

    p = load_table(spark, sf, "part")
    price = F.col("p_retailprice")
    return p.select(
        "p_partkey",
        F.round(m.sqrt(price), 6).alias("sqrt_price"),
        F.round(m.log(price), 6).alias("log_price"),
        F.round(m.power(F.col("p_size"), 2), 2).alias("size_sq"),
        F.round(m.clip(price, 920.0, 980.0), 2).alias("clipped"),
        m.abs_(F.col("p_size") - 25).alias("size_dev"),
        m.floordiv(price, 10).cast("long").alias("price_decade"),
    )


@query(
    "q42_regex",
    r"""
    SELECT regexp_extract(p_name, '^(\w+)', 1) AS first_word,
           count(*) AS n,
           CAST(sum(CASE WHEN regexp_matches(p_type, 'BRASS|STEEL') THEN 1 ELSE 0 END) AS BIGINT) AS n_metal
    FROM part GROUP BY 1
    """,
)
def q42(spark: SparkSession, sf: str) -> DataFrame:
    """regex_match / extract (rt_str.py:907, 1030)."""
    p = load_table(spark, sf, "part")
    return p.groupBy(s.extract(F.col("p_name"), r"^(\w+)", 1).alias("first_word")).agg(
        gb.count().alias("n"),
        F.sum(s.regex_match(F.col("p_type"), "BRASS|STEEL").cast("long")).alias("n_metal"),
    )


@query(
    "q43_datetime_extras",
    """
    SELECT event_id,
           (epoch_us(ts) - epoch_us(date_trunc('day', ts))) * 1000 AS ns_since_midnight,
           ((dayofweek(ts) + 6) % 7 >= 5) AS weekend,
           strftime(ts, '%Y-%m-%d') AS day_str
    FROM events WHERE event_id < 500
    """,
)
def q43(spark: SparkSession, sf: str) -> DataFrame:
    """time_since_midnight / is_weekend / strftime (rt_datetime.py:4017,
    3367-4017, 4572)."""
    ev = load_table(spark, sf, "events").where(F.col("event_id") < 500)
    return ev.select(
        "event_id",
        dtf.time_since_midnight(F.col("ts")).alias("ns_since_midnight"),
        dtf.is_weekend(F.col("ts")).alias("weekend"),
        dtf.strftime(F.col("ts"), "yyyy-MM-dd").alias("day_str"),
    )


@query(
    "q44_cross_join",
    """
    SELECT r.r_name, n.n_name FROM region r CROSS JOIN nation n
    """,
)
def q44(spark: SparkSession, sf: str) -> DataFrame:
    """cross join (merge2 constant-key recipe → native crossJoin)."""
    r = load_table(spark, sf, "region").select("r_name")
    n = load_table(spark, sf, "nation").select("n_name")
    return merge.cross_join(r, n)


@query(
    "q45_unique_counts",
    """
    SELECT o_orderstatus, o_orderpriority, count(*) AS count
    FROM orders GROUP BY 1, 2
    """,
)
def q45(spark: SparkSession, sf: str) -> DataFrame:
    """unique with counts (rt_numpy.py:755)."""
    return reshape.unique_values(
        load_table(spark, sf, "orders"), ["o_orderstatus", "o_orderpriority"], with_counts=True
    )


@query(
    "q46_ismember",
    """
    SELECT member, count(*) AS n FROM (
        SELECT p_partkey IN (SELECT l_partkey FROM lineitem) AS member FROM part
    ) GROUP BY member
    """,
)
def q46(spark: SparkSession, sf: str) -> DataFrame:
    """ismember boolean mask (rt_numpy.py:1186) — presence flag via
    left join on distinct keys (broadcast-sized)."""
    p = load_table(spark, sf, "part")
    keys = load_table(spark, sf, "lineitem").select(F.col("l_partkey").alias("p_partkey")).distinct()
    flagged = p.join(
        F.broadcast(keys.withColumn("__m__", F.lit(True))), on="p_partkey", how="left"
    ).select(F.coalesce(F.col("__m__"), F.lit(False)).alias("member"))
    return flagged.groupBy("member").agg(gb.count().alias("n"))


@query(
    "q47_rollup",
    """
    SELECT l_returnflag, l_linestatus,
           grouping(l_returnflag) AS g_flag, grouping(l_linestatus) AS g_status,
           round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
)
def q47(spark: SparkSession, sf: str) -> DataFrame:
    """rollup with grouping flags — beyond the reference (Accum2 only has
    2-key margins); free via Catalyst."""
    li = load_table(spark, sf, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").cast("int").alias("g_flag"),
        F.grouping("l_linestatus").cast("int").alias("g_status"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    ).select("l_returnflag", "l_linestatus", "g_flag", "g_status", "sum_qty")


@query(
    "q48_apply_reduce",
    """
    SELECT user_id, round(max(value) - min(value), 2) AS value_range
    FROM events GROUP BY user_id
    """,
)
def q48(spark: SparkSession, sf: str) -> DataFrame:
    """apply_reduce UDF surface (rt_groupbyops.py:366): per-group numpy
    array → scalar via applyInPandas."""
    ev = load_table(spark, sf, "events")
    out = ap.apply_reduce(
        ev, ["user_id"], "value", lambda a: float(a.max() - a.min()), out_col="value_range"
    )
    return out.select("user_id", F.round(F.col("value_range"), 2).alias("value_range"))


@query(
    "q49_head_tail_nth",
    """
    SELECT 'head' AS which, event_id FROM (
        SELECT event_id, row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events) WHERE rn <= 3
    UNION ALL
    SELECT 'tail' AS which, event_id FROM (
        SELECT event_id, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events) WHERE rn <= 2
    UNION ALL
    SELECT 'nth' AS which, event_id FROM (
        SELECT event_id, row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events) WHERE rn = 5
    """,
)
def q49(spark: SparkSession, sf: str) -> DataFrame:
    """head/tail/nth per group (rt_groupbyops.py:3673, 3699, 3543)."""
    ev = load_table(spark, sf, "events")
    order = F.struct(F.col("ts"), F.col("event_id"))
    h = win.head_per_group(ev, ["user_id"], order, 3).select(F.lit("head").alias("which"), "event_id")
    t = win.tail_per_group(ev, ["user_id"], order, 2).select(F.lit("tail").alias("which"), "event_id")
    n = win.nth_per_group(ev, ["user_id"], order, 5).select(F.lit("nth").alias("which"), "event_id")
    return h.unionByName(t).unionByName(n)


@query(
    "q50_ngroup_findnth",
    """
    SELECT event_id,
           dense_rank() OVER (ORDER BY user_id) - 1 AS ngroup,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nth
    FROM events WHERE event_id < 2000
    """,
)
def q50(spark: SparkSession, sf: str) -> DataFrame:
    """ngroup / findnth (rt_groupbyops.py:3565, 3262). ngroup numbers the
    DISTINCT key set (tiny window) and broadcast-joins back — the event
    table never crosses a single-partition window."""
    ev = load_table(spark, sf, "events").where(F.col("event_id") < 2000)
    w = win.group_window(["user_id"], F.col("ts")).orderBy(F.col("ts"), F.col("event_id"))
    numbered = win.ngroup_df(ev.select("event_id", "user_id", "ts"), ["user_id"])
    return numbered.select(
        "event_id",
        "ngroup",
        win.findnth(w).alias("nth"),
    )


@query(
    "q51_rolling_median",
    """
    SELECT event_id,
           round(median(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 4) AS roll_med5,
           round(quantile_cont(value, 0.9) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 4) AS roll_p90
    FROM events
    """,
)
def q51(spark: SparkSession, sf: str) -> DataFrame:
    """rolling_median / rolling_quantile (rt_groupbyops.py:2997, 3070)."""
    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    return ev.select(
        "event_id",
        F.round(win.rolling_median(F.col("value"), w, 5), 4).alias("roll_med5"),
        F.round(win.rolling_quantile(F.col("value"), 0.9, w, 5), 4).alias("roll_p90"),
    )


@query(
    "q52_fill_backward",
    """
    SELECT event_id,
           round(first_value(CASE WHEN event_type != 'error' THEN value END IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING), 2) AS bfilled
    FROM events
    """,
)
def q52(spark: SparkSession, sf: str) -> DataFrame:
    """fill_backward (rt_fastarraynumba.py:241)."""
    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    v = F.when(F.col("event_type") != "error", F.col("value"))
    return ev.select("event_id", F.round(win.fill_backward(v, w), 2).alias("bfilled"))


# =====================================================================
# As-of variants
# =====================================================================

@query(
    "q53_asof_nearest",
    """
    WITH t AS (SELECT * FROM events WHERE event_type = 'purchase'),
         q AS (SELECT * FROM events WHERE event_type = 'view'),
         b AS (SELECT t.event_id, q.ts AS bts, q.value AS bv
               FROM t ASOF LEFT JOIN q ON t.user_id = q.user_id AND t.ts >= q.ts),
         f AS (SELECT t.event_id, q.ts AS fts, q.value AS fv
               FROM t ASOF LEFT JOIN q ON t.user_id = q.user_id AND t.ts <= q.ts)
    SELECT t.event_id,
           round(CASE WHEN b.bts IS NULL THEN f.fv
                      WHEN f.fts IS NULL THEN b.bv
                      WHEN (epoch_us(f.fts) - epoch_us(t.ts)) < (epoch_us(t.ts) - epoch_us(b.bts)) THEN f.fv
                      ELSE b.bv END, 2) AS qv
    FROM t JOIN b ON t.event_id = b.event_id JOIN f ON t.event_id = f.event_id
    """,
)
def q53(spark: SparkSession, sf: str) -> DataFrame:
    """merge_asof direction='nearest' (rt_merge.py:3572)."""
    ev = load_table(spark, sf, "events")
    trades = ev.where(F.col("event_type") == "purchase").select("user_id", "ts", "event_id")
    quotes = ev.where(F.col("event_type") == "view").select("user_id", "ts", F.col("value").alias("qv"))
    j = merge.merge_asof(trades, quotes, on="ts", by="user_id", direction="nearest")
    return j.select("event_id", F.round(F.col("qv"), 2).alias("qv"))


@query(
    "q54_asof_tolerance",
    """
    SELECT t.event_id,
           round(CASE WHEN (epoch_us(t.ts) - epoch_us(q.ts)) / 1e6 <= 600.0
                      THEN q.value END, 2) AS qv
    FROM (SELECT * FROM events WHERE event_type = 'purchase') t
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') q
    ON t.user_id = q.user_id AND t.ts >= q.ts
    """,
)
def q54(spark: SparkSession, sf: str) -> DataFrame:
    """merge_asof with tolerance (rt_merge_asof.py merge_asof2 tolerance):
    backward match only used within 600 s."""
    ev = load_table(spark, sf, "events")
    trades = ev.where(F.col("event_type") == "purchase").select("user_id", "ts", "event_id")
    quotes = ev.where(F.col("event_type") == "view").select("user_id", "ts", F.col("value").alias("qv"))
    j = merge.merge_asof(trades, quotes, on="ts", by="user_id", direction="backward", tolerance=600.0)
    return j.select("event_id", F.round(F.col("qv"), 2).alias("qv"))


@query(
    "q55_ema_normal",
    """
    WITH base AS (
        SELECT event_id, user_id, value,
               epoch_us(ts) / 3.6e9 AS th,
               min(epoch_us(ts) / 3.6e9) OVER (PARTITION BY user_id) AS tmin,
               lag(epoch_us(ts) / 3.6e9) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS pth,
               row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS rn
        FROM events
    )
    SELECT event_id,
           round(exp(-(0.05 * (th - tmin))) *
                 sum(CASE WHEN rn = 1 THEN value
                          ELSE (1 - exp(-0.05 * (th - pth))) * value END
                     * exp(0.05 * (th - tmin)))
                 OVER (PARTITION BY user_id ORDER BY th, event_id ROWS UNBOUNDED PRECEDING), 4) AS ema
    FROM base
    """,
)
def q55(spark: SparkSession, sf: str) -> DataFrame:
    """ema_normal (rt_groupbyops.py:3366-3435): true time-decay EWMA;
    oracle uses the telescoped closed form."""
    ev = (
        load_table(spark, sf, "events")
        .withColumn("th", F.unix_micros(F.col("ts")) / 3.6e9)
        .select("event_id", "user_id", "th", "value")
    )
    out = ema.ema_normal(ev, ["user_id"], "value", "th", rate=0.05, out_col="ema_raw", order_col=["th", "event_id"])
    return out.select("event_id", F.round(F.col("ema_raw"), 4).alias("ema"))


@query(
    "q56_cumprod",
    """
    SELECT l_orderkey, l_linenumber, l_partkey,
           round(product(1 + l_discount)
                 OVER (PARTITION BY l_orderkey
                       ORDER BY l_linenumber, l_partkey, l_quantity, l_discount, l_extendedprice
                       ROWS UNBOUNDED PRECEDING), 6) AS cum_factor
    FROM lineitem WHERE l_orderkey < 3000
    """,
)
def q56(spark: SparkSession, sf: str) -> DataFrame:
    """cumprod (rt_groupbyops.py:3239) via sign-tracked exp∘cumsum∘log."""
    li = load_table(spark, sf, "lineitem").where(F.col("l_orderkey") < 3000)
    w = Window.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "l_partkey", "l_quantity", "l_discount", "l_extendedprice"
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        F.round(win.cumprod(1 + F.col("l_discount"), w), 6).alias("cum_factor"),
    )


# =====================================================================
# Stats / normalize / winsorize
# =====================================================================

@query(
    "q57_normalize",
    """
    SELECT c_custkey,
           round((c_acctbal - avg(c_acctbal) OVER ()) / stddev_samp(c_acctbal) OVER (), 6) AS bal_z,
           round((c_acctbal - min(c_acctbal) OVER ()) / (max(c_acctbal) OVER () - min(c_acctbal) OVER ()), 6) AS bal_mm
    FROM customer
    """,
)
def q57(spark: SparkSession, sf: str) -> DataFrame:
    """normalize_zscore / normalize_minmax (rt_mlutils.py:12, 18) — global
    stats via broadcast cross-join, not a single-partition window."""
    c = load_table(spark, sf, "customer")
    z = stats.normalize_zscore(c, "c_acctbal", "bal_z")
    mm = stats.normalize_minmax(z, "c_acctbal", "bal_mm")
    return mm.select(
        "c_custkey", F.round(F.col("bal_z"), 6).alias("bal_z"), F.round(F.col("bal_mm"), 6).alias("bal_mm")
    )


@query(
    "q58_winsorize",
    """
    WITH e AS (SELECT quantile_cont(o_totalprice, 0.05) AS plo,
                      quantile_cont(o_totalprice, 0.95) AS phi FROM orders)
    SELECT round(sum(least(greatest(o_totalprice, plo), phi)), 2) AS wins_sum,
           round(avg(least(greatest(o_totalprice, plo), phi)), 4) AS wins_avg
    FROM orders, e
    """,
)
def q58(spark: SparkSession, sf: str) -> DataFrame:
    """winsorize (rt_stats.py:83)."""
    o = load_table(spark, sf, "orders")
    w = stats.winsorize(o, "o_totalprice", 0.05, 0.95, out_col="w")
    return w.agg(
        F.round(F.sum("w"), 2).alias("wins_sum"), F.round(F.avg("w"), 4).alias("wins_avg")
    )


@query(
    "q59_bitops",
    """
    SELECT bit_count(user_id) AS popcount,
           count(*) AS n,
           CAST(sum(user_id & 255) AS BIGINT) AS sum_low_byte,
           CAST(sum(user_id << 1) AS BIGINT) AS sum_shifted
    FROM events GROUP BY 1
    """,
)
def q59(spark: SparkSession, sf: str) -> DataFrame:
    """bitwise ops + bitcount (rt_enum.py:262-271, rt_numpy.py:5438)."""
    from .functions import math as m

    ev = load_table(spark, sf, "events")
    return ev.groupBy(m.bit_count(F.col("user_id")).alias("popcount")).agg(
        gb.count().alias("n"),
        F.sum(m.bitwise_and(F.col("user_id"), F.lit(255))).cast("long").alias("sum_low_byte"),
        F.sum(m.shiftleft(F.col("user_id"), 1)).cast("long").alias("sum_shifted"),
    )


@query(
    "q60_one_hot",
    """
    SELECT CAST(sum(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END) AS BIGINT) AS seg_AUTOMOBILE,
           CAST(sum(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END) AS BIGINT) AS seg_BUILDING,
           CAST(sum(CASE WHEN c_mktsegment = 'FURNITURE' THEN 1 ELSE 0 END) AS BIGINT) AS seg_FURNITURE,
           CAST(sum(CASE WHEN c_mktsegment = 'HOUSEHOLD' THEN 1 ELSE 0 END) AS BIGINT) AS seg_HOUSEHOLD,
           CAST(sum(CASE WHEN c_mktsegment = 'MACHINERY' THEN 1 ELSE 0 END) AS BIGINT) AS seg_MACHINERY
    FROM customer
    """,
)
def q60(spark: SparkSession, sf: str) -> DataFrame:
    """one_hot_encode (rt_dataset.py:2888) with explicit category list."""
    c = load_table(spark, sf, "customer")
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    oh = reshape.one_hot_encode(c, "c_mktsegment", values=segs, prefix="seg")
    return oh.agg(*[F.sum(f"seg_{v}").cast("long").alias(f"seg_{v}") for v in segs])


@query(
    "q61_accum_ratio",
    """
    SELECT l_returnflag,
           round(sum(CASE WHEN l_linestatus = 'F' THEN l_extendedprice * (1 - l_discount) END)
                 / sum(CASE WHEN l_linestatus = 'F' THEN l_extendedprice END), 6) AS F,
           round(sum(CASE WHEN l_linestatus = 'O' THEN l_extendedprice * (1 - l_discount) END)
                 / sum(CASE WHEN l_linestatus = 'O' THEN l_extendedprice END), 6) AS O
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q61(spark: SparkSession, sf: str) -> DataFrame:
    """accum_ratio cross-tab (rt_accumtable.py:722)."""
    li = load_table(spark, sf, "lineitem")
    out = accum.accum_ratio(
        li,
        "l_returnflag",
        "l_linestatus",
        F.col("l_extendedprice") * (1 - F.col("l_discount")),
        F.col("l_extendedprice"),
        pivot_values=["F", "O"],
    )
    return out.select(
        "l_returnflag", F.round(F.col("F"), 6).alias("F"), F.round(F.col("O"), 6).alias("O")
    )


@query(
    "q62_accum_ratiop",
    """
    SELECT l_returnflag,
           round(100 * sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END) / (SELECT sum(l_quantity) FROM lineitem), 6) AS F,
           round(100 * sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END) / (SELECT sum(l_quantity) FROM lineitem), 6) AS O
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q62(spark: SparkSession, sf: str) -> DataFrame:
    """accum_ratiop percent-of-grand-total (rt_accumtable.py:1024)."""
    li = load_table(spark, sf, "lineitem")
    out = accum.accum_ratiop(li, "l_returnflag", "l_linestatus", F.col("l_quantity"), ["F", "O"])
    return out.select(
        "l_returnflag", F.round(F.col("F"), 6).alias("F"), F.round(F.col("O"), 6).alias("O")
    )


@query(
    "q63_cube",
    """
    SELECT l_returnflag, l_linestatus,
           grouping(l_returnflag) AS g_flag, grouping(l_linestatus) AS g_status,
           count(*) AS n
    FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
    """,
)
def q63(spark: SparkSession, sf: str) -> DataFrame:
    """cube — beyond-reference grouping-sets support."""
    li = load_table(spark, sf, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").cast("int").alias("g_flag"),
        F.grouping("l_linestatus").cast("int").alias("g_status"),
        gb.count().alias("n"),
    ).select("l_returnflag", "l_linestatus", "g_flag", "g_status", "n")


@query(
    "q64_timewindow_range",
    """
    SELECT event_id,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts) // 1000000
                                  RANGE BETWEEN 600 PRECEDING AND CURRENT ROW), 2) AS sum_10min
    FROM events
    """,
)
def q64(spark: SparkSession, sf: str) -> DataFrame:
    """timewindow_sum over trailing time distance (rt_fastarray.py:2629)
    via rangeBetween — the native fit."""
    ev = load_table(spark, sf, "events")
    return ev.select(
        "event_id",
        F.round(win.timewindow_sum(F.col("value"), ["user_id"], "ts", 600), 2).alias("sum_10min"),
    )


@query(
    "q65_dedup_keep_last",
    """
    SELECT l_partkey, l_orderkey, l_linenumber FROM (
        SELECT l_partkey, l_orderkey, l_linenumber,
               row_number() OVER (PARTITION BY l_partkey
                                  ORDER BY l_orderkey DESC, l_linenumber DESC) AS rn
        FROM lineitem
    ) WHERE rn = 1
    """,
)
def q65(spark: SparkSession, sf: str) -> DataFrame:
    """drop_duplicates keep='last' (rt_dataset.py:3631)."""
    li = load_table(spark, sf, "lineitem").select("l_partkey", "l_orderkey", "l_linenumber")
    return win.drop_duplicates(li, ["l_partkey"], F.struct("l_orderkey", "l_linenumber"), keep="last")


@query(
    "q66_text_quality",
    r"""
    WITH f AS (
        SELECT doc_id, length(text) AS n,
               (length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g'))) / greatest(length(text), 1) AS pr,
               (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) / greatest(length(text), 1) AS dr,
               len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                               t -> list_contains(['the','and','of','to','in','a','is','that','it','for'], t)))
                 / greatest(len(regexp_split_to_array(lower(trim(text)), '\s+')), 1) AS sr
        FROM documents
    )
    SELECT doc_id,
           round((CASE WHEN n >= 50 AND n <= 20000 THEN 1.0 ELSE least(n / 50.0, 1.0) END
                  + (1 - least(pr * 4, 1.0)) + (1 - least(dr * 4, 1.0)) + least(sr * 3, 1.0)) / 4, 6) AS quality
    FROM f
    """,
)
def q66(spark: SparkSession, sf: str) -> DataFrame:
    """Composite quality score for training-data filtering."""
    d = load_table(spark, sf, "documents")
    from .operators import text

    return d.select("doc_id", F.round(text.quality_score(F.col("text")), 6).alias("quality"))


@query(
    "q67_tumbling_window",
    """
    SELECT epoch(date_trunc('hour', ts))::BIGINT AS window_start_s,
           count(*) AS n, round(sum(value), 2) AS sum_value
    FROM events GROUP BY 1
    """,
)
def q67(spark: SparkSession, sf: str) -> DataFrame:
    """Tumbling time-window aggregation (resample analogue — the
    reference stubs resample, rt_groupbyops.py:3533; free via F.window).
    Streaming form in riptable_spark.streaming. Window start is epoch
    seconds so the cross-engine hash never sees tz-display differences."""
    ev = load_table(spark, sf, "events")
    return (
        ev.groupBy(F.window(F.col("ts"), "1 hour").alias("w"))
        .agg(gb.count().alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.unix_seconds(F.col("w.start")).alias("window_start_s"), "n", "sum_value")
    )


@query(
    "q68_sliding_window",
    """
    SELECT ws::BIGINT AS window_start_s, count(*) AS n,
           round(sum(value), 2) AS sum_value
    FROM (SELECT unnest([floor(epoch(ts)/1800)*1800,
                         floor(epoch(ts)/1800)*1800 - 1800]) AS ws, value
          FROM events)
    GROUP BY ws
    """,
)
def q68(spark: SparkSession, sf: str) -> DataFrame:
    """Sliding window agg (30 min slide over 1 h windows): every row lands
    in exactly 2 windows; the oracle replays that with a 2-element unnest
    per row."""
    ev = load_table(spark, sf, "events")
    return (
        ev.groupBy(F.window(F.col("ts"), "1 hour", "30 minutes").alias("w"))
        .agg(gb.count().alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.unix_seconds(F.col("w.start")).alias("window_start_s"), "n", "sum_value")
    )


@query(
    "q69_sample_exact",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY md5(o_orderkey::VARCHAR), o_orderkey LIMIT 50
    """,
)
def q69(spark: SparkSession, sf: str) -> DataFrame:
    """sample k rows (rt_dataset.py:5978) — deterministic hash-ordered
    variant (md5 of the key = uniform permutation), so the selected set
    reproduces across engines/runs and the driver can hash-check it
    (was rows-only with rand() in r1). rand()-based sample_exact remains
    for callers wanting fresh draws."""
    o = load_table(spark, sf, "orders")
    return reshape.sample_deterministic(
        o.select("o_orderkey", "o_totalprice"), 50, ["o_orderkey"]
    )


@query(
    "q70_concat_columns",
    """
    SELECT p_partkey, p_name, p_retailprice FROM part
    """,
)
def q70(spark: SparkSession, sf: str) -> DataFrame:
    """concat_columns — horizontal concat via the __rowid__ discipline
    (rt_dataset.py:6995)."""
    from .sources.io import with_rowid

    p = load_table(spark, sf, "part")
    a = with_rowid(p.select("p_partkey", "p_name"), "p_partkey")
    b = with_rowid(p.select("p_partkey", "p_retailprice"), "p_partkey").drop("p_partkey")
    out = reshape.concat_columns([a, b])
    return out.select("p_partkey", "p_name", "p_retailprice")


@query(
    "q71_streaming_tumbling",
    """
    SELECT epoch(date_trunc('hour', ts))::BIGINT AS window_start_s,
           count(*) AS n, round(sum(value), 2) AS sum_value
    FROM events GROUP BY 1
    """,
)
def q71(spark: SparkSession, sf: str) -> DataFrame:
    """Structured Streaming tumbling-window aggregation, drained with
    availableNow into a memory sink — result must equal the batch
    aggregation (stream/batch parity invariant)."""
    import tempfile
    import uuid

    from riptable_spark.streaming import windows as sw

    name = f"q71_mem_{uuid.uuid4().hex[:8]}"
    stream = sw.stream_events(spark, sf)
    # the memory sink keeps its rows in the JVM and a finished
    # availableNow query never reads its checkpoint again
    with tempfile.TemporaryDirectory() as ckpt:
        out = sw.run_available_now(sw.tumbling_agg(stream, "1 hour", "2 hours"), name, ckpt)
    return out.select(
        F.unix_seconds(F.col("window_start")).alias("window_start_s"), "n", "sum_value"
    )


@query(
    "q103_stateful_stream",
    """
    SELECT user_id, count(*) AS n_events, round(sum(value), 2) AS total_value
    FROM events GROUP BY user_id
    """,
)
def q103(spark: SparkSession, sf: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    per-user running totals kept in GroupState, drained with availableNow
    — must equal the batch aggregation (stream/batch parity)."""
    import tempfile
    import uuid

    from riptable_spark.streaming import windows as sw

    stream = sw.stream_events(spark, sf)
    with tempfile.TemporaryDirectory() as ckpt:
        out = sw.run_available_now(
            sw.stateful_user_totals(stream), f"q103_mem_{uuid.uuid4().hex[:8]}", ckpt
        )
    return out.select("user_id", "n_events", F.round(F.col("total_value"), 2).alias("total_value"))


@query(
    "q104_session_windows",
    """
    WITH e AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch(ts) - epoch(lag(ts) OVER w) >= 1800
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    s AS (
        SELECT user_id, ts,
               sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
        FROM e
    )
    SELECT floor(epoch(min(ts)))::BIGINT AS session_start_s, user_id, count(*)::BIGINT AS n
    FROM s GROUP BY user_id, sid
    """,
)
def q104(spark: SparkSession, sf: str) -> DataFrame:
    """Gap-based session windows per user (Structured Streaming
    session_window), drained with availableNow. Hash-checked since r2:
    on a complete drain the session boundaries are deterministic and
    equal the batch gaps-and-islands rewrite — two event windows merge
    iff the next event starts strictly inside [t, t+gap), so a new
    session begins exactly when diff >= gap."""
    import tempfile
    import uuid

    from riptable_spark.streaming import windows as sw

    stream = sw.stream_events(spark, sf)
    with tempfile.TemporaryDirectory() as ckpt:
        out = sw.run_available_now(
            sw.session_agg(stream, gap="30 minutes"), f"q104_mem_{uuid.uuid4().hex[:8]}", ckpt
        )
    return out.select(F.unix_seconds(F.col("session_start")).alias("session_start_s"), "user_id", "n")


@query(
    "q105_string_surface",
    """
    SELECT upper(c_name) AS uname,
           reverse(lower(c_mktsegment)) AS rseg,
           length(c_name)::INT AS name_len,
           substring(c_name, 1, 8) AS prefix8,   -- s.substr is 0-based (riptable)
           substring(c_name, 11, 1) AS char10,   -- s.char(10) = 0-based position 10
           (instr(c_name, '1') - 1)::INT AS idx1,
           rtrim(c_mktsegment, 'G') AS seg_trimmed,
           c_name || '-' || c_mktsegment AS appended,
           contains(c_name, '00') AS has00,
           starts_with(c_name, 'Customer') AS is_cust
    FROM customer WHERE c_custkey <= 2000
    """,
)
def q105(spark: SparkSession, sf: str) -> DataFrame:
    """FAString accessor surface (rt_str.py:122 — upper/lower/reverse/
    strlen/substr/char/index/removetrailing/str_append/contains/
    startswith), all JVM codegen expressions."""
    c = load_table(spark, sf, "customer").where(F.col("c_custkey") <= 2000)
    name, seg = F.col("c_name"), F.col("c_mktsegment")
    return c.select(
        F.upper(name).alias("uname"),
        F.reverse(F.lower(seg)).alias("rseg"),
        F.length(name).cast("int").alias("name_len"),
        s.substr(name, 0, 8).alias("prefix8"),
        s.char(name, 10).alias("char10"),
        s.index(name, "1").cast("int").alias("idx1"),
        F.rtrim(seg, F.lit("G")).alias("seg_trimmed"),
        s.str_append(name, F.concat(F.lit("-"), seg)).alias("appended"),
        s.contains(name, "00").alias("has00"),
        s.startswith(name, "Customer").alias("is_cust"),
    )
