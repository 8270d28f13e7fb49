"""Driver-contract query registry: Spark query + DuckDB oracle SQL pairs.

Every SURVEY §2 operator claimed as implemented has an entry here; the
driver runs both sides at sf0.01 and hash-compares (columns sorted by
name, order-insensitive rows). Conventions:

- Every computed column is aliased IDENTICALLY in Spark and SQL.
- Floating aggregates are rounded (2-6 dp) on BOTH sides so summation
  order (Spark partial aggs vs DuckDB) cannot flip the hash.
- Queries avoid driver-side collect except tiny scalar edge lookups
  (qcut edges), mirroring 100 TB discipline.

This module registers the first batch; ``queriesN`` modules register the
rest into the same dicts when imported. Each batch imports on its own;
``load_all()`` imports every batch in ``BATCHES`` order.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .operators import accum, dedup, ema, groupby as gb, merge, reshape, similarity, text, window as win
from .functions import binning
from .sources.io import load_table

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# Registration order of the batches. The driver walks queries() in
# insertion order, so a new batch is appended here; the order is
# snapshot-tested (tests/data/registry_order.txt).
BATCHES = (
    "queries2", "queries3", "queries4", "queries5", "queries6", "queries7",
    "queries8", "queries9", "queries10", "queries11", "queries12", "queries13",
    "queries14", "queries15", "queries16", "queries17", "queries18", "queries19",
)


def load_all() -> None:
    """Register every batch: import each module of ``BATCHES`` in order.
    A function, not an import side effect, so a Python worker that
    unpickles a helper from one batch imports only that batch."""
    for name in BATCHES:
        importlib.import_module(f"{__package__}.{name}")


# =====================================================================
# 1. Scan → filter → project → aggregate → sort (the end-to-end slice)
# =====================================================================

@query(
    "q01_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 6) AS avg_qty,
           round(avg(l_extendedprice), 6) AS avg_price,
           round(avg(l_discount), 6) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q1 shape: the flagship slice (SURVEY §7 step 1)."""
    li = load_table(spark, sf, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "q02_filter_project",
    """
    SELECT l_orderkey, l_linenumber,
           round(l_extendedprice * (1 - l_discount), 6) AS revenue
    FROM lineitem
    WHERE l_quantity > 45 AND l_discount >= 0.05 AND l_discount < 0.07
    """,
)
def q02(spark: SparkSession, sf: str) -> DataFrame:
    """Dataset.filter + column select (rt_dataset.py:861, :1378)."""
    li = load_table(spark, sf, "lineitem")
    return li.where(
        (F.col("l_quantity") > 45) & (F.col("l_discount") >= 0.05) & (F.col("l_discount") < 0.07)
    ).select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6).alias("revenue"),
    )


@query(
    "q03_groupby_basic",
    """
    SELECT o_orderpriority,
           count(*) AS n,
           round(sum(o_totalprice), 2) AS sum_total,
           round(avg(o_totalprice), 6) AS avg_total,
           round(min(o_totalprice), 2) AS min_total,
           round(max(o_totalprice), 2) AS max_total
    FROM orders GROUP BY o_orderpriority
    """,
)
def q03(spark: SparkSession, sf: str) -> DataFrame:
    """Core reduce set: count/sum/mean/min/max (rt_groupbyops.py:1156-2281)."""
    return (
        load_table(spark, sf, "orders")
        .groupBy("o_orderpriority")
        .agg(
            gb.count().alias("n"),
            F.round(gb.nansum(F.col("o_totalprice")), 2).alias("sum_total"),
            F.round(gb.nanmean(F.col("o_totalprice")), 6).alias("avg_total"),
            F.round(gb.nanmin(F.col("o_totalprice")), 2).alias("min_total"),
            F.round(gb.nanmax(F.col("o_totalprice")), 2).alias("max_total"),
        )
    )


@query(
    "q04_groupby_stats",
    """
    SELECT l_returnflag,
           round(median(l_quantity), 6) AS med_qty,
           round(var_samp(l_quantity), 6) AS var_qty,
           round(stddev_samp(l_quantity), 6) AS std_qty,
           round(stddev_samp(l_quantity) / sqrt(count(l_quantity)), 6) AS sem_qty,
           count(DISTINCT l_partkey) AS n_parts,
           round(quantile_cont(l_extendedprice, 0.25), 6) AS p25_price,
           round(quantile_cont(l_extendedprice, 0.50), 6) AS p50_price,
           round(quantile_cont(l_extendedprice, 0.75), 6) AS p75_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q04(spark: SparkSession, sf: str) -> DataFrame:
    """median/var/std/sem/count_uniques/quantile (rt_groupbyops.py:2449,
    2799, 3500, 1037, 2517; exact interpolation parity)."""
    li = load_table(spark, sf, "lineitem")
    q = F.col("l_quantity")
    # ONE fused two-stage hash-agg computes the whole stat family —
    # median/var/std/sem of quantity AND the price quantiles via the
    # percentile AGGREGATE (multi-q array form). Exact interpolation,
    # bit-identical to the sort-based forms (verified). Strategy notes:
    # - the percentile value→count map is bounded by DISTINCT values,
    #   which plateau on real data (prices have a finite domain) while
    #   row counts scale 1000× — so the map rides map-side combine fine;
    #   measured 1.33→1.08 s vs the previous window rank-select at sf0.1
    #   (the old "2× slower" measurement was dominated by driver-side
    #   plan-build cost since removed).
    # - for GIANT groups over genuinely unbounded-cardinality values the
    #   exact path is gb.quantile_ranged (range-partitioned parallel
    #   sort); gb.quantile_sorted remains the one-window middle ground.
    # count_uniques runs as its own two-stage (key,val)→key aggregation
    # and broadcast-joins back: putting countDistinct in the same agg as
    # the percentiles makes Catalyst Expand every input row (2× the scan
    # through the aggregation) — measured 2.2× slower at sf0.1.
    # Round-4 re-measurement of the single-scan alternative (GROUPING
    # SETS ((flag),(flag,partkey)) computing stats on the flag branch
    # and n_parts from the partkey branch): 1.222 s vs 1.120 s min-of-5
    # at sf0.1 — the Expand feeds 2× rows through the percentile maps
    # and builds per-(flag,partkey) partials, costing more than the
    # second column-pruned scan (2 light columns) saves.  The dual scan
    # stays; at 100 TB the extra scan reads 2 of 16 columns and both
    # aggregations stay map-side-combining, so the tradeoff holds.
    agg = li.groupBy("l_returnflag").agg(
        F.round(gb.median(q), 6).alias("med_qty"),
        F.round(gb.nanvar(q), 6).alias("var_qty"),
        F.round(gb.nanstd(q), 6).alias("std_qty"),
        F.round(gb.sem(q), 6).alias("sem_qty"),
        F.percentile(
            F.col("l_extendedprice"), F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
        ).alias("__p__"),
    )
    uniq = (
        li.groupBy("l_returnflag", "l_partkey").agg(F.lit(1).alias("__one__"))
        .groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n_parts"))
    )
    return agg.join(F.broadcast(uniq), on="l_returnflag", how="left").select(
        "l_returnflag",
        "med_qty",
        "var_qty",
        "std_qty",
        "sem_qty",
        "n_parts",
        F.round(F.element_at("__p__", 1), 6).alias("p25_price"),
        F.round(F.element_at("__p__", 2), 6).alias("p50_price"),
        F.round(F.element_at("__p__", 3), 6).alias("p75_price"),
    )


@query(
    "q05_strict_sum",
    """
    SELECT user_id % 10 AS grp,
           CASE WHEN count(*) != count(CASE WHEN event_type != 'error' THEN value END)
                THEN NULL
                ELSE round(sum(CASE WHEN event_type != 'error' THEN value END), 2) END AS strict_sum,
           round(sum(CASE WHEN event_type != 'error' THEN value END), 2) AS nan_sum
    FROM events GROUP BY user_id % 10
    """,
)
def q05(spark: SparkSession, sf: str) -> DataFrame:
    """sum vs nansum split (SURVEY §1.2): riptable's non-nan sum propagates
    invalids; nansum = SQL SUM. Invalids synthesized by nulling 'error'
    rows."""
    ev = load_table(spark, sf, "events")
    v = F.when(F.col("event_type") != "error", F.col("value"))
    return ev.groupBy((F.col("user_id") % 10).alias("grp")).agg(
        F.round(gb.strict(F.sum, v), 2).alias("strict_sum"),
        F.round(gb.nansum(v), 2).alias("nan_sum"),
    )


@query(
    "q06_mode",
    """
    SELECT l_returnflag, mode_qty FROM (
        SELECT l_returnflag, l_quantity AS mode_qty,
               row_number() OVER (PARTITION BY l_returnflag
                                  ORDER BY count(*) DESC, l_quantity ASC) AS rn
        FROM lineitem GROUP BY l_returnflag, l_quantity
    ) WHERE rn = 1
    """,
)
def q06(spark: SparkSession, sf: str) -> DataFrame:
    """GB_MODE (rt_groupbyops.py:1298) with deterministic min-value
    tie-break, expressed as count + row_number (same on both sides)."""
    li = load_table(spark, sf, "lineitem")
    counts = li.groupBy("l_returnflag", "l_quantity").count()
    w = Window.partitionBy("l_returnflag").orderBy(F.col("count").desc(), F.col("l_quantity").asc())
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("l_returnflag", F.col("l_quantity").alias("mode_qty"))
    )


# =====================================================================
# 2. Joins (merge2 family)
# =====================================================================

@query(
    "q07_merge2_inner",
    """
    SELECT l.l_orderkey, l.l_linenumber, o.o_custkey,
           round(l.l_extendedprice * (1 - l.l_discount), 6) AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderstatus = 'O'
    """,
)
def q07(spark: SparkSession, sf: str) -> DataFrame:
    """merge2 how='inner' (rt_merge.py:2293)."""
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders").where(F.col("o_orderstatus") == "O")
    j = merge.merge2(li, o, left_on="l_orderkey", right_on="o_orderkey", how="inner")
    return j.select(
        "l_orderkey",
        "l_linenumber",
        "o_custkey",
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6).alias("revenue"),
    )


@query(
    "q08_merge2_keep_first",
    """
    SELECT o.o_orderkey, o.o_orderstatus, f.l_partkey, round(f.l_quantity, 2) AS first_qty
    FROM orders o LEFT JOIN (
        SELECT * FROM (
            SELECT l_orderkey, l_partkey, l_quantity,
                   row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey, l_quantity) AS rn
            FROM lineitem
        ) WHERE rn = 1
    ) f ON o.o_orderkey = f.l_orderkey
    """,
)
def q08(spark: SparkSession, sf: str) -> DataFrame:
    """merge2 keep=('first') per-side dedupe (rt_merge.py keep=) — dedupe
    BEFORE the join so the shuffle shrinks."""
    o = load_table(spark, sf, "orders").select("o_orderkey", "o_orderstatus")
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_partkey", "l_quantity", "l_linenumber")
    j = merge.merge2(
        o,
        li,
        left_on="o_orderkey",
        right_on="l_orderkey",
        how="left",
        keep=(None, "first"),
        right_order_col=["l_linenumber", "l_partkey", "l_quantity"],
    )
    return j.select(
        "o_orderkey", "o_orderstatus", "l_partkey", F.round(F.col("l_quantity"), 2).alias("first_qty")
    )


@query(
    "q09_merge_lookup",
    """
    SELECT n.n_name, count(*) AS n_customers, round(sum(c.c_acctbal), 2) AS sum_bal
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def q09(spark: SparkSession, sf: str) -> DataFrame:
    """merge_lookup (rt_merge.py:3229): broadcast dimension join — no
    shuffle of the fact side."""
    c = load_table(spark, sf, "customer")
    n = load_table(spark, sf, "nation")
    j = merge.merge_lookup(c, n, left_on="c_nationkey", right_on="n_nationkey")
    return j.groupBy("n_name").agg(
        gb.count().alias("n_customers"),
        F.round(F.sum("c_acctbal"), 2).alias("sum_bal"),
    )


@query(
    "q10_semi_join",
    """
    SELECT o_orderpriority, count(*) AS n
    FROM orders WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_quantity >= 49)
    GROUP BY o_orderpriority
    """,
)
def q10(spark: SparkSession, sf: str) -> DataFrame:
    """ismember mask filter (rt_numpy.py:1186) → left_semi join."""
    o = load_table(spark, sf, "orders")
    big = load_table(spark, sf, "lineitem").where(F.col("l_quantity") >= 49).select(
        F.col("l_orderkey").alias("o_orderkey")
    )
    return merge.semi_join(o, big, on="o_orderkey").groupBy("o_orderpriority").agg(gb.count().alias("n"))


@query(
    "q11_anti_join",
    """
    SELECT p_partkey, p_brand FROM part
    WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem WHERE l_partkey IS NOT NULL)
    """,
)
def q11(spark: SparkSession, sf: str) -> DataFrame:
    """anti-join: parts never ordered."""
    p = load_table(spark, sf, "part")
    li = load_table(spark, sf, "lineitem").select(F.col("l_partkey").alias("p_partkey"))
    return merge.anti_join(p, li, on="p_partkey").select("p_partkey", "p_brand")


@query(
    "q12_outer_indicator",
    """
    SELECT merge_indicator, count(*) AS n FROM (
        SELECT CASE WHEN p.p_partkey IS NOT NULL AND l.lpk IS NOT NULL THEN 'both'
                    WHEN p.p_partkey IS NOT NULL THEN 'left_only'
                    ELSE 'right_only' END AS merge_indicator
        FROM part p FULL OUTER JOIN
             (SELECT DISTINCT l_partkey AS lpk FROM lineitem WHERE l_partkey <= 2100) l
        ON p.p_partkey = l.lpk
    ) GROUP BY merge_indicator
    """,
)
def q12(spark: SparkSession, sf: str) -> DataFrame:
    """merge2 how='outer' + indicator column (rt_merge.py:2293 indicator)."""
    p = load_table(spark, sf, "part").select("p_partkey")
    l = (
        load_table(spark, sf, "lineitem")
        .where(F.col("l_partkey") <= 2100)
        .select(F.col("l_partkey").alias("lpk"))
        .distinct()
    )
    j = merge.merge2(p, l, left_on="p_partkey", right_on="lpk", how="outer", indicator=True)
    return j.groupBy("merge_indicator").agg(gb.count().alias("n"))


# =====================================================================
# 3. As-of joins
# =====================================================================

_ASOF_ORACLE = """
    SELECT t.event_id, t.user_id, round(t.value, 2) AS trade_value,
           round(q.value, 2) AS quote_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') t
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') q
    ON t.user_id = q.user_id AND t.ts {op} q.ts
"""


@query("q13_asof_backward", _ASOF_ORACLE.format(op=">="))
def q13(spark: SparkSession, sf: str) -> DataFrame:
    """merge_asof direction='backward' (rt_merge.py:3572; kernel
    rt_utils.py:503 alignmk) — union+window rewrite, single shuffle."""
    ev = load_table(spark, sf, "events")
    trades = ev.where(F.col("event_type") == "purchase").select("user_id", "ts", "event_id", "value")
    quotes = ev.where(F.col("event_type") == "view").select("user_id", "ts", F.col("value").alias("qv"))
    j = merge.merge_asof(trades, quotes, on="ts", by="user_id", direction="backward")
    return j.select(
        "event_id",
        "user_id",
        F.round(F.col("value"), 2).alias("trade_value"),
        F.round(F.col("qv"), 2).alias("quote_value"),
    )


@query("q14_asof_forward", _ASOF_ORACLE.format(op="<="))
def q14(spark: SparkSession, sf: str) -> DataFrame:
    """merge_asof direction='forward'."""
    ev = load_table(spark, sf, "events")
    trades = ev.where(F.col("event_type") == "purchase").select("user_id", "ts", "event_id", "value")
    quotes = ev.where(F.col("event_type") == "view").select("user_id", "ts", F.col("value").alias("qv"))
    j = merge.merge_asof(trades, quotes, on="ts", by="user_id", direction="forward")
    return j.select(
        "event_id",
        "user_id",
        F.round(F.col("value"), 2).alias("trade_value"),
        F.round(F.col("qv"), 2).alias("quote_value"),
    )


# =====================================================================
# 4. Ordered / window operators
# =====================================================================

@query(
    "q15_shift_diff",
    """
    SELECT event_id,
           round(lag(value) OVER w, 2) AS prev_value,
           round(value - lag(value) OVER w, 2) AS dvalue
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q15(spark: SparkSession, sf: str) -> DataFrame:
    """shift/diff per group (rt_groupbyops.py:3660, 3551)."""
    ev = load_table(spark, sf, "events")
    w = win.group_window(["user_id"], F.col("ts")).orderBy(F.col("ts"), F.col("event_id"))
    return ev.select(
        "event_id",
        F.round(win.shift(F.col("value"), 1, w), 2).alias("prev_value"),
        F.round(win.diff(F.col("value"), 1, w), 2).alias("dvalue"),
    )


@query(
    "q16_cumsum",
    """
    SELECT event_id,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING), 2) AS cum_value,
           count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS cum_n
    FROM events
    """,
)
def q16(spark: SparkSession, sf: str) -> DataFrame:
    """cumsum/cumcount (rt_groupbyops.py:3158, 3129)."""
    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    return ev.select(
        "event_id",
        F.round(win.cumsum(F.col("value"), w), 2).alias("cum_value"),
        win.cumcount(w).alias("cum_n"),
    )


@query(
    "q17_rolling",
    """
    SELECT event_id,
           CASE WHEN row_number() OVER w >= 3
                THEN round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                            ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6)
           END AS roll_mean3,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS roll_nansum3,
           CASE WHEN row_number() OVER w >= 3
                THEN min(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
           END AS roll_min3
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q17(spark: SparkSession, sf: str) -> DataFrame:
    """rolling_mean (full windows → invalid for first n-1, riptable
    semantics) + rolling_nansum + rolling_min (rt_groupbyops.py:2941)."""
    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    return ev.select(
        "event_id",
        F.round(win.rolling_mean(F.col("value"), w, 3), 6).alias("roll_mean3"),
        F.round(win.rolling_nansum(F.col("value"), w, 3), 2).alias("roll_nansum3"),
        win.rolling_min(F.col("value"), w, 3).alias("roll_min3"),
    )


@query(
    "q18_rank",
    """
    SELECT event_id,
           rank() OVER (PARTITION BY user_id ORDER BY value) AS rank_min,
           dense_rank() OVER (PARTITION BY user_id ORDER BY value) AS rank_dense,
           row_number() OVER (PARTITION BY user_id ORDER BY value, event_id) AS rank_first
    FROM events
    """,
)
def q18(spark: SparkSession, sf: str) -> DataFrame:
    """rank methods min/dense/first (rt_groupbyops.py:3632)."""
    ev = load_table(spark, sf, "events")
    v = F.col("value")
    return ev.select(
        "event_id",
        win.rank(v, ["user_id"], method="min").alias("rank_min"),
        win.rank(v, ["user_id"], method="dense").alias("rank_dense"),
        F.row_number().over(Window.partitionBy("user_id").orderBy(v, F.col("event_id"))).alias("rank_first"),
    )


@query(
    "q19_fill_forward",
    """
    SELECT event_id,
           round(last_value(CASE WHEN event_type != 'error' THEN value END IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING), 2) AS filled_value
    FROM events
    """,
)
def q19(spark: SparkSession, sf: str) -> DataFrame:
    """fill_forward (rt_fastarraynumba.py:149; grouped rt_groupbynumba.py:312)."""
    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    v = F.when(F.col("event_type") != "error", F.col("value"))
    return ev.select(
        "event_id",
        F.round(win.fill_forward(v, w), 2).alias("filled_value"),
    )


@query(
    "q20_drop_duplicates",
    """
    SELECT l_partkey, l_orderkey, l_linenumber FROM (
        SELECT l_partkey, l_orderkey, l_linenumber,
               row_number() OVER (PARTITION BY l_partkey ORDER BY l_orderkey, l_linenumber) AS rn
        FROM lineitem
    ) WHERE rn = 1
    """,
)
def q20(spark: SparkSession, sf: str) -> DataFrame:
    """drop_duplicates keep='first' (rt_dataset.py:3631)."""
    li = load_table(spark, sf, "lineitem").select("l_partkey", "l_orderkey", "l_linenumber")
    return win.drop_duplicates(li, ["l_partkey"], F.struct("l_orderkey", "l_linenumber"), keep="first")


@query(
    "q21_topk",
    """
    SELECT o_orderkey, round(o_totalprice, 2) AS total
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def q21(spark: SparkSession, sf: str) -> DataFrame:
    """top-k (SURVEY §2.6): orderBy().limit() → TakeOrderedAndProject,
    no full sort."""
    o = load_table(spark, sf, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", F.round(F.col("o_totalprice"), 2).alias("total"))
    )


# =====================================================================
# 5. Cross-tab / reshape
# =====================================================================

@query(
    "q22_accum2",
    """
    SELECT l_returnflag,
           round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS F,
           round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS O,
           round(sum(l_quantity), 2) AS Total
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q22(spark: SparkSession, sf: str) -> DataFrame:
    """Accum2 cross-tab with Total margin (rt_accum2.py:39) →
    groupBy().pivot() with explicit pivot values (scale-safe)."""
    li = load_table(spark, sf, "lineitem")
    out = accum.accum2(li, "l_returnflag", "l_linestatus", F.sum, "l_quantity", pivot_values=["F", "O"])
    return out.select(
        "l_returnflag",
        F.round(F.col("F"), 2).alias("F"),
        F.round(F.col("O"), 2).alias("O"),
        F.round(F.col("Total"), 2).alias("Total"),
    )


@query(
    "q23_melt",
    """
    SELECT p_partkey, 'p_size' AS variable, CAST(p_size AS DOUBLE) AS value FROM part
    UNION ALL
    SELECT p_partkey, 'p_retailprice' AS variable, p_retailprice AS value FROM part
    """,
)
def q23(spark: SparkSession, sf: str) -> DataFrame:
    """melt wide→long (rt_dataset.py:6781) → native unpivot."""
    p = load_table(spark, sf, "part").select(
        "p_partkey", F.col("p_size").cast("double").alias("p_size"), "p_retailprice"
    )
    return reshape.melt(p, ["p_partkey"], ["p_size", "p_retailprice"])


@query(
    "q24_concat_rows",
    """
    SELECT c_custkey AS acct_key, c_name AS acct_name, round(c_acctbal, 2) AS bal,
           c_mktsegment AS segment
    FROM customer
    UNION ALL
    SELECT s_suppkey AS acct_key, s_name AS acct_name, round(s_acctbal, 2) AS bal,
           NULL AS segment
    FROM supplier
    """,
)
def q24(spark: SparkSession, sf: str) -> DataFrame:
    """concat_rows with schema unification — missing columns → NULL
    (rt_dataset.py:6867, rt_hstack.py:15)."""
    c = load_table(spark, sf, "customer").select(
        F.col("c_custkey").alias("acct_key"),
        F.col("c_name").alias("acct_name"),
        F.round(F.col("c_acctbal"), 2).alias("bal"),
        F.col("c_mktsegment").alias("segment"),
    )
    s = load_table(spark, sf, "supplier").select(
        F.col("s_suppkey").alias("acct_key"),
        F.col("s_name").alias("acct_name"),
        F.round(F.col("s_acctbal"), 2).alias("bal"),
    )
    return reshape.concat_rows([c, s])


@query(
    "q25_cut",
    """
    SELECT CASE WHEN p_retailprice >= 900 AND p_retailprice <= 925 THEN 1
                WHEN p_retailprice > 925 AND p_retailprice <= 950 THEN 2
                WHEN p_retailprice > 950 AND p_retailprice <= 975 THEN 3
                WHEN p_retailprice > 975 AND p_retailprice <= 1000 THEN 4
                ELSE 0 END AS price_bin,
           count(*) AS n, round(avg(p_retailprice), 6) AS avg_price
    FROM part GROUP BY 1
    """,
)
def q25(spark: SparkSession, sf: str) -> DataFrame:
    """cut with explicit edges (rt_bin.py:412; bin 0 = out-of-range)."""
    p = load_table(spark, sf, "part")
    binned = p.withColumn("price_bin", binning.cut(F.col("p_retailprice"), [900, 925, 950, 975, 1000]))
    return binned.groupBy("price_bin").agg(
        gb.count().alias("n"), F.round(F.avg("p_retailprice"), 6).alias("avg_price")
    )


# =====================================================================
# 6. Datetime / string scalar surface
# =====================================================================

@query(
    "q26_datetime",
    """
    SELECT year(ts) AS y, month(ts) AS m,
           CAST((dayofweek(ts) + 6) % 7 AS INT) AS dow,
           count(*) AS n, round(sum(value), 2) AS sum_value
    FROM events GROUP BY 1, 2, 3
    """,
)
def q26(spark: SparkSession, sf: str) -> DataFrame:
    """calendar accessors (rt_datetime.py:3367-4017); day_of_week is
    Monday=0 per riptable convention."""
    from .functions import datetime as dtf

    ev = load_table(spark, sf, "events")
    return ev.groupBy(
        dtf.year(F.col("ts")).alias("y"),
        dtf.month(F.col("ts")).alias("m"),
        dtf.day_of_week(F.col("ts")).cast("int").alias("dow"),
    ).agg(gb.count().alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))


@query(
    "q27_strings",
    """
    SELECT upper(p_brand) AS brand_u, length(p_name) AS name_len,
           contains(p_name, 'a') AS has_a,
           substring(p_name, 1, 3) AS name_pfx,
           count(*) AS n
    FROM part GROUP BY 1, 2, 3, 4
    """,
)
def q27(spark: SparkSession, sf: str) -> DataFrame:
    """FAString surface: upper/strlen/contains/substr (rt_str.py:519,
    609, 674, 1229)."""
    from .functions import strings as s

    p = load_table(spark, sf, "part")
    nm = F.col("p_name")
    return p.groupBy(
        s.upper(F.col("p_brand")).alias("brand_u"),
        s.strlen(nm).alias("name_len"),
        s.contains(nm, "a").alias("has_a"),
        s.substr(nm, 0, 3).alias("name_pfx"),
    ).agg(gb.count().alias("n"))


# =====================================================================
# 7. Text analysis / dedup / similarity (training-data pipeline ops)
# =====================================================================

@query(
    "q28_text_stats",
    r"""
    SELECT doc_id,
           CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE length(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
           length(text) AS n_chars_computed,
           round((length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')))
                 / greatest(length(text), 1), 6) AS punct_ratio,
           round((length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
                 / greatest(length(text), 1), 6) AS digit_ratio
    FROM documents
    """,
)
def q28(spark: SparkSession, sf: str) -> DataFrame:
    """Text profiling: token/char counts, punct/digit ratios — pure
    codegen Column exprs."""
    d = load_table(spark, sf, "documents")
    t = F.col("text")
    return d.select(
        "doc_id",
        text.token_count(t).alias("n_tokens"),
        text.char_count(t).alias("n_chars_computed"),
        F.round(text.punct_ratio(t), 6).alias("punct_ratio"),
        F.round(text.digit_ratio(t), 6).alias("digit_ratio"),
    )


@query(
    "q29_lang_id",
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
    )
    SELECT lang, lang_pred, count(*) AS n FROM (
        SELECT lang,
               CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
                    WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
                    WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
                    WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
                    ELSE 'es' END AS lang_pred
        FROM scored
    ) GROUP BY lang, lang_pred
    """,
)
def q29(spark: SparkSession, sf: str) -> DataFrame:
    """Language-ID n-gram/stopword heuristic, confusion-matrix output."""
    d = load_table(spark, sf, "documents")
    return d.select("lang", text.lang_id(F.col("text")).alias("lang_pred")).groupBy(
        "lang", "lang_pred"
    ).agg(gb.count().alias("n"))


@query(
    "q30_dedup_exact",
    r"""
    SELECT doc_id, source FROM (
        SELECT doc_id, source,
               row_number() OVER (PARTITION BY regexp_replace(lower(trim(text)), '\s+', ' ', 'g')
                                  ORDER BY doc_id) AS rn
        FROM documents
    ) WHERE rn = 1
    """,
)
def q30(spark: SparkSession, sf: str) -> DataFrame:
    """Exact dedup on normalized text, min-id representative."""
    d = load_table(spark, sf, "documents")
    return dedup.dedup_exact(d, "text", "doc_id").select("doc_id", "source")


@query(
    "q31_token_jaccard",
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
    )
    SELECT id_a, id_b,
           round(n_shared / (sa.sz + sb.sz - n_shared), 6) AS jaccard
    FROM inter JOIN sizes sa ON inter.id_a = sa.doc_id
               JOIN sizes sb ON inter.id_b = sb.doc_id
    WHERE n_shared / (sa.sz + sb.sz - n_shared) >= 0.8
    """,
)
def q31(spark: SparkSession, sf: str) -> DataFrame:
    """n-gram (unigram) Jaccard near-dup pairs — explode + bucket-join on
    the token, never O(n²) outside a bucket."""
    d = load_table(spark, sf, "documents").where(F.col("doc_id") < 100)
    pairs = dedup.ngram_jaccard_pairs(d, "text", "doc_id", n=1, threshold=0.8)
    return pairs.select("id_a", "id_b", F.round(F.col("jaccard"), 6).alias("jaccard"))


@query(
    "q32_cosine_topk",
    """
    SELECT query_id, vec_id, round(score, 6) AS score, rank FROM (
        SELECT q.vec_id AS query_id, v.vec_id AS vec_id,
               list_cosine_similarity(v.embedding::DOUBLE[], q.embedding::DOUBLE[]) AS score,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY list_cosine_similarity(v.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC,
                                           v.vec_id) AS rank
        FROM embeddings v CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 5) q
    ) WHERE rank <= 5
    """,
)
def q32(spark: SparkSession, sf: str) -> DataFrame:
    """Brute-force cosine top-k ANN baseline: corpus never shuffles,
    queries broadcast, per-query window top-k."""
    emb = load_table(spark, sf, "embeddings").select(
        "vec_id", F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("embedding")
    )
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = similarity.brute_force_topk(
        emb, queries, k=5, id_col="vec_id", vec_col="embedding",
        query_id_col="query_id", query_vec_col="query_vec",
    )
    return out.select("query_id", "vec_id", F.round(F.col("score"), 6).alias("score"), "rank")


# ------- dedup signature pipelines, fully replayed in SQL --------------
# The production hash is xxhash64 (no DuckDB equivalent); these contract
# queries run the SAME pipeline over the portable md5-derived 60-bit hash
# (dedup._base_hash64('md5')), which DuckDB reproduces digit-for-digit —
# so signatures, bands, and pair sets are hash-checked end to end.


def _minhash_oracle(num_perm: int, bands: int, shingle_n: int, id_filter: str) -> str:
    params = dedup._hash_params(num_perm)
    p = dedup._MERSENNE
    mh_cols = ", ".join(f"min((h * {a} + {b}) % {p}) AS mh{i}" for i, (a, b) in enumerate(params))
    rpb = num_perm // bands
    band_conds = " OR ".join(
        "(" + " AND ".join(f"a.mh{b * rpb + r} = b.mh{b * rpb + r}" for r in range(rpb)) + ")"
        for b in range(bands)
    )
    return f"""
    WITH docs AS (
        SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
        FROM documents WHERE {id_filter} AND text IS NOT NULL
    ),
    toks AS (SELECT doc_id, string_split(t, ' ') AS w FROM docs),
    sh AS (
        SELECT doc_id, unnest(list_distinct(list_transform(
                   range(1, greatest(len(w) - {shingle_n - 1}, 1) + 1),
                   i -> array_to_string(w[i:i+{shingle_n - 1}], ' ')))) AS s
        FROM toks
    ),
    hs AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT % {p} AS h FROM sh),
    sig AS (SELECT doc_id, {mh_cols} FROM hs GROUP BY doc_id)
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ({band_conds})
    """


@query("q33_minhash_pairs", _minhash_oracle(32, 8, 3, "doc_id < 200"))
def q33(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash+LSH candidate pairs (rows-only in r1; now hash-checked —
    VERDICT r1 next-round #3). The oracle recomputes shingles → universal
    min-hashes → band agreement entirely in DuckDB over the shared
    portable hash, so the candidate set matches exactly. Production
    callers keep hash_kind='xxhash64'."""
    d = load_table(spark, sf, "documents").where(F.col("doc_id") < 200)
    return dedup.minhash_lsh_pairs(
        d, "text", "doc_id", num_perm=32, bands=8, shingle_n=3, hash_kind="md5"
    )


def _simhash_oracle(max_hamming: int, bits: int, shingle_n: int, id_filter: str) -> str:
    votes = ", ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}" for b in range(bits)
    )
    fp = " + ".join(f"(CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(bits))
    return f"""
    WITH docs AS (
        SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
        FROM documents WHERE {id_filter} AND text IS NOT NULL
    ),
    toks AS (SELECT doc_id, string_split(t, ' ') AS w FROM docs),
    sh AS (
        SELECT doc_id, unnest(list_distinct(list_transform(
                   range(1, greatest(len(w) - {shingle_n - 1}, 1) + 1),
                   i -> array_to_string(w[i:i+{shingle_n - 1}], ' ')))) AS s
        FROM toks
    ),
    hs AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h FROM sh),
    votes AS (SELECT doc_id, {votes} FROM hs GROUP BY doc_id),
    fp AS (SELECT doc_id, ({fp})::BIGINT AS f FROM votes)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.f, b.f)) <= {max_hamming}
    """


@query("q34_simhash", _simhash_oracle(8, 60, 2, "doc_id < 200"))
def q34(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash near-dup pairs, hash-checked: the pigeonhole chunk
    bucketing is recall-EXACT (a pair within max_hamming of 60 bits must
    share one of max_hamming+1 chunks), so the oracle needs only the
    hamming predicate over DuckDB-recomputed fingerprints — the chunk
    join is pure execution strategy. bits=60 because the portable md5
    hash carries 60 bits."""
    d = load_table(spark, sf, "documents").where(F.col("doc_id") < 200)
    return dedup.simhash_near_dups(
        d, "text", "doc_id", max_hamming=8, bits=60, shingle_n=2, hash_kind="md5"
    )


@query(
    "q35_ema_decay",
    """
    SELECT event_id,
           round(exp(-0.01 * (epoch(ts) / 3600.0 - tmin)) *
                 sum(value * exp(0.01 * (epoch(ts) / 3600.0 - tmin)))
                     OVER (PARTITION BY user_id ORDER BY epoch(ts) / 3600.0, event_id
                           ROWS UNBOUNDED PRECEDING), 4) AS ema
    FROM (SELECT *, min(epoch(ts) / 3600.0) OVER (PARTITION BY user_id) AS tmin FROM events)
    """,
)
def q35(spark: SparkSession, sf: str) -> DataFrame:
    """ema_decay (rt_groupbyops.py:3314-3363): out_i = x_i + last*exp(-rate*Δt).
    applyInPandas numpy scan per group; oracle uses the closed form
    out_i = exp(-r·t_i)·Σ_j x_j·exp(r·t_j) (valid because Δt telescopes).
    NOTE: first-row Δt uses t_0 itself → decay=1 for the first element,
    matching the scan's prev_t initialization."""
    ev = (
        load_table(spark, sf, "events")
        .withColumn("t_hours", F.unix_micros(F.col("ts")) / 3.6e9)
        .select("event_id", "user_id", "t_hours", "value")
    )
    out = ema.ema_decay(ev, ["user_id"], "value", "t_hours", rate=0.01, out_col="ema_raw", order_col=["t_hours", "event_id"])
    return out.select("event_id", F.round(F.col("ema_raw"), 4).alias("ema"))


@query(
    "q36_trimbr",
    """
    WITH edges AS (
        SELECT l_returnflag,
               quantile_cont(l_extendedprice, 0.1) AS lo,
               quantile_cont(l_extendedprice, 0.9) AS hi
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_returnflag, round(avg(l_extendedprice), 4) AS trimbr
    FROM lineitem l JOIN edges e ON l.l_returnflag = e.l_returnflag
    WHERE l_extendedprice >= e.lo AND l_extendedprice <= e.hi
    GROUP BY l.l_returnflag
    """,
)
def q36(spark: SparkSession, sf: str) -> DataFrame:
    """trimbr — trimmed mean within the 10-90% percentile band
    (rt_groupbyops.py:1366, GB_TRIMBR=105)."""
    li = load_table(spark, sf, "lineitem")
    out = gb.trimbr(li, ["l_returnflag"], "l_extendedprice", 0.1, 0.9, alias="trimbr_raw")
    return out.select("l_returnflag", F.round(F.col("trimbr_raw"), 4).alias("trimbr"))


@query(
    "q37_ohlc",
    """
    WITH ordered AS (
        SELECT user_id, value,
               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn_a,
               row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn_d
        FROM events)
    SELECT user_id,
           round(max(CASE WHEN rn_a = 1 THEN value END), 2) AS open,
           round(max(value), 2) AS high,
           round(min(value), 2) AS low,
           round(max(CASE WHEN rn_d = 1 THEN value END), 2) AS close
    FROM ordered GROUP BY user_id
    """,
)
def q37(spark: SparkSession, sf: str) -> DataFrame:
    """ohlc (rt_groupbyops.py:3514) via min_by/max_by — plain hash-agg,
    no window/sort."""
    ev = load_table(spark, sf, "events")
    order = F.struct(F.col("ts"), F.col("event_id"))
    v = F.col("value")
    return ev.groupBy("user_id").agg(
        F.round(F.min_by(v, order), 2).alias("open"),
        F.round(F.max(v), 2).alias("high"),
        F.round(F.min(v), 2).alias("low"),
        F.round(F.max_by(v, order), 2).alias("close"),
    )


@query(
    "q38_describe",
    """
    WITH nn AS (
        SELECT l_returnflag, l_quantity::DOUBLE AS x,
               row_number() OVER (PARTITION BY l_returnflag ORDER BY l_quantity) - 1 AS r,
               count(*) OVER (PARTITION BY l_returnflag) AS n
        FROM lineitem WHERE l_quantity IS NOT NULL
    ),
    mm AS (
        SELECT l_returnflag,
               avg(x) FILTER (WHERE r >= floor(0.10 * (n - 1)) AND r <= ceil(0.90 * (n - 1))) AS meanm
        FROM nn GROUP BY l_returnflag
    )
    SELECT b.l_returnflag,
           count(*) AS count,
           count(l_quantity) AS valid,
           count(*) - count(l_quantity) AS nans,
           round(avg(l_quantity), 6) AS mean,
           round(stddev_samp(l_quantity), 6) AS std,
           round(min(l_quantity), 2) AS min,
           round(quantile_cont(l_quantity, 0.10), 6) AS p10,
           round(quantile_cont(l_quantity, 0.25), 6) AS p25,
           round(quantile_cont(l_quantity, 0.50), 6) AS p50,
           round(quantile_cont(l_quantity, 0.75), 6) AS p75,
           round(quantile_cont(l_quantity, 0.90), 6) AS p90,
           round(max(l_quantity), 2) AS max,
           round(any_value(mm.meanm), 6) AS meanm
    FROM lineitem b JOIN mm ON b.l_returnflag = mm.l_returnflag
    GROUP BY b.l_returnflag
    """,
)
def q38(spark: SparkSession, sf: str) -> DataFrame:
    """describe per group — the reference's FULL stat row
    (rt_utils.py:857: Count Valid Nans Mean Std Min P10..P90 Max MeanM;
    MeanM is the positional middle-80% mean). One hash agg + one window
    pass for MeanM."""
    out = gb.describe(load_table(spark, sf, "lineitem"), ["l_returnflag"], "l_quantity")
    return out.select(
        "l_returnflag",
        "count",
        "valid",
        "nans",
        F.round(F.col("mean"), 6).alias("mean"),
        F.round(F.col("std"), 6).alias("std"),
        F.round(F.col("min"), 2).alias("min"),
        F.round(F.col("p10"), 6).alias("p10"),
        F.round(F.col("p25"), 6).alias("p25"),
        F.round(F.col("p50"), 6).alias("p50"),
        F.round(F.col("p75"), 6).alias("p75"),
        F.round(F.col("p90"), 6).alias("p90"),
        F.round(F.col("max"), 2).alias("max"),
        F.round(F.col("meanm"), 6).alias("meanm"),
    )
