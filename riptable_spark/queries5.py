"""Driver-contract query registry, batch 5 (round 2): scale-safe LSH
embedding dedup, Categorical modes (enum/Dictionary/invalid-bin),
move_* rolling arg-ops, TimeSpan/DateSpan arithmetic, searchsorted
against an array side.
Registers into the same QUERIES/ORACLES dicts as queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .operators import categorical as cat
from .operators import groupby as gb
from .operators import similarity
from .queries import query
from .sources.io import load_table


_LSH_TABLES = similarity.lsh_tables(dim=64, n_tables=4, bits_per_table=4)
_SIG_COLS = ", ".join(f"({similarity.lsh_bucket_sql(t)}) AS sig_{i}" for i, t in enumerate(_LSH_TABLES))
_SIG_MATCH = " OR ".join(f"a.sig_{i} = b.sig_{i}" for i in range(len(_LSH_TABLES)))
_COS = (
    "list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])"
    " / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))"
    " * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))"
)


@query(
    "q114_lsh_dedup",
    f"""
    WITH sigs AS (SELECT vec_id, embedding, {_SIG_COLS} FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, round({_COS}, 4) AS cos_sim
    FROM sigs a JOIN sigs b ON a.vec_id < b.vec_id AND ({_SIG_MATCH})
    WHERE {_COS} >= 0.4
    """,
)
def q114(spark: SparkSession, sf: str) -> DataFrame:
    """Scale-safe embedding near-dup dedup (VERDICT r1 next-round #5):
    LSH-bucket candidate generation (equi-join on (table, bucket) — never
    a cartesian) → exact cosine verify within buckets. q108's all-pairs
    form stays as the exact-recall oracle baseline; this is the plan that
    survives 100 TB. The oracle replays the identical hyperplanes as SQL
    literals, so candidate sets match bit-for-bit."""
    e = load_table(spark, sf, "embeddings")
    out = similarity.lsh_dedup_pairs(e, dim=64, threshold=0.4, n_tables=4, bits_per_table=4)
    return out.select("id_a", "id_b", F.round("cos_sim", 4).alias("cos_sim"))


# =====================================================================
# Categorical modes (rt_enum.py:848 CategoryMode; VERDICT r1 missing #1)
# =====================================================================

@query(
    "q115_cat_enum",
    """
    SELECT CASE WHEN l_linenumber = 1 THEN 'ONE'
                WHEN l_linenumber = 2 THEN 'TWO'
                WHEN l_linenumber = 3 THEN 'THREE'
                ELSE '!<' || CAST(l_linenumber AS VARCHAR) || '>' END AS bin,
           count(*) AS n, round(sum(l_quantity), 2) AS qty
    FROM lineitem GROUP BY 1
    """,
)
def q115(spark: SparkSession, sf: str) -> DataFrame:
    """IntEnum/Dictionary-mode Categorical (rt_categorical.py:2563 enum
    ctor): integer codes grouped under a caller-supplied code→name
    mapping; codes absent from the mapping surface as !<code> instead of
    being dropped (rt_categorical.py:823-849). The mapping compiles to a
    literal CASE — pure codegen, no dictionary shuffle."""
    li = load_table(spark, sf, "lineitem")
    label = cat.enum_label(F.col("l_linenumber"), {1: "ONE", 2: "TWO", 3: "THREE"})
    return li.groupBy(label.alias("bin")).agg(
        gb.count().alias("n"), F.round(F.sum("l_quantity"), 2).alias("qty")
    )


@query(
    "q116_cat_filtered_bin0",
    """
    SELECT 'Filtered' AS bin,
           round(sum(l_quantity), 2) AS qty, count(*) AS n
    FROM lineitem WHERE l_returnflag NOT IN ('A', 'N')
    UNION ALL
    SELECT l_returnflag AS bin,
           round(sum(l_quantity), 2) AS qty, count(*) AS n
    FROM lineitem WHERE l_returnflag IN ('A', 'N')
    GROUP BY l_returnflag
    """,
)
def q116(spark: SparkSession, sf: str) -> DataFrame:
    """StringArray-mode Categorical with a restricted dictionary
    (rt_categorical.py:1284: values outside `categories` land in bin 0)
    aggregated with showfilter=True (rt_groupbyops.py:341): the Filtered
    bin leads the result. Out-of-dictionary routing is a literal-map
    lookup, the Filtered row a shuffle-free global agg."""
    li = load_table(spark, sf, "lineitem")
    return cat.cat_agg(
        li,
        F.col("l_returnflag"),
        ["A", "N"],
        {"qty": F.round(F.sum("l_quantity"), 2), "n": gb.count()},
        showfilter=True,
    )


@query(
    "q117_cat_hstack",
    """
    SELECT code,
           CASE code WHEN 0 THEN 'Filtered' WHEN 1 THEN 'click' WHEN 2 THEN 'view'
                     WHEN 3 THEN 'purchase' WHEN 4 THEN 'signup' WHEN 5 THEN 'error' END AS bin,
           count(*) AS n
    FROM (
        SELECT CASE WHEN event_type = 'click' THEN 1 WHEN event_type = 'view' THEN 2
                    WHEN event_type = 'purchase' THEN 3 ELSE 0 END AS code
        FROM events WHERE user_id % 2 = 0
        UNION ALL
        SELECT CASE WHEN event_type = 'signup' THEN 4 WHEN event_type = 'view' THEN 2
                    WHEN event_type = 'error' THEN 5 ELSE 0 END AS code
        FROM events WHERE user_id % 2 = 1
    ) GROUP BY code
    """,
)
def q117(spark: SparkSession, sf: str) -> DataFrame:
    """Categorical hstack with code re-mapping (rt_grouping.py:136
    merge_cats): two parts with different category dictionaries stack
    into one Categorical whose codes index the unified first-seen
    dictionary; each part's out-of-dictionary rows keep bin 0. The
    re-map is a per-part literal projection + metadata-only union —
    zero shuffles before the final count."""
    ev = load_table(spark, sf, "events")
    p1 = ev.where(F.col("user_id") % 2 == 0)
    p2 = ev.where(F.col("user_id") % 2 == 1)
    stacked, unified = cat.hstack_categoricals(
        [(p1, "event_type"), (p2, "event_type")],
        [["click", "view", "purchase"], ["signup", "view", "error"]],
    )
    label = F.when(F.col("code") == 0, F.lit(cat.FILTERED_LABEL)).otherwise(
        cat.enum_label(F.col("code"), {i + 1: v for i, v in enumerate(unified)})
    )
    return stacked.groupBy("code").agg(gb.count().alias("n")).select(
        "code", label.alias("bin"), "n"
    )


# =====================================================================
# move_* rolling arg-ops (rt_fastarray.py:2688-2699; VERDICT r1 missing #2)
# =====================================================================

@query(
    "q118_move_argops",
    """
    SELECT event_id,
           CASE WHEN count(value) OVER w >= 5
                THEN list_position(list_reverse(list(value) OVER w), list_min(list(value) OVER w)) - 1
           END AS argmin5,
           CASE WHEN count(value) OVER w >= 5
                THEN list_position(list_reverse(list(value) OVER w), list_max(list(value) OVER w)) - 1
           END AS argmax5,
           CASE WHEN count(value) OVER w >= 5
                THEN round(list_sum(list_transform(list(value) OVER w,
                         x -> CASE WHEN value > x THEN 1.0 WHEN value < x THEN -1.0 ELSE 0.0 END)) / 4.0, 6)
           END AS mrank5
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                 ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    """,
)
def q118(spark: SparkSession, sf: str) -> DataFrame:
    """move_argmin/move_argmax/move_rank (rt_fastarray.py:2688-2699 →
    bottleneck): rolling offset-of-extremum and sign-mean rank with the
    full-window (min_count=window) contract. Array expressions over the
    window frame — JVM codegen, no UDF; the oracle mirrors the identical
    list formulation in DuckDB."""
    from .operators import window as win

    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(F.unix_micros("ts"), F.col("event_id"))
    return ev.select(
        "event_id",
        win.move_argmin(F.col("value"), w, 5).alias("argmin5"),
        win.move_argmax(F.col("value"), w, 5).alias("argmax5"),
        F.round(win.move_rank(F.col("value"), w, 5), 6).alias("mrank5"),
    )


# =====================================================================
# TimeSpan/DateSpan typed arithmetic (rt_datetime.py:2311-2346; VERDICT #3)
# =====================================================================

@query(
    "q119_spans",
    """
    WITH spans AS (
        SELECT user_id,
               max(ts) - min(ts) AS tspan,
               min(ts) AS t0
        FROM events GROUP BY user_id
    )
    SELECT user_id,
           CAST(epoch_us(t0 + tspan) - epoch_us(t0) AS BIGINT) AS span_us,
           CAST(floor((epoch_us(t0 + tspan) - epoch_us(t0)) / 1000000) AS BIGINT) AS span_s,
           CAST(floor((epoch_us(t0 + tspan) - epoch_us(t0)) / 86400000000) AS BIGINT) AS span_d,
           CAST(epoch_us(t0 + tspan) AS BIGINT) AS t_end_us
    FROM spans
    """,
)
def q119(spark: SparkSession, sf: str) -> DataFrame:
    """TimeSpan typed arithmetic (rt_datetime.py:2311-2346):
    DateTimeNano−DateTimeNano→TimeSpan (DayTimeIntervalType, codegen),
    DateTimeNano+TimeSpan→DateTimeNano round-trip, plus TimeSpan
    accessors (total µs / s / whole days). The span stays a typed
    interval inside the plan; only the accessors project it to scalars
    for the oracle compare."""
    from .functions import spans as sp

    ev = load_table(spark, sf, "events")
    agg = ev.groupBy("user_id").agg(
        F.max("ts").alias("t_max"), F.min("ts").alias("t0")
    )
    spanned = agg.withColumn("tspan", sp.ts_diff_span(F.col("t_max"), F.col("t0")))
    return spanned.select(
        "user_id",
        sp.span_micros(F.col("tspan")).alias("span_us"),
        sp.span_seconds(F.col("tspan")).alias("span_s"),
        sp.span_days(F.col("tspan")).alias("span_d"),
        F.unix_micros(sp.ts_add_span(F.col("t0"), F.col("tspan"))).alias("t_end_us"),
    )


@query(
    "q120_datespans",
    """
    SELECT o_custkey,
           CAST(date_diff('day', min(o_orderdate)::DATE, max(o_orderdate)::DATE) AS INTEGER) AS dspan,
           CAST(epoch_us((min(o_orderdate)::DATE + CAST(date_diff('day', min(o_orderdate)::DATE, max(o_orderdate)::DATE) AS INTEGER))::TIMESTAMP) AS BIGINT) AS d_end_us,
           CAST(epoch_us((max(o_orderdate)::DATE - CAST(date_diff('day', min(o_orderdate)::DATE, max(o_orderdate)::DATE) AS INTEGER))::TIMESTAMP) AS BIGINT) AS d_start_us
    FROM orders GROUP BY o_custkey
    """,
)
def q120(spark: SparkSession, sf: str) -> DataFrame:
    """DateSpan typed arithmetic (rt_datetime.py:2311 rules):
    Date−Date→DateSpan (int days), Date+DateSpan→Date,
    Date−DateSpan→Date — pure codegen date algebra."""
    from .functions import spans as sp

    o = load_table(spark, sf, "orders")
    agg = o.groupBy("o_custkey").agg(
        F.min("o_orderdate").alias("d_min"), F.max("o_orderdate").alias("d_max")
    )
    span = sp.date_diff_span(F.col("d_max"), F.col("d_min"))
    return agg.select(
        "o_custkey",
        span.alias("dspan"),
        # project dates to epoch µs for the comparator: raw timestamp /
        # date outputs are the one dtype class the driver-side compare
        # handles inconsistently (r1 notes), so every contract query
        # returns epoch numbers instead
        F.unix_micros(sp.date_add_span(F.col("d_min"), span).cast("timestamp")).alias("d_end_us"),
        F.unix_micros(sp.date_sub_span(F.col("d_max"), span).cast("timestamp")).alias("d_start_us"),
    )


# =====================================================================
# searchsorted vs array side + leftplus (rt_numpy.py:701; VERDICT #4/#9)
# =====================================================================

@query(
    "q121_searchsorted_array",
    """
    SELECT c.c_custkey,
           CAST((SELECT count(*) FROM supplier s WHERE s.s_acctbal < c.c_acctbal) AS INTEGER) AS idx_left,
           CAST((SELECT count(*) FROM supplier s WHERE s.s_acctbal <= c.c_acctbal) AS INTEGER) AS idx_right,
           CAST(CASE WHEN c.c_acctbal > (SELECT max(s_acctbal) FROM supplier) THEN 0
                ELSE (SELECT count(*) FROM supplier s WHERE s.s_acctbal < c.c_acctbal)
           END AS INTEGER) AS idx_leftplus
    FROM customer c
    """,
)
def q121(spark: SparkSession, sf: str) -> DataFrame:
    """searchsorted with an ARRAY side + riptable's 'leftplus'
    (rt_numpy.py:701): each customer's acctbal insertion index into the
    sorted supplier acctbal relation. Broadcast-array path: the bounds
    relation collapses to one sorted array (a single tiny agg) broadcast
    everywhere; the index is a codegen filter-count — the big side never
    shuffles. 'leftplus' maps beyond-last-boundary values to 0. The
    union+window rewrite (window.searchsorted_union) is the
    no-broadcast scale path, tested for agreement in unit tests."""
    from .functions import math as fm

    c = load_table(spark, sf, "customer")
    s = load_table(spark, sf, "supplier")
    out = fm.searchsorted_against(c, F.col("c_acctbal"), s, "s_acctbal", side="left", out_col="idx_left")
    out = fm.searchsorted_against(out, F.col("c_acctbal"), s, "s_acctbal", side="right", out_col="idx_right")
    out = fm.searchsorted_against(out, F.col("c_acctbal"), s, "s_acctbal", side="leftplus", out_col="idx_leftplus")
    return out.select("c_custkey", "idx_left", "idx_right", "idx_leftplus")


# =====================================================================
# Ungrouped shift via boundary exchange (VERDICT r1 what's-wrong #3 / #8)
# =====================================================================

@query(
    "q122_shift_global",
    """
    SELECT event_id,
           round(value - lag(value, 1) OVER (ORDER BY epoch_us(ts), event_id), 4) AS d1,
           round(lead(value, 2) OVER (ORDER BY epoch_us(ts), event_id), 4) AS fwd2
    FROM events
    """,
)
def q122(spark: SparkSession, sf: str) -> DataFrame:
    """Whole-table shift/diff (rt_fastarray.py:4046 shift without a
    groupby): the boundary-exchange rewrite — deterministic rowid, lag
    within rowid blocks, block-edge rows patched via a broadcast of
    |n|·#blocks donor rows. No single-partition Window touches the data
    (plan-asserted in tests); the naive global Window.orderBy is exactly
    the scale hazard VERDICT r1 flagged."""
    from .operators import window as win

    ev = load_table(spark, sf, "events").withColumn("t_us", F.unix_micros("ts"))
    # keep_rowid chains the two ungrouped ops on ONE rowid stamping
    # (the rowid machinery includes an eager approxQuantile pass; the
    # order keys are identical and unique, so the rowids are identical)
    d = win.diff_ungrouped(ev, {"d1": "value"}, 1, ["t_us", "event_id"], keep_rowid=True)
    s = win.shift_ungrouped(d, {"fwd2": "value"}, -2, ["t_us", "event_id"])
    return s.select("event_id", F.round("d1", 4).alias("d1"), F.round("fwd2", 4).alias("fwd2"))


# =====================================================================
# gbrows — row-wise groupby (rt_dataset.py:6394; the last absent §2 row)
# =====================================================================

@query(
    "q123_gbrows",
    """
    SELECT l_orderkey, l_linenumber,
           round(l_quantity + l_extendedprice + l_discount + l_tax, 4) AS row_sum,
           round(least(l_quantity, l_extendedprice, l_discount, l_tax), 4) AS row_min,
           round(greatest(l_quantity, l_extendedprice, l_discount, l_tax), 4) AS row_max,
           CAST(4 AS INTEGER) AS row_count
    FROM lineitem
    """,
)
def q123(spark: SparkSession, sf: str) -> DataFrame:
    """gbrows (rt_dataset.py:6394): per-row aggregation across the
    numeric columns — a horizontal array reduction in codegen, zero
    shuffles. (The oracle's least/greatest form is valid because these
    columns are non-NULL in TPC-H data; the operator itself is
    NULL-skipping.)"""
    from .operators import groupby as gbops

    li = load_table(spark, sf, "lineitem")
    out = gbops.gbrows(
        li,
        ["sum", "min", "max", "count"],
        id_cols=["l_orderkey", "l_linenumber"],
        columns=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
    )
    return out.select(
        "l_orderkey", "l_linenumber",
        F.round("row_sum", 4).alias("row_sum"),
        F.round("row_min", 4).alias("row_min"),
        F.round("row_max", 4).alias("row_max"),
        "row_count",
    )


# =====================================================================
# FAString extras + regression extras (VERDICT missing #7/#8)
# =====================================================================

@query(
    "q124_index_any_of",
    """
    SELECT o_orderkey,
           CAST(coalesce(least(nullif(strpos(lower(o_orderpriority), 'h'), 0),
                               nullif(strpos(lower(o_orderpriority), 'g'), 0),
                               nullif(strpos(lower(o_orderpriority), '5'), 0)), 0) - 1 AS INTEGER) AS idx
    FROM orders
    """,
)
def q124(spark: SparkSession, sf: str) -> DataFrame:
    """FAString index_any_of/strpbrk (rt_str.py:621) executed with the
    apply_unique trick (rt_str.py:93-113): the expression runs over the 5
    DISTINCT priority strings only, then broadcast-joins back — the
    uniques-only execution riptable uses for Categorical strings.
    (DuckDB least() skips NULLs, mirroring the drop-the-misses filter.)"""
    from .functions import strings as st

    o = load_table(spark, sf, "orders")
    out = st.apply_unique(
        o, "o_orderpriority", lambda c: st.index_any_of(F.lower(c), "hg5"), "idx"
    )
    return out.select("o_orderkey", "idx")


_DET3 = "(({a})*(({e})*({i})-({f})*({h})) - ({b})*(({d})*({i})-({f})*({g})) + ({c})*(({d})*({h})-({e})*({g})))"


def _det3(a, b, c, d, e, f, g, h, i) -> str:
    return _DET3.format(a=a, b=b, c=c, d=d, e=e, f=f, g=g, h=h, i=i)


def _polyfit_oracle() -> str:
    D = _det3("s0", "s1", "s2", "s1", "s2", "s3", "s2", "s3", "s4")
    c0 = _det3("t0", "s1", "s2", "t1", "s2", "s3", "t2", "s3", "s4")
    c1 = _det3("s0", "t0", "s2", "s1", "t1", "s3", "s2", "t2", "s4")
    c2 = _det3("s0", "s1", "t0", "s1", "s2", "t1", "s2", "s3", "t2")
    return f"""
    WITH m AS (
        SELECT count(*)::DOUBLE AS s0, sum(x) AS s1, sum(x*x) AS s2,
               sum(x*x*x) AS s3, sum(x*x*x*x) AS s4,
               sum(y) AS t0, sum(x*y) AS t1, sum(x*x*y) AS t2
        FROM (SELECT l_quantity::DOUBLE AS x, l_extendedprice::DOUBLE AS y FROM lineitem)
    )
    SELECT round({c0} / {D}, 4) AS c0,
           round({c1} / {D}, 4) AS c1,
           round({c2} / {D}, 4) AS c2
    FROM m
    """


@query("q125_polyfit", _polyfit_oracle())
def q125(spark: SparkSession, sf: str) -> DataFrame:
    """polyFit degree 2 (rt_stats.py:230): the distributed part is ONE
    map-side-combined aggregation of the normal-equation moments (exact
    here — integer-valued x keeps Σx^k in the 2^53 exact-integer range);
    the 3×3 solve runs on the driver. Oracle solves the same system via
    Cramer's rule in SQL."""
    from .functions import stats as rs

    li = load_table(spark, sf, "lineitem")
    c = rs.polyfit(li, "l_quantity", "l_extendedprice", d=2)
    return spark.createDataFrame(
        [(round(c[0], 4), round(c[1], 4), round(c[2], 4))], ["c0", "c1", "c2"]
    )


# =====================================================================
# AccumTable gen report (rt_accumtable.py:442/584; VERDICT missing #6)
# =====================================================================

@query(
    "q126_accumtable_gen",
    """
    SELECT l_returnflag AS rk,
           round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS F,
           round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS O,
           round(sum(l_quantity), 2) AS SumQty,
           CAST(count(*) AS DOUBLE) AS "Count",
           round(avg(l_extendedprice), 2) AS MeanPrice
    FROM lineitem GROUP BY l_returnflag
    UNION ALL
    SELECT 'SumQty', round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2),
           round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2),
           round(sum(l_quantity), 2), NULL, NULL
    FROM lineitem
    UNION ALL
    SELECT 'Count', CAST(count(CASE WHEN l_linestatus = 'F' THEN 1 END) AS DOUBLE),
           CAST(count(CASE WHEN l_linestatus = 'O' THEN 1 END) AS DOUBLE),
           NULL, CAST(count(*) AS DOUBLE), NULL
    FROM lineitem
    UNION ALL
    SELECT 'MeanPrice', round(avg(CASE WHEN l_linestatus = 'F' THEN l_extendedprice END), 2),
           round(avg(CASE WHEN l_linestatus = 'O' THEN l_extendedprice END), 2),
           NULL, NULL, round(avg(l_extendedprice), 2)
    FROM lineitem
    """,
)
def q126(spark: SparkSession, sf: str) -> DataFrame:
    """AccumTable.gen report (rt_accumtable.py:442): main cross-tab
    ('SumQty' over returnflag × linestatus) + margin columns for every
    inner table (main's first) + stacked footer rows, each inner table's
    column totals with its grand total at its own margin column. One
    shuffle for the body, one shuffle-free global agg for all footers."""
    from .operators.accum import AccumTable

    li = load_table(spark, sf, "lineitem").withColumnRenamed("l_returnflag", "rk")
    at = AccumTable(li, "rk", "l_linestatus", pivot_values=["F", "O"])
    at.add("SumQty", F.sum, "l_quantity")
    at.add("Count", F.count, F.lit(1))
    at.add("MeanPrice", F.avg, "l_extendedprice")
    out = at.gen("SumQty")
    return out.select(
        "rk",
        F.round("F", 2).alias("F"),
        F.round("O", 2).alias("O"),
        F.round("SumQty", 2).alias("SumQty"),
        F.col("Count"),
        F.round("MeanPrice", 2).alias("MeanPrice"),
    )


# =====================================================================
# Jaccard with document-frequency cap + named lexsort (round-2 extras)
# =====================================================================

@query(
    "q127_jaccard_dfcap",
    """
    WITH ex AS (
        SELECT DISTINCT doc_id, s AS shingle FROM (
            SELECT doc_id, unnest(list_transform(
                       range(1, greatest(len(w) - 2, 1) + 1),
                       i -> array_to_string(w[i:i+2], ' '))) AS s
            FROM (SELECT doc_id, string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS w
                  FROM documents WHERE doc_id < 300 AND text IS NOT NULL)
        )
    ),
    nd AS (SELECT count(DISTINCT doc_id) AS n FROM (SELECT doc_id FROM documents WHERE doc_id < 300)),
    keep AS (
        SELECT shingle FROM ex GROUP BY shingle
        HAVING count(*) <= (SELECT CAST(floor(0.10 * n) AS BIGINT) FROM nd)
    ),
    fx AS (SELECT ex.doc_id, ex.shingle FROM ex JOIN keep USING (shingle)),
    sizes AS (SELECT doc_id, count(*) AS sz FROM fx GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
        FROM fx a JOIN fx b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b,
           round(n_shared / (sa.sz + sb.sz - n_shared), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE n_shared / (sa.sz + sb.sz - n_shared) >= 0.2
    """,
)
def q127(spark: SparkSession, sf: str) -> DataFrame:
    """n-gram Jaccard with the document-frequency cap (VERDICT r1: the
    stopword-shingle skew guard). Shingles present in >10% of documents
    are dropped before the shingle-keyed self-join — the ubiquitous-
    shingle bucket is the O(n²) skew hazard at 100 TB. Jaccard is exact
    over the filtered shingle universe; the oracle replays the cap in
    SQL."""
    from .operators import dedup

    d = load_table(spark, sf, "documents").where(F.col("doc_id") < 300)
    out = dedup.ngram_jaccard_pairs(
        d, "text", "doc_id", n=3, threshold=0.2, max_doc_freq_frac=0.10
    )
    return out.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


@query(
    "q128_lexsort",
    """
    SELECT event_id,
           CAST(row_number() OVER (ORDER BY user_id, value, event_id) - 1 AS BIGINT) AS lexsort_rank
    FROM events
    """,
)
def q128(spark: SparkSession, sf: str) -> DataFrame:
    """Named lexsort (numpy convention: LAST key primary — keys
    (event_id, value, user_id) sort by user_id, then value, then the
    unique event_id tiebreak). The rank is the scale-safe deterministic
    global index (range-bucketed ranks + broadcast offsets), not a
    single-partition row_number."""
    from .operators import window as win

    ev = load_table(spark, sf, "events")
    out = win.lexsort_rank(ev, ["event_id", "value", "user_id"])
    return out.select("event_id", "lexsort_rank")


# =====================================================================
# FastArray.apply / apply_numba elementwise UDF surface (§2.10 partial)
# =====================================================================

@query(
    "q129_fa_apply",
    """
    SELECT l_orderkey, l_linenumber,
           floor(l_extendedprice::DOUBLE * (1 - l_discount::DOUBLE) / (1 + l_tax::DOUBLE) * 10000 + 0.5) / 10000 AS net
    FROM lineitem
    """,
)
def q129(spark: SparkSession, sf: str) -> DataFrame:
    """FastArray.apply/apply_numba (rt_fastarray.py:6052): elementwise
    user function over columns via mapInPandas — Arrow batches, numpy
    vectorized on the executor, zero shuffles. (This is the honest UDF
    surface demo; the same formula as a built-in expression would of
    course stay in codegen — see q01.)"""
    from .operators import apply as ap

    li = load_table(spark, sf, "lineitem")
    # float32 parquet columns must be promoted BEFORE the arithmetic —
    # numpy would otherwise compute in float32 while the oracle promotes
    # each stored float to double first
    for c in ("l_extendedprice", "l_discount", "l_tax"):
        li = li.withColumn(c, F.col(c).cast("double"))
    out = ap.fa_apply(
        li,
        lambda p, d, t: p * (1 - d) / (1 + t),
        ["l_extendedprice", "l_discount", "l_tax"],
        out_col="net",
    )
    # floor-based rounding: F.round rounds the decimal STRING repr while
    # DuckDB rounds the raw binary — they disagree on exact .5 ties,
    # which this formula generates constantly from 2dp inputs. floor on
    # the raw double is bit-identical in both engines.
    net4 = F.floor(F.col("net") * 10000 + F.lit(0.5)) / 10000
    return out.select("l_orderkey", "l_linenumber", net4.alias("net"))


# =====================================================================
# Multikey Categorical hstack (rt_grouping.py:277 hash path; the
# reference's mapping-path TODO at rt_grouping.py:179 is resolved here)
# =====================================================================

@query(
    "q130_cat_hstack_multikey",
    """
    SELECT code, count(*) AS n, round(sum(l_quantity), 2) AS qty
    FROM (
        SELECT CASE WHEN l_returnflag = 'A' AND l_linestatus = 'F' THEN 1
                    WHEN l_returnflag = 'N' AND l_linestatus = 'O' THEN 2
                    ELSE 0 END AS code, l_quantity
        FROM lineitem WHERE l_orderkey % 2 = 0
        UNION ALL
        SELECT CASE WHEN l_returnflag = 'N' AND l_linestatus = 'O' THEN 2
                    WHEN l_returnflag = 'R' AND l_linestatus = 'F' THEN 3
                    ELSE 0 END AS code, l_quantity
        FROM lineitem WHERE l_orderkey % 2 = 1
    ) GROUP BY code
    """,
)
def q130(spark: SparkSession, sf: str) -> DataFrame:
    """Multikey Categorical hstack (rt_grouping.py:277 hstack_groupings:
    uniques arrive as a LIST of key arrays — the tuple key): two parts
    with different (returnflag, linestatus) tuple dictionaries stack into
    one Categorical coded against the unified first-seen tuple order;
    per-part out-of-dictionary tuples keep bin 0. The re-map is a
    BROADCAST join per part (dictionaries can be ~10^6 tuples — the
    reference cites OSI option symbols — so no literal CASE), then a
    metadata-only union; the only data shuffle is the final count."""
    li = load_table(spark, sf, "lineitem")
    p1 = li.where(F.col("l_orderkey") % 2 == 0)
    p2 = li.where(F.col("l_orderkey") % 2 == 1)
    stacked, unified = cat.hstack_categoricals_multikey(
        [(p1, ["l_returnflag", "l_linestatus"]), (p2, ["l_returnflag", "l_linestatus"])],
        [[("A", "F"), ("N", "O")], [("N", "O"), ("R", "F")]],
    )
    return stacked.groupBy("code").agg(
        gb.count().alias("n"), F.round(F.sum("l_quantity"), 2).alias("qty")
    )
