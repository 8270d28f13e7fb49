"""Driver-contract query registry, batch 3: remaining SURVEY §2 surface —
ema_weighted, cummin/cummax, interp, searchsorted, rankdata, set ops,
transitions, checksums, regression stats, document fingerprinting,
LSH/IVF vector ops, resample, accum_cols, strict pivot, apply_nonreduce,
CSV source, merge validate, multimodal plumbing.
Registers into the same QUERIES/ORACLES dicts as queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions import datetime as dtf, math as m
from .operators import apply as ap, ema, merge, reshape, similarity, text, window as win
from .operators import groupby as gb
from .queries import query
from .sources.io import load_table


# =====================================================================
# EMA / windows
# =====================================================================

@query(
    "q72_ema_weighted",
    """
    WITH base AS (
        SELECT event_id, user_id, value,
               row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS rn
        FROM events
    )
    SELECT event_id,
           round(pow(0.8, rn - 1) *
                 sum((CASE WHEN rn = 1 THEN value ELSE 0.2 * value END) / pow(0.8, rn - 1))
                 OVER (PARTITION BY user_id ORDER BY rn ROWS UNBOUNDED PRECEDING), 4) AS ema
    FROM base
    """,
)
def q72(spark: SparkSession, sf: str) -> DataFrame:
    """ema_weighted (rt_groupbyops.py:3438): fixed-weight EWMA in row
    order, last = x·(1−decay_rate) + last·decay_rate (decay_rate weights
    the OLD value, per the reference), seeded with x₀. The
    oracle uses the closed form y_i = (1−α)^i·Σ c_j/(1−α)^j (safe here:
    max group length ≪ the double-overflow horizon)."""
    ev = (
        load_table(spark, sf, "events")
        .withColumn("t_us", F.unix_micros("ts"))
        .select("event_id", "user_id", "t_us", "value")
    )
    out = ema.ema_weighted(ev, ["user_id"], "value", decay_rate=0.8, order_col=["t_us", "event_id"], out_col="ema_raw")
    return out.select("event_id", F.round("ema_raw", 4).alias("ema"))


@query(
    "q73_cummin_cummax",
    """
    SELECT l_orderkey, l_linenumber,
           round(min(l_extendedprice) OVER w, 2) AS run_min_price,
           round(max(l_quantity) OVER w, 2) AS run_max_qty
    FROM lineitem
    WINDOW w AS (PARTITION BY l_orderkey
                 ORDER BY l_linenumber, l_extendedprice, l_quantity
                 ROWS UNBOUNDED PRECEDING)
    """,
)
def q73(spark: SparkSession, sf: str) -> DataFrame:
    """cummin/cummax (rt_groupbyops.py:3182/3211) on the per-order row
    order — running extremes inside one window partition. (l_orderkey,
    l_linenumber) is not unique in this synthetic data, so the tie-break
    extends the order by the value columns themselves — rows tied on all
    three cannot change a running extreme."""
    li = load_table(spark, sf, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "l_extendedprice", "l_quantity"
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(win.cummin(F.col("l_extendedprice"), w), 2).alias("run_min_price"),
        F.round(win.cummax(F.col("l_quantity"), w), 2).alias("run_max_qty"),
    )


@query(
    "q74_interp",
    """
    SELECT event_id,
           round(CASE
             WHEN value <= 0   THEN 0.0
             WHEN value >= 100 THEN 50.0
             WHEN value < 10   THEN 0.0  + (value - 0)  * (5.0 - 0.0)  / 10.0
             WHEN value < 50   THEN 5.0  + (value - 10) * (20.0 - 5.0) / 40.0
             ELSE 20.0 + (value - 50) * (50.0 - 20.0) / 50.0
           END, 6) AS y
    FROM events
    """,
)
def q74(spark: SparkSession, sf: str) -> DataFrame:
    """interp (rt_numpy.py:5333): piecewise-linear interpolation of
    events.value against the sample curve (0,10,50,100)→(0,5,20,50);
    literal curve folds to a codegen when-chain — zero shuffles."""
    xp, fp = [0.0, 10.0, 50.0, 100.0], [0.0, 5.0, 20.0, 50.0]
    v = F.col("value")
    expr = F.when(v <= xp[0], F.lit(fp[0]))
    for i in range(1, len(xp)):
        slope = (fp[i] - fp[i - 1]) / (xp[i] - xp[i - 1])
        expr = expr.when(v < xp[i], fp[i - 1] + (v - xp[i - 1]) * slope)
    expr = expr.otherwise(F.lit(fp[-1]))
    return load_table(spark, sf, "events").select("event_id", F.round(expr, 6).alias("y"))


@query(
    "q75_searchsorted",
    """
    SELECT (CASE WHEN value >= 5 THEN 1 ELSE 0 END + CASE WHEN value >= 25 THEN 1 ELSE 0 END
          + CASE WHEN value >= 75 THEN 1 ELSE 0 END + CASE WHEN value >= 150 THEN 1 ELSE 0 END) AS idx,
           count(*) AS n
    FROM events GROUP BY 1
    """,
)
def q75(spark: SparkSession, sf: str) -> DataFrame:
    """searchsorted (rt_numpy.py:701) vs literal sorted boundaries:
    insertion index = #boundaries ≤ x, folded into codegen."""
    ev = load_table(spark, sf, "events")
    return ev.groupBy(
        m.searchsorted(F.col("value"), [5.0, 25.0, 75.0, 150.0]).alias("idx")
    ).agg(gb.count().alias("n"))


@query(
    "q76_rankdata",
    """
    SELECT s_suppkey,
           round(rank() OVER (ORDER BY s_acctbal)
                 + (count(*) OVER (PARTITION BY s_acctbal) - 1) / 2.0, 1) AS rk
    FROM supplier
    """,
)
def q76(spark: SparkSession, sf: str) -> DataFrame:
    """rankdata average-method global ranks (rt_fastarray.py:2710).
    Scale path: ranks are computed on the DISTINCT value set (tiny) and
    broadcast-joined back — no global sort of the full table."""
    s = load_table(spark, sf, "supplier")
    out = win.rankdata(s.select("s_suppkey", "s_acctbal"), "s_acctbal", out_col="rk")
    return out.select("s_suppkey", F.round("rk", 1).alias("rk"))


# =====================================================================
# Set ops / ordered flags
# =====================================================================

@query(
    "q77_intersect_except",
    """
    SELECT (SELECT count(*) FROM (SELECT DISTINCT c_nationkey FROM customer
            INTERSECT SELECT DISTINCT s_nationkey FROM supplier)) AS n_both,
           (SELECT count(*) FROM (SELECT DISTINCT c_nationkey FROM customer
            EXCEPT SELECT DISTINCT s_nationkey FROM supplier)) AS n_cust_only
    """,
)
def q77(spark: SparkSession, sf: str) -> DataFrame:
    """intersect/except set ops (SURVEY §2.7 — composed via ismember in
    the reference; native relational ops here)."""
    c = load_table(spark, sf, "customer").select(F.col("c_nationkey").alias("k")).distinct()
    s = load_table(spark, sf, "supplier").select(F.col("s_nationkey").alias("k")).distinct()
    both = c.intersect(s).agg(F.count(F.lit(1)).alias("n_both"))
    only = c.exceptAll(s).agg(F.count(F.lit(1)).alias("n_cust_only"))
    return both.crossJoin(only)


@query(
    "q78_transitions",
    """
    SELECT user_id,
           sum(CASE WHEN event_type IS DISTINCT FROM prev THEN 1 ELSE 0 END)::BIGINT AS n_runs
    FROM (SELECT user_id, event_type,
                 lag(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev
          FROM events)
    GROUP BY user_id
    """,
)
def q78(spark: SparkSession, sf: str) -> DataFrame:
    """differs/transitions (rt_fastarray.py:4153/4220): count run starts
    of event_type per user in time order."""
    ev = load_table(spark, sf, "events").withColumn("t_us", F.unix_micros("ts"))
    w = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    flag = win.run_starts(F.col("event_type"), w)
    return (
        ev.select("user_id", flag.alias("f"))
        .groupBy("user_id")
        .agg(F.sum("f").alias("n_runs"))
    )


@query(
    "q79_checksum",
    """
    SELECT source,
           count(DISTINCT md5(text)) AS n_unique_texts,
           sum(bit_count(doc_id))::BIGINT AS popcount_sum
    FROM documents GROUP BY source
    """,
)
def q79(spark: SparkSession, sf: str) -> DataFrame:
    """hash/checksum surface (crc32c/crc64/bitcount, rt_numpy.py:2489,
    5438): md5 is the engine-portable digest stand-in; bit_count maps
    1:1."""
    d = load_table(spark, sf, "documents")
    return d.groupBy("source").agg(
        F.countDistinct(F.md5("text")).alias("n_unique_texts"),
        F.sum(F.bit_count("doc_id")).alias("popcount_sum"),
    )


@query(
    "q80_regression",
    """
    SELECT l_returnflag,
           round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
           round(regr_intercept(l_extendedprice, l_quantity), 6) AS intercept,
           round(regr_r2(l_extendedprice, l_quantity), 6) AS r2
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q80(spark: SparkSession, sf: str) -> DataFrame:
    """lm/r2 regression stats (rt_stats.py:115/93) per group — native
    partial-aggregable regr_* functions, one shuffle."""
    li = load_table(spark, sf, "lineitem")
    y, x = F.col("l_extendedprice"), F.col("l_quantity")
    return li.groupBy("l_returnflag").agg(
        F.round(F.regr_slope(y, x), 6).alias("slope"),
        F.round(F.regr_intercept(y, x), 6).alias("intercept"),
        F.round(F.regr_r2(y, x), 6).alias("r2"),
    )


# =====================================================================
# Documents / vectors
# =====================================================================

@query(
    "q81_doc_fingerprint",
    """
    SELECT d.doc_id, min(md5(substr(d.text, i.i, 8))) AS fp
    FROM documents d, LATERAL (SELECT unnest(generate_series(1, greatest(len(d.text) - 7, 1))) AS i) i
    GROUP BY d.doc_id
    """,
)
def q81(spark: SparkSession, sf: str) -> DataFrame:
    """Winnowing-style shingle fingerprint: min md5 over all 8-char
    shingles — runs entirely inside codegen (sequence+transform), no
    explode, no shuffle."""
    d = load_table(spark, sf, "documents")
    return d.select("doc_id", text.shingle_fingerprint(F.col("text"), k=8).alias("fp"))


_PLANES8 = similarity._hyperplanes(64, 8)

@query(
    "q82_lsh_buckets",
    f"""
    SELECT ({similarity.lsh_bucket_sql(_PLANES8)}) AS bucket, count(*) AS n
    FROM embeddings GROUP BY 1
    """,
)
def q82(spark: SparkSession, sf: str) -> DataFrame:
    """Random-hyperplane LSH bucketing for ANN (SURVEY §2 beyond-reference
    similarity search): deterministic LCG hyperplanes, sign-bit bucket id.
    The oracle re-derives the same planes as SQL literals."""
    e = load_table(spark, sf, "embeddings")
    b = similarity.lsh_bucket(F.col("embedding"), _PLANES8)
    return e.groupBy(b.alias("bucket")).agg(gb.count().alias("n"))


@query(
    "q83_lsh_topk",
    f"""
    WITH sig AS (SELECT vec_id, embedding, ({similarity.lsh_bucket_sql(_PLANES8)}) AS bkt FROM embeddings),
    q AS (SELECT vec_id AS query_id, embedding AS qv, bkt FROM sig WHERE vec_id % 50 = 0),
    scored AS (
        SELECT q.query_id, v.vec_id,
               list_dot_product(v.embedding::DOUBLE[], q.qv::DOUBLE[])
               / (sqrt(list_dot_product(v.embedding::DOUBLE[], v.embedding::DOUBLE[]))
                * sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[]))) AS score_raw
        FROM sig v JOIN q ON v.bkt = q.bkt
    ),
    ranked AS (
        SELECT query_id, vec_id, round(score_raw, 4) AS score,
               CAST(row_number() OVER (PARTITION BY query_id
                                       ORDER BY score_raw DESC, vec_id) AS INTEGER) AS rank
        FROM scored
    )
    SELECT query_id, vec_id, score, rank FROM ranked
    WHERE rank <= 5 AND query_id != vec_id
    """,
)
def q83(spark: SparkSession, sf: str) -> DataFrame:
    """LSH-bucketed approximate top-k neighbors (scale path of q32's
    brute force): corpus and queries bucketed by hyperplane signature,
    scoring only within-bucket; broadcast of the tiny query side. The
    candidate buckets are deterministic (fixed LCG hyperplanes), so the
    oracle replays bucket assignment + within-bucket ranking in SQL
    (hash-checked; was rows-only in r1)."""
    e = load_table(spark, sf, "embeddings")
    q = e.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = similarity.lsh_topk(e, q, dim=64, k=5, n_planes=8)
    return out.where(F.col("query_id") != F.col("vec_id")).select(
        "query_id", "vec_id", F.round("score", 4).alias("score"), "rank"
    )


# =====================================================================
# Resample / accum extras / reshape extras
# =====================================================================

@query(
    "q84_resample",
    """
    SELECT (floor(epoch(ts) / 900) * 900)::BIGINT AS bucket_s, event_type,
           count(*) AS n, round(sum(value), 2) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def q84(spark: SparkSession, sf: str) -> DataFrame:
    """resample (NotImplementedError in the reference,
    rt_groupbyops.py:3533-3540 — free on Spark): 15-minute bucket ×
    event_type aggregation via epoch floor. The per-bucket reduce is
    count + sum: `value` is 2-decimal data, so round(sum, 2) is
    tie-free across engines, whereas avg of a small bucket lands
    EXACTLY on a rounding boundary (avg of two 2dp values is a 3dp
    half) and 1-ulp summation noise flips the hash at sf0.1."""
    ev = load_table(spark, sf, "events")
    return ev.groupBy(
        F.unix_seconds(dtf.resample_floor(F.col("ts"), 900)).alias("bucket_s"), "event_type"
    ).agg(gb.count().alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))


@query(
    "q85_accum_cols",
    """
    SELECT l_returnflag AS grp, round(sum(l_quantity), 2) AS qty,
           round(avg(l_extendedprice), 4) AS avg_price, count(*) AS n
    FROM lineitem GROUP BY l_returnflag
    UNION ALL
    SELECT 'Total', round(sum(l_quantity), 2), round(avg(l_extendedprice), 4), count(*)
    FROM lineitem
    """,
)
def q85(spark: SparkSession, sf: str) -> DataFrame:
    """accum_cols (rt_accumtable.py:1326): multi-metric column table with
    a Total footer — grouped agg ∪ global agg (the global leg is
    shuffle-free)."""
    li = load_table(spark, sf, "lineitem")
    aggs = [
        F.round(F.sum("l_quantity"), 2).alias("qty"),
        F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        F.count(F.lit(1)).alias("n"),
    ]
    body = li.groupBy(F.col("l_returnflag").alias("grp")).agg(*aggs)
    footer = li.agg(*aggs).select(F.lit("Total").alias("grp"), "qty", "avg_price", "n")
    return body.unionByName(footer)


@query(
    "q86_pivot_strict",
    """
    SELECT n.n_name,
           max(CASE WHEN r.r_name = 'AFRICA' THEN n.n_nationkey END) AS "AFRICA",
           max(CASE WHEN r.r_name = 'AMERICA' THEN n.n_nationkey END) AS "AMERICA",
           max(CASE WHEN r.r_name = 'ASIA' THEN n.n_nationkey END) AS "ASIA",
           max(CASE WHEN r.r_name = 'EUROPE' THEN n.n_nationkey END) AS "EUROPE",
           max(CASE WHEN r.r_name = 'MIDDLE EAST' THEN n.n_nationkey END) AS "MIDDLE EAST"
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY n.n_name
    """,
)
def q86(spark: SparkSession, sf: str) -> DataFrame:
    """Dataset.pivot strict reshape (rt_dataset.py:7987 — no aggregation,
    unique label×column combos): pivot with explicit values (no
    distinct-scan) over the nation→region dimension."""
    n = load_table(spark, sf, "nation")
    r = load_table(spark, sf, "region")
    joined = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    return reshape.pivot_strict(
        joined, "n_name", "r_name", "n_nationkey",
        pivot_values=["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    )


# =====================================================================
# UDF surface / sources / join validation / multimodal
# =====================================================================

@query(
    "q87_apply_nonreduce",
    """
    SELECT event_id,
           round((value - avg(value) OVER (PARTITION BY user_id))
                 / stddev_samp(value) OVER (PARTITION BY user_id), 4) AS z
    FROM events
    """,
)
def q87(spark: SparkSession, sf: str) -> DataFrame:
    """apply_nonreduce (rt_groupbyops.py:462): per-group same-length
    transform through the Arrow applyInPandas path, checked against the
    SQL window formula — validates the whole UDF plumbing."""
    ev = load_table(spark, sf, "events").select("event_id", "user_id", "value")

    def zscore(x):
        return (x - x.mean()) / x.std(ddof=1)

    out = ap.apply_nonreduce(ev, ["user_id"], "value", zscore, out_col="z")
    return out.select("event_id", F.round("z", 4).alias("z"))


@query(
    "q88_csv_roundtrip",
    """
    SELECT count(*) AS n, sum(n_nationkey)::BIGINT AS key_sum,
           count(DISTINCT n_regionkey) AS n_regions
    FROM nation
    """,
)
def q88(spark: SparkSession, sf: str) -> DataFrame:
    """CSV source (load_csv_as_dataset, rt_csv.py:15): parquet → csv →
    csv-read with explicit schema must be lossless for this table; the
    oracle reads the original parquet."""
    import tempfile

    n = load_table(spark, sf, "nation")
    path = tempfile.mkdtemp(prefix="rts_csv_")
    n.write.mode("overwrite").option("header", True).csv(path)
    back = spark.read.schema(n.schema).option("header", True).csv(path)
    return back.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_nationkey").alias("key_sum"),
        F.countDistinct("n_regionkey").alias("n_regions"),
    )


@query(
    "q89_merge_validate",
    """
    SELECT max(lc) AS left_max_dup, max(rc) AS right_max_dup
    FROM (SELECT count(*) AS lc FROM orders GROUP BY o_custkey),
         (SELECT count(*) AS rc FROM customer GROUP BY c_custkey)
    """,
)
def q89(spark: SparkSession, sf: str) -> DataFrame:
    """merge2 validate= (rt_merge.py:2293 'validate' 1:1/1:m/m:1/m:m):
    the uniqueness counts the validator aggregates — m:1 holds for
    orders⋈customer. Also exercises validate_join (raises on violation)."""
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    merge.validate_join(o, c, ["o_custkey"], ["c_custkey"], "m:1")
    lmax = o.groupBy("o_custkey").count().agg(F.max("count").alias("left_max_dup"))
    rmax = c.groupBy("c_custkey").count().agg(F.max("count").alias("right_max_dup"))
    return lmax.crossJoin(rmax)


@query(
    "q90_multimodal_decode",
    """
    SELECT doc_id,
           64 + (('0x'||substr(sha256(text),1,2))::BIGINT % 192) AS width,
           64 + (('0x'||substr(sha256(text),3,2))::BIGINT % 192) AS height,
           'fake/deterministic' AS format
    FROM documents
    """,
)
def q90(spark: SparkSession, sf: str) -> DataFrame:
    """Multimodal plumbing (SURVEY §2 beyond-reference): binary payload
    column + deterministic stub decode via mapInPandas — schema,
    batching and partitioning are real; the codec is a fake (the real
    image libs are absent here). The stub derives pseudo-dimensions from
    the payload's sha256, which DuckDB replays byte-identically
    (sha256(VARCHAR) hashes the same UTF-8 bytes the Spark side
    encodes) — so even the mapInPandas path is now hash-checked, not
    rows-only."""
    from .operators import multimodal as mm

    d = load_table(spark, sf, "documents").select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload")
    )
    out = mm.decode_images(d, "payload", mode="stub")
    return out.select(
        "doc_id",
        F.col("image_meta.width").alias("width"),
        F.col("image_meta.height").alias("height"),
        F.col("image_meta.format").alias("format"),
    )
