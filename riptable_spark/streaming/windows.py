"""Structured Streaming operators over the events stream.

The reference has no streaming at all (SURVEY §2.9 — ``resample`` is
NotImplementedError, rt_groupbyops.py:3533). This module is the engine's
stream-native extension: the same time-window semantics as the batch
operators (queries q67/q68), expressed as incremental plans with
watermarks so state is bounded on an unbounded stream.

Batch/stream parity is the design invariant: every helper here has a
batch twin, and tests run the stream with ``availableNow`` over the same
parquet and assert identical results.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .drain import drain_stream


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet (file source — each file is a
    micro-batch unit; on a cluster this is a cloud-storage listing).

    The physical type of ``ts`` has varied across testdata generations
    (TIMESTAMP(NANOS) read as long ns, TIMESTAMP(MICROS, utc=false) read
    as TIMESTAMP_NTZ): streams need an explicit schema, so take the one
    sources.io.load_table inferred from the batch footers (once per
    session) and normalize ``ts`` to session-tz TimestampType exactly
    like load_table."""
    from riptable_spark.sources.io import table_file_schema

    batch_schema = table_file_schema(spark, sf_dir, "events")
    # file-source streams require a directory; select the one table with
    # a glob filter
    raw = (
        spark.readStream.schema(batch_schema)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    ts_type = batch_schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(ts_type, T.TimestampNTZType):
        return raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def tumbling_agg(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling-window count/sum with a watermark bounding state: late
    rows beyond ``watermark`` are dropped and their window finalized."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window(F.col("ts"), window).alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "n", "sum_value")
    )


def sliding_agg(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window(F.col("ts"), window, slide).alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "n", "sum_value")
    )


def session_agg(events: DataFrame, gap: str = "10 minutes", watermark: str = "2 hours") -> DataFrame:
    """Session windows per user (gap-based) — no batch equivalent in the
    reference; Structured Streaming native."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window(F.col("ts"), gap).alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("session_start"), "user_id", "n")
    )


def stream_dedupe(events: DataFrame, keys: list[str], watermark: str = "2 hours") -> DataFrame:
    """Streaming exact dedup with bounded state:
    dropDuplicatesWithinWatermark on the keys."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def run_available_now(
    stream_df: DataFrame, query_name: str, tmp_dir: str, output_mode: str | None = None
) -> DataFrame:
    """Drain all currently-available input (one pass) into a memory sink
    and return the result table — the batch-parity test harness.

    The sink's temp view ``query_name`` is dropped before returning, also
    when the drain raises, so repeated calls leave the catalog as they
    found it; the returned DataFrame keeps the sink's rows alive."""
    if output_mode is None:
        plan = stream_df._jdf.queryExecution().analyzed().toString()
        if "FlatMapGroupsInPandasWithState" in plan:
            output_mode = "update"  # the mode the stateful op declared
        else:
            output_mode = "complete" if _has_aggregate(stream_df) else "append"
    spark = stream_df.sparkSession
    writer = stream_df.writeStream.format("memory").queryName(query_name).outputMode(output_mode)
    try:
        drain_stream(writer, spark, tmp_dir)
        return spark.table(query_name)
    finally:
        spark.catalog.dropTempView(query_name)


def _has_aggregate(df: DataFrame) -> bool:
    return "Aggregate" in df._jdf.queryExecution().analyzed().toString()


def stateful_user_totals(events: DataFrame, timeout: str = "NoTimeout") -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    running (n_events, total_value) maintained in GroupState across
    micro-batches — the pattern for any reference-style sequential
    accumulator that must survive a stream (EMA carry, session counters).
    Output mode: update."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id bigint, n_events bigint, total_value double"
    state_schema = "n bigint, total double"

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return (
        events.withWatermark("ts", "2 hours")
        .groupBy("user_id")
        .applyInPandasWithState(
            update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )


def finalize_update_sink(table: DataFrame, keys: list[str], monotone_col: str) -> DataFrame:
    """Collapse an update-mode sink to final state: update mode emits one
    row per (key, micro-batch), so the final answer is the row with the
    largest value of a per-key MONOTONE column (stateful accumulators
    like n_events only grow). One hash aggregation — max_by, no window."""
    others = [c for c in table.columns if c not in keys]
    return table.groupBy(*keys).agg(
        *[F.max_by(c, F.col(monotone_col)).alias(c) for c in others]
    )


def stream_enrich(
    events: DataFrame, dim: DataFrame, on: str | list[str], how: str = "left"
) -> DataFrame:
    """Stream-static enrichment join — the canonical dim-lookup pattern:
    the static side broadcasts into every micro-batch (no state, no
    watermark needed), the stream side never blocks. At 100 TB/day the
    static side is the only thing that must fit an executor; refresh it
    by restarting the query or reading a slowly-changing dim as its own
    stream (see stream_stream_interval_join)."""
    return events.join(F.broadcast(dim), on=on, how=how)


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts_col: str = "ts",
    max_delay: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join with an event-time interval bound: right
    rows match a left row iff they share ``key`` and arrive within
    [left.ts, left.ts + max_delay]. BOTH sides carry watermarks and the
    join condition bounds event time on both inputs — that pair of facts
    is what lets Spark evict join state (without the time bound, state
    grows forever). The batch twin is a plain non-equi join with the
    same predicate (parity-tested)."""
    l = left.withWatermark(ts_col, watermark).alias("l")
    r = right.withWatermark(ts_col, watermark).alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col(f"r.{ts_col}") >= F.col(f"l.{ts_col}"))
        & (F.col(f"r.{ts_col}") <= F.col(f"l.{ts_col}") + F.expr(f"INTERVAL {max_delay}"))
    )
    return l.join(r, cond, "inner")


def stream_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the documents parquet — the live-ingest twin of
    the batch curation input (file source; one file = one micro-batch
    unit here, a cloud listing at scale)."""
    from riptable_spark.sources.io import table_file_schema

    batch_schema = table_file_schema(spark, sf_dir, "documents")
    return (
        spark.readStream.schema(batch_schema)
        .format("parquet")
        .option("pathGlobFilter", "documents.parquet")
        .load(sf_dir)
    )


def stream_histogram(
    events: DataFrame,
    value_col: str = "value",
    window: str = "1 hour",
    watermark: str = "2 hours",
    bins: int = 10,
    lo: float = 0.0,
    hi: float = 200.0,
) -> DataFrame:
    """Streaming drift monitor: per-tumbling-window histogram of a value
    column (fixed [lo, hi) grid, edge-clamped — the same binning as
    stats.histogram_dist/psi, so a static baseline PSI-compares against
    each emitted window downstream).  Watermark bounds state; one row
    per (window, bin)."""
    x = F.col(value_col).cast("double")
    b = F.floor((x - lo) / (hi - lo) * bins)
    b = F.greatest(F.lit(0), F.least(F.lit(bins - 1), b)).cast("int")
    return (
        events.where(x.isNotNull())
        .withWatermark("ts", watermark)
        .groupBy(F.window(F.col("ts"), window).alias("w"), b.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "bin", "n")
    )


def stream_seasonal_anomaly(
    events: DataFrame,
    baseline: DataFrame,
    season_col_expr=None,
    value_col: str = "value",
    threshold: float = 3.0,
) -> DataFrame:
    """Streaming anomaly flagging against a BATCH-computed seasonal
    baseline: the per-bucket (n, Σx, Σx²) relation (e.g. from the same
    integer-scaled aggregation stats.seasonal_zscore uses) broadcasts
    into a stateless stream-static join, so each event scores the
    moment it arrives — no streaming state at all, and the baseline
    refreshes by swapping the static side.  Emits rows with |z| >
    ``threshold``."""
    from pyspark.sql import functions as F

    season = season_col_expr if season_col_expr is not None else F.hour(F.col("ts"))
    x = F.col(value_col)
    j = events.withColumn("__season__", season).join(
        F.broadcast(baseline), on=F.col("__season__") == baseline[baseline.columns[0]], how="inner"
    )
    n = F.col("n").cast("double")
    mu = F.col("sx") / n
    var = (F.col("sxx") - F.col("sx") * F.col("sx") / n) / (n - 1)
    z = (x - mu) / F.sqrt(var)
    return (
        j.where((F.col("n") >= 2) & (var > 0))
        .withColumn("z", z)
        .where(F.abs(F.col("z")) > threshold)
        .drop("__season__", "n", "sx", "sxx")
    )


def stream_hll_registers(
    events: DataFrame,
    key_col: str = "user_id",
    window: str = "1 hour",
    watermark: str = "2 hours",
    p: int = 8,
    hash_kind: str = "xxhash64",
) -> DataFrame:
    """Streaming approximate-distinct: per-tumbling-window HyperLogLog
    REGISTER relation (window_start, bucket, rho) — a plain windowed
    max-aggregation, so state is ≤ 2^p counters per open window
    (bounded by the watermark) instead of a distinct-set that grows
    with cardinality.  The sink table feeds sketch.hll_estimate /
    hll_trailing_estimate unchanged — one estimation codepath for
    batch and stream."""
    from riptable_spark.operators.dedup import _base_hash64
    from riptable_spark.operators.sketch import _bit_length

    rem_bits = 60 - p
    h = _base_hash64(F.col(key_col).cast("string"), hash_kind)
    bucket = F.shiftright(h, rem_bits).cast("int")
    rest = h.bitwiseAND(F.lit((1 << rem_bits) - 1))
    rho = F.when(rest == 0, F.lit(rem_bits + 1)).otherwise(
        rem_bits - _bit_length(rest) + 1
    ).cast("int")
    return (
        events.where(F.col(key_col).isNotNull())
        .withWatermark("ts", watermark)
        .groupBy(F.window(F.col("ts"), window).alias("w"), bucket.alias("bucket"))
        .agg(F.max(rho).alias("rho"))
        .select(F.col("w.start").alias("window_start"), "bucket", "rho")
    )


def stream_vwap_bars(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    price: str = "value",
    qty: Column | None = None,
    scale: int = 100,
) -> DataFrame:
    """Tumbling VWAP bars over a trade stream — the streaming sibling of
    operators.finance.vwap.  The Σ(p·q)/Σq accumulators are exact
    integers, so incremental state updates commute with batch
    aggregation and the stream/batch parity is bit-exact; the watermark
    bounds per-window state.  Works identically on a batch frame (same
    codepath — one groupBy)."""
    p = F.round(F.col(price) * scale).cast("bigint")
    q = (qty if qty is not None else F.lit(1)).cast("bigint")
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window(F.col("ts"), window).alias("w"))
        .agg(
            F.sum(p * q).alias("__pv__"),
            F.sum(q).alias("volume"),
            F.count(F.lit(1)).alias("n_trades"),
        )
        .select(
            F.unix_seconds(F.col("w.start")).alias("bucket_s"),
            (F.col("__pv__") / F.col("volume") / scale).alias("vwap"),
            "volume",
            "n_trades",
        )
    )


def windowed_item_counts(
    events: DataFrame,
    duration: str,
    item: Column,
    watermark: str = "2 hours",
) -> DataFrame:
    """Per-window item counts — ONE code path for batch and stream
    (the parity discipline of this module): on a stream the watermark
    bounds state and late data; on a batch frame the same expression
    is a plain two-stage agg.  Feed the drained result to
    :func:`topk_per_window` for windowed heavy hitters (rank windows
    are not allowed ON a stream, and the counts relation is already
    k-independent and tiny next to the input)."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return src.groupBy(
        F.window("ts", duration).alias("win"), item.alias("item")
    ).agg(F.count(F.lit(1)).cast("long").alias("freq")).select(
        F.col("win.start").alias("window_start"), "item", "freq"
    )


def topk_per_window(counts: DataFrame, k: int) -> DataFrame:
    """Rank the (already aggregated) per-window counts to k heavy
    hitters per window — deterministic ties by item ascending."""
    from pyspark.sql import Window as W

    w = W.partitionBy("window_start").orderBy(F.col("freq").desc(), F.col("item"))
    return counts.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    ).withColumn("rank", F.col("rank").cast("long"))


def stream_winnow_screen(
    docs: DataFrame,
    seen: DataFrame,
    k: int = 10,
    w: int = 4,
    min_hits: int = 2,
    hash_kind: str = "xxhash64",
) -> DataFrame:
    """Span-level near-dup screening on a LIVE document stream: winnow
    fingerprints are pure narrow expressions (they stream), the ``seen``
    index is the static side of a stream-static join (broadcast — it is
    8 bytes per historical span), and the per-doc hit count is one
    streaming aggregation.  Unlike the batch
    ``dedup.winnow_incremental``, docs too short to fingerprint never
    enter the stream's output (joining the raw stream back to its own
    aggregation would be a stream-stream self-join needing watermarks —
    the caller treats absence as "not a dup").

    Returns (doc_id, n_fps, n_hits, is_dup)."""
    from ..operators.dedup import winnow_fingerprints

    fps = winnow_fingerprints(docs, "text", "doc_id", k, w, hash_kind)
    # distinct() before the join: a seen index built by unioning
    # winnow_index outputs across runs carries duplicate fps, and a
    # left join on a duplicated key multiplies rows (inflating both
    # n_fps and n_hits).
    hit = fps.join(
        F.broadcast(seen.select("fp").distinct().withColumn("__hit__", F.lit(1))),
        "fp",
        "left",
    )
    return hit.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_fps"),
        F.sum(F.coalesce("__hit__", F.lit(0))).cast("long").alias("n_hits"),
        (F.sum(F.coalesce("__hit__", F.lit(0))) >= min_hits).alias("is_dup"),
    )
