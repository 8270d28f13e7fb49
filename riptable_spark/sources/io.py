"""Sources/sinks: parquet-first I/O with the reference's load semantics.

Reference parity (riptable SDS format, /root/reference/riptable/rt_sds.py:719
save, :1855 load): per-column compressed storage, nested Struct directories,
stacked multi-file loads with schema unification. On Spark the native
equivalent is a directory of zstd parquet files; ``load_stacked`` reproduces
``load_sds(stack=True)``'s upcast/missing-column semantics via
``mergeSchema`` + ``unionByName(allowMissingColumns=True)``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..session import READ_CONFS

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Timestamp columns whose physical storage has varied across testdata
# generations: TIMESTAMP(NANOS) (read as long ns via nanosAsLong) or
# TIMESTAMP(MICROS, isAdjustedToUTC=false) (read as TIMESTAMP_NTZ).
# Either way we normalize to session-tz TimestampType (session tz is
# pinned UTC below, so NTZ→LTZ preserves the stored instant exactly and
# every downstream accessor/oracle sees identical values).
_NANOS_TS_COLUMNS = {"events": ["ts"]}


def _ensure_nanos_readable(spark: SparkSession) -> None:
    """Make table reads behave identically on ANY session, not just ones
    built by our session factory — callers (test harnesses, notebooks)
    routinely hand us a vanilla SparkSession. Applies session.READ_CONFS:
    without nanosAsLong, TIMESTAMP(NANOS) parquet columns throw
    PARQUET_TYPE_ILLEGAL before any operator runs; a caller session in
    another time zone would shift every derived calendar value."""
    try:
        for key, value in READ_CONFS.items():
            spark.conf.set(key, value)
    except Exception:
        # Conf became static in some future Spark: reads then rely on
        # the session having been built with READ_CONFS (session.get_spark).
        pass


# Logical-plan cache for the static benchmark tables: spark.read.parquet
# lists the files and merges their footer schemas in a Spark job
# (~100 ms of wall time) per call, paid on EVERY query build. The cached
# DataFrame is an immutable logical plan — reusing it is exactly what a
# long-running cluster job does; keyed per session so a new session
# re-lists. Each entry keeps the schema stored in the files (before the
# timestamp normalization below) next to the plan, for readers of the
# same files that must not infer it again (streams).
_TABLE_CACHE: dict[tuple[int, str, str], tuple[DataFrame, StructType]] = {}


def _cached_table(spark: SparkSession, sf_dir: str, name: str) -> tuple[DataFrame, StructType]:
    key = (id(spark), sf_dir, name)
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        return cached
    _ensure_nanos_readable(spark)
    raw = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    df = raw
    for c in _NANOS_TS_COLUMNS.get(name, []):
        dt = dict(df.dtypes).get(c)
        if c in df.columns and dt == "bigint":
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        elif c in df.columns and dt == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    _TABLE_CACHE[key] = cached = (df, raw.schema)
    return cached


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table. Filters/projections placed on the result
    push down to the parquet scan (verify with .explain: PushedFilters)."""
    return _cached_table(spark, sf_dir, name)[0]


def table_file_schema(spark: SparkSession, sf_dir: str, name: str) -> StructType:
    """The schema stored in one testdata table's parquet files, as read
    on this session (``ts`` still in its stored type, unlike
    ``load_table``). Inferred once per session and table."""
    return _cached_table(spark, sf_dir, name)[1]


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def load_stacked(spark: SparkSession, paths: list[str]) -> DataFrame:
    """riptable ``load_sds(files, stack=True)`` analogue
    (rt_sds.py:1855-1940): stack N files into one table; columns missing
    from a file come back NULL (riptable fills per-dtype invalids);
    conflicting-but-compatible dtypes are unified by parquet mergeSchema.

    Scale note: this is a pure metadata union — no shuffle; each file
    contributes its own scan partitions, which is exactly the PDataset
    partition model (rt_pdataset.py:18).
    """
    _ensure_nanos_readable(spark)
    return spark.read.option("mergeSchema", "true").parquet(*paths)


def save_dataset(df: DataFrame, path: str, mode: str = "overwrite", partition_by: list[str] | None = None) -> None:
    """``save_sds`` analogue: zstd parquet. ``partition_by`` gives the
    hive-partitioned layout used for partition pruning at scale."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def save_sized(
    df: DataFrame,
    path: str,
    target_file_mb: int = 512,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
    sample_rows: int = 2000,
) -> None:
    """Compaction-aware parquet writer — the small-files guard. A 100 TB
    curation job that writes one file per task per partition key makes
    millions of tiny files and the NEXT job's listing/open overhead
    becomes the bottleneck. This estimates bytes/row from a driver
    sample and sets ``maxRecordsPerFile`` so output files land near
    ``target_file_mb`` (estimate is in-memory size, pre-compression —
    conservative, so real zstd files come out smaller, never
    pathologically larger)."""
    sample = df.limit(sample_rows).toPandas()
    if len(sample):
        per_row = max(1, int(sample.memory_usage(deep=True).sum()) // len(sample))
    else:
        per_row = 1
    per_file = max(1, target_file_mb * 1024 * 1024 // per_row)
    w = df.write.mode(mode).option("maxRecordsPerFile", per_file)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def save_struct(datasets: dict[str, DataFrame], root: str, mode: str = "overwrite") -> None:
    """Nested Struct-of-Datasets save (rt_sds.py nested dirs) → a directory
    tree with one parquet dataset per member."""
    for name, df in datasets.items():
        save_dataset(df, os.path.join(root, name), mode=mode)


def load_struct(spark: SparkSession, root: str) -> dict[str, DataFrame]:
    out: dict[str, DataFrame] = {}
    for name in sorted(os.listdir(root)):
        sub = os.path.join(root, name)
        if os.path.isdir(sub):
            out[name] = spark.read.parquet(sub)
    return out


def sds_info(spark: SparkSession, path: str):
    """Schema/metadata without a data read (rt_sds.py:1015 sds_info):
    parquet footers only."""
    _ensure_nanos_readable(spark)
    return spark.read.parquet(path).schema


def load_csv(spark: SparkSession, path: str, header: bool = True, infer_schema: bool = True) -> DataFrame:
    """``load_csv_as_dataset`` analogue (rt_csv.py:15)."""
    return spark.read.csv(path, header=header, inferSchema=infer_schema)


def with_rowid(df: DataFrame, *order_cols: str) -> DataFrame:
    """Stamp a monotone ``__rowid__`` defining riptable's physical row
    order (SURVEY §1.2: row order is semantically significant).

    With ``order_cols``, the rowid is a deterministic dense rank over those
    columns (reproducible across runs/partitionings — use for tests and
    anything oracle-checked). Without, it is partition-monotone via
    ``monotonically_increasing_id`` (cheap, no shuffle; stable for a fixed
    file layout — the 100 TB path).

    CROSS-ENGINE caveat: ties on ``order_cols`` are broken by a content
    hash, which keeps re-evaluations of THIS plan consistent but does NOT
    match another engine's row_number() tie order — any oracle-compared
    rowid must be built over a UNIQUE key (e.g. o_orderkey; note
    (l_orderkey, l_linenumber) is NOT unique in the synthetic lineitem).
    """
    if order_cols:
        from pyspark.sql import Window

        # Exact global index WITHOUT a single-partition window: assign a
        # DETERMINISTIC range-partition id from collected quantile edges
        # of the leading order column (a pure function of the row — no
        # sampled repartitionByRange boundaries, so re-evaluations of the
        # plan can never disagree), rank within each pid in parallel, add
        # broadcast per-pid offsets (tiny cumsum over #pids rows).
        ocols = [F.col(c) for c in order_cols]
        first = order_cols[0]
        spark = df.sparkSession
        n = max(int(spark.conf.get("spark.sql.shuffle.partitions", "32")), 1)
        probs = [i / n for i in range(1, n)]
        # Numeric order columns bucket on their own value; strings (and
        # anything ANSI won't cast to double) bucket on a MONOTONE
        # numeric proxy — the first 6 UTF-8 bytes as a big-endian number
        # (Spark compares strings bytewise, so prefix order ⊆ string
        # order; 48 bits stays exact in double). Equal proxies share a
        # pid, so range-consistency of the global rank is preserved.
        dtype = dict(df.dtypes).get(first, "double")
        if dtype in ("string", "binary"):
            fc = F.conv(
                F.hex(F.rpad(F.substring(F.col(first), 1, 6), 6, "\x00")), 16, 10
            ).cast("double")
        elif dtype.startswith(("date", "timestamp")):
            fc = F.unix_micros(F.col(first).cast("timestamp")).cast("double")
        else:
            fc = F.col(first).cast("double")
        edges = sorted(set(df.select(fc.alias("__e__")).approxQuantile("__e__", probs, 0.001)))
        if edges:
            # plain comparison-sum chain, NOT F.filter over a literal
            # array: Catalyst's constraint inference mishandles the
            # higher-order ArrayFilter lambda when this expression is
            # propagated across the __pid__ self-join (binds the lambda
            # in the offsets branch where the order column is gone —
            # INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND on local relations)
            pid = F.lit(0)
            for e in edges:
                pid = pid + F.when(F.lit(float(e)) < fc, 1).otherwise(0)
            pid = F.coalesce(pid, F.lit(0))
        else:
            pid = F.lit(0)
        # Content-derived tiebreaker: without it, rows tied on order_cols
        # would get rowids that depend on incoming partition order, so two
        # evaluations of the same plan could disagree. With it, ties are
        # broken by a hash of the full row; rows that are bytewise
        # identical remain interchangeable (same content → same dataset).
        tiebreak = F.xxhash64(*[F.col(c) for c in df.columns])
        local = df.withColumn("__pid__", pid).withColumn(
            "__lrn__", F.row_number().over(Window.partitionBy("__pid__").orderBy(*ocols, tiebreak))
        )
        counts = local.groupBy("__pid__").agg(F.count(F.lit(1)).alias("__cnt__"))
        w_off = Window.orderBy("__pid__").rowsBetween(Window.unboundedPreceding, -1)
        offsets = counts.withColumn("__off__", F.coalesce(F.sum("__cnt__").over(w_off), F.lit(0)))
        return (
            local.join(F.broadcast(offsets.select("__pid__", "__off__")), "__pid__")
            .withColumn("__rowid__", (F.col("__lrn__") + F.col("__off__") - 1).cast("long"))
            .drop("__pid__", "__lrn__", "__off__")
        )
    return df.withColumn("__rowid__", F.monotonically_increasing_id())


def save_bucketed(
    df, table_name: str, bucket_cols: list[str], n_buckets: int = 32, sort_cols: list[str] | None = None
) -> None:
    """Durable 'factorize once' (SURVEY §3.2): write a table bucketed by
    the grouping/join keys so every later groupBy/join on those keys is
    co-located — zero shuffle, the cluster-scale analogue of riptable's
    cached Grouping. Requires a session catalog (warehouse dir)."""
    w = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table_name)


def load_bucketed(spark, table_name: str):
    return spark.table(table_name)


def load_h5(spark, path: str, dataset: str | None = None):
    """HDF5 → DataFrame (rt_utils.py:49 load_h5). Gated on h5py being
    available (not shipped in this container): reads the group's 1-D
    datasets as columns via pandas, then distributes. For 100 TB inputs
    convert to parquet upstream — HDF5 has no parallel row-group reader.

    EXPERIMENTAL: this path has never executed in the build container
    (h5py absent); tests/test_io_and_entry.py carries a self-generating
    round-trip test that runs automatically wherever h5py IS installed
    (skipped otherwise), so the first environment with h5py exercises
    it in CI rather than in production."""
    try:
        import h5py  # noqa: F401
    except ImportError as e:
        raise NotImplementedError(
            "load_h5 requires h5py, which is not installed in this environment; "
            "convert the file to parquet (save_dataset) instead"
        ) from e
    import pandas as pd

    with h5py.File(path, "r") as f:
        grp = f[dataset] if dataset else f
        cols = {k: grp[k][:] for k in grp.keys() if getattr(grp[k], "ndim", 0) == 1}
    return spark.createDataFrame(pd.DataFrame(cols))


def h5io_to_struct(spark, path: str):
    """rt_utils.py:282 h5io_to_struct — HDF5 group tree → Struct of
    DataFrames (same gating as load_h5: h5py absent in this container).
    Groups become nested Structs; 1-D datasets in a group become columns
    of one DataFrame per group."""
    try:
        import h5py
    except ImportError as e:
        raise NotImplementedError(
            "h5io_to_struct requires h5py, which is not installed here; "
            "convert to a parquet tree (save_struct) instead"
        ) from e
    import pandas as pd

    from ..struct import Struct

    def walk(grp):
        out = Struct()
        cols = {}
        for k in grp.keys():
            item = grp[k]
            if isinstance(item, h5py.Group):
                out[k] = walk(item)
            elif getattr(item, "ndim", 0) == 1:
                cols[k] = item[:]
        if cols:
            out["data"] = spark.createDataFrame(pd.DataFrame(cols))
        return out

    with h5py.File(path, "r") as f:
        return walk(f)


def register_tables(spark, sf_dir: str, tables: tuple[str, ...] = TABLES) -> list[str]:
    """Register the dataset's tables as temp views so the FULL Spark SQL
    surface works directly (``spark.sql("SELECT ... FROM lineitem l JOIN
    orders o ...")``) — the engine is DataFrame-first but SQL-equal; all
    load_table normalizations (ns-timestamp ingest, plan cache) apply."""
    out = []
    for t in tables:
        try:
            load_table(spark, sf_dir, t).createOrReplaceTempView(t)
            out.append(t)
        except Exception:  # missing optional table in a custom dir
            continue
    return out


def save_jsonl(df: DataFrame, path: str, mode: str = "overwrite", compression: str | None = "gzip") -> None:
    """JSON-lines sink (the interchange format most text-corpus tooling
    speaks): one JSON object per row, gzip by default. Same distributed
    writer as parquet — one file per partition."""
    w = df.write.mode(mode)
    if compression:
        w = w.option("compression", compression)
    w.json(path)


def load_jsonl(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """JSON-lines source. Pass ``schema`` (DDL string or StructType) to
    skip the inference pass — at 100 TB inference means reading the
    data twice; production readers always declare the schema."""
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    return r.json(path)


def save_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC sink (zlib) — the other columnar interchange format; same
    footer-statistics data-skipping properties as parquet."""
    df.write.mode(mode).orc(path)


def load_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


def save_csv(
    df: DataFrame, path: str, mode: str = "overwrite",
    header: bool = True, compression: str | None = "gzip",
) -> None:
    """CSV sink symmetric to :func:`load_csv` (reference load_csv_as_dataset
    has no writer counterpart; interchange with spreadsheet/legacy
    consumers needs one).  Compressed by default — at 100 TB an
    uncompressed CSV export is a 4-5× storage regression vs parquet,
    so the default at least gzips the damage."""
    w = df.write.mode(mode).option("header", str(header).lower())
    if compression:
        w = w.option("compression", compression)
    w.csv(path)
