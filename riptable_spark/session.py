"""SparkSession factory tuned for this engine.

Local-mode testing uses ``local[N]``; the configs below are chosen so the
same logical plans survive a 1000-executor cluster: AQE on (runtime skew
handling + partition coalescing), shuffle partitions sized to the
parallelism at hand, Arrow enabled for the Pandas-UDF slow path.
The codegen cache is sized to the working set of generated classes so a
repeated plan reuses its compiled, JIT-warmed code; that is about plan
reuse, not machine sizing, so it carries over to a cluster unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Read semantics every table load relies on, applied by get_spark and
# again by sources.io on sessions built elsewhere (both are runtime SQL
# confs):
# - nanosAsLong: the reference stores ns-precision timestamps
#   (DateTimeNano, rt_datetime.py:4183); parquet TIMESTAMP(NANOS) isn't
#   readable as a Spark timestamp, so it is read as long ns and converted
#   at ingest (sources/io.py), per SURVEY hard-part (c).
# - UTC: calendar accessors and unix_* conversions depend on the session
#   zone; the testdata stores UTC instants and every oracle reads them as
#   naive UTC.
READ_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
}

# Spark keeps at most spark.sql.codegen.cache.maxEntries compiled
# generated classes (default 100; a static conf, so it only takes effect
# when the session is built). One pass of the benchmark's batch workload
# generates 101 distinct classes and the interactive one 86, and the
# cache is a segmented LRU that evicts before its nominal cap, so at 100
# every warm request recompiles part of its plan in Janino and runs it
# in the interpreter until the JIT catches up again. 1000 leaves ~10x
# headroom over that working set; a one-off sweep of all registry
# queries compiles ~8k classes it never reuses, which a larger cap would
# only pin in memory.
CODEGEN_CACHE_ENTRIES = 1000


def _cpus() -> int:
    """SPARK_GRAFT_CPUS read at call time (not import) so late env changes
    keep master parallelism and shuffle partitions in lockstep; malformed
    values fall back to 32 instead of breaking import."""
    try:
        return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    except ValueError:
        return 32


def get_spark(app_name: str = "riptable_spark", master: str | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    On a real cluster the master/memory settings come from spark-submit;
    everything set here is safe to carry over (AQE, Arrow, UTC, adaptive
    skew-join) because it is about *plan quality*, not machine sizing.
    """
    cpus = _cpus()
    # shuffle partitions default to the thread count but can be raised
    # independently (SPARK_GRAFT_SHUFFLE_PARTITIONS) — the spill dial:
    # at fixed executor memory, per-task hash tables shrink linearly
    # with partition count (AQE coalesces the small ones back)
    try:
        shuffle_parts = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(cpus))
        )
    except ValueError:
        shuffle_parts = cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_parts))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(map=READ_CONFS)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    # opt-in event logging so scale benches can MEASURE spills (the event
    # log's TaskEnd metrics carry Memory/Disk Bytes Spilled per task —
    # perfbench/tracing.py reads them) instead of eyeballing the UI
    eventlog_dir = os.environ.get("SPARK_GRAFT_EVENTLOG_DIR")
    if eventlog_dir:
        os.makedirs(eventlog_dir, exist_ok=True)
        builder = (
            builder.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", f"file://{os.path.abspath(eventlog_dir)}")
            # single plain-text file (no rolling dir, no zstd) so the
            # bench's TaskEnd spill reader can parse it directly
            .config("spark.eventLog.rolling.enabled", "false")
            .config("spark.eventLog.compress", "false")
        )
    # streaming state store backend: default is Spark's HDFS-backed
    # in-heap provider (right for the tiny per-key state of the declared
    # streams); SPARK_GRAFT_STATESTORE=rocksdb switches to the bundled
    # RocksDB provider, which keeps state off-heap and is the production
    # choice once per-executor state outgrows the heap. Results are
    # backend-independent (state-store contents, not semantics).
    if os.environ.get("SPARK_GRAFT_STATESTORE", "").lower() == "rocksdb":
        builder = builder.config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
    env_master = os.environ.get("SPARK_MASTER")
    if master is not None:
        builder = builder.master(master)
    elif env_master:
        # honor the env override (Spark itself never reads SPARK_MASTER)
        builder = builder.master(env_master)
    else:
        # default to local[N] ONLY when no master is already configured —
        # under spark-submit, spark.master arrives via system properties
        # and must not be overridden (that would silently run the whole
        # job on the driver)
        from pyspark import SparkConf

        if not SparkConf().contains("spark.master"):
            builder = builder.master(f"local[{cpus}]")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
