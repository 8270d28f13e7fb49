"""Streaming sinks: an idempotent CDC upsert sink over parquet
snapshots (the foreachBatch MERGE pattern).

Structured Streaming's built-in file sink is append-only; real
pipelines maintain a keyed TABLE from a change stream.  The lakehouse
formulation (how Delta/Iceberg MERGE is driven from foreachBatch) is:
every micro-batch folds its changes into the current snapshot and
commits a NEW immutable snapshot version, with a pointer file flipped
last — readers never see a partial write, and replaying a batch
(checkpoint recovery) just rewrites the same version.

The fold keeps, per key, the row with the MAX change order (order
columns, then op precedence) across snapshot ∪ batch — an associative,
commutative merge, so the final table is independent of how the input
happened to split into micro-batches (property-tested: 1-file vs
maxFilesPerTrigger=1 give identical tables, both equal to the batch
``merge.apply_cdc`` result).  Deletes are retained as tombstones inside
the snapshot (so a late out-of-order upsert cannot resurrect a deleted
key) and filtered out on read.

At 100 TB the per-batch cost is one window over snapshot ∪ batch keyed
on the merge keys; a production deployment would partition the snapshot
by key range and rewrite only touched partitions — the semantics here
are exactly that MERGE, with the rewrite scope documented as the
difference.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .drain import drain_stream


def _latest_version(snapshot_dir: str) -> int | None:
    ptr = os.path.join(snapshot_dir, "_LATEST")
    if not os.path.exists(ptr):
        return None
    with open(ptr) as fh:
        return int(fh.read().strip())


def _read_version(spark, snapshot_dir: str, v: int, schema: StructType) -> DataFrame:
    # the schema the sink wrote: inferring it from the footers is a Spark job
    return spark.read.schema(schema).parquet(os.path.join(snapshot_dir, f"v{v}"))


def read_snapshot(
    spark, snapshot_dir: str, schema: StructType, op_col: str = "op"
) -> DataFrame | None:
    """Current committed table (tombstones filtered); None before the
    first commit. ``schema`` is the change stream's schema, which every
    snapshot version is written with."""
    v = _latest_version(snapshot_dir)
    if v is None:
        return None
    df = _read_version(spark, snapshot_dir, v, schema)
    return df.where(F.col(op_col) != "D")


def stream_upsert_sink(
    changes: DataFrame,
    keys: list[str],
    order_by: list[str],
    op_col: str,
    snapshot_dir: str,
    checkpoint_dir: str,
) -> DataFrame:
    """Drain the change stream (availableNow) through a foreachBatch
    CDC merge into a versioned parquet snapshot; returns the final
    table (latest non-deleted row per key).

    ``changes`` rows carry the full record, ``op_col`` ∈ {'U','D'} and
    ``order_by`` a total change order per key (ties broken by op so
    the merge is deterministic even on exact order collisions).
    """
    os.makedirs(snapshot_dir, exist_ok=True)
    cols = changes.columns
    schema = changes.schema

    def fold(snapshot: DataFrame | None, batch: DataFrame) -> DataFrame:
        both = batch.select(*cols) if snapshot is None else snapshot.select(*cols).unionByName(
            batch.select(*cols)
        )
        w = Window.partitionBy(*keys).orderBy(
            *[F.col(c).desc() for c in order_by], F.col(op_col).desc()
        )
        return (
            both.withColumn("__rn__", F.row_number().over(w))
            .where(F.col("__rn__") == 1)
            .drop("__rn__")
        )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        v = _latest_version(snapshot_dir)
        snap = _read_version(spark, snapshot_dir, v, schema) if v is not None else None
        out = fold(snap, batch_df)
        new_v = (v or 0) + 1
        out.write.mode("overwrite").parquet(os.path.join(snapshot_dir, f"v{new_v}"))
        # commit point: flip the pointer AFTER the snapshot is fully written
        with open(os.path.join(snapshot_dir, "_LATEST"), "w") as fh:
            fh.write(str(new_v))

    spark = changes.sparkSession
    drain_stream(changes.writeStream.foreachBatch(apply_batch), spark, checkpoint_dir)
    final = read_snapshot(spark, snapshot_dir, schema, op_col=op_col)
    assert final is not None
    return final
