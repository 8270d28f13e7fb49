"""Drain an availableNow stream to its end, committing checkpoints cheaply.

Every checkpoint file a stream writes (offsets, commits, source log,
state deltas and their checksums) is committed by a rename through
Spark's ``CheckpointFileManager``. The default one goes through Hadoop
``FileContext``, whose local rename resolves symlinks with
``FileUtil.readLink``; without Hadoop's native library that forks a
``readlink`` process, twice per rename (5-8 ms each on a 4-vCPU host,
serially on the stream thread). ``FileSystemBasedCheckpointFileManager``
renames through ``RawLocalFileSystem.rename`` → ``File.renameTo``: the
same atomic rename(2), with no link resolution and no fork.

On HDFS only ``FileContext`` gives an atomic overwriting rename, so
non-local checkpoint locations keep Spark's default manager.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager, nullcontext
from urllib.parse import urlparse

from pyspark.sql import SparkSession
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

CHECKPOINT_FILE_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
LOCAL_CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def is_local_path(path: str) -> bool:
    """True for a plain path or a ``file:`` URI."""
    return urlparse(path).scheme in ("", "file")


# Local drains in flight per session, and the conf value to restore when
# the last one ends: drains may overlap (threads, or a drain started
# inside another's foreachBatch), and the first to end must not restore
# the conf under the others.
_ACTIVE: dict[int, list] = {}  # id(session) -> [drains, prior value]
_ACTIVE_LOCK = threading.Lock()


@contextmanager
def _local_checkpoint_manager(spark: SparkSession):
    with _ACTIVE_LOCK:
        entry = _ACTIVE.get(id(spark))
        if entry is None:
            prior = spark.conf.get(CHECKPOINT_FILE_MANAGER_CONF, None)
            spark.conf.set(CHECKPOINT_FILE_MANAGER_CONF, LOCAL_CHECKPOINT_FILE_MANAGER)
            entry = _ACTIVE[id(spark)] = [0, prior]
        entry[0] += 1
    try:
        yield
    finally:
        with _ACTIVE_LOCK:
            entry[0] -= 1
            if entry[0] == 0:
                del _ACTIVE[id(spark)]
                if entry[1] is None:
                    spark.conf.unset(CHECKPOINT_FILE_MANAGER_CONF)
                else:
                    spark.conf.set(CHECKPOINT_FILE_MANAGER_CONF, entry[1])


def drain_stream(
    writer: DataStreamWriter, spark: SparkSession, checkpoint_dir: str
) -> StreamingQuery:
    """Start ``writer`` with an availableNow trigger, checkpointing to
    ``checkpoint_dir``, and wait until it has drained all input.

    On a local ``checkpoint_dir`` the drain commits its checkpoint files
    with ``FileSystemBasedCheckpointFileManager``. The manager is chosen
    by a SQL conf, which is session-wide: while a drain runs, any other
    stream started on ``spark`` uses it too. The conf stays set from
    before ``start()`` until the query ends, because the stream creates
    some of its logs lazily on its own thread, from this session's conf.
    When the last overlapping drain on ``spark`` ends, whether it
    succeeded or raised, the conf is back to its previous value (or
    unset). If the wait is cut short (KeyboardInterrupt, a caller's
    deadline, a failed stream), the query is stopped before the conf is
    restored, so no stream outlives its drain.
    """
    writer = writer.option("checkpointLocation", checkpoint_dir).trigger(availableNow=True)
    scope = _local_checkpoint_manager(spark) if is_local_path(checkpoint_dir) else nullcontext()
    with scope:
        query = writer.start()
        try:
            query.awaitTermination()
        except BaseException:
            query.stop()
            raise
    return query
