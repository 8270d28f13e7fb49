"""availableNow drains commit local checkpoints without forking processes.

Spark's default checkpoint manager renames through Hadoop FileContext,
which on the local filesystem resolves links with a forked ``readlink``
when Hadoop's native library is absent. ``streaming.drain.drain_stream``
switches a local drain to the FileSystem-based manager for exactly the
drain's duration. These tests pin which manager a drain uses, that the
session conf is restored however the drain ends, and that building the
stream, write-path and capped-similarity queries starts no Spark job
beyond the ones the request needs, that the round-loop queries start
exactly their rounds' jobs, and that those loops leave no cached plan.
"""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from riptable_spark import (  # noqa: F401 — the batches of the queries built below
    queries2, queries4, queries5, queries8, queries10, queries12, queries13, queries14, queries15,
    queries16, queries19,
)
from riptable_spark.queries import QUERIES
from riptable_spark.sources.io import table_file_schema
from riptable_spark.streaming import windows as sw
from riptable_spark.streaming.drain import (
    CHECKPOINT_FILE_MANAGER_CONF,
    LOCAL_CHECKPOINT_FILE_MANAGER,
    _local_checkpoint_manager,
    drain_stream,
    is_local_path,
)
from riptable_spark.streaming.sinks import stream_upsert_sink

FILE_CONTEXT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileContextBasedCheckpointFileManager"
)


@pytest.fixture
def started(monkeypatch, spark):
    """Every query a drain starts, with the manager conf seen at start()."""
    seen: list[tuple[object, str | None]] = []
    start = DataStreamWriter.start

    def spy(self, *args, **kwargs):
        conf = spark.conf.get(CHECKPOINT_FILE_MANAGER_CONF, None)
        query = start(self, *args, **kwargs)
        seen.append((query, conf))
        return query

    monkeypatch.setattr(DataStreamWriter, "start", spy)
    return seen


@pytest.fixture
def failing_start(monkeypatch, spark):
    """Make start() raise; records the manager conf seen at the call."""
    seen: list[str | None] = []

    def boom(self, *args, **kwargs):
        seen.append(spark.conf.get(CHECKPOINT_FILE_MANAGER_CONF, None))
        raise RuntimeError("start failed")

    monkeypatch.setattr(DataStreamWriter, "start", boom)
    return seen


def _offset_log_manager(query) -> str:
    fm = query._jsq.streamingQuery().offsetLog().fileManager()
    return fm.getClass().getName()


def _changes(spark, sf_dir):
    return sw.stream_events(spark, sf_dir).select(
        F.col("user_id").alias("k"), "ts", "event_id", "value",
        F.when(F.col("event_type") == "error", "D").otherwise("U").alias("op"),
    )


def test_is_local_path():
    assert is_local_path("/tmp/ckpt") and is_local_path("ckpt")
    assert is_local_path("file:///tmp/ckpt")
    assert not is_local_path("hdfs://nn:8020/ckpt")
    assert not is_local_path("s3a://bucket/ckpt")


def test_run_available_now_uses_filesystem_manager(spark, sf_dir, tmp_path, started):
    assert spark.conf.get(CHECKPOINT_FILE_MANAGER_CONF, None) is None
    out = sw.run_available_now(
        sw.tumbling_agg(sw.stream_events(spark, sf_dir)), "drain_fs_test", str(tmp_path / "ckpt")
    )
    assert out.count() > 0
    [(query, conf)] = started
    assert conf == LOCAL_CHECKPOINT_FILE_MANAGER
    assert _offset_log_manager(query) == LOCAL_CHECKPOINT_FILE_MANAGER
    assert spark.conf.get(CHECKPOINT_FILE_MANAGER_CONF, None) is None


def test_upsert_sink_uses_filesystem_manager(spark, sf_dir, tmp_path, started):
    out = stream_upsert_sink(
        _changes(spark, sf_dir), ["k"], ["ts", "event_id"], "op",
        str(tmp_path / "snap"), str(tmp_path / "ckpt"),
    )
    assert out.count() > 0
    [(query, conf)] = started
    assert conf == LOCAL_CHECKPOINT_FILE_MANAGER
    assert _offset_log_manager(query) == LOCAL_CHECKPOINT_FILE_MANAGER
    assert spark.conf.get(CHECKPOINT_FILE_MANAGER_CONF, None) is None


def test_drain_restores_a_prior_conf_value(spark, sf_dir, tmp_path, started):
    spark.conf.set(CHECKPOINT_FILE_MANAGER_CONF, FILE_CONTEXT_MANAGER)
    try:
        sw.run_available_now(
            sw.tumbling_agg(sw.stream_events(spark, sf_dir)), "drain_prior_test",
            str(tmp_path / "ckpt"),
        )
        [(query, conf)] = started
        assert conf == LOCAL_CHECKPOINT_FILE_MANAGER
        assert _offset_log_manager(query) == LOCAL_CHECKPOINT_FILE_MANAGER
        assert spark.conf.get(CHECKPOINT_FILE_MANAGER_CONF) == FILE_CONTEXT_MANAGER
    finally:
        spark.conf.unset(CHECKPOINT_FILE_MANAGER_CONF)


@pytest.mark.parametrize("prior", [None, FILE_CONTEXT_MANAGER])
def test_failed_start_restores_conf(spark, sf_dir, tmp_path, failing_start, prior):
    if prior is not None:
        spark.conf.set(CHECKPOINT_FILE_MANAGER_CONF, prior)
    try:
        with pytest.raises(RuntimeError, match="start failed"):
            sw.run_available_now(
                sw.tumbling_agg(sw.stream_events(spark, sf_dir)), "drain_fail_test",
                str(tmp_path / "ckpt"),
            )
        with pytest.raises(RuntimeError, match="start failed"):
            stream_upsert_sink(
                _changes(spark, sf_dir), ["k"], ["ts", "event_id"], "op",
                str(tmp_path / "snap"), str(tmp_path / "ckpt2"),
            )
        assert failing_start == [LOCAL_CHECKPOINT_FILE_MANAGER] * 2
        assert spark.conf.get(CHECKPOINT_FILE_MANAGER_CONF, None) == prior
    finally:
        spark.conf.unset(CHECKPOINT_FILE_MANAGER_CONF)


def _catalog(spark) -> list[str]:
    return sorted(t.name for t in spark.catalog.listTables())


@pytest.mark.parametrize("prior", [None, FILE_CONTEXT_MANAGER])
def test_interrupted_drain_stops_its_query(spark, sf_dir, tmp_path, monkeypatch, prior):
    interrupted = []

    def interrupt(self, *args, **kwargs):
        interrupted.append(self.isActive)  # still draining when the wait is cut short
        raise KeyboardInterrupt

    monkeypatch.setattr(StreamingQuery, "awaitTermination", interrupt)
    if prior is not None:
        spark.conf.set(CHECKPOINT_FILE_MANAGER_CONF, prior)
    before = _catalog(spark)
    try:
        with pytest.raises(KeyboardInterrupt):
            sw.run_available_now(
                sw.tumbling_agg(sw.stream_events(spark, sf_dir)), "drain_interrupt_test",
                str(tmp_path / "ckpt"),
            )
        assert interrupted == [True]
        assert spark.streams.active == []
        assert _catalog(spark) == before  # the memory sink's view is dropped
        assert spark.conf.get(CHECKPOINT_FILE_MANAGER_CONF, None) == prior
    finally:
        for query in spark.streams.active:
            query.stop()
        spark.conf.unset(CHECKPOINT_FILE_MANAGER_CONF)


def test_repeated_q71_leaves_the_catalog_as_it_found_it(spark, sf_dir, tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    before = _catalog(spark)
    runs = [sorted(QUERIES["q71_streaming_tumbling"](spark, sf_dir).collect()) for _ in range(3)]
    assert runs[0] and runs[0] == runs[1] == runs[2]
    assert _catalog(spark) == before
    assert list(tmp_path.iterdir()) == []  # no checkpoint dir is left behind


def test_overlapping_drains_restore_when_the_last_ends(spark):
    spark.conf.set(CHECKPOINT_FILE_MANAGER_CONF, FILE_CONTEXT_MANAGER)
    try:
        first = _local_checkpoint_manager(spark)
        second = _local_checkpoint_manager(spark)
        first.__enter__()
        second.__enter__()
        first.__exit__(None, None, None)  # the first drain ends while the second runs
        assert spark.conf.get(CHECKPOINT_FILE_MANAGER_CONF) == LOCAL_CHECKPOINT_FILE_MANAGER
        second.__exit__(None, None, None)
        assert spark.conf.get(CHECKPOINT_FILE_MANAGER_CONF) == FILE_CONTEXT_MANAGER
    finally:
        spark.conf.unset(CHECKPOINT_FILE_MANAGER_CONF)


def test_non_local_checkpoint_keeps_default_manager(spark, sf_dir, failing_start):
    writer = sw.tumbling_agg(sw.stream_events(spark, sf_dir)).writeStream.format("memory")
    with pytest.raises(RuntimeError, match="start failed"):
        drain_stream(writer.queryName("drain_hdfs_test"), spark, "hdfs://nn:8020/ckpt")
    assert failing_start == [None]
    assert spark.conf.get(CHECKPOINT_FILE_MANAGER_CONF, None) is None


def test_stream_schema_comes_from_the_table_cache(spark, sf_dir):
    assert table_file_schema(spark, sf_dir, "events") == spark.read.parquet(
        f"{sf_dir}/events.parquet"
    ).schema


def _build_jobs(spark, sf_dir, name: str, group: str):
    """Build query ``name`` under job group ``group``; the jobs it started."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "build")
    try:
        df = QUERIES[name](spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return df, list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize(
    "name, jobs",
    [
        ("q71_streaming_tumbling", 0),  # the stream's own jobs run in its job group
        ("q441_partitioned_write_prune", 1),  # its write; the re-read infers nothing
        ("q127_jaccard_dfcap", 0),  # the doc-frequency cap's n_docs rides the plan
        ("q175_pagerank", 0),  # the node count N rides the plan
        ("q463_textrank_terms", 0),
        ("q485_graph_summary", 0),  # triangle_count materializes nothing
        ("q656_lsh_band_planner", 0),  # the one-row median is not checkpointed
        ("q108_embedding_dups", 0),  # pairwise_cosine picks its path on the id type
        # round loops: one checkpoint job chain per round (operators/rounds.py)
        ("q210_hits", 28),
        ("q358_tree_rollup", 21),
        ("q363_greedy_cover", 9),
        ("q408_label_propagation", 16),
        ("q550_kcenter_diverse", 4),
        ("q569_scc", 24),
        ("q603_hyperanf", 13),
        ("q619_maximal_matching", 26),
        ("q621_luby_mis", 22),
        ("q654_dominant_direction", 13),
        ("q655_kcore_peel", 11),
        ("q660_ktruss_peel", 17),
    ],
)
def test_second_build_starts_only_the_request_jobs(spark, sf_dir, name, jobs):
    _build_jobs(spark, sf_dir, name, f"{name}_cold")
    _, started = _build_jobs(spark, sf_dir, name, f"{name}_warm")
    assert len(started) == jobs


@pytest.mark.parametrize(
    "name",
    [
        "q210_hits",
        "q363_greedy_cover",
        "q408_label_propagation",
        "q550_kcenter_diverse",
        "q603_hyperanf",
        "q619_maximal_matching",
        "q621_luby_mis",
        "q654_dominant_direction",
        "q655_kcore_peel",
        "q660_ktruss_peel",
    ],
)
def test_round_loops_leave_the_cache_manager_empty(spark, sf_dir, name):
    """A round loop persists nothing: after the request, no cached plan
    is left for a later query to match."""
    spark.catalog.clearCache()
    QUERIES[name](spark, sf_dir).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_q366_returns_a_local_relation(spark, sf_dir):
    df = QUERIES["q366_stream_upsert_snapshot"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan
    assert [(f.name, f.dataType.simpleString()) for f in df.schema] == [
        ("k", "bigint"), ("event_id", "bigint"), ("event_type", "string"), ("value", "double"),
    ]
