"""The session keeps every generated class of a repeated workload compiled.

Spark compiles each whole-stage codegen class with Janino and caches it
under spark.sql.codegen.cache.maxEntries entries. The benchmark's batch
queries generate about 101 distinct classes, more than Spark's default
cap of 100, so at that cap every warm sweep recompiles part of each plan
(33 classes per sweep at sf0.001).
"""

from __future__ import annotations

from riptable_spark.queries import QUERIES
from riptable_spark.session import CODEGEN_CACHE_ENTRIES

# the batch_sf0.05 benchmark workload's queries
BATCH_QUERIES = (
    "q01_pricing_summary",
    "q07_merge2_inner",
    "q09_merge_lookup",
    "q13_asof_backward",
    "q20_drop_duplicates",
    "q31_token_jaccard",
    "q32_cosine_topk",
)
# q31's second run plans a few codegen stages under new stage ids, so it
# compiles again once; AQE numbers codegen stages in the order they
# materialize and the class source embeds that id (Spark-internal). It
# still runs in every sweep so its classes stay in the working set.
UNSTABLE_ON_REPEAT = {"q31_token_jaccard"}


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _sweep(spark, sf_dir) -> dict[str, int]:
    """Run every batch query into the noop sink; Janino compiles per query."""
    compiles = {}
    for name in BATCH_QUERIES:
        before = _compiles(spark)
        QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        compiles[name] = _compiles(spark) - before
    return compiles


def test_codegen_cache_is_sized_to_the_working_set(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)


def test_warm_sweep_compiles_nothing(spark, sf_dir):
    _sweep(spark, sf_dir)
    warm = _sweep(spark, sf_dir)
    recompiled = {q: n for q, n in warm.items() if n and q not in UNSTABLE_ON_REPEAT}
    assert recompiled == {}
