"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query at sf0.001;
``queries()`` / ``oracle_sql()`` expose the operator inventory from
SURVEY.md §2 — implementations live in ``riptable_spark/`` and the
registry in ``riptable_spark/queries.py``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from riptable_spark.queries import ORACLES, QUERIES, load_all

load_all()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1 shape) on /root/testdata/sf0.001."""
    return QUERIES["q01_pricing_summary"](spark, "/root/testdata/sf0.001")


# Harnesses that cap how many queries they check walk the dict in insertion
# order, so front-load one representative of every operator family (scan,
# filter, each join flavor, agg, window, dedup/ANN, streaming, categorical,
# UDF) ahead of the remaining variants.
_PRIORITY = [
    "q01_pricing_summary",
    "q04_groupby_stats",
    "q07_merge2_inner",
    "q13_asof_backward",
    "q17_rolling",
    "q20_drop_duplicates",
    "q22_accum2",
    "q26_datetime",
    "q27_strings",
    "q28_text_stats",
    "q30_dedup_exact",
    "q31_token_jaccard",
    "q32_cosine_topk",
    "q33_minhash_pairs",
    "q35_ema_decay",
    "q41_math_surface",
    "q47_rollup",
    "q48_apply_reduce",
    "q64_timewindow_range",
    "q71_streaming_tumbling",
    "q80_regression",
    "q101_categorical_reuse",
    "q106_salted_join",
    "q111_apply_rows",
    "q114_lsh_dedup",
    # --- rotating back half: 25 queries the capped driver check had
    # not yet run — the batch-20 tail first (the freshest code), then
    # representatives of the queries whose operators were rewritten for
    # speed (CC union-find, hits/label_prop checkpoints, grouped_apply,
    # HOF let-binding, composition checkpoints — independent driver
    # confirmation of the rewrites), then sketches and geometry reps.
    # Rotating this half widens the driver-checked set over successive
    # runs; the core reps above stay pinned.
    "q657_abtt_audit",
    "q658_core_communities",
    "q659_component_cycles",
    "q660_ktruss_peel",
    # round-6-optimized operators, never driver-checked
    "q210_hits",
    "q408_label_propagation",
    "q422_identity_resolution",
    "q190_leakage_safe_split",
    "q256_dedup_keep_best",
    "q620_kernels_scorecard",
    "q590_attribution_comparison",
    "q600_engine_self_audit",
    "q500_pipeline_scorecard",
    "q314_l2_normalize",
    "q207_corpus_overlap",
    "q275_doc_novelty",
    "q192_bpe_train",
    "q87_apply_nonreduce",
    "q371_isotonic",
    # sketches / geometry reps still unseen
    "q233_count_min",
    "q241_kmv_sketch",
    "q597_sketch_scorecard",
    "q628_hll_p_sweep",
    "q534_geohash_cells",
    "q347_grid_neighbor_join",
]


def _ordered(d: dict) -> dict:
    out = {k: d[k] for k in _PRIORITY if k in d}
    out.update({k: v for k, v in d.items() if k not in out})
    return out


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _ordered(QUERIES)


def oracle_sql() -> dict[str, str]:
    return _ordered(ORACLES)
