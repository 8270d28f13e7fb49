"""Equivalence gates for the round-7 within-cluster pair scorer.

semantic_dedup's pair stage moved from a centroid-keyed self-join
(every pair ships both 64-dim vectors through the exchange) to ONE
grouped Arrow task per cluster (each vector ships once; the scorer
loops dimensions in the SAME ascending order from the same 0.0 seed as
the `dot`/`norm` HOF folds, so selected pairs are bit-identical). The
declared q168 data has no qualifying pairs at any SF, so THESE tests
carry the emission-path equivalence burden:

- pair sets equal the join-path sets across thresholds, including a
  threshold set to an actual pair's fold-computed cosine (the exact
  boundary — any last-bit divergence flips it);
- zip_with's unequal-length semantics (null-padding → pair dropped);
- null ids / null vectors drop like their null-propagated comparisons;
- string ids keep the join path (numpy '<' is not Spark's UTF-8 order).
"""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

from riptable_spark.operators import similarity as sim


def _emb(spark, rows, id_type="long"):
    return spark.createDataFrame(rows, f"vec_id {id_type}, embedding array<double>")


def _join_pairs(assigned, threshold):
    """The pre-round-7 join-path pair stage, verbatim."""
    a = assigned.select(
        F.col("centroid_id"), F.col("vec_id").alias("id_a"), F.col("embedding").alias("__va__")
    ).withColumn("__na__", sim.norm(F.col("__va__")))
    b = a.select(
        F.col("centroid_id"),
        F.col("id_a").alias("id_b"),
        F.col("__va__").alias("__vb__"),
        F.col("__na__").alias("__nb__"),
    )
    return (
        a.join(b, on="centroid_id")
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            (sim.dot(F.col("__va__"), F.col("__vb__")) / (F.col("__na__") * F.col("__nb__"))).alias("cos_sim"),
        )
    )


@pytest.fixture(scope="module")
def clustered(spark):
    rng = random.Random(7)
    dim = 16
    rows = []
    base = [[rng.uniform(-1, 1) for _ in range(dim)] for _ in range(6)]
    vid = 0
    for b in base:
        for _ in range(25):  # jittered near-dups → plenty of pairs
            rows.append((vid, [x + rng.uniform(-0.05, 0.05) for x in b]))
            vid += 1
    emb = _emb(spark, rows)
    cents = spark.createDataFrame(
        [(i, base[i]) for i in range(3)], "centroid_id int, centroid_vec array<double>"
    )
    assigned = sim.ivf_assign(emb, cents, id_col="vec_id", vec_col="embedding")
    return assigned


def test_pair_sets_match_join_path_across_thresholds(spark, clustered):
    jp = _join_pairs(clustered, 0.0).collect()
    assert len(jp) > 100  # emission path genuinely exercised
    for thr in [0.5, 0.9, 0.99, 0.999]:
        want = {(r.id_a, r.id_b) for r in jp if r.cos_sim >= thr}
        got = {
            (r.id_a, r.id_b)
            for r in sim._within_cluster_pairs(clustered, "vec_id", "embedding", thr).collect()
        }
        assert got == want, thr
    assert any(r.cos_sim >= 0.9 for r in jp)  # the 0.9 case was non-empty


def test_exact_boundary_threshold_bit_identity(spark, clustered):
    # threshold = an actual pair's fold-computed cosine: >= must keep it
    # in BOTH paths — any last-bit divergence in the scorer flips it
    jp = _join_pairs(clustered, 0.0).collect()
    boundary = sorted(r.cos_sim for r in jp if r.cos_sim > 0.5)[len(jp) // 4]
    want = {(r.id_a, r.id_b) for r in jp if r.cos_sim >= boundary}
    got = {
        (r.id_a, r.id_b)
        for r in sim._within_cluster_pairs(clustered, "vec_id", "embedding", boundary).collect()
    }
    assert got == want
    assert any(math.isclose(r.cos_sim, boundary, rel_tol=0, abs_tol=0) for r in jp)


def test_unequal_lengths_and_nulls_match_join_path(spark):
    rows = [
        (1, [1.0, 0.0]),
        (2, [1.0, 1e-9]),          # pairs with 1 (same length)
        (3, [1.0, 0.0, 0.0]),      # length 3: zip_with null-pads vs 1/2 → dropped
        (4, [1.0, 1e-9, 0.0]),     # pairs with 3
        (5, None),                  # null vector → all its pairs null → dropped
        (None, [1.0, 0.0]),         # null id → comparison null → dropped
    ]
    emb = _emb(spark, rows)
    cents = spark.createDataFrame([(0, [1.0, 0.0])], "centroid_id int, centroid_vec array<double>")
    assigned = sim.ivf_assign(emb, cents, id_col="vec_id", vec_col="embedding")
    want = {
        (r.id_a, r.id_b)
        for r in _join_pairs(assigned, 0.0).where(F.col("cos_sim") >= 0.99).collect()
    }
    got = {
        (r.id_a, r.id_b)
        for r in sim._within_cluster_pairs(assigned, "vec_id", "embedding", 0.99).collect()
    }
    assert got == want == {(1, 2), (3, 4)}


def test_zero_norm_vectors_drop_instead_of_ansi_raise(spark):
    # documented DOMAIN EXTENSION: the old join path's double division
    # RAISES under ANSI when a norm is exactly 0 (zero/empty vectors),
    # so its domain excluded them; the Arrow scorer's IEEE NaN simply
    # never reaches the threshold. No declared query carries zero-norm
    # vectors (q168 oracle-passes at every SF either way).
    rows = [(1, [1.0, 0.0]), (2, [1.0, 1e-9]), (6, [0.0, 0.0]), (7, [0.0, 0.0])]
    emb = _emb(spark, rows)
    cents = spark.createDataFrame([(0, [1.0, 0.0])], "centroid_id int, centroid_vec array<double>")
    assigned = sim.ivf_assign(emb, cents, id_col="vec_id", vec_col="embedding")
    got = {
        (r.id_a, r.id_b)
        for r in sim._within_cluster_pairs(assigned, "vec_id", "embedding", 0.99).collect()
    }
    assert got == {(1, 2)}


def test_pairwise_cosine_zero_norm_drops_where_join_path_raises(spark):
    # the domain edge pairwise_cosine's docstring names: under ANSI the
    # join path's double division raises DIVIDE_BY_ZERO on a zero norm,
    # the grouped-Arrow path NaN-drops the pair. The path follows the id
    # type: integer ids score in Arrow, string ids in the join
    rows = [(1, [1.0, 0.0]), (2, [1.0, 1e-9]), (6, [0.0, 0.0]), (7, [0.0, 0.0])]
    fast = {(r.id_a, r.id_b) for r in sim.pairwise_cosine(_emb(spark, rows), threshold=0.99).collect()}
    assert fast == {(1, 2)}
    emb = _emb(spark, [(str(i), v) for i, v in rows], id_type="string")
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        sim.pairwise_cosine(emb, threshold=0.99).collect()


def test_string_ids_keep_the_join_path(spark):
    # numpy '<' on object strings is Python code-point order, not
    # Spark's binary UTF-8 order — semantic_dedup must not take the
    # grouped-Arrow path for non-integer ids
    rows = [("a", [1.0, 0.0]), ("b", [1.0, 1e-9]), ("c", [0.0, 1.0])]
    emb = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    cents = spark.createDataFrame([(0, [1.0, 0.0])], "centroid_id int, centroid_vec array<double>")
    assigned = sim.ivf_assign(emb, cents, id_col="vec_id", vec_col="embedding")
    pairs = sim._cluster_pairs(assigned, "vec_id", "embedding", 0.99)
    assert "zip_with" in pairs._jdf.queryExecution().analyzed().toString()
    out = sim.semantic_dedup(emb, threshold=0.99, centroids=cents)
    assert {r.vec_id for r in out.collect()} == {"a", "c"}


def test_semantic_dedup_grouped_path_in_plan_for_long_ids(spark):
    rows = [(1, [1.0, 0.0]), (2, [1.0, 1e-9]), (3, [0.0, 1.0])]
    emb = _emb(spark, rows)
    cents = spark.createDataFrame([(0, [1.0, 0.0])], "centroid_id int, centroid_vec array<double>")
    assigned = sim.ivf_assign(emb, cents, id_col="vec_id", vec_col="embedding")
    pairs = sim._cluster_pairs(assigned, "vec_id", "embedding", 0.99)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    # grouped_apply's runner over centroid_id, and no pair self-join
    # (ivf_assign's zip_with argmin legitimately remains upstream)
    assert "MapInPandas runner(centroid_id" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    out = sim.semantic_dedup(emb, threshold=0.99, centroids=cents)
    assert {r.vec_id for r in out.collect()} == {1, 3}


def test_emit_sim_values_bit_identical_to_join_path(spark, clustered):
    # r7 pairwise_cosine routing: the scorer's emitted cos_sim doubles
    # must equal the join path's fold-computed doubles EXACTLY (no
    # tolerance) — pairwise_cosine returns the value, not just the pair
    want = {
        (r.id_a, r.id_b): r.cos_sim
        for r in _join_pairs(clustered, 0.0).collect()
        if r.cos_sim >= 0.5
    }
    got = {
        (r.id_a, r.id_b): r.cos_sim
        for r in sim._within_cluster_pairs(
            clustered, "vec_id", "embedding", 0.5, emit_sim=True
        ).collect()
    }
    assert got == want  # dict equality: same pairs AND identical doubles


def test_pairwise_cosine_dispatch_parity(spark, clustered):
    # integer ids take the grouped-Arrow path, string ids the join path;
    # both results (pairs + exact cos_sim) must match the join-path
    # reference over the same input taken as one cluster
    emb = clustered.select("vec_id", "embedding")
    fast = {
        (r.id_a, r.id_b): r.cos_sim
        for r in sim.pairwise_cosine(emb, threshold=0.9).collect()
    }
    one = emb.select(F.lit(0).alias("centroid_id"), "vec_id", "embedding")
    slow = {
        (r.id_a, r.id_b): r.cos_sim
        for r in _join_pairs(one, 0.9).where(F.col("cos_sim") >= 0.9).collect()
    }
    strs = emb.select(F.format_string("%03d", "vec_id").alias("vec_id"), "embedding")
    joined = {
        (int(r.id_a), int(r.id_b)): r.cos_sim
        for r in sim.pairwise_cosine(strs, threshold=0.9).collect()
    }
    assert fast == slow == joined and len(fast) > 0
