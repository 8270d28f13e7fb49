"""Round-6 operator tests: k_core peeling, exact-integer dominant
direction, and the PQ shortlist+rerank serving path."""

from __future__ import annotations

from pyspark.sql import functions as F

from riptable_spark.operators import similarity as sim
from riptable_spark.operators.graph import k_core, k_truss


def test_k_core_peels_pendant_keeps_triangle(spark):
    # triangle 1-2-3 plus pendant 4 hanging off 1, plus a 2-chain 5-6:
    # a 2-core keeps exactly the triangle after one round
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (1, 4), (5, 6)], "id_a int, id_b int"
    )
    out = {r["round"]: (r["n_nodes"], r["n_edges"]) for r in k_core(pairs, k=2).collect()}
    assert out[1] == (3, 3)  # pendant + chain peeled immediately
    assert out[2] == (3, 3)  # converged
    assert out[3] == (3, 3)


def test_k_core_full_peel_empties(spark):
    # pure chain has no 2-core
    pairs = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "id_a int, id_b int")
    out = {r["round"]: (r["n_nodes"], r["n_edges"]) for r in k_core(pairs, k=2).collect()}
    assert out[3] == (0, 0)


def test_k_core_zero_rounds_empty_curve(spark):
    # round-6 lazy-curve guard: max_rounds=0 returns an EMPTY curve with
    # the contract schema (the eager literal form did the same)
    pairs = spark.createDataFrame([(1, 2)], "id_a int, id_b int")
    out = k_core(pairs, k=2, max_rounds=0)
    assert out.columns == ["round", "n_nodes", "n_edges"]
    assert out.count() == 0


def test_k_truss_zero_rounds_empty_curve(spark):
    # same round-6 lazy-curve guard for the edge-support sibling
    pairs = spark.createDataFrame([(1, 2)], "id_a int, id_b int")
    out = k_truss(pairs, k=3, max_rounds=0)
    assert out.columns == ["round", "n_edges", "n_triangles"]
    assert out.count() == 0


def test_dominant_direction_finds_planted_axis(spark):
    # 50 vectors concentrated on dim 3 (index 2), small noise elsewhere
    rows = []
    for i in range(50):
        v = [0.01 * ((i * 7 + d) % 5 - 2) for d in range(8)]
        v[2] = 1.0 if i % 2 == 0 else 0.9
        rows.append((i, v))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["dim"]: r["weight"] for r in sim.dominant_direction(df, n_iter=2).collect()}
    assert len(out) == 8
    top = max(out, key=lambda d: abs(out[d]))
    assert top == 3  # 1-based dim of the planted axis
    # rescale keeps max |weight| near rescale_to
    assert 500 <= abs(out[top]) <= 1000


def test_pq_rerank_with_full_candidates_equals_brute(spark, sf_dir):
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dvec = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    corpus = e.select("vec_id", dvec.alias("embedding")).where(F.col("vec_id") < 60)
    nrm = F.sqrt(F.aggregate("embedding", F.lit(0.0), lambda a, x: a + x * x))
    unit = corpus.select(
        "vec_id", F.transform("embedding", lambda x: x / nrm).alias("embedding")
    )
    queries = unit.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    books = sim.pq_train(unit, m=4, ksub=16, n_iter=2)
    codes = sim.pq_encode_columnar(unit, books)
    # candidates >= corpus: the shortlist covers everything, so rerank
    # MUST reproduce exact brute-force top-k
    got = sim.pq_search_rerank(
        codes, unit, queries, books, k=5, candidates=100
    ).collect()
    want = sim.brute_force_topk(unit, queries, k=5).collect()
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    got_ids = {key(r): r["vec_id"] for r in got}
    want_ids = {key(r): r["vec_id"] for r in want}
    assert got_ids == want_ids


def test_pq_rerank_recall_beats_plain_adc(spark, sf_dir):
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dvec = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    corpus = e.select("vec_id", dvec.alias("embedding"))
    nrm = F.sqrt(F.aggregate("embedding", F.lit(0.0), lambda a, x: a + x * x))
    unit = corpus.select(
        "vec_id", F.transform("embedding", lambda x: x / nrm).alias("embedding")
    )
    queries = unit.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    gt = {}
    for r in sim.brute_force_topk(unit, queries, k=5).collect():
        gt.setdefault(r["query_id"], set()).add(r["vec_id"])
    books = sim.pq_train(unit, m=4, ksub=16, n_iter=2)
    codes = sim.pq_encode_columnar(unit, books)

    def recall(rows):
        got = {}
        for r in rows:
            got.setdefault(r["query_id"], set()).add(r["vec_id"])
        return sum(len(gt[q] & got.get(q, set())) for q in gt) / sum(
            len(gt[q]) for q in gt
        )

    plain = recall(sim.pq_search_columnar(codes, queries, books, k=5).collect())
    rerank = recall(
        sim.pq_search_rerank(codes, unit, queries, books, k=5, candidates=40).collect()
    )
    assert rerank >= plain
