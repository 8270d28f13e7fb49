"""Dedup (MinHash/SimHash/Jaccard) and similarity-search correctness."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from riptable_spark.operators import dedup, graph, similarity


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = [
        (0, base),
        (1, base),  # exact dup of 0
        (2, base.replace("dog", "cat")),  # near dup
        (3, "completely different words about spark dataframes and shuffles everywhere"),
        (4, "the  QUICK  brown fox jumps over the lazy dog near the river bank today"),  # ws/case dup
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_dedup_exact_normalized(docs):
    kept = sorted(r.doc_id for r in dedup.dedup_exact(docs).collect())
    assert kept == [0, 2, 3]  # 1 and 4 collapse onto 0


def test_duplicate_clusters(docs):
    cl = dedup.duplicate_clusters_exact(docs).collect()
    assert len(cl) == 1 and cl[0].n_docs == 3 and cl[0].keep_id == 0


def test_minhash_finds_near_dups(docs):
    pairs = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_pairs(docs, num_perm=32, bands=16, shingle_n=2).collect()
    }
    assert (0, 1) in pairs and (0, 4) in pairs  # exact dups always collide
    assert not any(3 in p for p in pairs)  # unrelated doc never pairs


def test_minhash_dedup_removes(docs):
    kept = sorted(r.doc_id for r in dedup.minhash_dedup(docs, num_perm=32, bands=16, shingle_n=2).collect())
    assert 0 in kept and 3 in kept and 1 not in kept


def test_simhash_hamming(docs):
    sh = {r["doc_id"]: r["__sh__"] for r in dedup.simhash_df(docs).collect()}
    assert sh[0] == sh[1]  # identical text → identical fingerprint
    d_near = bin(sh[0] ^ sh[2]).count("1")
    d_far = bin(sh[0] ^ sh[3]).count("1")
    assert d_near < d_far


def test_simhash_near_dups(docs):
    pairs = {(r.id_a, r.id_b) for r in dedup.simhash_near_dups(docs, max_hamming=6).collect()}
    assert (0, 1) in pairs
    assert not any(3 in p for p in pairs)


def test_ngram_jaccard_exact_value(spark):
    a = "w1 w2 w3 w4"
    b = "w1 w2 w3 w5"
    df = spark.createDataFrame([(0, a), (1, b)], ["doc_id", "text"])
    out = dedup.ngram_jaccard_pairs(df, n=1, threshold=0.0).collect()
    assert len(out) == 1
    assert math.isclose(out[0].jaccard, 3 / 5)  # |∩|=3, |∪|=5


def test_shingles_word_mode(spark):
    df = spark.createDataFrame([(0, "a b c d")], ["doc_id", "text"])
    got = df.select(dedup.shingles(F.col("text"), 2).alias("s")).collect()[0].s
    assert sorted(got) == ["a b", "b c", "c d"]


# ---------------------------------------------------------- similarity
@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.default_rng(3)
    vecs = rng.normal(size=(50, 8)).astype("float64")
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(50)]
    return vecs, spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_brute_force_topk_matches_numpy(vectors):
    vecs, df = vectors
    queries = df.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = similarity.brute_force_topk(df, queries, k=5)
    got = {}
    for r in out.collect():
        got.setdefault(r.query_id, []).append((r.rank, r.vec_id, r.score))
    norms = np.linalg.norm(vecs, axis=1)
    sims = (vecs @ vecs.T) / np.outer(norms, norms)
    for q in range(3):
        order = sorted(range(50), key=lambda i: (-sims[q, i], i))[:5]
        got_ids = [v for _, v, _ in sorted(got[q])]
        assert got_ids == order
        for rank, vid, score in got[q]:
            assert math.isclose(score, sims[q, vid], rel_tol=1e-9)


def test_lsh_topk_self_recall(vectors):
    """Every query's own vector is in its bucket and ranks #1."""
    vecs, df = vectors
    queries = df.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = similarity.lsh_topk(df, queries, dim=8, k=3, n_planes=6)
    top1 = {r.query_id: r.vec_id for r in out.collect() if r.rank == 1}
    assert top1 == {i: i for i in range(5)}


def test_pairwise_cosine_threshold(spark):
    rows = [(0, [1.0, 0.0]), (1, [1.0, 0.01]), (2, [0.0, 1.0])]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    pairs = {(r.id_a, r.id_b) for r in similarity.pairwise_cosine(df, threshold=0.99).collect()}
    assert pairs == {(0, 1)}


def test_ivf_assign(spark):
    cents = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [10.0, 10.0])], ["centroid_id", "centroid_vec"]
    )
    vecs = spark.createDataFrame(
        [(0, [1.0, 1.0]), (1, [9.0, 9.5]), (2, [0.1, 0.2])], ["vec_id", "embedding"]
    )
    got = {r.vec_id: r.centroid_id for r in similarity.ivf_assign(vecs, cents).collect()}
    assert got == {0: 0, 1: 1, 2: 0}


def test_dedup_exact_null_texts_are_not_duplicates(spark):
    from riptable_spark.operators import dedup

    df = spark.createDataFrame(
        [(1, None), (2, None), (3, "hello")], ["doc_id", "text"]
    )
    kept = sorted(r.doc_id for r in dedup.dedup_exact(df).collect())
    assert kept == [1, 2, 3]


def test_simhash_recall_above_three_bits(spark):
    """Pigeonhole chunking must scale with max_hamming: two fingerprints
    differing in one bit of each 16-bit quarter (hamming 4) must still
    meet in a bucket when max_hamming >= 4."""
    import pyspark.sql.functions as F

    from riptable_spark.operators import dedup

    base = 0x1234_5678_9ABC_DEF0
    other = base ^ 0x0001_0001_0001_0001  # one flipped bit in each 16-bit chunk
    df = spark.createDataFrame([(1, base), (2, other)], ["doc_id", "__sh__"])
    # drive the bucketing stage directly (simhash_df is text-based)
    n_chunks, width = 5, 12
    def chunk(i):
        shifted = F.shiftrightunsigned(F.col("__sh__"), width * i)
        bits = 64 - width * i if i == n_chunks - 1 else width
        return shifted if bits >= 64 else shifted.bitwiseAND(F.lit((1 << bits) - 1))
    banded = df.select("doc_id", F.posexplode(F.array(*[chunk(i) for i in range(n_chunks)])).alias("ci", "cv"))
    a, b = banded.alias("a"), banded.alias("b")
    pairs = a.join(b, on=[F.col("a.ci") == F.col("b.ci"), F.col("a.cv") == F.col("b.cv"), F.col("a.doc_id") < F.col("b.doc_id")]).select("a.doc_id").distinct().count()
    assert pairs == 1  # 5 chunks of ~12 bits: 4 flipped bits leave >=1 chunk intact


def test_simhash_near_dups_end_to_end_wide_hamming(spark):
    from riptable_spark.operators import dedup

    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today"),
         (2, "the quick brown fox jumps over the lazy cat today"),
         (3, "completely different text about spark aggregation plans")],
        ["doc_id", "text"],
    )
    pairs = dedup.simhash_near_dups(df, max_hamming=8).collect()
    assert all({r.id_a, r.id_b} != {1, 3} for r in pairs)


def test_ivf_topk_exhaustive_probe_equals_brute_force(vectors, spark):
    """With nprobe = #centroids the IVF search must reproduce the exact
    brute-force top-k; with nprobe=1 it returns only probed-list members
    (the recall/compute dial)."""
    import numpy as np

    vecs, df = vectors
    rng = np.random.default_rng(11)
    cents = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=8)]) for i in range(3)],
        ["centroid_id", "centroid_vec"],
    )
    queries = df.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    full = similarity.ivf_topk(
        df, cents, queries, k=5, nprobe=3,
        query_id_col="query_id", query_vec_col="query_vec",
    )
    norms = np.linalg.norm(vecs, axis=1)
    sims = (vecs @ vecs.T) / np.outer(norms, norms)
    got = {}
    for r in full.collect():
        got.setdefault(r.query_id, []).append((r.rank, r.vec_id))
    for q in range(3):
        exact = sorted(range(50), key=lambda i: (-sims[q, i], i))[:5]
        assert [v for _, v in sorted(got[q])] == exact
    # nprobe=1: own vector still found (its list is the nearest probe)
    one = similarity.ivf_topk(
        df, cents, queries, k=5, nprobe=1,
        query_id_col="query_id", query_vec_col="query_vec",
    )
    top1 = {r.query_id: r.vec_id for r in one.collect() if r.rank == 1}
    assert top1 == {0: 0, 1: 1, 2: 2}


def test_kmeans_separates_obvious_clusters(spark):
    """Lloyd k-means on two well-separated blobs: members must split
    exactly by blob, centroids land on the blob means, empty-cluster
    guard keeps k rows."""
    import numpy as np
    from pyspark.sql import functions as F

    from riptable_spark.operators import similarity as sim

    rows = []
    for i in range(40):
        base = 0.0 if i % 2 == 0 else 100.0
        rows.append((i, [base + (i % 5) * 0.1, base - (i % 3) * 0.1]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = sim.kmeans_fit(df, k=2, n_iter=4)
    got = cents.collect()
    assert len(got) == 2
    assert sorted(r.n_members for r in got) == [20, 20]
    means = sorted(r.centroid_vec[0] for r in got)
    assert abs(means[0] - 0.2) < 0.5 and abs(means[1] - 100.2) < 0.5
    # assignment agrees with blob membership
    assigned = sim.ivf_assign(df, cents)
    sides = {r.centroid_id: set() for r in got}
    for r in assigned.collect():
        sides[r.centroid_id].add(r.vec_id % 2)
    assert all(len(s) == 1 for s in sides.values())


def test_ivf_search_end_to_end(spark):
    """ivf_search with exhaustive probing (nprobe == nlist) equals
    brute-force top-k; sampled training still returns k results."""
    from riptable_spark.operators import similarity as sim

    rows = [(i, [float((i * 13 + j * 7) % 19) for j in range(8)]) for i in range(200)]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qs = spark.createDataFrame(
        [(0, rows[5][1]), (1, rows[77][1])], "query_id long, query_vec array<double>"
    )
    exact = {
        (r.query_id, r.rank): r.vec_id for r in sim.brute_force_topk(vecs, qs, k=5).collect()
    }
    ivf = {
        (r.query_id, r.rank): r.vec_id
        for r in sim.ivf_search(vecs, qs, k=5, nlist=4, nprobe=4, n_iter=3).collect()
    }
    assert ivf == exact
    sampled = sim.ivf_search(vecs, qs, k=5, nlist=4, nprobe=4, n_iter=2, train_sample_frac=0.5)
    counts = {r.query_id for r in sampled.collect()}
    assert counts == {0, 1}


def test_connected_components_chains(spark):
    """Chains merge transitively (a~b, b~c, c~d → one component) and
    disjoint clusters stay apart; dedup_by_components keeps exactly the
    min-id representative per cluster plus all untouched rows."""
    from riptable_spark.operators import dedup

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 20)], "id_a long, id_b long"
    )
    comp = {r.node: r.component for r in graph.connected_components(pairs).collect()}
    assert comp[1] == comp[2] == comp[3] == comp[4] == 1
    assert comp[10] == comp[11] == 10
    assert comp[20] == comp[21] == 20
    docs = spark.createDataFrame([(i, f"t{i}") for i in range(25)], "doc_id long, text string")
    kept = sorted(r.doc_id for r in dedup.dedup_by_components(docs, pairs).collect())
    assert 1 in kept and all(x not in kept for x in (2, 3, 4, 11, 21))
    assert 10 in kept and 20 in kept and 5 in kept and len(kept) == 25 - 5


def test_connected_components_small_graph_single_task_path(spark):
    """Round-6 optimization contract: a measured-small (≤500k edge)
    graph resolves in ONE Arrow union-find task — the physical plan
    carries a MapInPandas node and no iterative join loop — and the
    labels still equal the min-reachable-id fixed point, including for
    string node ids and grouped disjoint graphs."""

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 20)], "id_a long, id_b long"
    )
    out = graph.connected_components(pairs)
    assert "MapInPandas" in out._jdf.queryExecution().executedPlan().toString()
    comp = {r.node: r.component for r in out.collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}
    # string ids: min = lexicographic, matching F.min on strings
    spairs = spark.createDataFrame([("b", "c"), ("c", "a"), ("x", "y")], "id_a string, id_b string")
    scomp = {r.node: r.component for r in graph.connected_components(spairs).collect()}
    assert scomp == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}
    # grouped: same node ids in different groups stay independent
    gpairs = spark.createDataFrame(
        [("g1", 1, 2), ("g2", 2, 3)], "grp string, id_a long, id_b long"
    )
    gcomp = {
        (r.grp, r.node): r.component
        for r in graph.connected_components(gpairs, group_cols=["grp"]).collect()
    }
    assert gcomp == {("g1", 1): 1, ("g1", 2): 1, ("g2", 2): 2, ("g2", 3): 2}


def test_connected_components_round_loop_matches_union_find(spark, monkeypatch):
    """The push/pointer-jump round loop (the scale path for graphs above
    CC_SMALL_EDGES) gives the union-find path's labels: the chain graph,
    string ids, grouped disjoint graphs, and a 31-node path, which the
    loop resolves within 5 rounds."""

    path = spark.createDataFrame([(i, i + 1) for i in range(30)], "id_a long, id_b long")
    graphs = [
        (spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 20)], "id_a long, id_b long"
        ), None),
        (spark.createDataFrame([("b", "c"), ("c", "a"), ("x", "y")], "id_a string, id_b string"), None),
        (spark.createDataFrame([("g1", 1, 2), ("g2", 2, 3)], "grp string, id_a long, id_b long"), ["grp"]),
        (path, None),
    ]

    def run(pairs, g, **kw):
        out = graph.connected_components(pairs, group_cols=g, **kw)
        return out, sorted(tuple(r) for r in out.collect())

    want = [run(p, g)[1] for p, g in graphs]
    assert want[3] == [(i, 0) for i in range(31)]
    monkeypatch.setattr(graph, "CC_SMALL_EDGES", 0)
    got = [run(p, g, max_iter=5) for p, g in graphs]
    for out, _ in got:
        assert "MapInPandas" not in out._jdf.queryExecution().executedPlan().toString()
    assert [rows for _, rows in got] == want


def test_pq_train_lossless_when_codebook_covers_subvectors(spark):
    """PQ quantization-error contract: when every subvector comes from a
    pool of ≤ ksub distinct values, trained codebooks reproduce them
    exactly (centroid = mean of identical points) and ADC distance
    equals the EXACT squared euclidean distance — quantization error is
    provably zero, so the whole train→encode→search path is verified
    end-to-end without tolerance fudging."""
    from pyspark.sql import functions as F

    from riptable_spark.operators import similarity as sim

    # 4 subspaces of dim 4; subvector pool of 3 distinct values per subspace
    pool = [[float(p), float(p * p % 7), float(-p), 1.0 + p] for p in range(3)]
    rows = []
    for i in range(60):
        vec = []
        for j in range(4):
            vec.extend(pool[(i * (j + 2) + j) % 3])
        rows.append((i, vec))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    books = sim.pq_train(df, m=4, ksub=3, n_iter=2)
    codes = sim.pq_encode(df, books)
    queries = df.where(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = {
        (r.query_id, r.vec_id): r.adc_dist
        for r in sim.pq_search(codes, queries, books, k=60).collect()
    }
    exact = {
        (r.query_id, r.vec_id): r.d2
        for r in df.crossJoin(F.broadcast(queries))
        .select(
            "query_id", "vec_id",
            sim._sq_dist(
                F.col("embedding"), F.col("query_vec")
            ).alias("d2"),
        )
        .collect()
    }
    assert set(got) == set(exact)
    for key in got:
        assert abs(got[key] - exact[key]) < 1e-9, (key, got[key], exact[key])


def test_dedup_lines_join_and_bloom_modes(spark):
    """dedup_lines: boilerplate (≥ min_count corpus-wide) vanishes from
    every doc, unique lines survive in order, all-boilerplate docs drop
    out; bloom mode matches the exact join mode at tiny fpp and its
    corpus side never shuffles."""
    from riptable_spark.operators import dedup as dd
    from riptable_spark.plans import inspect as pi

    rows = []
    for i in range(40):
        body = f"unique-{i}-a\nunique-{i}-b"
        rows.append((i, f"COMMON HEADER\n{body}\nCOMMON FOOTER"))
    rows.append((99, "COMMON HEADER\nCOMMON FOOTER"))  # all boilerplate
    df = spark.createDataFrame(rows, "doc_id long, text string")
    want = {i: f"unique-{i}-a\nunique-{i}-b" for i in range(40)}
    got_join = {r.doc_id: r.clean_text for r in dd.dedup_lines(df, min_count=3).collect()}
    assert got_join == want
    bloom = dd.dedup_lines(df, min_count=3, mode="bloom", fpp=1e-9)
    got_bloom = {r.doc_id: r.clean_text for r in bloom.collect()}
    assert got_bloom == want
    # bloom mode's text-carrying side: the only exchanges allowed are the
    # tiny frequent-hash aggregate feeding the filter build (the corpus
    # relation itself is scan→filter→project)
    plan = pi.simple_plan(bloom)
    assert "SortMergeJoin" not in plan


def test_ivf_partitioned_index_prunes_and_matches(spark, sf_dir, tmp_path):
    """save_ivf_index + ivf_topk_indexed: the partitioned layout must
    (a) return IDENTICAL results to the in-memory ivf_topk, and (b)
    actually partition-prune — the scan's partition filters carry the
    probed centroid_id IN-list, and the number of read partitions equals
    the probed set, not nlist."""
    from pyspark.sql import functions as F

    from riptable_spark.operators import similarity as sim
    from riptable_spark.plans import inspect as pi
    from riptable_spark.sources.io import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("embedding")
    )
    cents = sim.kmeans_fit(emb, k=8, n_iter=2).select("centroid_id", "centroid_vec")
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    path = str(tmp_path / "ivf_index")
    sim.save_ivf_index(emb, cents, path)
    served = sim.ivf_topk_indexed(spark, path, cents, queries, k=5, nprobe=2)
    want = {
        (r.query_id, r.rank): (r.vec_id, round(r.score, 9))
        for r in sim.ivf_topk(emb, cents, queries, k=5, nprobe=2).collect()
    }
    got = {(r.query_id, r.rank): (r.vec_id, round(r.score, 9)) for r in served.collect()}
    assert got == want
    plan = pi.plan_string(served)
    assert "PartitionFilters" in plan and "centroid_id" in plan.split("PartitionFilters", 1)[1][:200]


def test_ivfpq_exhaustive_lossless_matches_brute_force(spark):
    """IVF-PQ contract: with residuals drawn from ≤ ksub patterns per
    subspace (trained codebooks cover them → zero quantization error)
    and nprobe = nlist (exhaustive), the residual-ADC ranking equals the
    exact euclidean brute force, and adc_dist equals the true squared
    distance."""
    from pyspark.sql import functions as F

    from riptable_spark.operators import similarity as sim

    cents = spark.createDataFrame(
        [(0, [0.0] * 8), (1, [50.0] * 8)], "centroid_id int, centroid_vec array<double>"
    )
    pool = [[0.5, -0.25, 1.0, 0.75], [-1.0, 0.5, 0.25, -0.5], [2.0, 1.5, -0.75, 0.25]]
    rows = []
    for i in range(40):
        base = [0.0] * 8 if i % 2 == 0 else [50.0] * 8
        r = pool[i % 3] + pool[(i + 1) % 3]
        rows.append((i, [b + x for b, x in zip(base, r)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    index, books = sim.ivfpq_build(df, cents, m=2, ksub=3, n_iter=2)
    queries = df.where(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = sim.ivfpq_search(index, cents, queries, books, k=40, nprobe=2).collect()
    exact = {
        (r.query_id, r.vec_id): r.d2
        for r in df.crossJoin(F.broadcast(queries)).select(
            "query_id", "vec_id",
            sim._sq_dist(F.col("embedding"), F.col("query_vec")).alias("d2"),
        ).collect()
    }
    assert len(got) == 80
    for r in got:
        assert abs(r.adc_dist - exact[(r.query_id, r.vec_id)]) < 1e-9, (r, exact[(r.query_id, r.vec_id)])
    # ranking agrees with exact ordering (ties broken by vec_id both ways)
    for qid in (0, 1):
        want_order = [v for (q, v) in sorted(exact, key=lambda k: (exact[k], k[1])) if q == qid]
        got_order = [r.vec_id for r in sorted(got, key=lambda r: r.rank) if r.query_id == qid]
        assert got_order == want_order


def test_semantic_dedup_matches_global_pairwise_when_one_cluster(spark, sf_dir):
    """semantic_dedup with nlist=1 degenerates to the exact global
    pairwise form — kept set must equal pairwise_cosine + components on
    the full relation; with nlist>1 the kept set is a superset (pairs
    split across clusters are missed — the documented recall trade)."""
    from pyspark.sql import functions as F

    from riptable_spark.operators import dedup as dd
    from riptable_spark.operators import similarity as sim
    from riptable_spark.sources.io import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("embedding")
    )
    thr = 0.92
    one = {r.vec_id for r in sim.semantic_dedup(emb, nlist=1, threshold=thr).collect()}
    pairs = sim.pairwise_cosine(emb, threshold=thr).select("id_a", "id_b")
    want = {r.vec_id for r in dd.dedup_by_components(emb, pairs, id_col="vec_id").collect()}
    assert one == want
    clustered = {r.vec_id for r in sim.semantic_dedup(emb, nlist=4, threshold=thr).collect()}
    assert want <= clustered


def test_fuzzy_join_matches_and_verify_modes(spark):
    """fuzzy_join: identical texts match at jaccard 1.0; texts sharing
    no shingles never pair; levenshtein mode bounds edit distance. The
    candidate join is an equi-join on band keys (no cartesian)."""
    from riptable_spark.operators import dedup as dd
    from riptable_spark.plans import inspect as pi

    left = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today"),
         (2, "completely different content with no overlap at all here")],
        "doc_id long, text string",
    )
    right = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog today"),
         (11, "unrelated words entirely about other various topics instead")],
        "doc_id long, text string",
    )
    out = dd.fuzzy_join(left, right, threshold=0.5, num_perm=16, bands=8)
    got = {(r.doc_id_l, r.doc_id_r): r.jaccard for r in out.collect()}
    assert got.get((1, 10)) == 1.0
    assert (2, 11) not in got and (2, 10) not in got
    assert "CartesianProduct" not in pi.simple_plan(out)
    ed = dd.fuzzy_join(
        left, right, num_perm=16, bands=8, verify="levenshtein", max_edit_distance=0
    )
    got_ed = {(r.doc_id_l, r.doc_id_r): r.edit_distance for r in ed.collect()}
    assert got_ed == {(1, 10): 0}


def test_fuzzy_join_max_bucket_caps_boilerplate(spark):
    """max_bucket: a band bucket filled by boilerplate-identical rows on
    one side is dropped from candidate generation (the skew dial);
    normal matches are unaffected."""
    from riptable_spark.operators import dedup as dd

    boiler = [(100 + i, "identical boilerplate row repeated many many times over") for i in range(10)]
    left = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today")] + boiler,
        "doc_id long, text string",
    )
    right = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog today"),
         (999, "identical boilerplate row repeated many many times over")],
        "doc_id long, text string",
    )
    capped = dd.fuzzy_join(left, right, threshold=0.5, num_perm=16, bands=8, max_bucket=4)
    got = {(r.doc_id_l, r.doc_id_r) for r in capped.collect()}
    assert got == {(1, 10)}
    uncapped = dd.fuzzy_join(left, right, threshold=0.5, num_perm=16, bands=8)
    assert {(r.doc_id_l, r.doc_id_r) for r in uncapped.collect()} == {(1, 10)} | {
        (100 + i, 999) for i in range(10)
    }


def test_recall_at_k_ivf_vs_brute_force(spark, sf_dir):
    """recall_at_k: IVF with exhaustive probe == recall 1.0 everywhere;
    nprobe=1 recall ≤ 1 and the eval arithmetic is exact (n_hit/n_exact)."""
    from pyspark.sql import functions as F

    from riptable_spark.operators import similarity as sim
    from riptable_spark.sources.io import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("embedding")
    )
    queries = emb.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = sim.brute_force_topk(emb, queries, k=10)
    cents = sim.kmeans_fit(emb, k=4, n_iter=2).select("centroid_id", "centroid_vec")
    full = sim.ivf_topk(emb, cents, queries, k=10, nprobe=4)
    r_full = {r.query_id: r.recall for r in sim.recall_at_k(full, exact).collect()}
    assert all(v == 1.0 for v in r_full.values()), r_full
    one = sim.ivf_topk(emb, cents, queries, k=10, nprobe=1)
    r_one = sim.recall_at_k(one, exact).collect()
    for r in r_one:
        assert r.n_exact == 10 and 0.0 <= r.recall <= 1.0
        assert r.recall == r.n_hit / 10.0


def test_kmeans_and_pq_rerun_deterministic(spark, sf_dir):
    """The no-RNG discipline: kmeans_fit and pq_train produce BYTE-
    identical models on rerun (hash seeding, no random state) — the
    property that makes resumable pipelines and SQL oracles possible."""
    from pyspark.sql import functions as F

    from riptable_spark.operators import similarity as sim
    from riptable_spark.sources.io import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("embedding")
    )
    c1 = {r.centroid_id: list(r.centroid_vec) for r in sim.kmeans_fit(emb, k=4, n_iter=2).collect()}
    c2 = {r.centroid_id: list(r.centroid_vec) for r in sim.kmeans_fit(emb, k=4, n_iter=2).collect()}
    assert c1 == c2
    b1 = sim.pq_train(emb, m=4, ksub=4, n_iter=1)
    b2 = sim.pq_train(emb, m=4, ksub=4, n_iter=1)
    assert b1 == b2


def test_remove_repeated_spans_matches_reference(spark):
    """Span removal vs a straight-line Python reference: every token
    covered by any corpus-repeated k-window is cut, all other tokens
    survive in order; short docs pass through untouched."""
    import re
    from collections import Counter

    from riptable_spark.operators.dedup import remove_repeated_spans, span_dedup_stats

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "a completely different document with the quick brown fox jumps here"),
        (3, "short text"),
        (4, "nothing in common with others at all whatsoever today"),
        (5, "the quick brown fox jumps again and again and again and again"),
    ]
    k = 4
    df = spark.createDataFrame(rows, "doc_id long, text string")

    docs = {i: re.sub(r"\s+", " ", t.strip().lower()).split(" ") for i, t in rows}
    wins = Counter()
    for tk in docs.values():
        for p in range(len(tk) - k + 1):
            wins[" ".join(tk[p : p + k])] += 1
    expected = {}
    for i, tk in docs.items():
        cov = set()
        for p in range(max(0, len(tk) - k + 1)):
            if wins[" ".join(tk[p : p + k])] >= 2:
                cov.update(range(p, p + k))
        expected[i] = " ".join(t for j, t in enumerate(tk) if j not in cov)

    got = {r.doc_id: r.text_dedup for r in remove_repeated_spans(df, k=k).collect()}
    assert got == expected

    # stats cross-check: n_covered equals the tokens the removal cut
    stats = {r.doc_id: r for r in span_dedup_stats(df, k=k).collect()}
    for i, tk in docs.items():
        if len(tk) >= k:
            assert stats[i].n_covered == len(tk) - len(expected[i].split(" ")) + (
                0 if expected[i] else len(expected[i].split(" "))
            )


def test_repeated_spans_max_count_cap(spark):
    """The ubiquitous-span cap drops spans above max_count from the
    candidate set (skew guard)."""
    from riptable_spark.operators.dedup import repeated_spans

    rows = [(i, "common prefix tokens here tail%d" % i) for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = repeated_spans(df, k=4, min_count=2).count()
    capped = repeated_spans(df, k=4, min_count=2, max_count=3).count()
    assert uncapped > 0 and capped == 0


def test_bm25_ranks_relevant_docs_first(spark):
    """BM25 sanity on a crafted corpus: the doc saturated with the query
    term outranks one mention, rare terms outweigh common ones, and
    absent-term docs score 0 (excluded from candidates)."""
    from riptable_spark.operators.retrieval import bm25_search, tfidf_postings

    rows = [
        (1, "spark spark spark spark engine"),
        (2, "spark engine runs fast"),
        (3, "engine engine engine engine engine"),
        (4, "completely unrelated text here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.rank for r in bm25_search(df, ["spark"], k=10).collect()}
    assert out[1] == 1 and out[2] == 2 and 3 not in out and 4 not in out

    tp = {(r.doc_id, r.term): r for r in tfidf_postings(df).collect()}
    # 'spark' appears in 2 docs, 'unrelated' in 1 → rarer term, higher idf
    assert tp[(4, "unrelated")].idf > tp[(1, "spark")].idf
    assert tp[(1, "spark")].tf == 4.0


def test_cosine_pair_udf_bit_identity(spark):
    # r7 q114 verify stage: the Arrow scorer's doubles must equal the
    # column-expression cosine EXACTLY (no tolerance), including the
    # hoisted-norm form; unequal-length and null rows must drop like
    # zip_with's null padding under a threshold filter
    import random

    from pyspark.sql import functions as F

    from riptable_spark.operators import similarity as sim

    rng = random.Random(11)
    rows = []
    for i in range(300):
        d = 16
        rows.append((i, [rng.uniform(-1, 1) for _ in range(d)],
                     [rng.uniform(-1, 1) for _ in range(d)]))
    rows.append((300, [1.0, 2.0], [1.0]))      # unequal lengths
    rows.append((301, None, [1.0, 2.0]))        # null side
    df = spark.createDataFrame(
        rows, "pid long, va array<double>, vb array<double>"
    ).select(
        "pid", "va", "vb",
        sim.norm(F.col("va")).alias("na"), sim.norm(F.col("vb")).alias("nb"),
    )
    expr = (sim.dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")))
    want = {r.pid: r.c for r in df.select("pid", expr.alias("c")).collect()
            if r.c is not None}
    score = sim._cosine_pair_udf()
    got_rows = df.select(
        "pid", score(F.col("va"), F.col("vb"), F.col("na"), F.col("nb")).alias("c")
    ).where(F.col("c") >= -2.0).collect()  # NaN fails >= like null
    got = {r.pid: r.c for r in got_rows}
    assert got == want  # exact double equality, same surviving rows


def test_norm_staged_cosine_bit_identity(spark):
    # the staged scorer (norms folded as columns before the join, only
    # the dot folded per pair) must give EXACTLY the doubles of the
    # cosine() column expression, for float and double arrays; an
    # unequal-length pair (zip_with null-pads) and a null vector score
    # null on both forms, and a zero norm raises on both
    import random

    rng = random.Random(13)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(40)]
    rows += [(40, [1.0, 2.0]), (41, None)]
    for typ in ("float", "double"):
        vecs = spark.createDataFrame(rows, f"vec_id long, embedding array<{typ}>")
        qs = vecs.where("vec_id < 3").select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        v, q, staged = similarity._norm_staged(vecs, "embedding", qs, "query_vec")
        got = {
            (r.query_id, r.vec_id): r.c
            for r in v.crossJoin(q).select("query_id", "vec_id", staged.alias("c")).collect()
        }
        inline = similarity.cosine(F.col("embedding"), F.col("query_vec"))
        want = {
            (r.query_id, r.vec_id): r.c
            for r in vecs.crossJoin(qs).select("query_id", "vec_id", inline.alias("c")).collect()
        }
        assert got == want and len(got) == 42 * 3  # exact double equality
        assert got[(0, 40)] is None and got[(0, 41)] is None
    # a zero norm divides by zero: ANSI raises on both forms
    zero = spark.createDataFrame([(1, [0.0, 0.0])], "vec_id long, embedding array<double>")
    zq = zero.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    v, q, staged = similarity._norm_staged(zero, "embedding", zq, "query_vec")
    inline = similarity.cosine(F.col("embedding"), F.col("query_vec"))
    for df in (v.crossJoin(q).select(staged), zero.crossJoin(zq).select(inline)):
        with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
            df.collect()
