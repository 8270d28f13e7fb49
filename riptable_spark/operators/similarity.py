"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k with pure array expressions
(F.zip_with dot product — JVM-side, no UDF). Scale path: LSH via random
hyperplanes (sign-bit bucketing) so candidate generation shuffles only
(bucket, id) pairs, plus an IVF-style coarse quantizer for cluster-local
search.

Each piece of the vector math lives once: every cosine join stages its
norms through ``_norm_staged``, every ranked operator cuts through
``_topk``, all-pairs cosine is ``_cluster_pairs`` and PQ distance is
``pq_adc_expr``.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .rounds import checkpoint


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _cosine_pair_udf():
    """Vectorized Arrow scorer for a candidate-pair verify stage:
    cos = dot(va, vb) / (na · nb) with the dot accumulated in the SAME
    ascending dimension order from the same 0.0 seed as the ``dot`` HOF
    fold and the (hoisted) norms passed IN as columns — bit-identical
    doubles (pinned exactly, no tolerance, by
    tests/test_dedup_similarity.py::test_cosine_pair_udf_bit_identity).

    Marked non-deterministic ON PURPOSE (guide §4.4): the threshold
    filter over the scored column otherwise duplicates the expression —
    q114's plan carried the interpreted dot fold TWICE per candidate
    pair (once pushed into the join condition, once in the output
    projection). Non-determinism forbids the optimizer from copying or
    pushing it, yielding exactly one vectorized evaluation.

    zip_with parity: unequal-length or null inputs score NaN, which
    fails any ``>= threshold`` exactly like the null the column
    expression produced (one documented edge shared with the q108/q168
    scorers: a zero norm yields NaN-drop where ANSI division raised)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _score(va, vb, na, nb):  # hint-free: stringified hints break eval-type inference
        out = np.full(len(va), np.nan)
        la = va.map(lambda v: -1 if v is None else len(v)).to_numpy()
        lb = vb.map(lambda v: -1 if v is None else len(v)).to_numpy()
        nav = pd.to_numeric(na, errors="coerce").to_numpy(dtype=np.float64)
        nbv = pd.to_numeric(nb, errors="coerce").to_numpy(dtype=np.float64)
        with np.errstate(divide="ignore", invalid="ignore"):
            for d in np.unique(la):
                if d < 0:
                    continue
                sel = np.flatnonzero((la == d) & (lb == d))
                if not len(sel):
                    continue
                A = np.array([np.asarray(va.iat[i], dtype=np.float64) for i in sel])
                B = np.array([np.asarray(vb.iat[i], dtype=np.float64) for i in sel])
                acc = np.zeros(len(sel))
                for i in range(int(d)):  # same ascending fold as dot()
                    acc = acc + A[:, i] * B[:, i]
                out[sel] = acc / (nav[sel] * nbv[sel])
        return pd.Series(out)

    # functional form: `from __future__ import annotations` stringifies
    # hints and breaks decorator-time eval-type inference (house note)
    return pandas_udf(_score, "double").asNondeterministic()


def _sq_dist(a: Column, b: Column) -> Column:
    """Squared euclidean via sequential fold — the canonical addition
    order ((0+t0)+t1)+… that the SQL oracles reproduce with explicit
    left-associative term chains (bit-equal doubles)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)), F.lit(0.0), lambda acc, v: acc + v)


def euclidean(a: Column, b: Column) -> Column:
    return F.sqrt(_sq_dist(a, b))


def _norm_staged(
    a: DataFrame, a_vec: str, b: DataFrame, b_vec: str
) -> tuple[DataFrame, DataFrame, Column]:
    """Both sides of a cosine-scoring join with each vector's ``norm``
    staged as a column BEFORE the join (``__na__`` on ``a``, ``__nb__`` on
    ``b``), and the pair score over them: ``dot(a, b) / (n_a · n_b)``.

    ``cosine()`` inline re-runs both interpreted norm folds for every
    PAIR — 3 HOF folds per pair instead of 1. Staged, each norm is folded
    once per row of its own side, over exactly the column the pair fold
    reads, so the doubles are bit-identical to ``cosine()`` (pinned by
    tests/test_dedup_similarity.py::test_norm_staged_cosine_bit_identity)."""
    return (
        a.withColumn("__na__", norm(F.col(a_vec))),
        b.withColumn("__nb__", norm(F.col(b_vec))),
        dot(F.col(a_vec), F.col(b_vec)) / (F.col("__na__") * F.col("__nb__")),
    )


def _topk(scored: DataFrame, by, order: list[Column], k: int) -> DataFrame:
    """The per-group top-k cut: ``rank`` = row_number over ``by`` (a
    column name or a list of them) in ``order``, which callers end with
    an id so it is total; rows with rank ≤ k survive. The rank filter
    compiles to WindowGroupLimit, so each partition keeps ≤ k rows per
    group before the window's exchange."""
    w = Window.partitionBy(by).orderBy(*order)
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def _cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    query_vec_col: str,
    on: str | None = None,
    where: Column | None = None,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Top-k corpus rows per query by cosine, ties by id: the one scoring
    tail of every cosine top-k operator. Norms are staged on both sides
    (``_norm_staged``), the queries broadcast into a cross join (or an
    equi-join ``on`` a key), the pair predicate ``where`` filters before
    scoring, and ``carry`` names columns kept beside the score.
    Returns (query_id, id, *carry, score, rank)."""
    v, q, score = _norm_staged(vectors, vec_col, queries, query_vec_col)
    joined = v.crossJoin(F.broadcast(q)) if on is None else v.join(F.broadcast(q), on=on)
    if where is not None:
        joined = joined.where(where)
    scored = joined.select(
        F.col(query_id_col), F.col(id_col), *carry, score.alias("score")
    )
    return _topk(scored, query_id_col, [F.col("score").desc(), F.col(id_col)], k)


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Exact top-k neighbors per query. Queries are broadcast (queries ≪
    corpus always holds in ANN serving); the corpus never shuffles — each
    partition scores its vectors against all queries, then a per-query
    top-k window reduces. At 1000 executors this is the right plan: the
    100 TB side stays put."""
    return _cosine_topk(
        vectors, queries, k, id_col, vec_col, query_id_col, query_vec_col
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (LCG — no numpy RNG
    state, reproducible across driver/executors)."""
    state = seed * 6364136223846793005 + 1442695040888963407
    planes = []
    for _ in range(n_planes):
        v = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            # Box-Muller-free: map to (-1, 1) uniformly; fine for LSH signs
            v.append((state >> 11) / float(1 << 53) * 2 - 1)
        planes.append(v)
    return planes


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane signature: bit i = sign(v · plane_i) → long."""
    out = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        plane = F.array(*[F.lit(float(x)) for x in p])
        out = out + F.when(dot(vec, plane) > 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long"))
    return out


def lsh_bucket_sql(planes: list[list[float]]) -> str:
    """``lsh_bucket`` of the ``embedding`` column as a DuckDB expression
    (the oracles replay the same planes as SQL literals)."""
    terms = []
    for i, p in enumerate(planes):
        lit = "[" + ", ".join(f"{x!r}" for x in p) + "]::DOUBLE[]"
        terms.append(
            f"CASE WHEN list_dot_product(embedding::DOUBLE[], {lit}) > 0 THEN {1 << i} ELSE 0 END"
        )
    return " + ".join(terms)


def lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_planes: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Approximate top-k: bucket corpus and queries by hyperplane
    signature, score only within the query's bucket. One shuffle keyed on
    the bucket id; recall tuned by n_planes (fewer planes → bigger
    buckets → higher recall, more compute)."""
    planes = _hyperplanes(dim, n_planes)
    v = vectors.withColumn("__bucket__", lsh_bucket(F.col(vec_col), planes))
    q = queries.withColumn("__bucket__", lsh_bucket(F.col(query_vec_col), planes))
    return _cosine_topk(
        v, q, k, id_col, vec_col, query_id_col, query_vec_col, on="__bucket__"
    )


def ivf_assign(vectors: DataFrame, centroids: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding", centroid_id: str = "centroid_id", centroid_vec: str = "centroid_vec") -> DataFrame:
    """IVF coarse quantizer: assign each vector to its nearest centroid
    (centroids broadcast). Write the result partitioned by centroid_id and
    ANN queries read only the probed partitions — partition pruning IS the
    index at 100 TB."""
    crossed = vectors.crossJoin(F.broadcast(centroids))
    d = euclidean(F.col(vec_col), F.col(centroid_vec))
    scored = crossed.select(id_col, vec_col, F.col(centroid_id), d.alias("__d__"))
    return _topk(scored, id_col, [F.col("__d__"), F.col(centroid_id)], 1).drop("rank", "__d__")


def kmeans_init(vectors: DataFrame, k: int, id_col: str = "vec_id", vec_col: str = "embedding", hash_kind: str = "xxhash64") -> DataFrame:
    """Deterministic k-means seeding: the k rows with the smallest
    hash(id) become the initial centroids (TakeOrderedAndProject — no
    full shuffle). Hash-ordering decorrelates the seeds from ingestion
    order without any RNG state, so init is byte-identical on rerun —
    required for the SQL oracle replay and for resumable pipelines.
    ``hash_kind='md5'`` is the DuckDB-portable 60-bit hash (same
    convention as dedup._base_hash64)."""
    dvec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    sid = F.col(id_col).cast("string")
    h = (
        F.conv(F.substring(F.md5(sid), 1, 15), 16, 10).cast("long")
        if hash_kind == "md5"
        else F.xxhash64(sid)
    )
    return (
        vectors.select(F.col(id_col), dvec.alias(vec_col), h.alias("__h__"))
        .orderBy("__h__", id_col)
        .limit(k)
        .select(
            (F.row_number().over(Window.orderBy("__h__", id_col)) - 1).alias("centroid_id"),
            F.col(vec_col).alias("centroid_vec"),
        )
    )


def kmeans_fit(
    vectors: DataFrame,
    k: int,
    n_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    init: DataFrame | None = None,
    hash_kind: str = "xxhash64",
    sample_frac: float | None = None,
) -> DataFrame:
    """Lloyd's k-means over an embedding column — trains the IVF coarse
    quantizer (``ivf_assign``/``ivf_topk``) at corpus scale. Each
    iteration is exactly two Spark primitives:

    1. assign: broadcast the k centroids, per-row argmin distance
       (``ivf_assign`` — the corpus never shuffles);
    2. update: ``groupBy(centroid).agg(avg per dimension)`` via
       element-wise array aggregation — ONE hash-shuffle of k×dim
       doubles per partition (map-side partial aggregation), nothing
       else moves.

    Empty clusters keep their previous centroid. Deterministic
    (``kmeans_init`` hash seeding) — rerun-stable with no RNG.
    Returns (centroid_id, centroid_vec, n_members) after ``n_iter``
    rounds. The per-iteration driver loop is inherent to Lloyd —
    each round is a full distributed pass, and n_iter is small (5-20);
    at 100 TB train on a hash-sample (``pipeline.hash_split``) and
    assign the full corpus once."""
    spark = vectors.sparkSession
    dvec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = vectors.select(F.col(id_col), dvec.alias(vec_col))
    if sample_frac is not None and sample_frac < 1.0:
        # deterministic hash-threshold training sample (the 100 TB shape:
        # train the quantizer on a slice, assign the full corpus once)
        thr = int(sample_frac * 10_000)
        base = base.where(F.pmod(F.xxhash64(F.col(id_col).cast("string"), F.lit("km")), F.lit(10_000)) < thr)
    cents = init if init is not None else kmeans_init(base, k, id_col, vec_col, hash_kind)
    dim_probe = base.select(F.size(vec_col).alias("d")).first()
    dim = int(dim_probe.d) if dim_probe else 0
    # centroids materialize to the driver each round (k×dim doubles —
    # ~100 KB for k=256, dim=64) and re-broadcast as literals: the
    # standard Lloyd shape; keeps each round's plan two stages deep
    # instead of compounding 5 rounds of lazy joins
    state = {int(r["centroid_id"]): (list(r["centroid_vec"]), 0) for r in cents.select("centroid_id", "centroid_vec").collect()}
    for _ in range(n_iter):
        cdf = spark.createDataFrame(
            [(cid, vec) for cid, (vec, _) in sorted(state.items())],
            "centroid_id int, centroid_vec array<double>",
        )
        assigned = ivf_assign(base, cdf, id_col=id_col, vec_col=vec_col)
        sums = assigned.groupBy("centroid_id").agg(
            *[F.sum(F.element_at(F.col(vec_col), i + 1)).alias(f"__s{i}__") for i in range(dim)],
            F.count(F.lit(1)).alias("n_members"),
        )
        rows = sums.collect()
        # empty clusters keep their previous centroid
        state = {cid: (vec, 0) for cid, (vec, _) in state.items()}
        for r in rows:
            n = int(r["n_members"])
            state[int(r["centroid_id"])] = ([float(r[f"__s{i}__"]) / n for i in range(dim)], n)
    return spark.createDataFrame(
        [(cid, vec, n) for cid, (vec, n) in sorted(state.items())],
        "centroid_id int, centroid_vec array<double>, n_members long",
    )


def lsh_tables(dim: int, n_tables: int = 4, bits_per_table: int = 4, seed: int = 42) -> list[list[list[float]]]:
    """Deterministic hyperplane sets for multi-table LSH: ``n_tables``
    independent tables of ``bits_per_table`` planes each (one LCG stream,
    sliced). Exposed so test oracles can replay the exact same planes."""
    planes = _hyperplanes(dim, n_tables * bits_per_table, seed)
    return [planes[t * bits_per_table : (t + 1) * bits_per_table] for t in range(n_tables)]


def lsh_dedup_pairs(
    embeddings: DataFrame,
    dim: int,
    threshold: float = 0.95,
    n_tables: int = 4,
    bits_per_table: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Scale-safe embedding near-dup pairs: LSH-bucket candidate
    generation → exact cosine verify WITHIN buckets. This is the
    production entry point; ``pairwise_cosine`` is the all-pairs oracle
    baseline only.

    Physical plan (the 100 TB shape): each vector explodes to ``n_tables``
    (table, bucket) keys, but the candidate-generation exchange carries
    ONLY ``(id, table, bucket)`` — three scalars, never the dim-wide
    vector payload (VERDICT r2 #1: shipping vectors through the bucket
    shuffle costs ``n_tables × |corpus| × dim × 8`` bytes on the wire).
    The self-join is an EQUI-join on (table, bucket) — never a cartesian.
    Candidate pairs dedup on (id_a, id_b), so a pair colliding in several
    tables is scored once; only then do two id-keyed equi-joins pull the
    vectors back for the exact-cosine verify, sized by |candidates| (≪
    n_tables × |corpus| for any sane bits_per_table). Recall =
    P(≥1 of n_tables buckets agrees); tune n_tables (recall) vs
    bits_per_table (bucket size / compute).
    """
    tables = lsh_tables(dim, n_tables, bits_per_table, seed)
    dvec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = embeddings.select(F.col(id_col).alias("__id__"), dvec.alias("__v__"))
    entries = F.array(
        *[
            F.struct(F.lit(t).alias("tbl"), lsh_bucket(F.col("__v__"), tables[t]).alias("bkt"))
            for t in range(len(tables))
        ]
    )
    # ids-only signature relation: the vector is consumed computing the
    # bucket bits and dropped BEFORE the (table, bucket) exchange
    sigs = base.select("__id__", F.explode(entries).alias("__e__")).select(
        "__id__", F.col("__e__.tbl").alias("__tbl__"), F.col("__e__.bkt").alias("__bkt__")
    )
    a = sigs.select("__tbl__", "__bkt__", F.col("__id__").alias("id_a"))
    b = sigs.select("__tbl__", "__bkt__", F.col("__id__").alias("id_b"))
    cand = (
        a.join(b, on=["__tbl__", "__bkt__"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    # norms staged once per vector, on the vector side of the verify joins
    va, vb, _ = _norm_staged(
        base.select(F.col("__id__").alias("id_a"), F.col("__v__").alias("__va__")), "__va__",
        base.select(F.col("__id__").alias("id_b"), F.col("__v__").alias("__vb__")), "__vb__",
    )
    verified = cand.join(va, on="id_a").join(vb, on="id_b")
    # Arrow-vectorized verify (guide §4.4): the column-expression form's
    # interpreted dot fold was evaluated TWICE per pair (filter pushed
    # into the join + output projection); the non-deterministic pandas
    # UDF runs ONCE per pair, vectorized, bit-identical (see
    # _cosine_pair_udf).
    score = _cosine_pair_udf()
    return verified.select(
        "id_a",
        "id_b",
        score(
            F.col("__va__"), F.col("__vb__"), F.col("__na__"), F.col("__nb__")
        ).alias("cos_sim"),
    ).where(F.col("cos_sim") >= threshold)


def ivf_search(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 2,
    n_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    train_sample_frac: float | None = None,
) -> DataFrame:
    """End-to-end IVF ANN: train the coarse quantizer (``kmeans_fit``,
    optionally on a hash sample), then ``ivf_topk`` (assign corpus,
    probe ``nprobe`` lists, exact cosine within probed lists). One call
    from raw embeddings to top-k; recall dial = nprobe/nlist. For a
    persisted index, run kmeans_fit + ivf_assign once, write partitioned
    by centroid_id, and serve with ivf_probe + the pruned join."""
    cents = kmeans_fit(
        vectors, k=nlist, n_iter=n_iter, id_col=id_col, vec_col=vec_col, sample_frac=train_sample_frac
    ).select("centroid_id", "centroid_vec")
    return ivf_topk(
        vectors, cents, queries, k=k, nprobe=nprobe,
        id_col=id_col, vec_col=vec_col, query_id_col=query_id_col, query_vec_col=query_vec_col,
    )


def pairwise_cosine(embeddings: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding", threshold: float = 0.95) -> DataFrame:
    """Embedding-cosine near-duplicate pairs above threshold (the
    embedding-dedup flavor). Brute-force within — use lsh buckets first at
    scale; kept exact here as the oracle-checkable baseline. O(n²) on
    either path; ``lsh_dedup_pairs`` is the scale path.

    The all-pairs builder (``_cluster_pairs``, emit_sim=True) over the
    whole input as a single cluster, on double vectors (float32 dot
    products can round a near-threshold cosine the other way vs a
    double-computing oracle). Integer ids score in ONE grouped Arrow
    task of blocked numpy matmuls, other ids in the norm-staged
    self-join; both give the same cos_sim doubles. One documented
    domain edge of the Arrow scorer: zero-norm vectors DROP (IEEE
    NaN ≥ thr is false) where the ANSI join path raises DIVIDE_BY_ZERO
    — no declared query carries zero vectors
    (tests/test_semdedup_pairs.py pins both)."""
    dvec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    one = embeddings.select(F.lit(0).alias("centroid_id"), F.col(id_col), dvec.alias(vec_col))
    return _cluster_pairs(one, id_col, vec_col, threshold, emit_sim=True)


def dominant_direction(
    vectors: DataFrame,
    n_iter: int = 2,
    quant_scale: int = 1000,
    rescale_to: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Dominant direction of the (uncentered) embedding second-moment
    matrix by EXACT-INTEGER power iteration — the "all-but-the-top"
    preprocessing direction (Mu & Viswanath, ICLR'18, public result):
    corpora concentrate mass along one dominant vector, and removing it
    sharpens cosine similarity for dedup/ANN.

    Exactness: vectors quantize to q = round(x·quant_scale) BIGINTs;
    each iteration computes u = Xv (per-row integer fold) and w = Xᵀu
    (explode dims → 64-group partial-agg sum), then rescales v to
    max |v_d| = rescale_to via one exact integer max + div — every
    intermediate is a BIGINT, so the DuckDB replay is bit-identical and
    ANSI mode throws LOUDLY on overflow instead of silently wrapping.
    Overflow envelope: n·dim·quant_max²·rescale_to < 2^63 — ~5e6 rows
    at |x|≤5, dim 64, defaults; lower ``rescale_to`` for bigger
    corpora, or hash-sample: the direction is a corpus STATISTIC.

    Scale shape: per iteration ONE pass for u (no shuffle — per-row
    fold), ONE explode+partial-agg for w (64 groups), and the 64-row v
    relation broadcasts back — no driver-side collect, no full shuffle
    of the embedding column.  Returns (dim, weight) with dim 1-based
    and weight the final integer v."""
    # float→double BEFORE the multiply (a float-precision product would
    # round differently from the oracle's double arithmetic)
    qv = F.transform(
        F.col(vec_col), lambda x: F.round(x.cast("double") * quant_scale).cast("long")
    )
    # n_iter passes reuse the scan; the job that materializes it also
    # reads the dimension
    base, m = checkpoint(
        vectors.select(F.col(id_col).alias("__id__"), qv.alias("__q__")),
        dim=F.max(F.size("__q__")),
    )
    dim = int(m["dim"])
    spark = vectors.sparkSession
    v = spark.createDataFrame(
        [(d, 1) for d in range(1, dim + 1)], "dim int, w long"
    )
    for _ in range(n_iter):
        # deterministic dim-ordered array (collect_list order is
        # plan-dependent — sort structs, then project)
        varr = v.agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "w"))),
                lambda s: s["w"],
            ).alias("__v__")
        )
        # one pass: the row dot u = q·v AND the quantized vector stay
        # in the same projection (no self-join back to the scan)
        with_u = base.crossJoin(F.broadcast(varr)).select(
            "__q__",
            F.aggregate(
                F.zip_with("__q__", "__v__", lambda a, b: a * b),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("__u__"),
        )
        # w_d = Σ_rows q_d · u_row: explode (dim, q_d) with the row's u
        exploded = with_u.select(
            F.col("__u__"), F.posexplode("__q__").alias("__p__", "__qd__")
        )
        w = exploded.groupBy("__p__").agg(
            F.sum(F.col("__qd__") * F.col("__u__")).cast("long").alias("__w__")
        )
        mx = w.agg(F.max(F.abs("__w__")).cast("long").alias("__m__"))
        # rescale by DIVISION only (never |w|·S — that multiply is the
        # overflow): d = (max|w| div S)+1, v = sign(w)·(|w| div d), so
        # max |v| ≈ S with no intermediate above |w|. abs before div
        # keeps floor-division (DuckDB //) and truncating division
        # (Spark div) identical — they differ on negatives.
        v, _ = checkpoint(
            w.crossJoin(F.broadcast(mx)).select(
                (F.col("__p__") + 1).cast("int").alias("dim"),
                F.expr(
                    "CAST(sign(__w__) AS BIGINT)"
                    f" * (abs(__w__) div ((greatest(__m__, 1) div {int(rescale_to)}) + 1))"
                )
                .cast("long")
                .alias("w"),
            )
        )
    return v.select("dim", F.col("w").alias("weight"))


def ivf_probe(
    queries: DataFrame,
    centroids: DataFrame,
    nprobe: int = 2,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    centroid_id: str = "centroid_id",
    centroid_vec: str = "centroid_vec",
) -> DataFrame:
    """Assign each query to its ``nprobe`` nearest centroids (the IVF
    probe list). Queries and centroids are both small — broadcast cross
    join + windowed rank, ties by centroid_id."""
    crossed = queries.crossJoin(F.broadcast(centroids))
    d = euclidean(F.col(query_vec_col), F.col(centroid_vec))
    return _topk(crossed, query_id_col, [d, F.col(centroid_id)], nprobe).select(
        query_id_col, query_vec_col, centroid_id
    )


def ivf_topk(
    vectors: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Full IVF ANN search: corpus assigned to inverted lists
    (``ivf_assign``), queries probe their ``nprobe`` nearest lists, and
    exact cosine runs ONLY within probed lists. Recall is controlled by
    nprobe; compute is |corpus ∩ probed lists|, not |corpus|.

    Scale shape: the corpus side is the pre-assigned (ideally
    cid-partitioned-on-disk) relation — the equi-join on centroid_id
    with the BROADCAST probe list is what partition-prunes a 100 TB
    index down to the probed lists; no all-pairs stage exists."""
    assigned = ivf_assign(vectors, centroids, id_col=id_col, vec_col=vec_col)
    probes = ivf_probe(queries, centroids, nprobe, query_id_col, query_vec_col)
    return _cosine_topk(
        assigned, probes, k, id_col, vec_col, query_id_col, query_vec_col, on="centroid_id"
    )


# ---------------------------------------------------------------------
# Product quantization (PQ): the memory/IO scale dial for ANN. Vectors
# compress to m small codes (m bytes-ish vs dim×4 raw) and search runs
# against the codes via asymmetric distance computation (ADC) — at
# 100 TB the scan reads ~dim×4/m× less data and the corpus STILL never
# shuffles. Jégou et al., "Product Quantization for Nearest Neighbor
# Search" (TPAMI 2011) — public method, Spark-native realization.


def pq_codebooks(dim: int, m: int, ksub: int, seed: int = 42, scale: float = 1.0) -> list[list[list[float]]]:
    """Deterministic pseudo-random PQ codebooks [subspace][code][subdim]
    (same LCG stream as ``_hyperplanes`` — no RNG state, so SQL oracles
    can replay the exact literals). ``scale`` shrinks the uniform(-1,1)
    entries toward the data's magnitude so codes discriminate (codes
    collapse when every codebook entry's norm dwarfs the vectors').
    Useful as a fixed quantizer for tests; production codebooks come
    from ``pq_train``."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    subdim = dim // m
    flat = _hyperplanes(subdim, m * ksub, seed)
    return [[[x * scale for x in v] for v in flat[j * ksub : (j + 1) * ksub]] for j in range(m)]


def _pq_code_expr(sub: Column, codebook_j: list[list[float]]) -> Column:
    """argmin code for one subvector against one subspace's codebook —
    pure codegen: literal ksub×subdim array, transform to distances,
    array_position of the min (ties → lowest code, matching the oracle's
    ORDER BY dist, code)."""
    cb = F.array(*[F.array(*[F.lit(float(x)) for x in cv]) for cv in codebook_j])
    # let-bind the subvector: referencing `sub` (slice of the cast
    # vector) inside the lambda would re-evaluate it per centroid
    dists = F.transform(
        F.array(sub), lambda s: F.transform(cb, lambda cv: _sq_dist(s, cv))
    ).getItem(0)
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def pq_encode(
    vectors: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode vectors to PQ codes: (id, codes array<int>), codes[j] =
    argmin_c ||v_sub_j - codebook[j][c]||². The codebooks ride in the
    plan as literals (m×ksub×subdim doubles — ~0.5 MB for the standard
    m=8, ksub=256, dim=64, well under plan-size limits), so encoding is
    a pure per-row projection: ZERO shuffles, the corpus never moves
    (plan-gated). At 100 TB this is the write-once index build —
    append the codes column and scans read m ints instead of dim
    floats."""
    m = len(codebooks)
    subdim = len(codebooks[0][0])
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    codes = F.array(*[
        _pq_code_expr(F.slice(v, j * subdim + 1, subdim), codebooks[j]) for j in range(m)
    ])
    return vectors.select(F.col(id_col), codes.alias("codes"))


def pq_search(
    codes: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """ADC top-k over PQ codes: approximate squared distance =
    Σ_j ||q_sub_j − codebook[j][codes[j]]||². Queries broadcast, the
    (100 TB) codes relation never shuffles; each row's distance is a
    codegen lookup chain (element_at into the literal codebook by the
    row's code), then a per-query top-k window over the scored pairs
    (WindowGroupLimit keeps ≤k rows per partition before the exchange).
    Returns (query_id, vec_id, adc_dist, rank)."""
    crossed = codes.crossJoin(F.broadcast(queries))
    qv = F.transform(F.col(query_vec_col), lambda x: x.cast("double"))
    codes_j = [F.element_at(F.col("codes"), j + 1) for j in range(len(codebooks))]
    d2 = pq_adc_expr(qv, codes_j, codebooks)
    scored = crossed.select(F.col(query_id_col), F.col(id_col), d2.alias("adc_dist"))
    return _topk(scored, query_id_col, [F.col("adc_dist"), F.col(id_col)], k)


def pq_encode_columnar(
    vectors: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Columnar PQ codes: one TINYINT column per subspace (``c0`` ..
    ``c{m-1}``, stored with a −128 offset so the full ksub=256 code range
    fits a signed byte) instead of a single array<int>. Same zero-shuffle
    literal-argmin projection as ``pq_encode``. Why this layout at
    100 TB: (a) one byte per code in memory and on any shuffle wire —
    the array<int> form costs 4 bytes per code plus array header; (b)
    Parquet lays each subspace down as its own column chunk, so
    per-column dictionary/RLE encoding compresses code runs the
    interleaved array layout hides, and a consumer that prunes subspaces
    reads only the columns it needs (ReadSchema column pruning — free
    with Catalyst once the codes are real columns)."""
    m = len(codebooks)
    subdim = len(codebooks[0][0])
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    return vectors.select(
        F.col(id_col),
        *[
            (_pq_code_expr(F.slice(v, j * subdim + 1, subdim), codebooks[j]) - 128)
            .cast("tinyint")
            .alias(f"c{j}")
            for j in range(m)
        ],
    )


def pq_search_columnar(
    codes: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """ADC top-k over the columnar (tinyint-per-subspace) codes layout:
    identical math to ``pq_search`` — Σ_j ||q_sub_j − codebook[j][c_j]||²
    with the per-row lookup reading column ``c{j}`` (+128 de-offset)
    instead of an array element. Queries broadcast; the codes relation
    never shuffles; WindowGroupLimit bounds the top-k exchange. Output
    keeps the code columns so callers (and oracles) can audit the
    retrieved rows' codes."""
    m = len(codebooks)
    crossed = codes.crossJoin(F.broadcast(queries))
    qv = F.transform(F.col(query_vec_col), lambda x: x.cast("double"))
    d2 = pq_adc_expr(qv, [F.col(f"c{j}").cast("int") + 128 for j in range(m)], codebooks)
    scored = crossed.select(
        F.col(query_id_col), F.col(id_col), *[F.col(f"c{j}") for j in range(m)], d2.alias("adc_dist")
    )
    return _topk(scored, query_id_col, [F.col("adc_dist"), F.col(id_col)], k)


def pq_search_rerank(
    codes: DataFrame,
    vectors: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 10,
    candidates: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """The production PQ serving pattern: ADC SHORTLIST then EXACT
    rerank. ``pq_search_columnar`` retrieves ``candidates`` ids per
    query from the compressed codes (the cheap full scan — m bytes per
    vector), then the shortlist (|queries|·candidates rows — broadcast
    sized by construction) equi-joins back to the RAW vectors for exact
    cosine, and a top-k window keeps the final k. Quantization error
    only costs recall when a true neighbor falls outside the shortlist,
    so recall@k rises steeply with ``candidates`` while the exact work
    stays |queries|·candidates, independent of corpus size.

    Scale shape: the codes scan never shuffles; the raw-vector side is
    touched only via a BROADCAST semi-style join on id (the 100 TB
    corpus stays put and most of it is never read under a columnar
    format with id-clustered layout)."""
    shortlist = pq_search_columnar(
        codes, queries, codebooks, k=candidates,
        id_col=id_col, query_id_col=query_id_col, query_vec_col=query_vec_col,
    ).select(query_id_col, id_col)
    cand_vecs = vectors.join(F.broadcast(shortlist), on=id_col)
    return _cosine_topk(
        cand_vecs, queries, k, id_col, vec_col, query_id_col, query_vec_col, on=query_id_col
    )


def pq_adc_expr(qv: Column, codes: list[Column], codebooks: list[list[list[float]]]) -> Column:
    """The ADC squared-distance expression Σ_j ||q_sub_j −
    codebook[j][codes[j]]||² as a reusable Column (codegen lookup chain
    into the literal codebooks), given one 0-based code Column per
    subspace — shared by pq_search, pq_search_columnar and the IVF-PQ
    residual search."""
    subdim = len(codebooks[0][0])
    d2 = None
    for j, (code, book) in enumerate(zip(codes, codebooks)):
        cb = F.array(*[F.array(*[F.lit(float(x)) for x in cv]) for cv in book])
        dj = _sq_dist(F.slice(qv, j * subdim + 1, subdim), F.element_at(cb, code + 1))
        d2 = dj if d2 is None else d2 + dj
    return d2


def pq_train(
    vectors: DataFrame,
    m: int,
    ksub: int = 256,
    n_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_frac: float | None = None,
    seed: int = 42,
) -> list[list[list[float]]]:
    """Train PQ codebooks: joint Lloyd's over ALL m subspaces at once —
    each iteration is ONE distributed pass (assign codes via the literal
    argmin projection — zero shuffle — then one tiny groupBy(j, code)
    partial-aggregated shuffle of per-dim sums), not m separate k-means
    runs. Init is deterministic (smallest xxhash64(id, j) rows seed each
    subspace — rerun-stable, no RNG). Empty codes keep their previous
    centroid. At 100 TB train on a hash sample (``sample_frac``) and
    encode the full corpus once with the returned codebooks."""
    dim_probe = vectors.select(F.size(vec_col).alias("d")).first()
    dim = int(dim_probe["d"])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    subdim = dim // m
    dvec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = vectors.select(F.col(id_col).alias("__id__"), dvec.alias("__v__"))
    if sample_frac is not None and sample_frac < 1.0:
        thr = int(sample_frac * 10_000)
        base = base.where(F.pmod(F.xxhash64(F.col("__id__").cast("string"), F.lit("pq")), F.lit(10_000)) < thr)
    subs = base.select(
        "__id__",
        F.explode(F.array(*[
            F.struct(F.lit(j).alias("j"), F.slice(F.col("__v__"), j * subdim + 1, subdim).alias("sub"))
            for j in range(m)
        ])).alias("__e__"),
    ).select("__id__", F.col("__e__.j").alias("j"), F.col("__e__.sub").alias("sub"))
    # seed each subspace with ksub DISTINCT subvectors (duplicate seeds
    # waste codes and break the lossless-coverage property), ranked by a
    # deterministic hash of the first surviving row's id
    sid = F.col("__id__").cast("string")
    distinct = _topk(subs, ["j", "sub"], [F.xxhash64(sid), F.col("__id__")], 1).drop("rank")
    init_rows = (
        _topk(distinct, "j", [F.xxhash64(sid, F.col("j"), F.lit(seed)), F.col("__id__")], ksub)
        .select("j", (F.col("rank") - 1).alias("code"), "sub").collect()
    )
    books: list[list[list[float]]] = [[] for _ in range(m)]
    for r in sorted(init_rows, key=lambda r: (r["j"], r["code"])):
        books[r["j"]].append([float(x) for x in r["sub"]])
    for j in range(m):
        # fewer distinct subvectors than ksub: pad by repeating (harmless — dead codes)
        while len(books[j]) < ksub:
            books[j].append(list(books[j][len(books[j]) % max(len(books[j]), 1)]))
    for _ in range(n_iter):
        expr = None
        for j in range(m):
            cj = _pq_code_expr(F.col("sub"), books[j])
            expr = F.when(F.col("j") == j, cj) if expr is None else expr.when(F.col("j") == j, cj)
        coded = subs.withColumn("code", expr)
        sums = coded.groupBy("j", "code").agg(
            *[F.sum(F.element_at(F.col("sub"), d + 1)).alias(f"__s{d}__") for d in range(subdim)],
            F.count(F.lit(1)).alias("__n__"),
        ).collect()
        for r in sums:
            n = int(r["__n__"])
            books[r["j"]][r["code"]] = [float(r[f"__s{d}__"]) / n for d in range(subdim)]
    return books


def save_ivf_index(
    vectors: DataFrame,
    centroids: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF index: assign the corpus to its inverted
    lists and write parquet PARTITIONED BY centroid_id. This is the
    100 TB serving layout — each inverted list is its own directory, so
    a probed query reads ONLY its nprobe lists via partition pruning
    (the scan's PartitionFilters, plan-gated in tests) instead of
    scanning the corpus."""
    assigned = ivf_assign(vectors, centroids, id_col=id_col, vec_col=vec_col)
    assigned.write.mode("overwrite").partitionBy("centroid_id").parquet(path)


def ivf_topk_indexed(
    spark,
    index_path: str,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Serve ANN from a ``save_ivf_index`` layout: compute the probe
    lists (broadcast-sized), push an IN filter on centroid_id into the
    partitioned scan (partition pruning — only probed directories are
    listed/read), then exact cosine within the probed lists. Identical
    results to ``ivf_topk`` (tested); only the IO profile differs."""
    probes = ivf_probe(queries, centroids, nprobe, query_id_col, query_vec_col)
    probe_rows = probes.collect()  # nprobe × |queries| rows — broadcast-sized by construction
    probed_cids = sorted({int(r["centroid_id"]) for r in probe_rows})
    index = spark.read.parquet(index_path).where(F.col("centroid_id").isin(probed_cids))
    pdf = probes.sparkSession.createDataFrame(probe_rows, probes.schema)
    return _cosine_topk(
        index, pdf, k, id_col, vec_col, query_id_col, query_vec_col, on="centroid_id"
    )


# ---------------------------------------------------------------- IVF-PQ
# The FAISS IVFPQ composition (Jégou et al. 2011 §V): coarse-quantize to
# inverted lists, PQ-encode the RESIDUAL (v − centroid) — residuals
# cluster far tighter than raw vectors, so the same ksub buys much finer
# quantization — and search probed lists with per-(query, list) residual
# ADC. The serving relation carries (id, centroid_id, codes): m ints +
# one int per vector.


def ivfpq_build(
    vectors: DataFrame,
    centroids: DataFrame,
    m: int,
    ksub: int = 256,
    n_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_frac: float | None = None,
) -> tuple[DataFrame, list[list[list[float]]]]:
    """Build the IVF-PQ index: assign each vector to its inverted list
    (broadcast centroids), subtract the centroid (zip_with — codegen),
    train shared residual codebooks (``pq_train``, optionally on a hash
    sample), and encode every residual (zero-shuffle projection).
    Returns ((id, centroid_id, codes), codebooks). Write the relation
    partitioned by centroid_id for probe-time partition pruning
    (``save_ivf_index`` layout)."""
    assigned = ivf_assign(vectors, centroids, id_col=id_col, vec_col=vec_col)
    with_cent = assigned.join(F.broadcast(centroids), on="centroid_id")
    res = F.zip_with(F.col(vec_col), F.col("centroid_vec"), lambda x, y: x - y)
    residuals = with_cent.select(F.col(id_col), F.col("centroid_id"), res.alias("__res__"))
    books = pq_train(
        residuals, m=m, ksub=ksub, n_iter=n_iter,
        id_col=id_col, vec_col="__res__", sample_frac=sample_frac,
    )
    codes = pq_encode(residuals, books, id_col=id_col, vec_col="__res__")
    return residuals.select(id_col, "centroid_id").join(codes, on=id_col), books


def ivfpq_search(
    index: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """IVF-PQ ANN: probe ``nprobe`` lists per query, compute the QUERY
    residual per probed list (q − centroid, broadcast-joined), and rank
    by residual ADC against the stored codes. The index relation joins
    the broadcast probe list on centroid_id — with a partitioned layout
    this is partition pruning; the big side never shuffles and carries
    only codes, never vectors. Returns (query_id, vec_id, adc_dist,
    rank) — approximate squared euclidean distance."""
    probes = ivf_probe(queries, centroids, nprobe, query_id_col, query_vec_col)
    probes_c = probes.join(F.broadcast(centroids), on="centroid_id").select(
        "centroid_id", query_id_col,
        F.zip_with(F.col(query_vec_col), F.col("centroid_vec"), lambda x, y: x - y).alias("__qres__"),
    )
    joined = index.join(F.broadcast(probes_c), on="centroid_id")
    qv = F.transform(F.col("__qres__"), lambda x: x.cast("double"))
    codes_j = [F.element_at(F.col("codes"), j + 1) for j in range(len(codebooks))]
    scored = joined.select(
        F.col(query_id_col), F.col(id_col), pq_adc_expr(qv, codes_j, codebooks).alias("adc_dist")
    )
    return _topk(scored, query_id_col, [F.col("adc_dist"), F.col(id_col)], k)


def semantic_dedup(
    embeddings: DataFrame,
    nlist: int = 16,
    threshold: float = 0.95,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_sample_frac: float | None = None,
    max_cc_iter: int = 20,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, public
    method): cluster the corpus with the IVF coarse quantizer, compute
    pairwise cosine ONLY within clusters (the O(n²) all-pairs collapses
    to Σ|cluster|²), chain the near-dup pairs with connected components,
    and keep the min-id representative per duplicate group. Pass
    ``centroids`` (centroid_id, centroid_vec) to skip quantizer
    training (pre-trained or oracle-fixed clusters).

    Scale shape: kmeans trains on an optional hash sample; assignment
    broadcasts centroids (corpus never shuffles); the within-cluster
    self-join is an EQUI-join on centroid_id (never a cartesian);
    component resolution shuffles only (id, label) pairs. Cluster-count
    is the skew dial — size nlist so the largest cluster's |c|² stays
    in one task's budget. Returns the deduplicated embedding relation."""
    from .dedup import dedup_by_components

    cents = centroids if centroids is not None else kmeans_fit(
        embeddings, k=nlist, n_iter=n_iter, id_col=id_col, vec_col=vec_col,
        sample_frac=train_sample_frac,
    ).select("centroid_id", "centroid_vec")
    assigned = ivf_assign(embeddings, cents, id_col=id_col, vec_col=vec_col)
    pairs = _cluster_pairs(assigned, id_col, vec_col, threshold)
    return dedup_by_components(embeddings, pairs, id_col=id_col, max_iter=max_cc_iter)


def _cluster_pairs(
    assigned: DataFrame, id_col: str, vec_col: str, threshold: float, emit_sim: bool = False
) -> DataFrame:
    """The one all-pairs cosine builder: (id_a < id_b, cos ≥ threshold)
    pairs within each ``centroid_id`` cluster of ``assigned``, with
    ``cos_sim`` when ``emit_sim``. semantic_dedup runs it per IVF list,
    pairwise_cosine over a single cluster. The path is chosen on the id
    type alone.

    Integer ids take the grouped-Arrow scorer: ship each vector ONCE per
    cluster (one grouped task per centroid) instead of once per PAIR
    through the self-join — |c|·dim doubles over the exchange instead of
    |c|²·2·dim (guide §8: every shuffle but the last moves a lightweight
    proxy; measured ~1 GB → ~1 MB of pair-stage traffic on q168 at
    sf0.1). Bit-identical by construction: the scorer accumulates dims
    in the same ascending order from the same 0.0 seed as the HOF fold
    (see _within_cluster_pairs). Other id types take the norm-staged
    equi-join on centroid_id (numpy '<' must match Spark's ordering,
    which only holds for integers)."""
    id_type = assigned.schema[id_col].dataType
    if isinstance(id_type, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return _within_cluster_pairs(assigned, id_col, vec_col, threshold, emit_sim)
    side = assigned.select(
        F.col("centroid_id"), F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va__")
    )
    a, b, cos = _norm_staged(
        side, "__va__",
        side.select(F.col("centroid_id"), F.col("id_a").alias("id_b"), F.col("__va__").alias("__vb__")), "__vb__",
    )
    pairs = (
        a.join(b, on="centroid_id")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cos.alias("cos_sim"))
        .where(F.col("cos_sim") >= threshold)
    )
    return pairs if emit_sim else pairs.select("id_a", "id_b")


def _within_cluster_pairs(
    assigned: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    emit_sim: bool = False,
) -> DataFrame:
    """All (id_a < id_b, cos ≥ threshold) pairs within each centroid's
    cluster, scored in ONE grouped Arrow task per cluster.

    Bit-identical to ``dot(a,b)/(norm(a)*norm(b)) >= threshold`` over the
    self-join: the accumulators loop dimensions in the same ascending
    order from the same 0.0 seed as the HOF folds (IEEE addition is
    deterministic given order; ``np.sqrt``/``Math.sqrt`` are both
    correctly rounded; the denominator multiplies before dividing, like
    the column expression). zip_with's unequal-length semantics (null
    padding → null cos → pair dropped) are reproduced by scoring only
    same-length vector pairs; null ids / null vectors drop exactly like
    their null-propagated comparisons in the join path.

    Scale shape: one task per cluster, |c|·dim doubles shipped per
    cluster (not |c|²), pair matrix computed in row blocks so peak
    memory is block×|c| doubles. |c|² compute per task is the declared
    SemDeDup cost — size nlist so the largest cluster fits one task's
    budget (the same contract the join path had: an equi-join on
    centroid_id lands each cluster's pairs in one partition anyway).

    ``emit_sim=True`` adds the cos_sim double to the output (the value
    is the same double the column expression produces — identical fold,
    identical divide), for callers like pairwise_cosine that return the
    similarity, not just the pair."""
    import numpy as np
    import pandas as pd

    from .apply import grouped_apply

    id_type = assigned.schema[id_col].dataType
    fields = [T.StructField("id_a", id_type), T.StructField("id_b", id_type)]
    if emit_sim:
        fields.append(T.StructField("cos_sim", T.DoubleType()))
    out_schema = T.StructType(fields)
    thr = float(threshold)

    def _empty(ids_all):
        out = {"id_a": ids_all[:0], "id_b": ids_all[:0]}
        if emit_sim:
            out["cos_sim"] = []
        return pd.DataFrame(out)

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf[pdf[id_col].notna() & pdf[vec_col].notna()]
        ids_all = pdf[id_col].to_numpy()
        vecs = pdf[vec_col].tolist()
        if len(pdf) < 2:
            return _empty(ids_all)
        lens = np.array([len(v) for v in vecs])
        out_a: list = []
        out_b: list = []
        out_s: list = []
        for d in np.unique(lens):
            sel = np.flatnonzero(lens == d)
            if len(sel) < 2:
                continue
            ids = ids_all[sel]
            V = np.array([vecs[i] for i in sel], dtype=np.float64)
            n, d = V.shape
            if d == 0:
                continue  # norm 0 → cos NaN → never ≥ threshold
            nrm = np.zeros(n)
            for i in range(d):  # same ascending fold as norm()
                nrm = nrm + V[:, i] * V[:, i]
            nrm = np.sqrt(nrm)
            blk = max(1, (4 << 20) // max(n, 1))  # ≤ ~32 MB acc per block
            with np.errstate(divide="ignore", invalid="ignore"):
                for s in range(0, n, blk):
                    e = min(s + blk, n)
                    acc = np.zeros((e - s, n))
                    for i in range(d):  # same ascending fold as dot()
                        acc = acc + V[s:e, i, None] * V[None, :, i]
                    cos = acc / (nrm[s:e, None] * nrm[None, :])
                    mask = (ids[s:e, None] < ids[None, :]) & (cos >= thr)
                    ai, bi = np.nonzero(mask)
                    if len(ai):
                        out_a.append(ids[ai + s])
                        out_b.append(ids[bi])
                        if emit_sim:
                            out_s.append(cos[ai, bi])
        if not out_a:
            return _empty(ids_all)
        out = {"id_a": np.concatenate(out_a), "id_b": np.concatenate(out_b)}
        if emit_sim:
            out["cos_sim"] = np.concatenate(out_s)
        return pd.DataFrame(out)

    src = assigned.select("centroid_id", id_col, vec_col)
    return grouped_apply(src, ["centroid_id"], score, out_schema)


def recall_at_k(
    approx: DataFrame,
    exact: DataFrame,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
) -> DataFrame:
    """ANN evaluation: per-query |approx ∩ exact| / |exact| over two
    top-k relations (both shaped (query_id, vec_id, ...)). The join is
    keyed on (query, id) — both relations are k·|queries| rows, tiny.
    Returns (query_id, n_exact, n_hit, recall)."""
    a = approx.select(F.col(query_id_col), F.col(id_col)).withColumn("__hit__", F.lit(1))
    e = exact.select(F.col(query_id_col), F.col(id_col))
    j = e.join(a, on=[query_id_col, id_col], how="left")
    return j.groupBy(query_id_col).agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.sum(F.coalesce(F.col("__hit__"), F.lit(0))).alias("n_hit"),
    ).select(
        query_id_col, "n_exact", "n_hit",
        (F.col("n_hit").cast("double") / F.col("n_exact")).alias("recall"),
    )


def group_centroids(
    embeddings: DataFrame,
    group_col: str,
    vec_col: str = "embedding",
    scale: int = 1_000_000,
) -> DataFrame:
    """Per-slice embedding centroid with EXACT arithmetic: each dimension
    sums as round(v·scale) integers (engine-portable regardless of
    aggregation tree — float sums are order-dependent, integer sums are
    not), and the centroid component is the single division
    Σ/(n·scale).  Returns (group, n_vecs, centroid array<double>).

    Scale shape: one shuffle keyed on (group, dim) for the component
    sums (map-side combined), then a tiny per-group array rebuild —
    at 100 TB the exploded relation is dim × |corpus| longs, but the
    aggregate output is |groups| × dim, negligible."""
    g = F.col(group_col).alias("__g__")
    ex = embeddings.select(g, F.posexplode(vec_col).alias("__d__", "__v__"))
    ex = ex.withColumn("__xi__", F.round(F.col("__v__").cast("double") * scale).cast("bigint"))
    comp = ex.groupBy("__g__", "__d__").agg(
        F.sum("__xi__").alias("__sv__"), F.count(F.lit(1)).alias("__n__")
    )
    comp = comp.select(
        "__g__", "__d__", "__n__",
        (F.col("__sv__").cast("double") / (F.col("__n__") * scale).cast("double")).alias("__c__"),
    )
    return comp.groupBy("__g__").agg(
        F.max("__n__").alias("n_vecs"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("__d__", "__c__"))), lambda s: s["__c__"]
        ).alias("centroid"),
    ).withColumnRenamed("__g__", group_col)


def centroid_similarity(
    centroids: DataFrame,
    group_col: str,
    vec_col: str = "centroid",
) -> DataFrame:
    """Pairwise cosine between slice centroids (group_a < group_b) —
    the inter-slice semantic-drift matrix over the (tiny) centroid
    relation; pairs form by ordered self-join, never a full cartesian
    of the corpus."""
    a, b, cos = _norm_staged(
        centroids.select(F.col(group_col).alias("group_a"), F.col(vec_col).alias("__ca__")), "__ca__",
        centroids.select(F.col(group_col).alias("group_b"), F.col(vec_col).alias("__cb__")), "__cb__",
    )
    return (
        a.crossJoin(b)
        .where(F.col("group_a") < F.col("group_b"))
        .select("group_a", "group_b", cos.alias("cos_sim"))
    )


def gram_matrix(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    scale: int = 1_000_000,
) -> DataFrame:
    """Exact Gram matrix XᵀX of an embedding relation: every (i, j)
    entry is Σ round(vᵢ·scale)·round(vⱼ·scale) — 128-bit-exact integer
    sums (DECIMAL(38,0)), so the d×d result is engine-portable to the
    bit and mergeable across partitions/partitions-of-days.  The d²
    fan-out happens per ROW (explode to d(d+1)/2 upper-triangle pairs),
    then one (i, j)-keyed aggregation of longs — the standard
    distributed gramian; output is d(d+1)/2 rows, trivial for d ≤ 10³.

    Feed to pca_top_component (or any driver-side eigensolver): the
    covariance assembles from gram/n and the mean vector."""
    xi = F.transform(
        F.col(vec_col), lambda v: F.round(v.cast("double") * scale).cast("bigint")
    )
    d = embeddings.where(F.col(vec_col).isNotNull()).select(xi.alias("__x__"))
    pairs = d.select(
        F.posexplode("__x__").alias("i", "__vi__"), F.col("__x__")
    ).select(
        "i", "__vi__", F.posexplode("__x__").alias("j", "__vj__")
    ).where(F.col("j") >= F.col("i"))
    return pairs.groupBy("i", "j").agg(
        F.sum((F.col("__vi__").cast("decimal(38,0)") * F.col("__vj__"))).cast("decimal(38,0)").alias("g"),
        F.count(F.lit(1)).alias("n"),
    )


def pca_top_component(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    scale: int = 1_000_000,
    n_power_iter: int = 50,
) -> tuple[list[float], float]:
    """Top principal component via the distributed Gram matrix + a
    driver-side power iteration on the tiny d×d covariance (the same
    split MLlib uses: cluster computes the gramian, driver eigensolves).
    Deterministic: starts from the all-ones vector, no RNG.  Returns
    (unit eigenvector, explained-variance fraction)."""
    import numpy as np

    rows = gram_matrix(embeddings, vec_col, scale).collect()
    dim = max(r.i for r in rows) + 1
    n = rows[0].n
    G = np.zeros((dim, dim))
    for r in rows:
        G[r.i, r.j] = G[r.j, r.i] = float(r.g)
    mean = embeddings.where(F.col(vec_col).isNotNull()).select(
        F.transform(F.col(vec_col), lambda v: F.round(v.cast("double") * scale).cast("bigint")).alias("x")
    ).select(
        *[F.sum(F.col("x")[i]).alias(f"s{i}") for i in range(dim)]
    ).first()
    mu = np.array([float(mean[f"s{i}"]) for i in range(dim)]) / n
    cov = G / n - np.outer(mu, mu)
    v = np.ones(dim) / np.sqrt(dim)
    for _ in range(n_power_iter):
        v = cov @ v
        v = v / np.linalg.norm(v)
    lam = float(v @ cov @ v)
    return v.tolist(), lam / float(np.trace(cov))


def knn_label_agreement(
    embeddings: DataFrame,
    anchor_ids: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Label-noise screen via neighborhood voting: for each anchor
    vector, the fraction of its k nearest cosine neighbors (self
    excluded) that share its label — anchors whose neighborhoods
    disagree are the mislabel candidates (public confident-learning /
    kNN-audit method).

    Scale shape: the corpus never shuffles — anchors broadcast into the
    scoring join (brute-force exact; swap in ivf_topk for the ANN
    path), the per-anchor top-k is a bounded window, and the label
    lookup joins the (anchor·k)-row result by id.  Returns
    (id, label, n_agree, agree_frac)."""
    emb = embeddings.select(
        F.col(id_col), F.col(label_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__v__"),
    )
    anchors = emb.join(anchor_ids.select(id_col), on=id_col).select(
        F.col(id_col).alias("__aid__"), F.col(label_col).alias("__albl__"),
        F.col("__v__").alias("__av__"),
    )
    top = _cosine_topk(
        emb, anchors, k, id_col, "__v__", "__aid__", "__av__",
        where=F.col(id_col) != F.col("__aid__"), carry=(label_col, "__albl__"),
    )
    agg = top.groupBy(F.col("__aid__").alias(id_col), F.col("__albl__").alias(label_col)).agg(
        F.sum(F.when(F.col(label_col) == F.col("__albl__"), 1).otherwise(0)).alias("n_agree")
    )
    return agg.select(
        id_col, label_col, "n_agree",
        (F.col("n_agree").cast("double") / k).alias("agree_frac"),
    )


def cluster_distortion(
    embeddings: DataFrame,
    list_col: Column,
    vec_col: str = "embedding",
    scale: int = 1000,
) -> DataFrame:
    """Per-cluster quantization distortion (SSE about the cluster mean)
    with EXACT arithmetic — the IVF/k-means quality audit that decides
    whether a list needs splitting.

    Uses the power-sum identity Σ‖x−c‖² = Σ_d[Σx_d²] − Σ_d[(Σx_d)²]/n:
    both brackets are exact integer sums over round(v·scale) components
    (a coarser scale than centroid math — (Σx)² must stay under 2^53),
    so the only float ops are one division and one rescale, identical
    in any engine.  One (list, dim)-keyed aggregation, map-side
    combined; output is |lists| rows."""
    ex = embeddings.select(list_col.alias("__l__"), F.posexplode(vec_col).alias("__d__", "__v__"))
    ex = ex.withColumn("__xi__", F.round(F.col("__v__").cast("double") * scale).cast("bigint"))
    comp = ex.groupBy("__l__", "__d__").agg(
        F.sum(F.col("__xi__") * F.col("__xi__")).alias("__sxx__"),
        F.sum("__xi__").alias("__sx__"),
        F.count(F.lit(1)).alias("__n__"),
    )
    per_list = comp.groupBy("__l__").agg(
        F.max("__n__").alias("n_vecs"),  # every dim sees every vector
        F.sum("__sxx__").alias("__A__"),
        F.sum(F.col("__sx__") * F.col("__sx__")).alias("__B__"),
    )
    sse = (F.col("__A__") - F.col("__B__") / F.col("n_vecs")) / (scale * scale)
    return per_list.select(
        F.col("__l__").alias("list_id"),
        "n_vecs",
        sse.alias("sse"),
        (sse / F.col("n_vecs")).alias("mean_sse"),
    )


def l2_normalize(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = 1000,
    out_col: str = "unit_vec",
) -> DataFrame:
    """L2-normalize embeddings with ENGINE-EXACT arithmetic: the squared
    norm accumulates as Σ round(x·scale)² — an integer fold, exact
    under any association — so sqrt(S) is a correctly-rounded double
    and every output component x·scale/√S is bit-identical across
    engines (the float-fold norm would differ by ulps per association).

    Zero vectors yield NULL (no 0/0).  Pure projection — zero shuffles,
    the normalization a cosine-ANN ingest runs at scan speed.
    Appends ``l2_norm`` (in original units) and ``out_col``.
    """
    v = F.col(vec_col)
    s_int = F.aggregate(
        F.transform(v, lambda x: {"i": F.round(x.cast("double") * scale).cast("bigint")}["i"]),
        F.lit(0).cast("bigint"),
        lambda acc, xi: acc + xi * xi,
    )
    root = F.sqrt(s_int)
    # let-bind the norm: referencing `root` inside the transform lambda
    # would re-run the whole-vector integer fold once per COMPONENT
    # (O(d^2) per row; lambda bodies are outside subexpr elimination)
    unit = F.when(
        s_int > 0,
        F.transform(
            F.array(root), lambda r: F.transform(v, lambda x: x.cast("double") * scale / r)
        ).getItem(0),
    )
    return df.select(
        F.col(id_col), v,
        F.when(s_int > 0, root / scale).alias("l2_norm"),
        unit.alias(out_col),
    )


def hard_negatives(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    query_label_col: str = "query_label",
) -> DataFrame:
    """Hard-negative mining for contrastive/embedding training: per
    query, the top-k most-similar corpus vectors whose label DIFFERS
    from the query's — the examples a trainer wants in the batch
    because the model currently confuses them.

    The exact top-k of :func:`brute_force_topk` (queries broadcast,
    corpus never shuffles, per-query top-k window) with the
    label-mismatch predicate applied BEFORE scoring, so same-label rows
    never rank.
    Returns (query_id, id, label, score, rank).
    """
    dvec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    dq = F.transform(F.col(query_vec_col), lambda x: x.cast("double"))
    corpus = vectors.select(F.col(id_col), dvec.alias(vec_col), F.col(label_col))
    qs = queries.select(
        F.col(query_id_col), dq.alias(query_vec_col), F.col(query_label_col)
    )
    return _cosine_topk(
        corpus, qs, k, id_col, vec_col, query_id_col, query_vec_col,
        where=F.col(label_col) != F.col(query_label_col), carry=(label_col,),
    )


def sq8_params(
    vectors: DataFrame,
    dim: int,
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-dimension min/max for int8 scalar quantization (SQ8) — ONE
    aggregation pass producing a 1-row relation of two dim-length
    arrays; broadcast it wherever codes are built or decoded."""
    dvec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    v = vectors.select(dvec.alias("__v__"))
    mins = F.array(*[F.min(F.element_at("__v__", i + 1)) for i in range(dim)])
    maxs = F.array(*[F.max(F.element_at("__v__", i + 1)) for i in range(dim)])
    return v.agg(mins.alias("mins"), maxs.alias("maxs"))


def sq8_reconstructed(
    vectors: DataFrame,
    params: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SQ8 quantize→decode in one projection: each component maps to a
    0..255 bucket (FLOOR — identical doubles floor identically, unlike
    round-at-a-half) and decodes to the bucket midpoint.  This is the
    4× compression / recall trade the PQ family's scalar sibling makes;
    compose with brute_force_topk + recall_at_k to measure it.

    The params row broadcasts; the whole transform is a zero-shuffle
    fixed-tree projection, so codes and reconstructions are
    engine-identical.  Returns (id, vec) with the reconstructed vector.
    """
    dvec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    j = vectors.select(F.col(id_col), dvec.alias("__v__")).crossJoin(F.broadcast(params))

    def rec(i: Column) -> Column:  # component i, 1-based
        x = F.element_at("__v__", i)
        lo = F.element_at("mins", i)
        hi = F.element_at("maxs", i)
        scale = hi - lo
        code = F.when(
            scale > 0,
            F.least(F.lit(255.0), F.floor((x - lo) * 255.0 / scale)),
        ).otherwise(F.lit(0.0))
        return F.when(scale > 0, lo + (code + 0.5) * scale / 255.0).otherwise(lo)

    # one lambda over the dim indices, not dim unrolled expressions
    # (64 of them outgrow whole-stage codegen's 64 KB method limit)
    return j.select(
        F.col(id_col), F.transform(F.sequence(F.lit(1), F.lit(dim)), rec).alias(vec_col)
    )


def mmr_rerank(
    vectors: DataFrame,
    queries: DataFrame,
    k_candidates: int = 10,
    k_select: int = 3,
    lam_pct: int = 70,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Maximal-Marginal-Relevance re-ranking (Carbonell & Goldstein):
    from each query's top-``k_candidates`` cosine shortlist, greedily
    pick ``k_select`` items maximizing

        λ·rel(i) − (1−λ)·max_{s ∈ selected} sim(i, s)

    — the standard diversity-aware serving layer over ANN results.

    The greedy rounds unroll at PLAN level (selected sets are ≤ round
    rows per query, every join is shortlist-sized); λ rides as the
    rational ``lam_pct``/100 evaluated in one fixed float tree, and
    ties break on item id, so selection is engine-deterministic (the
    greedy_cover q363 oracle discipline).  Returns
    (query_id, id, mmr_rank ∈ 1..k_select, rel).
    """
    lam = F.lit(lam_pct).cast("double") / 100.0
    dvec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    dq = F.transform(F.col(query_vec_col), lambda x: x.cast("double"))
    corpus = vectors.select(F.col(id_col).alias("__id__"), dvec.alias("__v__"))
    qs = queries.select(F.col(query_id_col).alias("__q__"), dq.alias("__qv__"))
    # the shortlist: the exact top-k with each candidate's vector carried
    cand = _cosine_topk(
        corpus, qs, k_candidates, "__id__", "__v__", "__q__", "__qv__", carry=("__v__",)
    ).withColumnRenamed("score", "rel")
    cols = ["__q__", "__id__", "__v__", "rel"]
    # round 1 picks the most relevant candidate: the shortlist's rank 1
    selected = cand.where(F.col("rank") == 1).select(*cols, F.lit(1).alias("mmr_rank"))
    for rnd in range(2, k_select + 1):
        rem = cand.join(
            selected.select("__q__", "__id__"), on=["__q__", "__id__"], how="left_anti"
        )
        r, sel, sim = _norm_staged(
            rem, "__v__", selected.select("__q__", F.col("__v__").alias("__sv__")), "__sv__"
        )
        sims = r.join(sel, on="__q__").groupBy("__q__", "__id__", "rel").agg(
            F.max(sim).alias("__msim__"),
            F.first("__v__").alias("__v__"),
        )
        score = lam * F.col("rel") - (F.lit(1.0) - lam) * F.col("__msim__")
        pick = _topk(sims, "__q__", [score.desc(), F.col("__id__")], 1)
        selected = selected.unionByName(pick.select(*cols, F.lit(rnd).alias("mmr_rank")))
    return selected.select(
        F.col("__q__").alias(query_id_col), F.col("__id__").alias(id_col),
        "mmr_rank", "rel",
    )


def kcenter_greedy(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    scale: int = 1000,
) -> DataFrame:
    """Greedy k-center (Gonzalez 2-approximation) diversity selection
    over an embedding column — the classic coreset seed for diverse
    training-data sampling.

    Vectors are integer-scaled (round(v·scale)) so every squared
    distance is an exact BIGINT and every argmax is tie-free under the
    (dist DESC, id ASC) total order: the selection is deterministic
    and replayable in SQL with no float comparison anywhere.  Seeded
    at min(id); each round broadcasts ONE center vector (a k×dim
    driver round-trip, the kmeans_fit contract), computes the running
    min-distance, and takes the farthest point.  Returns one row per
    round: (sel_round, id, dist = distance² at selection, in scaled²
    units) plus a final row (sel_round = k+1) holding the coverage
    radius — the farthest remaining point after all k picks.

    At 100 TB: k bounded passes over the corpus, each a broadcast
    projection whose one job (:func:`.rounds.checkpoint`) materializes
    the running min-distance and reads the farthest point and its
    vector as an observed metric; the corpus never shuffles.
    """
    x = F.transform(
        F.col(vec_col), lambda v: F.round(v.cast("double") * scale).cast("long")
    )
    base, m = checkpoint(
        df.select(F.col(id_col).alias("__id__"), x.alias("__x__")),
        far=F.min_by(F.struct("__id__", "__x__"), F.col("__id__")),
    )
    picks = [(1, m["far"]["__id__"], 0)]
    mind = None
    for rnd in range(2, k + 2):
        c_lit = F.array(*[F.lit(int(v)) for v in m["far"]["__x__"]])
        d_new = F.aggregate(
            F.zip_with(F.col("__x__"), c_lit, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        mind = d_new if mind is None else F.least(mind, d_new)
        # materialize the running min so each round's plan stays linear;
        # the farthest point is the largest distance, then the smallest id
        base, m = checkpoint(
            base.select("__id__", "__x__", mind.alias("__d__")),
            far=F.max_by(
                F.struct("__id__", "__x__", "__d__"), F.struct("__d__", -F.col("__id__"))
            ),
        )
        mind = F.col("__d__")
        picks.append((rnd, m["far"]["__id__"], m["far"]["__d__"]))
    rows = [(int(r), int(i), int(d)) for r, i, d in picks]
    return df.sparkSession.createDataFrame(
        rows, f"sel_round bigint, {id_col} bigint, dist bigint"
    )


def hubness(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    scale: int = 1000,
) -> DataFrame:
    """k-occurrence hubness diagnostic: how often each vector appears in
    OTHER vectors' exact top-k neighbor lists — the high-dimensional
    pathology check (hub points poison ANN recall and dedup
    thresholds).

    Distances are integer-scaled squared euclidean (exact BIGINTs), so
    the top-k cut under (dist ASC, id ASC) is tie-free and the whole
    relation replays in SQL.  The scoring pass broadcasts the corpus
    against itself (the deliberate brute-force baseline — LSH/IVF are
    the scale path, and hubness is typically run on a bounded sample);
    zero-occurrence vectors report via the left join.  Returns
    (id, k_occurrences).
    """
    x = F.transform(
        F.col(vec_col), lambda v: F.round(v.cast("double") * scale).cast("long")
    )
    base = df.select(F.col(id_col).alias("__id__"), x.alias("__x__"))
    right = base.select(F.col("__id__").alias("__nid__"), F.col("__x__").alias("__nx__"))
    pairs = base.crossJoin(F.broadcast(right)).where(F.col("__id__") != F.col("__nid__"))
    dist = F.aggregate(
        F.zip_with(F.col("__x__"), F.col("__nx__"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    topk = _topk(
        pairs.select("__id__", "__nid__", dist.alias("__d__")),
        "__id__", [F.col("__d__"), F.col("__nid__")], k,
    )
    occ = topk.groupBy("__nid__").agg(F.count(F.lit(1)).cast("long").alias("k_occurrences"))
    return base.join(occ, base["__id__"] == occ["__nid__"], "left").select(
        F.col("__id__").alias(id_col),
        F.coalesce(F.col("k_occurrences"), F.lit(0).cast("long")).alias("k_occurrences"),
    )
