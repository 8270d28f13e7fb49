"""Driver-contract query registry, batch 19 (round 6, q654+):
embedding-space linear algebra (exact-integer power iteration), graph
density (k-core peel curve), and the MinHash-LSH band planner.
Registers into the same QUERIES/ORACLES dicts as queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .queries import query
from .sources.io import load_table


# ------------------------------------------------------------------ q654
@query(
    "q654_dominant_direction",
    """
    WITH x AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[],
                              e -> CAST(round(e * 1000) AS BIGINT)) AS q
        FROM embeddings
    ),
    u1 AS (SELECT vec_id, q, list_reduce(q, (a, b) -> a + b) AS u FROM x),
    e1 AS (
        SELECT unnest(list_transform(q, (e, i) -> i)) AS p,
               unnest(list_transform(q, (e, i) -> e * u)) AS term
        FROM u1
    ),
    w1 AS (SELECT p, CAST(sum(term) AS BIGINT) AS w FROM e1 GROUP BY p),
    m1 AS (SELECT greatest(max(abs(w)), 1) AS m FROM w1),
    v1 AS (
        SELECT p,
               CAST(sign(w) AS BIGINT) * (abs(w) // ((m // 1000) + 1)) AS vw
        FROM w1, m1
    ),
    va1 AS (SELECT list(vw ORDER BY p) AS v FROM v1),
    u2 AS (
        SELECT vec_id, q,
               list_reduce(list_transform(q, (e, i) -> e * v[i]),
                           (a, b) -> a + b) AS u
        FROM x, va1
    ),
    e2 AS (
        SELECT unnest(list_transform(q, (e, i) -> i)) AS p,
               unnest(list_transform(q, (e, i) -> e * u)) AS term
        FROM u2
    ),
    w2 AS (SELECT p, CAST(sum(term) AS BIGINT) AS w FROM e2 GROUP BY p),
    m2 AS (SELECT greatest(max(abs(w)), 1) AS m FROM w2)
    SELECT CAST(p AS INT) AS dim,
           CAST(sign(w) AS BIGINT) * (abs(w) // ((m // 1000) + 1)) AS weight
    FROM w2, m2
    """,
)
def q654(spark: SparkSession, sf: str) -> DataFrame:
    """Dominant corpus direction by exact-integer power iteration
    (operators/similarity.dominant_direction) — the "all-but-the-top"
    embedding-postprocessing vector (Mu & Viswanath '18): two
    iterations of v ← Xᵀ(Xv) on round(1000·x) BIGINT vectors with a
    division-only rescale, so every intermediate is exact and the
    replay hash-matches bit-for-bit.  Reference rt_fastarray reductions
    have no distributed analogue for this; it completes the
    SemDeDup/ANN embedding-hygiene family."""
    from .operators.similarity import dominant_direction

    e = load_table(spark, sf, "embeddings")
    return dominant_direction(e, n_iter=2, quant_scale=1000, rescale_to=1000)


# ------------------------------------------------------------------ q655
def _q655_graph_sql() -> str:
    return """
        SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v FROM (
            SELECT doc_id % 37 AS a, (doc_id * 15 + 4) % 37 AS b FROM documents
            UNION ALL
            SELECT doc_id % 37, (doc_id * 7 + 2) % 37 FROM documents
        ) WHERE a != b
    """


def _q655_oracle() -> str:
    rounds = []
    for r in (1, 2, 3):
        rounds.append(f"""
    d{r} AS (
        SELECT node, count(*) AS c FROM (
            SELECT u AS node FROM e{r - 1} UNION ALL SELECT v FROM e{r - 1}
        ) GROUP BY 1
    ),
    k{r} AS (SELECT node FROM d{r} WHERE c >= 3),
    e{r} AS (
        SELECT u, v FROM e{r - 1}
        WHERE u IN (SELECT node FROM k{r}) AND v IN (SELECT node FROM k{r})
    )""")
    body = ",".join(rounds)
    picks = "\n    UNION ALL ".join(
        f"""SELECT CAST({r} AS BIGINT) AS round,
           (SELECT CAST(count(DISTINCT node) AS BIGINT) FROM (
                SELECT u AS node FROM e{r} UNION ALL SELECT v FROM e{r})) AS n_nodes,
           (SELECT CAST(count(*) AS BIGINT) FROM e{r}) AS n_edges"""
        for r in (1, 2, 3)
    )
    return f"""
    WITH e0 AS ({_q655_graph_sql()}),{body}
    {picks}
    """


@query("q655_kcore_peel", _q655_oracle())
def q655(spark: SparkSession, sf: str) -> DataFrame:
    """3-core peel curve of the synthetic doc-affinity graph
    (operators/graph.k_core): each round drops nodes with degree < 3
    and their edges — the density filter that separates tightly
    inter-duplicated communities from hub-chained loose matches, with
    the per-round (nodes, edges) curve a pipeline owner reads to pick
    k.  Bounded rounds, eager-checkpointed edges (the q619/q621 kernel
    discipline)."""
    from .operators.graph import k_core

    d = load_table(spark, sf, "documents")
    k = F.col("doc_id")
    pairs = (
        d.select((k % 37).alias("id_a"), ((k * 15 + 4) % 37).alias("id_b"))
        .unionByName(
            d.select((k % 37).alias("id_a"), ((k * 7 + 2) % 37).alias("id_b"))
        )
    )
    return k_core(pairs, k=3, max_rounds=3)


# ------------------------------------------------------------------ q656
# (bands, rows) splits of a 128-hash signature — all powers of two, so
# s50 = (1/b)^(1/r) is a NESTED-SQRT chain and ŝ^r / (1−ŝ^r)^b are
# REPEATED-SQUARING chains: every step is one correctly-rounded IEEE op,
# bit-identical cross-engine (the q570 fixed-association discipline) —
# no pow() anywhere.
_Q656_GRID = [(64, 2), (32, 4), (16, 8), (8, 16)]


def _sqrt_chain_sql(x: str, r: int) -> str:
    out = x
    while r > 1:
        out = f"sqrt({out})"
        r //= 2
    return out


def _square_chain_sql(x: str, k: int) -> str:
    out = x
    while k > 1:
        out = f"(({out}) * ({out}))"
        k //= 2
    return out


def _q656_oracle() -> str:
    rows = []
    for b, r in _Q656_GRID:
        s50 = _sqrt_chain_sql(f"1.0 / {b}", r)
        sr = _square_chain_sql("med.s_ppm / 1000000.0", r)
        p = f"1 - {_square_chain_sql(f'(1 - {sr})', b)}"
        rows.append(
            f"""SELECT {b} AS bands, {r} AS rows_per_band,
           med.s_ppm AS median_jaccard_ppm,
           round({s50}, 6) AS s50,
           round({p}, 6) AS p_at_median
    FROM med"""
        )
    picks = "\n    UNION ALL ".join(rows)
    return rf"""
    WITH toks AS (
        SELECT doc_id, unnest(list_distinct(regexp_split_to_array(lower(trim(text)), '\s+'))) AS tok
        FROM documents WHERE doc_id < 200
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
        FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    j AS (
        SELECT CAST(floor(1000000.0 * n_shared / (sa.sz + sb.sz - n_shared))
                    AS BIGINT) AS s_ppm
        FROM inter JOIN sizes sa ON inter.id_a = sa.doc_id
                   JOIN sizes sb ON inter.id_b = sb.doc_id
        WHERE n_shared / (sa.sz + sb.sz - n_shared) >= 0.1
    ),
    dist AS (SELECT s_ppm, CAST(count(*) AS BIGINT) AS c FROM j GROUP BY 1),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM dist),
    cum AS (
        SELECT s_ppm,
               sum(c) OVER (ORDER BY s_ppm
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM dist
    ),
    med AS (
        SELECT min(s_ppm) AS s_ppm FROM cum, tot WHERE cum >= (n + 1) // 2
    )
    {picks}
    """


@query("q656_lsh_band_planner", _q656_oracle())
def q656(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash-LSH band planner: for every (bands, rows) split of a
    128-hash signature, the S-curve half-point s50 = (1/b)^(1/r) and
    the collision probability 1−(1−ŝ^r)^b AT the corpus's own median
    candidate-pair Jaccard ŝ (exact integer ppm; LOW median via the
    cumulative-count aggregate, never a raw-pair global sort) — the
    relation an operator reads to pick banding before an LSH run
    (completes q570's calibration with the corpus-tied planning view).
    pow outputs are round(6)-ed on both sides (the q644 ln/exp rule)."""
    from .operators import dedup

    d = load_table(spark, sf, "documents").where(F.col("doc_id") < 200)
    pairs = dedup.ngram_jaccard_pairs(d, "text", "doc_id", n=1, threshold=0.1)
    sppm = pairs.select(
        F.floor(F.col("jaccard") * 1000000).cast("long").alias("s_ppm")
    )
    dist = sppm.groupBy("s_ppm").agg(F.count(F.lit(1)).cast("long").alias("c"))
    tot = dist.agg(F.sum("c").cast("long").alias("n"))
    wcum = Window.orderBy("s_ppm").rowsBetween(Window.unboundedPreceding, 0)
    cum = dist.select("s_ppm", F.sum("c").over(wcum).alias("cum"))
    # 1 row feeding four union branches: they reuse its exchange, so the
    # Jaccard pipeline runs once per execution and none at build
    med = (
        cum.crossJoin(F.broadcast(tot))
        .where(F.col("cum") >= F.expr("(n + 1) div 2"))
        .agg(F.min("s_ppm").alias("s_ppm"))
    )

    def sqrt_chain(x, r: int):
        while r > 1:
            x = F.sqrt(x)
            r //= 2
        return x

    def square_chain(x, k: int):
        while k > 1:
            x = x * x
            k //= 2
        return x

    shat = F.col("s_ppm") / 1000000.0
    outs = []
    for b, r in _Q656_GRID:
        p = 1 - square_chain(1 - square_chain(shat, r), b)
        outs.append(
            med.select(
                F.lit(b).cast("int").alias("bands"),
                F.lit(r).cast("int").alias("rows_per_band"),
                F.col("s_ppm").alias("median_jaccard_ppm"),
                F.round(sqrt_chain(F.lit(1.0) / b, r), 6).alias("s50"),
                F.round(p, 6).alias("p_at_median"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


# ------------------------------------------------------------------ q657
def _q657_oracle() -> str:
    from .queries import ORACLES

    return f"""
    WITH v AS ({ORACLES["q654_dominant_direction"]}),
    vn AS (SELECT CAST(sum(weight * weight) AS BIGINT) AS v_norm2 FROM v),
    va AS (SELECT list(weight ORDER BY dim) AS vv FROM v),
    x AS (
        SELECT list_transform(embedding::DOUBLE[],
                              e -> CAST(round(e * 1000) AS BIGINT)) AS q
        FROM embeddings
    ),
    p AS (
        SELECT list_reduce(list_transform(q, (e, i) -> e * vv[i]),
                           (a, b) -> a + b) AS pr,
               list_reduce(list_transform(q, e -> e * e),
                           (a, b) -> a + b) AS q2
        FROM x, va
    ),
    s AS (
        SELECT CAST(count(*) AS BIGINT) AS n_vectors,
               CAST(sum((pr * pr) // 1000000000) AS BIGINT) AS proj_energy_scaled,
               CAST(sum(q2) AS BIGINT) AS total_energy
        FROM p
    )
    SELECT n_vectors, v_norm2, proj_energy_scaled, total_energy,
           round(CAST(proj_energy_scaled AS DOUBLE) * 1000000000.0
                 / (CAST(v_norm2 AS DOUBLE) * CAST(total_energy AS DOUBLE)), 6)
               AS dominant_share
    FROM s, vn
    """


@query("q657_abtt_audit", _q657_oracle())
def q657(spark: SparkSession, sf: str) -> DataFrame:
    """All-but-the-top audit: the share of the corpus's (uncentered)
    second-moment energy captured by q654's dominant direction —
    Rayleigh quotient Σ(q·v)² / (‖v‖²·Σ‖q‖²), the number that tells an
    embedding-hygiene pipeline whether removing the top component is
    worth it.  Composes the registered q654 pipeline on BOTH engines
    (the q652 pattern).  Exactness: every sum is BIGINT (per-row P² is
    pre-scaled by an exact div 1e9 so corpus totals stay under 2^53 —
    hash-safe); the one double expression converts three exact-in-
    double integers in a fixed order."""
    from .queries import QUERIES

    v = QUERIES["q654_dominant_direction"](spark, sf).localCheckpoint(eager=True)
    vn = v.agg((F.sum(F.col("weight") * F.col("weight"))).cast("long").alias("v_norm2"))
    va = v.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "weight"))),
            lambda s: s["weight"],
        ).alias("vv")
    )
    e = load_table(spark, sf, "embeddings")
    q = F.transform(
        F.col("embedding"), lambda x: F.round(x.cast("double") * 1000).cast("long")
    )
    base = e.select(q.alias("__q__"))
    staged = base.crossJoin(F.broadcast(va)).select(
        F.aggregate(
            F.zip_with("__q__", "vv", lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("pr"),
        F.aggregate(
            F.col("__q__"), F.lit(0).cast("long"), lambda acc, x: acc + x * x
        ).alias("q2"),
    )
    s = staged.agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.sum(F.expr("(pr * pr) div 1000000000")).cast("long").alias("proj_energy_scaled"),
        F.sum("q2").cast("long").alias("total_energy"),
    )
    return s.crossJoin(F.broadcast(vn)).select(
        "n_vectors",
        "v_norm2",
        "proj_energy_scaled",
        "total_energy",
        F.round(
            F.col("proj_energy_scaled").cast("double")
            * 1000000000.0
            / (F.col("v_norm2").cast("double") * F.col("total_energy").cast("double")),
            6,
        ).alias("dominant_share"),
    )


# ------------------------------------------------------------------ q658
# q658's planted graph: 20 five-node K5 blocks (cycle + chord families
# cover all 10 intra-block pairs; every block node has degree 4, so the
# 3-core keeps whole blocks), chained by degree-2 midpoint bridge nodes
# (100+blk) that PEEL in round 1 — core-community resolution must
# produce exactly the 20 per-block cliques, not one giant chained
# component (non-vacuous at every SF).
_Q658_GRAPH_SQL = """
        SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v FROM (
            SELECT ((doc_id // 5) % 20) * 5 + doc_id % 5 AS a,
                   ((doc_id // 5) % 20) * 5 + (doc_id % 5 + 1) % 5 AS b
            FROM documents
            UNION ALL
            SELECT ((doc_id // 5) % 20) * 5 + doc_id % 5,
                   ((doc_id // 5) % 20) * 5 + (doc_id % 5 + 2) % 5
            FROM documents
            UNION ALL
            SELECT ((doc_id // 5) % 20) * 5, 100 + (doc_id // 5) % 20
            FROM documents
            UNION ALL
            SELECT 100 + (doc_id // 5) % 20, (((doc_id // 5) % 20 + 1) % 20) * 5
            FROM documents
        ) WHERE a != b
    """


def _q658_oracle() -> str:
    peel = []
    for r in (1, 2):
        peel.append(f"""
    d{r} AS (
        SELECT node, count(*) AS c FROM (
            SELECT u AS node FROM e{r - 1} UNION ALL SELECT v FROM e{r - 1}
        ) GROUP BY 1
    ),
    k{r} AS (SELECT node FROM d{r} WHERE c >= 3),
    e{r} AS (
        SELECT u, v FROM e{r - 1}
        WHERE u IN (SELECT node FROM k{r}) AND v IN (SELECT node FROM k{r})
    )""")
    body = ",".join(peel)
    return f"""
    WITH RECURSIVE e0 AS ({_Q658_GRAPH_SQL}),{body},
    sym AS (SELECT u, v FROM e2 UNION SELECT v, u FROM e2),
    walk AS (
        SELECT u, v FROM sym
        UNION
        SELECT w.u, s.v FROM walk w JOIN sym s ON w.v = s.u WHERE w.u != s.v
    ),
    comp AS (
        SELECT node, min(peer) AS component FROM (
            SELECT u AS node, v AS peer FROM walk UNION ALL SELECT u, u FROM sym
        ) GROUP BY 1
    )
    SELECT component, CAST(count(*) AS BIGINT) AS n_nodes
    FROM comp GROUP BY component
    """


@query("q658_core_communities", _q658_oracle())
def q658(spark: SparkSession, sf: str) -> DataFrame:
    """Dup-community resolution on the DENSE core: 2 rounds of 3-core
    peeling (graph.k_core return_edges=True) strip hubs-of-loose-
    matches and pendants, then connected components label what
    remains — the composition a dedup pipeline runs to find tightly
    inter-duplicated clusters rather than chains.  Per-community
    (component = min node id, size); both kernels are the registered
    bounded-round implementations."""
    from .operators.graph import connected_components, k_core

    d = load_table(spark, sf, "documents")
    k = F.col("doc_id")
    blk = F.expr("(doc_id div 5) % 20")
    i = k % 5
    fam1 = d.select(
        (blk * 5 + i).alias("id_a"), (blk * 5 + (i + 1) % 5).alias("id_b")
    )
    fam2 = d.select(
        (blk * 5 + i).alias("id_a"), (blk * 5 + (i + 2) % 5).alias("id_b")
    )
    br1 = d.select((blk * 5).alias("id_a"), (100 + blk).alias("id_b"))
    br2 = d.select(
        (100 + blk).alias("id_a"), (((blk + 1) % 20) * 5).alias("id_b")
    )
    pairs = fam1.unionByName(fam2).unionByName(br1).unionByName(br2)
    core = k_core(pairs, k=3, max_rounds=2, return_edges=True)
    cc = connected_components(core, id_a="u", id_b="v")
    return cc.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes")
    )


# ------------------------------------------------------------------ q659
# Three disjoint planted node-spaces with different topologies — a
# 7-ring (1 cycle), an 11-node double-ring (chords: 12 independent
# cycles), and a 13-node path (a tree: 0 cycles) — so the cyclomatic
# profile has real variety at every SF.
_Q659_GRAPH_SQL = """
        SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v FROM (
            SELECT doc_id % 7 AS a, (doc_id % 7 + 1) % 7 AS b FROM documents
            UNION ALL
            SELECT 100 + doc_id % 11, 100 + (doc_id % 11 + 1) % 11 FROM documents
            UNION ALL
            SELECT 100 + doc_id % 11, 100 + (doc_id % 11 + 3) % 11 FROM documents
            UNION ALL
            SELECT 200 + doc_id % 13, 200 + doc_id % 13 + 1 FROM documents
            WHERE doc_id % 13 < 12
        ) WHERE a != b
    """


@query(
    "q659_component_cycles",
    f"""
    WITH RECURSIVE e AS ({_Q659_GRAPH_SQL}),
    sym AS (SELECT u, v FROM e UNION SELECT v, u FROM e),
    walk AS (
        SELECT u, v FROM sym
        UNION
        SELECT w.u, s.v FROM walk w JOIN sym s ON w.v = s.u WHERE w.u != s.v
    ),
    comp AS (
        SELECT node, min(peer) AS component FROM (
            SELECT u AS node, v AS peer FROM walk UNION ALL SELECT u, u FROM sym
        ) GROUP BY 1
    ),
    nodes AS (
        SELECT component, CAST(count(*) AS BIGINT) AS n_nodes
        FROM comp GROUP BY 1
    ),
    edges AS (
        SELECT c.component, CAST(count(*) AS BIGINT) AS n_edges
        FROM e JOIN comp c ON c.node = e.u GROUP BY 1
    )
    SELECT n.component, n.n_nodes, ed.n_edges,
           ed.n_edges - n.n_nodes + 1 AS n_cycles,
           ed.n_edges - n.n_nodes + 1 = 0 AS is_tree
    FROM nodes n JOIN edges ed ON ed.component = n.component
    """,
)
def q659(spark: SparkSession, sf: str) -> DataFrame:
    """Cyclomatic profile per connected component: cycles = m − n + 1
    (first Betti number) — the dup-cluster REDUNDANCY metric: a tree
    component chains on single links (one false positive severs it)
    while a cycle-rich component is corroborated by independent paths.
    Composes connected_components with per-component edge counts; the
    planted spaces (ring / chorded double-ring / path) give cycle
    counts 1 / 12 / 0 at every SF."""
    from .operators.graph import connected_components

    d = load_table(spark, sf, "documents")
    k = F.col("doc_id")
    fams = [
        d.select((k % 7).alias("a"), ((k % 7 + 1) % 7).alias("b")),
        d.select((100 + k % 11).alias("a"), (100 + (k % 11 + 1) % 11).alias("b")),
        d.select((100 + k % 11).alias("a"), (100 + (k % 11 + 3) % 11).alias("b")),
        d.where(k % 13 < 12).select(
            (200 + k % 13).alias("a"), (200 + k % 13 + 1).alias("b")
        ),
    ]
    g = fams[0]
    for f_ in fams[1:]:
        g = g.unionByName(f_)
    e = (
        g.where(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v"))
        .distinct()
        .localCheckpoint(eager=True)  # feeds CC and the per-component counts
    )
    cc = connected_components(e, id_a="u", id_b="v")
    nodes = cc.groupBy("component").agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    edges = (
        e.join(cc.withColumnRenamed("node", "u"), "u")
        .groupBy("component")
        .agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    )
    cyc = F.col("n_edges") - F.col("n_nodes") + 1
    return nodes.join(edges, "component").select(
        "component", "n_nodes", "n_edges",
        cyc.alias("n_cycles"), (cyc == 0).alias("is_tree"),
    )


# ------------------------------------------------------------------ q660
def _q660_oracle() -> str:
    rounds = []
    for r in (1, 2):
        rounds.append(f"""
    t{r} AS (
        SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM e{r - 1} e1
        JOIN e{r - 1} e2 ON e2.u = e1.v
        JOIN e{r - 1} e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    s{r} AS (
        SELECT u, v, CAST(count(*) AS BIGINT) AS sup FROM (
            SELECT a AS u, b AS v FROM t{r}
            UNION ALL SELECT b, c FROM t{r}
            UNION ALL SELECT a, c FROM t{r}
        ) GROUP BY 1, 2
    ),
    e{r} AS (
        SELECT e.u, e.v FROM e{r - 1} e
        LEFT JOIN s{r} s ON s.u = e.u AND s.v = e.v
        WHERE coalesce(s.sup, 0) >= 1
    )""")
    body = ",".join(rounds)
    picks = "\n    UNION ALL ".join(
        f"""SELECT CAST({r} AS BIGINT) AS round,
           (SELECT CAST(count(*) AS BIGINT) FROM e{r}) AS n_edges,
           (SELECT CAST(count(*) AS BIGINT) FROM t{r}) AS n_triangles"""
        for r in (1, 2)
    )
    return f"""
    WITH e0 AS ({_Q658_GRAPH_SQL}),{body}
    {picks}
    """


@query("q660_ktruss_peel", _q660_oracle())
def q660(spark: SparkSession, sf: str) -> DataFrame:
    """3-truss peel curve on the planted block graph
    (operators/graph.k_truss): every edge must close ≥1 triangle to
    survive — the EDGE-density filter that severs zero-support bridges
    a k-core keeps (here the degree-2 midpoints already lack support,
    and every K5 edge closes 3 triangles, so the truss converges in
    one round — the curve shows it).  Per-round (surviving edges,
    triangles entering the round)."""
    from .operators.graph import k_truss

    d = load_table(spark, sf, "documents")
    k = F.col("doc_id")
    blk = F.expr("(doc_id div 5) % 20")
    i = k % 5
    fam1 = d.select(
        (blk * 5 + i).alias("id_a"), (blk * 5 + (i + 1) % 5).alias("id_b")
    )
    fam2 = d.select(
        (blk * 5 + i).alias("id_a"), (blk * 5 + (i + 2) % 5).alias("id_b")
    )
    br1 = d.select((blk * 5).alias("id_a"), (100 + blk).alias("id_b"))
    br2 = d.select(
        (100 + blk).alias("id_a"), (((blk + 1) % 20) * 5).alias("id_b")
    )
    pairs = fam1.unionByName(fam2).unionByName(br1).unionByName(br2)
    return k_truss(pairs, k=3, max_rounds=2)
