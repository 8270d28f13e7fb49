"""Graph kernels over edge-list DataFrames.

An edge list is any DataFrame with two endpoint columns; every kernel
takes their names.  Undirected kernels first canonicalize it with
:func:`_undirected` (each edge once as ``lo < hi``, self-loops dropped);
the label-propagation kernels walk :func:`_symmetric` (both directions).
Every round loop materializes its rounds through one helper,
:func:`.rounds.checkpoint`, and a round is one job: the eager
``localCheckpoint`` that truncates the round's lineage also computes,
as observed metrics, every scalar the loop reads from the round (a
convergence count, a per-round stat).  No round state is persisted.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .rounds import checkpoint


def _undirected(edges: DataFrame, a: str, b: str, lo: str = "lo", hi: str = "hi") -> DataFrame:
    """Each undirected edge once as (``lo`` < ``hi``): self-loops
    dropped, reversed and repeated copies merged by one distinct."""
    x, y = F.col(a), F.col(b)
    return (
        edges.select(F.least(x, y).alias(lo), F.greatest(x, y).alias(hi))
        .where(F.col(lo) != F.col(hi))
        .distinct()
    )


def _symmetric(pairs: DataFrame, a: str, b: str, group_cols: list[str]) -> DataFrame:
    """Both directions (src, dst) of every pair, distinct, self-loops
    kept (a lone self-pair still names its node), ``group_cols``
    carried through."""
    return (
        pairs.select(*group_cols, F.col(a).alias("src"), F.col(b).alias("dst"))
        .union(pairs.select(*group_cols, F.col(b).alias("src"), F.col(a).alias("dst")))
        .distinct()
    )


# connected_components resolves a graph of at most this many edges in one
# union-find task (the crossover is explained there)
CC_SMALL_EDGES = 500_000


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Duplicate-cluster resolution: connected components over the
    candidate-pair graph by iterative min-label propagation — the step
    that turns near-dup PAIRS into KEEP/DROP decisions when clusters
    chain (a~b, b~c ⇒ {a,b,c} even though a~c never collided).

    Each round is one neighborhood-min shuffle followed by a POINTER
    JUMP (component ← label of the node the label points at — a
    label's value is always a node id in the same component whose own
    label is ≤ it, so jumping preserves the min-reachable-id fixed
    point while squaring the propagation distance).  Rounds needed
    drop from O(diameter) to O(log diameter) — a 31-node path
    converges in 5 rounds, not 30 (q605's hub-percolation graphs).
    ``max_iter`` still bounds pathological cases.  Labels materialize
    per round, each node carrying its label from the start of the
    round, so the job that materializes a round also counts its
    changed labels — the convergence test needs no join and no job of
    its own (collect-free: only that count comes to the driver).
    Returns (node, component) with component = min node id
    reachable.

    ``group_cols`` runs INDEPENDENT component resolutions per group in
    the SAME loop (labels keyed by (groups…, node); every join carries
    the group key) — N disjoint graphs cost max-diameter rounds, not
    the sum (q605 runs its full and hub-pruned variants together).
    """
    g = list(group_cols or [])
    # edges feed every round — materialize ONCE or the whole upstream
    # pair pipeline (LSH, windows, …) re-executes every round
    edges, m = checkpoint(_symmetric(pairs, id_a, id_b, g), n_edges=F.count(F.lit(1)))
    # Small graphs (the measured ≤500k-edge regime where every round's
    # cost is job scheduling, not data) skip the propagation loop
    # entirely: a single Arrow task runs path-compressed union-find
    # with min-root union, which IS the min-reachable-id fixed point
    # the loop converges to — one job instead of rounds × (join + agg +
    # checkpoint).  Measured round 6: q350 dbscan
    # 8.5 s → 2.6 s, q605 percolation 7.9 s → 2.0 s at sf0.1.  Big
    # graphs keep the shuffle-join loop that scales to billions of
    # edges (the 100 TB path; 600k-node worst-case chain measured in
    # SCALE.md).  The crossover (CC_SMALL_EDGES, 500k = the local[32]
    # measurement) trades rounds x fixed job overhead against one
    # task holding the edge set in memory (~50 B/edge in the dict): a
    # cluster with slow job scheduling / ample executor memory gains
    # from a higher one, and a single-task edge pull straggles above it.
    small = m["n_edges"] <= CC_SMALL_EDGES
    if small:
        from pyspark.sql.types import StructField, StructType

        fields = {f.name: f for f in edges.schema.fields}
        out_schema = StructType(
            [fields[c] for c in g]
            + [
                StructField("node", fields["src"].dataType),
                StructField("component", fields["src"].dataType),
            ]
        )

        def _union_find(batches):
            # documented Python exception (tests/test_udf_allowlist.py):
            # an opaque sequential fixed-point over a measured-small
            # edge set — Catalyst expressions cannot express transitive
            # closure without the round loop this path replaces.
            import pandas as pd

            parent: dict = {}

            def find(x):
                root = x
                while parent[root] != root:
                    root = parent[root]
                while parent[x] != root:
                    parent[x], x = root, parent[x]
                return root

            for b in batches:
                cols = [b[c].tolist() for c in g] + [b["src"].tolist(), b["dst"].tolist()]
                for row in zip(*cols):
                    key = row[:-2]
                    a = (*key, row[-2])
                    d = (*key, row[-1])
                    if a not in parent:
                        parent[a] = a
                    if d not in parent:
                        parent[d] = d
                    ra, rd = find(a), find(d)
                    if ra == rd:
                        continue
                    lo, hi = (ra, rd) if ra <= rd else (rd, ra)
                    parent[hi] = lo
            out: dict = {c: [] for c in [*g, "node", "component"]}
            for key in parent:
                root = find(key)
                for i, c in enumerate(g):
                    out[c].append(key[i])
                out["node"].append(key[-1])
                out["component"].append(root[-1])
            yield pd.DataFrame(out, columns=[*g, "node", "component"])

        return edges.coalesce(1).mapInPandas(_union_find, schema=out_schema)

    labels = (
        edges.select(*g, F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    for _ in range(max_iter):
        # neighbor labels: for each node, the min label among neighbors
        nbr = (
            edges.join(labels.withColumnRenamed("node", "dst"), on=[*g, "dst"])
            .groupBy(*g, "src")
            .agg(F.min("component").alias("nbr_min"))
            .withColumnRenamed("src", "node")
        )
        new_labels = (
            labels.join(nbr, on=[*g, "node"], how="left")
            .select(
                *g,
                "node",
                F.least(F.col("component"), F.coalesce(F.col("nbr_min"), F.col("component"))).alias("component"),
                F.col("component").alias("__old__"),  # the round's starting label
            )
        )
        # small-star PUSH: the node each OLD label points at learns the
        # minimum of its children's NEW labels (one grouped min along
        # the label-pointer star). Neighbor-min alone can crawl one
        # node per round on pruned fragments — q605's hub-cut graph
        # took 18 rounds without this step, 5 with it (pushing STALE
        # child labels does not fix the tail; it must be the new ones).
        # Pushed values are labels of same-component nodes, so the
        # min-reachable fixed point is unchanged.
        push = (
            labels.select(*g, F.col("component").alias("__parent__"), "node")
            .join(
                new_labels.select(*g, "node", F.col("component").alias("__newc__")),
                on=[*g, "node"],
            )
            .groupBy(*g, "__parent__")
            .agg(F.min("__newc__").alias("__push__"))
            .select(*g, F.col("__parent__").alias("node"), "__push__")
        )
        new_labels = new_labels.join(push, on=[*g, "node"], how="left").select(
            *g,
            "node",
            F.least(F.col("component"), F.coalesce(F.col("__push__"), F.col("component"))).alias("component"),
            "__old__",
        )
        # pointer jump: component <- label of the node `component` names
        # (always <= component; same fixed point, exponentially faster).
        # ONE jump per round: a second jump would self-join the
        # UN-materialized new_labels plan — each extra jump level
        # doubles the recompute of everything above it (measured: a
        # 2-jump variant blew q605 from 8 s to a 10-minute timeout).
        jump = new_labels.select(
            *g, F.col("node").alias("component"), F.col("component").alias("__jump__")
        )
        new_labels = new_labels.join(jump, on=[*g, "component"], how="left").select(
            *g,
            "node",
            F.coalesce(F.col("__jump__"), F.col("component")).alias("component"),
            "__old__",
        )
        # truncate lineage per round; the round's own rows count its
        # changed labels (no join with the previous labels)
        labels, m = checkpoint(
            new_labels, changed=F.count_if(F.col("component") != F.col("__old__"))
        )
        labels = labels.drop("__old__")
        if m["changed"] == 0:
            break
    return labels


def label_propagation(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    n_iter: int = 5,
) -> DataFrame:
    """Synchronous label-propagation communities (Raghavan et al. 2007)
    over an undirected edge relation — the cheap community detector that
    complements :func:`connected_components` (which merges everything
    reachable) when near-dup graphs chain through weak bridges.

    Every node starts labeled with itself; each round every node takes
    the MOST FREQUENT label among its neighbors, ties broken by the
    smallest label — fully deterministic, no RNG.  Each round is one
    join + one (node, label) count agg + one argmax (min_by over the
    packed (−count, label) struct), all integer-exact.  ``n_iter`` is
    fixed rather than convergence-tested: synchronous LPA can oscillate
    on bipartite subgraphs, so a bounded round count IS the algorithm.
    Returns (node, label) after ``n_iter`` rounds.
    """
    # materialize the edge relation once — n_iter rounds otherwise re-run
    # the upstream pair pipeline per round — and truncate the label
    # lineage per round so plan size (and Catalyst time) stays constant
    edges, _ = checkpoint(_symmetric(pairs, id_a, id_b, []))
    labels = edges.select(F.col("src").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    for _ in range(n_iter):
        nbr = (
            edges.join(
                labels.select(F.col("node").alias("dst"), "label"), on="dst"
            )
            .groupBy("src", "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        labels, _ = checkpoint(
            nbr.groupBy("src")
            .agg(
                F.min_by(
                    "label",
                    F.struct((-F.col("cnt")).alias("neg"), F.col("label").alias("lb")),
                ).alias("label")
            )
            .select(F.col("src").alias("node"), "label")
        )
    return labels


def k_core(
    pairs: DataFrame,
    k: int,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_rounds: int = 3,
    return_edges: bool = False,
) -> DataFrame:
    """Bounded-round k-core peeling over an undirected pair graph: each
    round drops every node with degree < k, then every edge touching a
    dropped node, and repeats — the classic density filter that
    isolates the tightly inter-duplicated community inside a near-dup
    candidate graph (a hub chained to many loose matches survives
    connected-components but not a 3-core).

    Returns one row per round (round, n_nodes, n_edges) — the peel
    curve a pipeline owner reads to pick k — or, with
    ``return_edges=True``, the SURVIVING (u, v) edge relation after
    ``max_rounds`` (already materialized), for composition with
    downstream graph kernels (core-community resolution, q658).
    ``max_rounds`` bounds the rounds exactly like the other
    bounded-round kernels (q619/q621); peeling converges when a round
    removes nothing.

    Scale shape: each round is one degree aggregation plus two
    semi-joins, and one job materializes the surviving edge relation
    and counts it (:func:`.rounds.checkpoint`).  n_nodes is a distinct
    count, which an observed metric cannot compute, so each curve row
    is a lazy aggregate over its round's materialized edges: the curve
    runs at sink time."""
    e, _ = checkpoint(_undirected(pairs, id_a, id_b, "u", "v"))
    rows = []
    for r in range(1, max_rounds + 1):
        deg = (
            e.select(F.col("u").alias("node"))
            .unionByName(e.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("__d__"))
        )
        keep = deg.where(F.col("__d__") >= k).select("node")
        e, m = checkpoint(
            e.join(keep.withColumnRenamed("node", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("node", "v"), "v", "left_semi"),
            n_edges=F.count(F.lit(1)),
        )
        ends = e.select(F.col("u").alias("n")).unionByName(e.select(F.col("v").alias("n")))
        rows.append(
            ends.agg(F.count_distinct(F.col("n")).cast("long").alias("n_nodes")).select(
                F.lit(r).cast("long").alias("round"),
                "n_nodes",
                F.lit(m["n_edges"]).cast("long").alias("n_edges"),
            )
        )
    if return_edges:
        return e
    if not rows:  # max_rounds=0: the empty curve
        return pairs.sparkSession.createDataFrame(
            [], "round bigint, n_nodes bigint, n_edges bigint"
        )
    return reduce(DataFrame.unionByName, rows)


def k_truss(
    pairs: DataFrame,
    k: int,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_rounds: int = 2,
) -> DataFrame:
    """Bounded-round k-truss peeling: each round computes every edge's
    SUPPORT (the number of triangles it closes) and drops edges with
    support < k−2 — the EDGE-density sibling of :func:`k_core` (a
    bridge between two dense dup-communities survives a k-core but has
    zero triangle support, so the truss severs it; Cohen 2008, public
    method).  Returns the per-round curve (round, n_edges,
    n_triangles).

    Scale shape: triangles enumerate via the standard oriented
    two-path + closing-edge equi-join on (u<v)-directed edges (each
    triangle counted once); support is one union + hash agg.  One job
    per round materializes the edges with their support and counts the
    curve row (:func:`.rounds.checkpoint`): Σsupport = 3·n_triangles
    exactly (each triangle supports 3 edges), and n_edges counts the
    edges that keep support ≥ k−2.  The curve is a literal relation."""
    e, _ = checkpoint(_undirected(pairs, id_a, id_b, "u", "v"))
    rows = []
    for r in range(1, max_rounds + 1):
        ab = e.select(F.col("u").alias("a"), F.col("v").alias("b"))
        bc = e.select(F.col("u").alias("b"), F.col("v").alias("c"))
        ac = e.select(F.col("u").alias("a"), F.col("v").alias("c"))
        tri = ab.join(bc, "b").join(ac, ["a", "c"])
        sup = (
            tri.select(F.col("a").alias("u"), F.col("b").alias("v"))
            .unionByName(tri.select(F.col("b").alias("u"), F.col("c").alias("v")))
            .unionByName(tri.select(F.col("a").alias("u"), F.col("c").alias("v")))
            .groupBy("u", "v")
            .agg(F.count(F.lit(1)).alias("__sup__"))
        )
        kept = F.col("__sup__") >= k - 2
        scored, m = checkpoint(
            e.join(sup, ["u", "v"], "left").select(
                "u", "v", F.coalesce(F.col("__sup__"), F.lit(0)).alias("__sup__")
            ),
            sup=F.sum("__sup__"),
            n_edges=F.count_if(kept),
        )
        e = scored.where(kept).select("u", "v")
        rows.append((r, m["n_edges"], (m["sup"] or 0) // 3))
    return pairs.sparkSession.createDataFrame(
        rows, "round bigint, n_edges bigint, n_triangles bigint"
    )


def triangle_count(edges: DataFrame, src_col: str = "src", dst_col: str = "dst") -> DataFrame:
    """Global triangle count over an undirected edge list — the classic
    graph-cohesion metric (community density, spam-graph detection).

    Canonicalizes each edge to ``a < b`` (deduped, no self-loops), then
    counts paths a<b<c closed by (a,c): two equi-joins, never a cross
    join.  This is the standard distributed formulation — each triangle
    is counted exactly once because orientation fixes the traversal
    order (without it each appears 6×).  At scale the join keys are the
    vertex ids; a degree cap on the input edge list (cf.
    ``basket_pairs(max_basket=...)``) bounds the wedge explosion the
    same way it bounds pair generation.  Returns one row (n_edges,
    n_triangles).

    Building the plan starts no job.  The canonical edge relation feeds
    four consumers (the three join sides and n_edges); they share its
    distinct's exchange, so the input runs once per execution.
    """
    e = _undirected(edges, src_col, dst_col, "a", "b")
    bc = e.select(F.col("a").alias("b"), F.col("b").alias("c"))
    ac = e.select("a", F.col("b").alias("c"))
    tri = e.join(bc, "b").join(ac, ["a", "c"])
    return tri.agg(F.count(F.lit(1)).alias("n_triangles")).crossJoin(
        F.broadcast(e.agg(F.count(F.lit(1)).alias("n_edges")))
    ).select("n_edges", "n_triangles")


def degree_stats(edges: DataFrame, src_col: str = "src", dst_col: str = "dst") -> DataFrame:
    """Per-node undirected degree (deduped edges, both endpoints): the
    basic link-graph profile. One explode-shaped union + one count."""
    e = _undirected(edges, src_col, dst_col)
    nodes = e.select(F.col("lo").alias("node")).unionAll(e.select(F.col("hi").alias("node")))
    return nodes.groupBy("node").agg(F.count(F.lit(1)).cast("long").alias("degree"))


def clustering_coefficient(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_degree: int | None = None,
) -> DataFrame:
    """Per-node local clustering coefficient: cc(v) = 2·T(v) /
    (d(v)·(d(v)−1)) with T(v) the triangles through v.

    Triangles enumerate once each under the canonical a<b<c
    orientation (two equi-joins — triangle_count's shape, never a
    cross join), then explode to their three corners for per-node
    counts; the coefficient is one divide of exact integers.
    ``max_degree`` drops hub nodes from wedge generation before the
    self-join — the link_predict quadratic-wedge cap — marking their
    cc NULL instead of exploding d² candidate pairs at scale.  Returns
    (node, degree, n_triangles, clustering); degree-<2 nodes get
    clustering NULL.
    """
    e = _undirected(edges, src_col, dst_col, "a", "b")
    both = e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
        e.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    deg = both.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("degree"))
    work = e
    capped = None
    if max_degree is not None:
        hubs = deg.where(F.col("degree") > int(max_degree)).select(F.col("u").alias("__hub__"))
        capped = hubs
        work = (
            e.join(F.broadcast(hubs), e.a == F.col("__hub__"), "left_anti")
            .join(F.broadcast(hubs), e.b == F.col("__hub__"), "left_anti")
        )
    e1 = work.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = work.select(F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = work.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tri = e1.join(e2, on="y").join(e3, on=["x", "z"])
    tn = (
        tri.select(F.explode(F.array("x", "y", "z")).alias("u"))
        .groupBy("u")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    out = deg.join(tn, on="u", how="left").select(
        F.col("u").alias("node"), "degree",
        F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long").alias("n_triangles"),
    )
    cc = F.when(
        F.col("degree") >= 2,
        (F.lit(2) * F.col("n_triangles")) / (F.col("degree") * (F.col("degree") - F.lit(1))),
    )
    if capped is not None:
        out = out.join(
            F.broadcast(capped.withColumn("__capped__", F.lit(True))),
            out.node == F.col("__hub__"), "left",
        ).drop("__hub__")
        cc = F.when(F.col("__capped__").isNotNull(), F.lit(None).cast("double")).otherwise(cc)
        return out.select("node", "degree", "n_triangles", cc.alias("clustering"))
    return out.select("node", "degree", "n_triangles", cc.alias("clustering"))


def degree_assortativity(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Degree assortativity coefficient (Newman): the Pearson
    correlation of endpoint degrees over the undirected edge list —
    positive means hubs attach to hubs (social networks), negative
    means hubs attach to leaves (the internet, dedup star clusters).

    Edges canonicalize and each contributes BOTH orientations to the
    correlation (the standard undirected convention).  Degrees are
    exact integers, so all five correlation moments are exact BIGINTs
    and r is a fixed tree with one sqrt.  Two hash aggs + one edge
    join.  Returns (n_edges, n_nodes, assortativity).
    """
    e = _undirected(edges, src_col, dst_col, "a", "b")
    both = e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
        e.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    deg = both.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("d"))
    j = (
        both.join(deg.select(F.col("u"), F.col("d").alias("du")), on="u")
        .join(deg.select(F.col("u").alias("v"), F.col("d").alias("dv")), on="v")
    )
    g = j.agg(
        F.count(F.lit(1)).cast("long").alias("m2"),
        F.sum("du").cast("long").alias("sx"),
        F.sum("dv").cast("long").alias("sy"),
        F.sum(F.col("du") * F.col("du")).cast("long").alias("sxx"),
        F.sum(F.col("dv") * F.col("dv")).cast("long").alias("syy"),
        F.sum(F.col("du") * F.col("dv")).cast("long").alias("sxy"),
    ).crossJoin(F.broadcast(deg.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))))
    n = F.col("m2")
    cov = n * F.col("sxy") - F.col("sx") * F.col("sy")
    vx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = n * F.col("syy") - F.col("sy") * F.col("sy")
    return g.select(
        (n / 2).cast("long").alias("n_edges"), "n_nodes",
        F.when((vx > 0) & (vy > 0), cov / F.sqrt(vx.cast("double") * vy)).alias("assortativity"),
    )


def reciprocity(edges: DataFrame, src_col: str = "src", dst_col: str = "dst") -> DataFrame:
    """Directed-graph reciprocity: the fraction of distinct non-loop
    edges whose reverse edge also exists — one self-equi-join on the
    reversed key pair (never a cross join) and ONE divide of exact
    counts.  Returns one row (n_edges, n_mutual, reciprocity)."""
    e = edges.select(
        F.col(src_col).alias("s"), F.col(dst_col).alias("d")
    ).where(F.col("s") != F.col("d")).distinct()
    rev = e.select(F.col("d").alias("s"), F.col("s").alias("d"))
    mutual = e.join(rev, on=["s", "d"], how="left_semi")
    n_e = e.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    n_m = mutual.agg(F.count(F.lit(1)).cast("long").alias("n_mutual"))
    j = n_e.crossJoin(n_m)
    return j.select(
        "n_edges", "n_mutual",
        (F.col("n_mutual") / F.col("n_edges")).alias("reciprocity"),
    )


def link_predict(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    min_common: int = 1,
    max_degree: int | None = None,
) -> DataFrame:
    """Common-neighbor link prediction over an undirected graph: for
    every NON-edge pair (lo, hi) sharing at least ``min_common``
    neighbors, emit the common-neighbor count, both degrees, and the
    neighborhood Jaccard — the classic friend-of-friend / related-item
    candidate generator.

    Plan shape (100 TB): edges canonicalize to ``lo < hi`` distinct
    rows; wedges come from ONE self-equi-join of the node→neighbor
    adjacency on the shared neighbor (never a cross join); existing
    edges are removed with an anti-join; degrees join back per side
    from one reused aggregate.  A node of degree d emits C(d,2)
    wedges — quadratic in hub degree — so ``max_degree`` drops hub
    PIVOTS from wedge generation before the join (their incident pairs
    can still surface through other shared neighbors), the same skew
    cap as ``basket_pairs(max_basket=...)``.

    jaccard = cn / (deg_lo + deg_hi − cn) — exact int64 operands, one
    IEEE divide, so a SQL oracle replays it bit-for-bit.
    """
    e = _undirected(edges, src_col, dst_col)
    # node → neighbor adjacency (both directions)
    adj = e.select(F.col("lo").alias("node"), F.col("hi").alias("nbr")).unionAll(
        e.select(F.col("hi").alias("node"), F.col("lo").alias("nbr"))
    )
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).cast("long").alias("degree"))
    pivots = adj
    if max_degree is not None:
        w = Window.partitionBy("node")
        pivots = adj.withColumn("__d__", F.count(F.lit(1)).over(w)).where(
            F.col("__d__") <= max_degree
        ).drop("__d__")
    left = pivots.select(F.col("node").alias("via"), F.col("nbr").alias("lo"))
    right = pivots.select(F.col("node").alias("via"), F.col("nbr").alias("hi"))
    cand = (
        left.join(right, on="via")
        .where(F.col("lo") < F.col("hi"))
        .groupBy("lo", "hi")
        .agg(F.count(F.lit(1)).cast("long").alias("common_neighbors"))
        .where(F.col("common_neighbors") >= min_common)
    )
    cand = cand.join(e, on=["lo", "hi"], how="left_anti")  # non-edges only
    out = (
        cand.join(deg.select(F.col("node").alias("lo"), F.col("degree").alias("deg_lo")), on="lo")
        .join(deg.select(F.col("node").alias("hi"), F.col("degree").alias("deg_hi")), on="hi")
    )
    return out.select(
        "lo", "hi", "common_neighbors", "deg_lo", "deg_hi",
        (
            F.col("common_neighbors")
            / (F.col("deg_lo") + F.col("deg_hi") - F.col("common_neighbors"))
        ).alias("jaccard"),
    )


def graph_modularity(
    edges: DataFrame,
    labels: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
    community_col: str = "community",
) -> DataFrame:
    """Newman modularity of a node partition over an undirected graph —
    the standard "is this community structure real" score for the
    output of :func:`connected_components`
    or any clustering of the link graph.

        Q = Σ_c [ e_c/m − (d_c/2m)² ]  =  Σ_c (4·m·e_c − d_c²) / (4m²)

    Every term is an exact BIGINT (e_c intra-community edges, d_c
    community degree sum, m edge count ≤ 2^31 keeps d_c² < 2^63), so Q
    is ONE IEEE divide of exact integers — engine-identical.  Plan:
    two broadcast-joins of the (tiny) label relation onto the canonical
    edge list + two hash aggs; the edge relation shuffles once on the
    community key.

    Returns one row per community (e_c, d_c, contribution numerator)
    plus the scalar Q attached to every row for convenience.
    """
    e = _undirected(edges, src_col, dst_col)
    lab = labels.select(F.col(node_col).alias("__n__"), F.col(community_col).alias("__c__"))
    tagged = (
        e.join(F.broadcast(lab.withColumnRenamed("__n__", "lo").withColumnRenamed("__c__", "c_lo")), on="lo")
        .join(F.broadcast(lab.withColumnRenamed("__n__", "hi").withColumnRenamed("__c__", "c_hi")), on="hi")
    )
    m_rel = e.agg(F.count(F.lit(1)).cast("long").alias("m"))
    intra = (
        tagged.where(F.col("c_lo") == F.col("c_hi"))
        .groupBy(F.col("c_lo").alias("community"))
        .agg(F.count(F.lit(1)).cast("long").alias("e_c"))
    )
    deg = (
        e.select(F.col("lo").alias("__n__")).unionAll(e.select(F.col("hi").alias("__n__")))
        .join(F.broadcast(lab), on="__n__")
        .groupBy(F.col("__c__").alias("community"))
        .agg(F.count(F.lit(1)).cast("long").alias("d_c"))
    )
    per = deg.join(intra, on="community", how="left").select(
        "community",
        F.coalesce(F.col("e_c"), F.lit(0)).cast("long").alias("e_c"),
        "d_c",
    ).crossJoin(F.broadcast(m_rel))
    per = per.withColumn(
        "num", 4 * F.col("m") * F.col("e_c") - F.col("d_c") * F.col("d_c")
    )
    total = per.agg(
        F.sum("num").alias("qnum"), F.min("m").alias("__m__")
    ).select(
        (F.col("qnum") / (4 * F.col("__m__") * F.col("__m__"))).alias("modularity")
    )
    return per.select("community", "e_c", "d_c", F.col("num").cast("long").alias("num")).crossJoin(
        F.broadcast(total)
    )


def _rank_walk(
    edges: DataFrame, seed, n_iter: int, damping: float, src_col: str, dst_col: str
) -> DataFrame:
    """The PageRank round loop of :func:`pagerank` and
    :func:`personalized_pagerank`: r' = t + d·Σ_in r/outdeg from a start
    vector r₀.  Without a ``seed`` both are uniform, r₀ = 1/N and
    t = (1−d)/N, where N is a scalar subquery over the node relation:
    the plan carries it, so building starts no job.  With a ``seed``
    r₀ is its indicator vector and t = (1−d)·r₀.

    Each iteration is ONE join (ranks ⋈ out-degree-normalized edges,
    both keyed on src) + ONE aggregation on dst — the standard
    distributed shape; out-degrees are computed once and the edge
    relation is reused every round (cache it at scale)."""
    src, dst = F.col(src_col), F.col(dst_col)
    nodes = edges.select(src.alias("node")).union(edges.select(dst.alias("node"))).distinct()
    if seed is None:
        n = nodes.select(F.count(F.lit(1))).scalar()
        start, teleport = F.lit(1.0) / n, F.lit(1.0 - damping) / n
    else:
        start = F.when(F.col("node") == seed, F.lit(1.0)).otherwise(F.lit(0.0))
        teleport = F.lit(1.0 - damping) * start
    deg = edges.groupBy(src_col).agg(F.count(F.lit(1)).alias("__deg__"))
    e = edges.join(deg, on=src_col)
    ranks = nodes.select("node", start.alias("rank"))
    for _ in range(n_iter):
        contrib = (
            e.join(ranks.withColumnRenamed("node", src_col), on=src_col)
            .select(dst.alias("node"), (F.col("rank") / F.col("__deg__")).alias("__c__"))
            .groupBy("node")
            .agg(F.sum("__c__").alias("__in__"))
        )
        ranks = nodes.join(contrib, on="node", how="left").select(
            "node",
            (teleport + F.lit(damping) * F.coalesce(F.col("__in__"), F.lit(0.0))).alias("rank"),
        )
    return ranks


def pagerank(
    edges: DataFrame,
    n_iter: int = 10,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """PageRank over an edge list (the domain-authority quality prior a
    web-corpus curation pipeline attaches to crawled documents). Nodes =
    distinct endpoints; dangling nodes keep the teleport term only.
    Rank mass: r' = (1−d)/N + d·Σ_in r/outdeg, from 1/N (plan shape in
    :func:`_rank_walk`)."""
    return _rank_walk(edges, None, n_iter, damping, src_col, dst_col)


def personalized_pagerank(
    edges: DataFrame,
    seed,
    n_iter: int = 2,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Personalized PageRank: the :func:`pagerank` round loop, but ALL
    teleport mass returns to the ``seed`` node — r' = (1−d)·1[node=seed]
    + d·Σ_in r/outdeg, started from the indicator vector.  The resulting
    scores rank nodes by proximity to the seed: the item-to-item /
    account-neighborhood recommendation primitive at graph scale.
    Bounded ``n_iter`` rounds ARE the algorithm (the k-hop
    neighborhood), same as bellman_ford/pagerank."""
    return _rank_walk(edges, seed, n_iter, damping, src_col, dst_col)


def hits(
    edges: DataFrame,
    n_iter: int = 2,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """HITS link analysis (Kleinberg, public method): alternating hub /
    authority scores over a directed edge list, L1-normalized after each
    half-step (L1 keeps the normalizer a plain sum — no sqrt — so an SQL
    oracle can replay every iteration term-for-term).

    Scale shape mirrors pagerank: per half-step ONE equi-join of the
    edge relation with the current score vector + ONE aggregation on the
    opposite endpoint; the normalizer is a 1-row aggregate broadcast
    back.  Nodes with no in-links (resp. out-links) hold authority
    (resp. hub) 0.  Returns (node, hub, authority)."""
    src, dst = F.col(src_col), F.col(dst_col)
    # materialize the edge and node relations once, and each round's
    # (node, hub, authority) scores in one job — without this the final
    # plan nests every previous half-step (hub's tree contains auth's,
    # which contains the previous hub's, …), so Catalyst re-optimizes an
    # exponentially growing tree and the duplicated subtrees re-execute
    # wherever exchange reuse misses.
    edges, _ = checkpoint(edges)
    nodes, _ = checkpoint(
        edges.select(src.alias("node")).union(edges.select(dst.alias("node"))).distinct()
    )
    scores = nodes.withColumn("hub", F.lit(1.0))
    for _ in range(n_iter):
        a_raw = (
            edges.join(scores.select(F.col("node").alias(src_col), "hub"), on=src_col)
            .groupBy(dst.alias("node"))
            .agg(F.sum("hub").alias("__a__"))
        )
        a_tot = a_raw.agg(F.sum("__a__").alias("__t__"))
        auth = (
            nodes.join(a_raw, on="node", how="left")
            .crossJoin(F.broadcast(a_tot))
            .select("node", (F.coalesce(F.col("__a__"), F.lit(0.0)) / F.col("__t__")).alias("authority"))
        )
        h_raw = (
            edges.join(auth.withColumnRenamed("node", dst_col), on=dst_col)
            .groupBy(src.alias("node"))
            .agg(F.sum("authority").alias("__h__"))
        )
        h_tot = h_raw.agg(F.sum("__h__").alias("__t__"))
        scores, _ = checkpoint(
            nodes.join(h_raw, on="node", how="left")
            .crossJoin(F.broadcast(h_tot))
            .select("node", (F.coalesce(F.col("__h__"), F.lit(0.0)) / F.col("__t__")).alias("hub"))
            .join(auth, on="node")
        )
    return scores


def bellman_ford(
    edges: DataFrame,
    sources: DataFrame,
    n_rounds: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "w",
    node_col: str = "node",
) -> DataFrame:
    """Bounded-round single-source(-set) shortest paths by Bellman-Ford
    relaxation: after ``n_rounds`` rounds every distance using ≤
    n_rounds hops is exact (the full algorithm runs V−1 rounds; bounded
    rounds ARE the scale contract, like :func:`label_propagation`).

    Each round is one equi-join (edges ⋈ current distances on the
    source endpoint) + one min-aggregation — integer weights make every
    distance an exact BIGINT.  Seeds come from ``sources`` (node ids at
    distance 0).  Returns (node, dist, settled_hops≤n_rounds) for every
    reached node.
    """
    dist = sources.select(F.col(node_col).alias("n")).distinct().withColumn(
        "d", F.lit(0).cast("long")
    )
    e = edges.select(
        F.col(src_col).alias("es"), F.col(dst_col).alias("ed"),
        F.col(weight_col).cast("long").alias("w"),
    )
    for _ in range(n_rounds):
        relaxed = (
            e.join(dist.select(F.col("n").alias("es"), "d"), on="es")
            .select(F.col("ed").alias("n"), (F.col("d") + F.col("w")).alias("d"))
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("n")
            .agg(F.min("d").alias("d"))
        )
    return dist.select(F.col("n").alias(node_col), F.col("d").alias("dist"))


def _path_doubling(r: DataFrame, a: str, b: str, max_rounds: int) -> DataFrame:
    """Transitive closure of the distinct pair relation ``r`` (a → b) by
    path doubling: R ← R ∪ (R ∘ R) squares the reachable path length
    every round.  Stops after ``max_rounds``, or earlier when a round
    adds no pair (R ∘ R ⊆ R: closed).

    Each round is one self-equi-join on the meet node plus a distinct,
    checkpointed; the checkpoint job also counts the round (an observed
    metric), and the previous round's count is carried, not recomputed
    (round 1 has none to compare with, so it never ends the loop).
    localCheckpoint, not persist: persist keeps the full logical
    lineage, so every doubling round re-optimizes an exponentially
    growing plan (plan time dominated the 60-node q569 at 25 s; ~3 s
    after truncation). On a cluster use a reliable checkpoint dir
    instead."""
    n = None
    for _ in range(max_rounds):
        step = (
            r.alias("l")
            .join(r.alias("r"), F.col(f"l.{b}") == F.col(f"r.{a}"))
            .select(F.col(f"l.{a}").alias(a), F.col(f"r.{b}").alias(b))
        )
        n_prev = n
        r, m = checkpoint(r.unionByName(step).distinct(), n=F.count(F.lit(1)))
        n = m["n"]
        if n == n_prev:
            break
    return r


def tree_closure(
    edges: DataFrame,
    node_col: str = "node",
    parent_col: str = "parent",
    max_rounds: int = 6,
) -> DataFrame:
    """All (node, ancestor) pairs of a forest, INCLUDING (node, node),
    by path doubling: R ← R ∪ (R ∘ R) squares the reachable path length
    every round, so ``max_rounds`` of 6 covers depth 2⁶ = 64 with six
    self-joins — the log-depth alternative to one-step-per-level
    iteration (and to a recursive CTE, which Spark lacks).

    Each round is one equi-join of the pair relation with itself keyed
    on the meet node plus a distinct; the relation size is
    O(nodes · depth) — at 100 TB of fact rows the DIMENSION tree this
    runs on is small, and the closure is what makes hierarchy rollups a
    plain broadcast join downstream.
    """
    base = edges.select(
        F.col(node_col).alias("node"), F.col(parent_col).alias("anc")
    ).where(F.col("anc").isNotNull())
    self_pairs = (
        edges.select(F.col(node_col).alias("node"))
        .unionAll(edges.select(F.col(parent_col).alias("node")))
        .where(F.col("node").isNotNull())
        .distinct()
        .withColumn("anc", F.col("node"))
    )
    return _path_doubling(base.unionAll(self_pairs).distinct(), "node", "anc", max_rounds)


def tree_rollup(
    values: DataFrame,
    edges: DataFrame,
    node_col: str,
    value_col: str,
    edge_node_col: str = "node",
    parent_col: str = "parent",
    max_rounds: int = 6,
) -> DataFrame:
    """Hierarchy aggregation: for every node of a forest, the SUM of
    ``value_col`` over its entire subtree (descendants + itself) —
    org-chart totals, category-tree revenue, BOM cost rollups.

    Plan: :func:`tree_closure` (log-depth path doubling over the small
    dimension tree) then ONE join of the fact values onto the closure
    and a hash agg by ancestor.  Emits (node, subtree_sum,
    subtree_count).
    """
    cl = tree_closure(edges, edge_node_col, parent_col, max_rounds=max_rounds)
    v = values.select(
        F.col(node_col).alias("node"), F.col(value_col).cast("long").alias("__v__")
    )
    joined = cl.join(v, on="node")
    return joined.groupBy(F.col("anc").alias("node")).agg(
        F.sum("__v__").cast("long").alias("subtree_sum"),
        F.count(F.lit(1)).cast("long").alias("subtree_count"),
    )


def scc_components(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_doubling: int = 6,
) -> DataFrame:
    """Strongly connected components of a directed graph via transitive
    closure: path-doubling (R ← R ∪ R∘R, each round DOUBLES the
    reachable path length, so ``max_doubling`` rounds cover paths up to
    2^rounds) then mutual reachability u→*v ∧ v→*u; each node's
    component is the smallest mutually-reachable node id (itself
    included, so acyclic nodes form singletons).

    Every round is an equi-join + distinct — exact set algebra, no
    scores.  This is the small/medium-graph exact path (closure is
    O(n²) pairs); web-scale SCC swaps in iterative forward-backward
    label propagation, but the component CONTRACT (min mutual id) is
    identical.  Returns (node, component).
    """
    e = edges.select(F.col(src_col).alias("s"), F.col(dst_col).alias("d")).distinct()
    r = _path_doubling(e, "s", "d", max_doubling)
    rev = r.select(F.col("d").alias("s"), F.col("s").alias("d"))
    mutual = r.intersect(rev)
    nodes = e.select(F.col("s").alias("node")).union(e.select(F.col("d").alias("node"))).distinct()
    pairs = mutual.select(F.col("s").alias("node"), F.col("d").alias("peer")).unionByName(
        nodes.select("node", F.col("node").alias("peer"))
    )
    return pairs.groupBy("node").agg(F.min("peer").alias("component"))
