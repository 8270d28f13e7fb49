"""Association mining: market-basket pair co-occurrence with
support / confidence / lift.

The candidate-pair shape mirrors the dedup LSH joins (dedup.py): an
equi-join keyed on the basket id, never a cross join, with an explicit
skew cap on degenerate mega-baskets (a basket of B items contributes
C(B,2) pairs — quadratic, the same pathology as a ubiquitous shingle).
All counts are exact integers; lift composes from int64→double
conversions and one divide, so a SQL oracle replays it bit-for-bit.
"""

from __future__ import annotations

from .apply import grouped_apply
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def basket_pairs(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_count: int = 2,
    max_basket: int | None = None,
) -> DataFrame:
    """Item-pair co-occurrence across baskets with support, confidence
    (both directions' inputs) and lift.

    Plan: distinct (basket, item) → optional basket-size cap →
    self-equi-join on basket with ``item_a < item_b`` → pair counts ≥
    ``min_count`` → join per-item basket counts back on each side.  Two
    shuffles total beyond the pair join (item-count aggregation is
    reused for both sides).  ``max_basket`` drops baskets above the cap
    BEFORE the join — at 100 TB one boilerplate mega-basket otherwise
    emits billions of pairs.

    lift = (n_ab · n_baskets) / (n_a · n_b); > 1 ⇒ positive association.
    The products stay in int64 (counts are bounded by basket count) and
    the single division is IEEE-exact.
    """
    bi = df.select(F.col(basket_col).alias("b"), F.col(item_col).alias("i")).distinct()
    if max_basket is not None:
        w = Window.partitionBy("b")
        bi = bi.withColumn("__bs__", F.count(F.lit(1)).over(w)).where(
            F.col("__bs__") <= max_basket
        ).drop("__bs__")
    n_baskets = bi.agg(F.countDistinct("b").alias("n_baskets"))  # 1-row, broadcast below
    item_counts = bi.groupBy("i").agg(F.count(F.lit(1)).alias("cnt"))
    left = bi.select("b", F.col("i").alias("item_a"))
    right = bi.select("b", F.col("i").alias("item_b"))
    pair_counts = (
        left.join(right, on="b")
        .where(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= min_count)
    )
    out = (
        pair_counts.join(item_counts.select(F.col("i").alias("item_a"), F.col("cnt").alias("n_a")), on="item_a")
        .join(item_counts.select(F.col("i").alias("item_b"), F.col("cnt").alias("n_b")), on="item_b")
        .crossJoin(F.broadcast(n_baskets))
    )
    return out.select(
        "item_a",
        "item_b",
        "n_ab",
        "n_a",
        "n_b",
        "n_baskets",
        ((F.col("n_ab") * F.col("n_baskets")) / (F.col("n_a") * F.col("n_b"))).alias("lift"),
    )


def topk_churn(
    df: DataFrame,
    period: Column,
    key_col: str,
    value: Column,
    k: int = 10,
) -> DataFrame:
    """Drift between consecutive periods' top-k lists (leaderboard
    churn): per period, rank keys by an exact integer total (key as
    tiebreak → deterministic sets), keep the top k, then compare each
    period against its predecessor: retained / entered / dropped counts
    and the Jaccard overlap.

    ``period`` must be an integer column where consecutive periods
    differ by exactly 1 (e.g. months since epoch).  Shape: one hash agg
    on (period, key), one per-period top-k window, one (period, key)
    self-join of two k-row-per-period relations — all tiny after the
    first reduce.
    """
    totals = (
        df.groupBy(period.alias("period"), F.col(key_col).alias("key"))
        .agg(F.sum(value).alias("total"))
    )
    w = Window.partitionBy("period").orderBy(F.col("total").desc(), F.col("key"))
    tops = totals.withColumn("__r__", F.row_number().over(w)).where(F.col("__r__") <= k)
    cur = tops.select("period", "key")
    prev = tops.select((F.col("period") + 1).alias("period"), F.col("key").alias("key_prev"))
    j = cur.withColumn("__c__", F.lit(1)).join(
        prev.withColumn("__p__", F.lit(1)),
        on=(cur["period"] == prev["period"]) & (cur["key"] == prev["key_prev"]),
        how="full_outer",
    )
    merged = j.select(
        F.coalesce(cur["period"], prev["period"]).alias("period"),
        F.col("__c__"), F.col("__p__"),
    )
    stats = merged.groupBy("period").agg(
        F.sum(F.when(F.col("__c__").isNotNull() & F.col("__p__").isNotNull(), 1).otherwise(0)).cast("bigint").alias("retained"),
        F.sum(F.when(F.col("__c__").isNotNull() & F.col("__p__").isNull(), 1).otherwise(0)).cast("bigint").alias("entered"),
        F.sum(F.when(F.col("__c__").isNull() & F.col("__p__").isNotNull(), 1).otherwise(0)).cast("bigint").alias("dropped"),
    )
    # report only periods that have BOTH a current and a previous top-k
    have_cur = cur.select("period").distinct()
    have_prev = prev.select("period").distinct()
    out = stats.join(have_cur, on="period").join(have_prev, on="period")
    union_n = F.col("retained") + F.col("entered") + F.col("dropped")
    return out.select(
        "period", "retained", "entered", "dropped",
        F.when(union_n > 0, F.col("retained") / union_n).alias("jaccard"),
    )


def pareto_frontier(
    df: DataFrame,
    group: str,
    minimize: str,
    maximize: str,
    min_scale: int = 100,
    max_scale: int = 1,
) -> DataFrame:
    """Per-group Pareto frontier over (minimize ↓, maximize ↑): a row
    survives iff nothing in its group is weakly better on both axes and
    strictly better on one — skyline queries, price/performance
    curation, model-selection fronts.

    LINEAR formulation (the naive NOT EXISTS is O(n²)): a row is
    dominated iff the running MAX of ``maximize`` over STRICTLY-cheaper
    rows reaches its value (a value-based range frame ending at −1
    handles strictness exactly on integer keys), or a same-cost row
    beats its ``maximize``.  Exact integers throughout; equal (cost,
    value) duplicates all survive (no strict dominance), matching the
    set semantics a SQL NOT EXISTS oracle replays.
    """
    lo = F.round(F.col(minimize) * min_scale).cast("bigint")
    hi = F.round(F.col(maximize) * max_scale).cast("bigint")
    base = df.withColumn("__lo__", lo).withColumn("__hi__", hi)
    w_strict = (
        Window.partitionBy(group).orderBy("__lo__").rangeBetween(Window.unboundedPreceding, -1)
    )
    w_price = Window.partitionBy(group, "__lo__")
    m_strict = F.max("__hi__").over(w_strict)
    m_same = F.max("__hi__").over(w_price)
    keep = (m_strict.isNull() | (m_strict < F.col("__hi__"))) & (F.col("__hi__") == m_same)
    return base.withColumn("__keep__", keep).where(F.col("__keep__")).drop(
        "__lo__", "__hi__", "__keep__"
    )


def item_similarity(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_count: int = 2,
    max_basket: int | None = None,
    topk: int | None = None,
) -> DataFrame:
    """Item-item cosine similarity from basket co-occurrence — the
    classic "related items" recommender relation.

    Composes :func:`basket_pairs` (equi-join candidate generation with
    the mega-basket skew cap) and adds ``cosine = n_ab / sqrt(n_a·n_b)``
    on the binary incidence vectors.  With ``topk`` set, keeps each
    item's k best neighbors (both orientations are ranked, so every
    item gets a neighbor list) via one per-item window over the pair
    relation — pairs are already reduced, so the window input is tiny
    next to the basket fact table.

    The cosine is one int64 multiply, one correctly-rounded sqrt and
    one divide on identical operands — bit-identical cross-engine, no
    rounding needed in oracles.
    """
    pairs = basket_pairs(df, basket_col, item_col, min_count=min_count, max_basket=max_basket)
    pairs = pairs.withColumn(
        "cosine",
        F.col("n_ab") / F.sqrt((F.col("n_a") * F.col("n_b")).cast("double")),
    )
    if topk is None:
        return pairs
    both = pairs.select(
        F.col("item_a").alias("item"), F.col("item_b").alias("neighbor"),
        "n_ab", "cosine",
    ).unionAll(
        pairs.select(
            F.col("item_b").alias("item"), F.col("item_a").alias("neighbor"),
            "n_ab", "cosine",
        )
    )
    w = Window.partitionBy("item").orderBy(
        F.col("cosine").desc(), F.col("n_ab").desc(), F.col("neighbor")
    )
    return both.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= topk)


def shapley_attribution(
    df: DataFrame,
    user_col: str,
    channel_col: str,
    converted_col: str,
    channels: list[str],
) -> DataFrame:
    """Shapley-value conversion attribution over marketing channels —
    the game-theoretic split that last-touch/U-shaped heuristics
    approximate.  Coalition value v(S) = conversions of users whose
    ENTIRE touched-channel set lies within S ("S alone could have
    served them"); each channel's credit is its exact Shapley value.

    Scale shape: ONE hash agg collapses the fact table to per-user
    (bitmask, converted), a second to per-(mask) conversion counts —
    from there everything is algebra over ≤2^k rows (k = |channels|,
    bounded at 6: the subset lattice is exponential BY DEFINITION, so
    the cap is the honest contract).  v(S) comes from a bitwise
    subset join of the tiny mask relation with the 2^k coalition
    relation; Shapley weights |S|!(k−1−|S|)!/k! are shipped scaled by
    k! so every credit is an exact integer ``shapley_scaled`` with
    denominator k!·1 — one divide at the end.  Σ over channels of the
    Shapley values = v(full set) (efficiency axiom — tested).
    """
    import math

    k = len(channels)
    if k < 1 or k > 6:
        raise ValueError("channels must have 1..6 entries")
    kfact = math.factorial(k)
    bit = F.lit(0)
    for i, ch in enumerate(channels):
        bit = F.when(F.col(channel_col) == ch, F.lit(1 << i)).otherwise(bit)
    per_user = (
        df.where(F.col(channel_col).isin(channels))
        .groupBy(user_col)
        .agg(
            F.bit_or(bit).alias("mask"),
            F.max(F.col(converted_col).cast("long")).alias("conv"),
        )
    )
    mask_counts = per_user.groupBy("mask").agg(
        F.sum("conv").cast("long").alias("conversions")
    )
    spark = df.sparkSession
    coalitions = spark.createDataFrame(
        [(s,) for s in range(1 << k)], "s long"
    )
    # v(S) = Σ conversions over masks ⊆ S  (bitwise subset join; both
    # relations are ≤ 2^k rows)
    v = (
        coalitions.join(
            F.broadcast(mask_counts),
            (F.col("mask").bitwiseAND(F.col("s")) == F.col("mask")),
            "left",
        )
        .groupBy("s")
        .agg(F.coalesce(F.sum("conversions"), F.lit(0)).cast("long").alias("v"))
    )
    # Shapley_i·k! = Σ_{S ∌ i} |S|!(k−1−|S|)! (v(S∪i) − v(S))
    rows = []
    for i, ch in enumerate(channels):
        for s in range(1 << k):
            if s & (1 << i):
                continue
            wgt = math.factorial(bin(s).count("1")) * math.factorial(k - 1 - bin(s).count("1"))
            rows.append((ch, s, s | (1 << i), wgt))
    terms = spark.createDataFrame(rows, "channel string, s long, s_with long, wgt long")
    joined = (
        terms.join(F.broadcast(v.withColumnRenamed("v", "v_s")), on="s")
        .join(
            F.broadcast(
                v.select(F.col("s").alias("s_with"), F.col("v").alias("v_with"))
            ),
            on="s_with",
        )
    )
    out = joined.groupBy("channel").agg(
        F.sum(F.col("wgt") * (F.col("v_with") - F.col("v_s"))).cast("long").alias("shapley_scaled")
    )
    return out.select(
        "channel", "shapley_scaled",
        (F.col("shapley_scaled") / F.lit(kfact)).alias("shapley"),
    )


def _user_item_ratings(
    ratings: DataFrame,
    user_col: str,
    item_col: str,
    rating_col: str,
    max_items_per_user: int | None,
) -> DataFrame:
    """The (u, i, r) relation both Slope One stages read: distinct
    (user, item) with the max rating, optionally capped per user."""
    ur = ratings.groupBy(
        F.col(user_col).alias("u"), F.col(item_col).alias("i")
    ).agg(F.max(F.col(rating_col).cast("long")).alias("r"))
    if max_items_per_user is not None:
        w = Window.partitionBy("u")
        ur = ur.withColumn("__nu__", F.count(F.lit(1)).over(w)).where(
            F.col("__nu__") <= max_items_per_user
        ).drop("__nu__")
    return ur


def slope_one_deviations(
    ratings: DataFrame,
    user_col: str = "user_id",
    item_col: str = "item",
    rating_col: str = "rating",
    max_items_per_user: int | None = None,
    ur: DataFrame | None = None,
) -> DataFrame:
    """Slope One deviation relation (Lemire & Maclachlan 2005): for every
    ordered item pair (i, j), s_ij = Σ_u (r_ui − r_uj) and n_ij = the
    co-rater count — the entire "model" of the Slope One recommender,
    as a plain mergeable relation of exact BIGINTs.

    Plan: distinct (user, item, rating) → optional per-user item cap
    (the basket_pairs mega-user guard: one bot account otherwise emits
    |items|² pairs) → self-equi-join on user → ONE (i, j) hash agg.
    Both directions are emitted (dev(j,i) = −dev(i,j)) so prediction is
    a single equi-join with no sign bookkeeping.

    ``ur`` lets a caller that already built (u, i, r) (slope_one_predict
    materializes it once for all four consumers) pass it in instead of
    re-deriving it from ``ratings``.
    """
    if ur is None:
        ur = _user_item_ratings(ratings, user_col, item_col, rating_col, max_items_per_user)
    a = ur.select("u", F.col("i").alias("item_i"), F.col("r").alias("r_i"))
    b = ur.select("u", F.col("i").alias("item_j"), F.col("r").alias("r_j"))
    return (
        a.join(b, on="u")
        .where(F.col("item_i") != F.col("item_j"))
        .groupBy("item_i", "item_j")
        .agg(
            F.sum(F.col("r_i") - F.col("r_j")).cast("long").alias("s_ij"),
            F.count(F.lit(1)).cast("long").alias("n_ij"),
        )
    )


def slope_one_predict(
    ratings: DataFrame,
    user_col: str = "user_id",
    item_col: str = "item",
    rating_col: str = "rating",
    max_items_per_user: int | None = None,
) -> DataFrame:
    """Weighted Slope One predictions for every (user, item) the user
    rated, from that user's OTHER ratings:

        P(u,i) = Σ_j (s_ij + r_uj·n_ij) / Σ_j n_ij

    — the weighted form collapses to ONE ratio of exact BIGINT sums
    (the per-pair deviation s_ij/n_ij never materializes as a float),
    so the prediction is a single engine-exact divide.  Returns
    (user, item, rating, pred_num, pred_den, pred).

    Plan: the deviation relation (item²-bounded, usually ≪ ratings)
    joins the user's rating list on (i, j) — one equi-join keyed by
    item pair + one (user, item) hash agg.  The (u, i, r) base is built
    ONCE and eagerly localCheckpointed: it feeds FOUR consumers (the
    deviation self-join's two sides, targets, others), and without the
    materialization each consumer re-runs the full ratings scan +
    aggregation (measured r7: four parquet scans in q406's plan →
    one).  NOTE the max_items_per_user asymmetry below is pre-existing
    and kept: the cap applies to the DEVIATION model only (a capped
    user still receives predictions from the uncapped join, exactly as
    before — r7 only de-duplicates the uncapped base computation).
    """
    base = _user_item_ratings(ratings, user_col, item_col, rating_col, None)
    base = base.localCheckpoint(eager=True)
    if max_items_per_user is not None:
        w = Window.partitionBy("u")
        capped = base.withColumn("__nu__", F.count(F.lit(1)).over(w)).where(
            F.col("__nu__") <= max_items_per_user
        ).drop("__nu__")
    else:
        capped = base
    devs = slope_one_deviations(
        ratings, user_col, item_col, rating_col, max_items_per_user, ur=capped
    )
    ur = base
    others = ur.select("u", F.col("i").alias("item_j"), F.col("r").alias("r_j"))
    targets = ur.select("u", F.col("i").alias("item_i"), F.col("r").alias("rating"))
    j = targets.join(others, on="u").where(F.col("item_i") != F.col("item_j")).join(
        devs, on=["item_i", "item_j"]
    )
    out = j.groupBy("u", "item_i", "rating").agg(
        F.sum(F.col("s_ij") + F.col("r_j") * F.col("n_ij")).cast("long").alias("pred_num"),
        F.sum("n_ij").cast("long").alias("pred_den"),
    )
    return out.select(
        F.col("u").alias(user_col),
        F.col("item_i").alias(item_col),
        "rating", "pred_num", "pred_den",
        F.when(F.col("pred_den") > 0, F.col("pred_num") / F.col("pred_den")).alias("pred"),
    )


def intra_list_diversity(
    recs: DataFrame,
    vectors: DataFrame,
    k: int,
    query_col: str = "query_id",
    item_col: str = "vec_id",
    rank_col: str = "rank",
    vec_col: str = "embedding",
    catalog_size: int | None = None,
) -> DataFrame:
    """Recommendation-quality eval: intra-list diversity (mean pairwise
    cosine DISSIMILARITY among each query's top-k) and catalog coverage
    (share of the catalog that appears in any list) — the two standard
    beyond-accuracy recommender metrics.

    Exactness: each pair's dissimilarity is a fixed-tree float (linear
    dot-product fold, q114 discipline); the C(k,2) pair terms pivot
    into FIXED (rank_a, rank_b) columns and sum in literal order — the
    bm25_search discipline — so the per-query mean is engine-identical.
    The pair join is rank-bounded per query (k² rows per query, never
    corpus-sized); coverage is one distinct-count broadcast back.
    Returns (query, n_pairs, ild, coverage).
    """
    # cast to double BEFORE the fold: a float32 element squared in
    # float32 loses bits vs DuckDB's double-cast arrays (q114 discipline)
    dvec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    rv = recs.where(F.col(rank_col) <= k).join(
        vectors.select(F.col(item_col), dvec.alias(vec_col)), on=item_col
    ).select(
        F.col(query_col).alias("q"), F.col(rank_col).alias("rk"),
        F.col(item_col).alias("it"), F.col(vec_col).alias("v"),
    )
    a = rv.select("q", F.col("rk").alias("ra"), F.col("v").alias("va"))
    b = rv.select("q", F.col("rk").alias("rb"), F.col("v").alias("vb"))
    from .similarity import cosine

    pairs = a.join(b, on="q").where(F.col("ra") < F.col("rb")).select(
        "q", "ra", "rb", (F.lit(1.0) - cosine(F.col("va"), F.col("vb"))).alias("d")
    )
    cells = [
        F.min(F.when((F.col("ra") == i) & (F.col("rb") == j), F.col("d"))).alias(f"__d_{i}_{j}__")
        for i in range(1, k + 1) for j in range(i + 1, k + 1)
    ]
    g = pairs.groupBy("q").agg(F.count(F.lit(1)).cast("long").alias("n_pairs"), *cells)
    total = None
    for i in range(1, k + 1):
        for j in range(i + 1, k + 1):
            c = F.coalesce(F.col(f"__d_{i}_{j}__"), F.lit(0.0))
            total = c if total is None else total + c
    ncat = (
        F.lit(int(catalog_size))
        if catalog_size is not None
        else F.broadcast(vectors.agg(F.countDistinct(item_col).alias("__ncat__")))
    )
    cov = recs.where(F.col(rank_col) <= k).agg(
        F.countDistinct(item_col).cast("long").alias("__nrec__")
    )
    out = g.select("q", "n_pairs", (total / F.col("n_pairs")).alias("ild"))
    out = out.crossJoin(F.broadcast(cov))
    if catalog_size is not None:
        return out.select("q", "n_pairs", "ild", (F.col("__nrec__") / ncat).alias("coverage"))
    return out.crossJoin(ncat).select(
        "q", "n_pairs", "ild", (F.col("__nrec__") / F.col("__ncat__")).alias("coverage")
    )


def elo_ratings(
    matches: DataFrame,
    group_col: str,
    order: list[str],
    player_a_col: str = "player_a",
    player_b_col: str = "player_b",
    score_a_col: str = "score_a",
    k: float = 32.0,
    base: float = 1500.0,
    scale: float = 400.0,
    expectation: str = "logistic",
) -> DataFrame:
    """Elo ratings per league — the classic sequential skill model.  The
    update is inherently path-dependent (each game's expectation uses
    the CURRENT ratings), so this is an ordered Arrow scan per league
    (the fifo_pnl shape): leagues partition the work, games within a
    league replay in order.  e_b is computed as 1 − e_a so each game's
    update is exactly zero-sum in floating point — Σ(rating − base) per
    league is identically 0 (tested).  Returns
    (group, player, rating, n_games, n_wins).

    ``expectation`` picks the win-probability curve: ``"logistic"`` is
    the classic 1/(1+10^(Δ/scale)) (transcendental — pow is not
    cross-engine bit-reproducible, so correctness there is pinned by
    hand cases + the zero-sum invariant); ``"linear"`` is the clamped
    piecewise-linear table approximation 0.5 + Δ/(2·scale), every step
    a correctly-rounded IEEE op, which makes the whole scan
    hash-checkable against a recursive-SQL replay (q410's oracle).
    """
    import pandas as pd

    linear = expectation == "linear"
    out_schema = (
        f"{group_col} long, player long, rating double, n_games long, n_wins long"
    )

    def scan(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order, kind="mergesort")
        ratings: dict = {}
        games: dict = {}
        wins: dict = {}
        for pa, pb, sa in zip(pdf[player_a_col], pdf[player_b_col], pdf[score_a_col]):
            ra = ratings.get(pa, base)
            rb = ratings.get(pb, base)
            if linear:
                e_a = 0.5 + (ra - rb) / (2.0 * scale)
                if e_a < 0.0:
                    e_a = 0.0
                elif e_a > 1.0:
                    e_a = 1.0
            else:
                e_a = 1.0 / (1.0 + 10.0 ** ((rb - ra) / scale))
            e_b = 1.0 - e_a
            sa = float(sa)
            ratings[pa] = ra + k * (sa - e_a)
            ratings[pb] = rb + k * ((1.0 - sa) - e_b)
            games[pa] = games.get(pa, 0) + 1
            games[pb] = games.get(pb, 0) + 1
            wins[pa] = wins.get(pa, 0) + (1 if sa == 1.0 else 0)
            wins[pb] = wins.get(pb, 0) + (1 if sa == 0.0 else 0)
        gval = pdf[group_col].iloc[0] if len(pdf) else None
        players = sorted(ratings)
        return pd.DataFrame(
            {
                group_col: [gval] * len(players),
                "player": players,
                "rating": [ratings[p] for p in players],
                "n_games": [games[p] for p in players],
                "n_wins": [wins.get(p, 0) for p in players],
            }
        )

    return grouped_apply(matches, [group_col], scan, out_schema)


def abc_classification(
    df: DataFrame,
    item_col: str,
    value_col: str,
    a_pct: int = 80,
    b_pct: int = 95,
) -> DataFrame:
    """ABC (Pareto) inventory classification: rank items by total value,
    class A = items up to ``a_pct``% of cumulative value, B to
    ``b_pct``%, C the tail — the standard 80/15/5 revenue-concentration
    cut.

    Exactness: per-item totals and the running cumulative are BIGINT
    window sums; class boundaries test cum·100 ≤ pct·total by integer
    cross-multiplication, so no float share ever decides a class.  The
    ranking window runs over the item-cardinality AGGREGATED relation
    (never the raw fact table), with (value, item) as a total order.
    Returns (item, value, rank, cum_value, cum_share, abc_class).
    """
    x = F.col(value_col).cast("long")
    byi = df.groupBy(F.col(item_col).alias("item")).agg(F.sum(x).alias("value"))
    w = Window.orderBy(F.col("value").desc(), F.col("item"))
    wrun = w.rowsBetween(Window.unboundedPreceding, 0)
    tot = byi.agg(F.sum("value").cast("long").alias("total"))
    ranked = (
        byi.withColumn("rank", F.row_number().over(w))
        .withColumn("cum_value", F.sum("value").over(wrun).cast("long"))
        .crossJoin(F.broadcast(tot))
    )
    cls = (
        F.when(F.col("cum_value") * 100 <= F.lit(int(a_pct)) * F.col("total"), "A")
        .when(F.col("cum_value") * 100 <= F.lit(int(b_pct)) * F.col("total"), "B")
        .otherwise("C")
    )
    return ranked.select(
        "item", "value", "rank", "cum_value",
        (F.col("cum_value") / F.col("total")).alias("cum_share"),
        cls.alias("abc_class"),
    )


def seq_pairs(
    df: DataFrame,
    user_col: str,
    item_col: str,
    time_col: str,
    max_gap_seconds: int | None = None,
    min_users: int = 2,
    max_events_per_user: int | None = None,
) -> DataFrame:
    """Frequent sequential pairs (a THEN b) across user event streams —
    the 2-element core of sequence mining (SPADE/PrefixSpan's first
    level): for every ordered item pair, how many DISTINCT users
    exhibit a followed by b (optionally within ``max_gap_seconds``).

    Plan: self-equi-join on the user id (per-user quadratic, bounded by
    ``max_events_per_user`` — the basket_pairs mega-user guard), strict
    time order a < b as an integer microsecond comparison, DISTINCT
    (user, a, b) before the count so a user contributes once however
    often they repeat the pattern.  All counts exact.  Returns
    (item_a, item_b, n_users).
    """
    t = F.unix_micros(F.col(time_col))
    base = df.select(
        F.col(user_col).alias("u"), F.col(item_col).alias("i"), t.alias("tus")
    )
    if max_events_per_user is not None:
        w = Window.partitionBy("u")
        base = base.withColumn("__n__", F.count(F.lit(1)).over(w)).where(
            F.col("__n__") <= max_events_per_user
        ).drop("__n__")
    a = base.select("u", F.col("i").alias("item_a"), F.col("tus").alias("ta"))
    b = base.select("u", F.col("i").alias("item_b"), F.col("tus").alias("tb"))
    cond = (F.col("ta") < F.col("tb")) & (F.col("item_a") != F.col("item_b"))
    if max_gap_seconds is not None:
        cond = cond & (F.col("tb") - F.col("ta") <= int(max_gap_seconds) * 1_000_000)
    pairs = a.join(b, on="u").where(cond).select("u", "item_a", "item_b").distinct()
    return (
        pairs.groupBy("item_a", "item_b")
        .agg(F.countDistinct("u").cast("long").alias("n_users"))
        .where(F.col("n_users") >= min_users)
    )


def beacon_detect(
    df: DataFrame,
    keys: list[str],
    time_col: str,
    order_col: str,
    cv_num: int = 1,
    cv_den: int = 10,
    min_gaps: int = 10,
) -> DataFrame:
    """C2-beacon detection (security analytics): a compromised host
    calls home on a timer, so its inter-arrival gaps are unusually
    REGULAR — flag keys whose gap coefficient-of-variation is below
    cv_num/cv_den with at least ``min_gaps`` observed gaps.

    Gaps are whole seconds (µs² overflows int64 — the impossible-travel
    lesson), and the CV test is exact integer cross-multiplication:

        CV² < (c_n/c_d)²  ⟺  c_d²·n·Σg² < (c_d² + c_n²)·(Σg)²

    with both sides in DECIMAL(38,0) (Σg² can pass 2^63 for sparse
    keys).  The modal gap rides a packed cnt·2³² + (2³¹−gap) argmax, so
    ties break to the SMALLEST gap deterministically.  One per-key lag
    window + two hash aggs; only (keys, gap) pairs shuffle.  Returns
    (keys…, n_gaps, span_s, mean_gap_s, modal_gap_s, modal_count,
    is_beacon).
    """
    t = F.unix_seconds(F.col(time_col))
    w = Window.partitionBy(*keys).orderBy(t, F.col(order_col))
    gap = (t - F.lag(t).over(w)).alias("gap")
    gaps = df.select(*keys, gap).where(F.col("gap").isNotNull())
    gapcnt = gaps.groupBy(*keys, "gap").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    pack = F.col("cnt") * F.lit(4294967296) + (F.lit(2147483647) - F.col("gap"))
    agg = gapcnt.groupBy(*keys).agg(
        F.sum("cnt").cast("long").alias("n_gaps"),
        F.sum(F.col("gap") * F.col("cnt")).cast("long").alias("span_s"),
        F.sum(F.col("gap").cast("decimal(38,0)") * F.col("gap") * F.col("cnt")).alias("__g2__"),
        F.max(pack).alias("__pk__"),
    )
    den2 = int(cv_den) * int(cv_den)
    lhs = F.lit(den2) * F.col("n_gaps").cast("decimal(38,0)") * F.col("__g2__")
    rhs = (
        F.lit(den2 + int(cv_num) * int(cv_num))
        * F.col("span_s").cast("decimal(38,0)")
        * F.col("span_s")
    )
    return agg.select(
        *keys,
        "n_gaps", "span_s",
        (F.col("span_s") / F.col("n_gaps")).alias("mean_gap_s"),
        (F.lit(2147483647) - F.col("__pk__") % F.lit(4294967296)).cast("long").alias("modal_gap_s"),
        (F.col("__pk__") / F.lit(4294967296)).cast("long").alias("modal_count"),
        ((F.col("n_gaps") >= min_gaps) & (lhs < rhs)).alias("is_beacon"),
    )


def cidr_match(
    ips: DataFrame,
    ip_col: str,
    subnets: list[tuple[str, int, int]],
) -> DataFrame:
    """Longest-prefix CIDR matching of integer IPv4 addresses against a
    small literal subnet table [(name, base_int, prefix_len), …] — the
    security-analytics enrichment join.

    The subnet side is a handful of literal rows broadcast against the
    fact table (the tolerated scalar-broadcast idiom); the match test
    ip >> (32−len) == base >> (32−len) is exact integer shifts, and
    longest-prefix wins through a packed (len, name-rank) max.  Rows
    matching nothing get subnet NULL.  Returns the input plus
    (subnet, prefix_len).
    """
    matched = None
    # evaluate longest prefixes first; coalesce keeps the first match
    for name, base, plen in sorted(subnets, key=lambda s: -s[2]):
        shift = 32 - int(plen)
        hit = F.shiftright(F.col(ip_col), shift) == F.lit(int(base) >> shift)
        expr = F.when(hit, F.struct(F.lit(name).alias("s"), F.lit(int(plen)).alias("p")))
        matched = expr if matched is None else F.coalesce(matched, expr)
    return ips.select(
        "*",
        matched.getField("s").alias("subnet"),
        matched.getField("p").cast("long").alias("prefix_len"),
    )


def triple_rules(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_count: int = 2,
    max_basket: int | None = 10,
) -> DataFrame:
    """Three-itemset association rules {a,b} → c: canonical a<b<c
    triples via TWO basket equi-joins (never a cross join — the
    triangle_count shape with basket_pairs' mega-basket cap), then all
    three rotations scored with

        confidence = n_abc / n_pair        lift = n_abc·N / (n_pair·n_c)

    — each ONE divide of exact BIGINTs.  Returns
    (ante_a, ante_b, conseq, n_triple, n_pair, n_conseq, confidence,
    lift).
    """
    bi = df.select(F.col(basket_col).alias("b"), F.col(item_col).alias("i")).distinct()
    if max_basket is not None:
        w = Window.partitionBy("b")
        bi = bi.withColumn("__bs__", F.count(F.lit(1)).over(w)).where(
            F.col("__bs__") <= int(max_basket)
        ).drop("__bs__")
    # bi fans out SEVEN ways (the n_baskets count, e1/e2/e3 in triples,
    # e1/e2 in pairs, items) — without materialization each consumer
    # re-runs the distinct + cap window from the fact scan (q538: ~6
    # lineitem scans in the plan).  One pass + local storage beats seven
    # shuffled recomputes (guide §5); on a cluster swap for a reliable
    # checkpoint dir.
    bi = bi.localCheckpoint(eager=True)
    n_baskets = bi.select("b").distinct().count()
    e1 = bi.select("b", F.col("i").alias("x"))
    e2 = bi.select("b", F.col("i").alias("y"))
    e3 = bi.select("b", F.col("i").alias("z"))
    triples = (
        e1.join(e2, on="b").where(F.col("x") < F.col("y"))
        .join(e3, on="b").where(F.col("y") < F.col("z"))
        .groupBy("x", "y", "z")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triple"))
        .where(F.col("n_triple") >= int(min_count))
        # three rotations read this (small, support-filtered) relation
        .localCheckpoint(eager=True)
    )
    pairs = (
        e1.join(e2, on="b").where(F.col("x") < F.col("y"))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pair"))
    )
    items = bi.groupBy(F.col("i").alias("c_item")).agg(
        F.count(F.lit(1)).cast("long").alias("n_conseq")
    )
    rots = []
    for pa, pb, pc in [("x", "y", "z"), ("x", "z", "y"), ("y", "z", "x")]:
        r = triples.select(
            F.col(pa).alias("ante_a"), F.col(pb).alias("ante_b"),
            F.col(pc).alias("conseq"), "n_triple",
        )
        rots.append(r)
    allr = rots[0].unionByName(rots[1]).unionByName(rots[2])
    j = (
        allr.join(
            pairs.select(F.col("x").alias("ante_a"), F.col("y").alias("ante_b"), "n_pair"),
            on=["ante_a", "ante_b"],
        )
        .join(items, allr.conseq == items.c_item)
    )
    return j.select(
        "ante_a", "ante_b", "conseq", "n_triple", "n_pair", "n_conseq",
        (F.col("n_triple") / F.col("n_pair")).alias("confidence"),
        ((F.col("n_triple") * F.lit(int(n_baskets))) / (F.col("n_pair") * F.col("n_conseq"))).alias("lift"),
    )


def greedy_knapsack(
    df: DataFrame,
    keys: list[str],
    id_col: str,
    value_col: str,
    weight_col: str,
    budget: int,
) -> DataFrame:
    """Greedy fractional-knapsack selection per key: rank items by
    value/weight density (descending, id tie-break — the ratio of two
    exact integers is an identical double cross-engine, so the sort is
    deterministic), then keep the prefix whose INTEGER running weight
    fits the budget — the classic 2-approximation shelf-stocking /
    capacity-planning heuristic as one sort window.

    Returns selected rows only: (keys…, id, value, weight,
    running_weight, density).
    """
    v = F.col(value_col).cast("long")
    wt = F.col(weight_col).cast("long")
    density = v / wt
    w = Window.partitionBy(*keys).orderBy(
        density.desc(), F.col(id_col)
    ).rowsBetween(Window.unboundedPreceding, 0)
    work = df.select(
        *keys, F.col(id_col), v.alias("value"), wt.alias("weight"),
        density.alias("density"),
        F.sum(wt).over(w).cast("long").alias("running_weight"),
    )
    return work.where(F.col("running_weight") <= int(budget))


_MARKOV_STATES = ["click", "error", "signup", "view"]


def markov_conversion_expr(conv: str = "purchase", removed: str | None = None) -> str:
    """3-step conversion probability from 'start' as ONE SQL expression
    over the pivoted transition-cell columns t_<i>_<j> — generated text
    that both Spark (F.expr) and the SQL oracle evaluate verbatim, so
    the float arithmetic is identical by construction.  ``removed``
    drops a channel without renormalizing (the classic removal-effect
    semantics: journeys through the removed channel simply fail)."""
    chs = [c for c in _MARKOV_STATES if c != removed]
    q = {i: f"t_{i}_{conv}" for i in ["start"] + _MARKOV_STATES}
    for _ in range(2):
        q = {
            i: "(" + f"t_{i}_{conv}"
            + "".join(f" + t_{i}_{j} * {q[j]}" for j in chs)
            + ")"
            for i in ["start"] + _MARKOV_STATES
        }
    return q["start"]


def markov_attribution(
    df: DataFrame,
    user_col: str,
    type_col: str,
    order: list[str],
    conv: str = "purchase",
) -> DataFrame:
    """Markov removal-effect attribution (Anderl et al.): credit each
    channel by how much the 3-step start→conversion probability drops
    when journeys through it fail.

    The journey log reduces to transition counts (one per-user ordered
    window + one hash agg), conversion-state outflows are excluded
    (absorbing), each transition probability is ONE exact-integer
    divide, and the 25 cells pivot onto a SINGLE row (the Cramér's-V
    fixed-cell unroll).  The 3-step absorption polynomial and its four
    removal variants are generated EXPRESSION TEXT shared verbatim
    with the SQL oracle — engine-identical float chains by
    construction.  Returns (channel, conv_full, conv_removed,
    removal_effect) — effect = (full − removed)/full.
    """
    w = Window.partitionBy(user_col).orderBy(*order)
    t = F.col(type_col)
    ordered = df.select(
        t.alias("__j__"), F.lag(t).over(w).alias("__prev__")
    )
    trans = ordered.where(
        F.col("__prev__").isNull() | (F.col("__prev__") != conv)
    ).select(F.coalesce(F.col("__prev__"), F.lit("start")).alias("i"), F.col("__j__").alias("j"))
    counts = trans.groupBy("i", "j").agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = counts.groupBy("i").agg(F.sum("n").cast("long").alias("ni"))
    cells = counts.join(tot, "i").select("i", "j", (F.col("n") / F.col("ni")).alias("t"))
    pivot_cols = [
        F.coalesce(
            F.max(F.when((F.col("i") == i) & (F.col("j") == j), F.col("t"))),
            F.lit(0.0),
        ).alias(f"t_{i}_{j}")
        for i in ["start"] + _MARKOV_STATES
        for j in _MARKOV_STATES + [conv]
    ]
    m = cells.agg(*pivot_cols)
    full = markov_conversion_expr(conv, None)
    outs = []
    for c in _MARKOV_STATES:
        rem = markov_conversion_expr(conv, c)
        outs.append(
            m.select(
                F.lit(c).alias("channel"),
                F.expr(full).alias("conv_full"),
                F.expr(rem).alias("conv_removed"),
                ((F.expr(full) - F.expr(rem)) / F.expr(full)).alias("removal_effect"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def als_rank1(
    df: DataFrame,
    user_col: str,
    item_col: str,
    rating_col: str,
    n_rounds: int = 2,
) -> DataFrame:
    """Rank-1 alternating least squares (the distributed recommender
    trainer in miniature): item factors v and user factors u alternate
    closed-form updates u_u = Σ_j r·v_j / Σ_j v_j², v_j = Σ_u r·u_u /
    Σ_u u_u², starting from v ≡ 1.

    Every update denominator and numerator is a KEY-ORDERED LEFT FOLD
    over the rating relation's per-key factor arrays (F.aggregate /
    list_reduce — never a hash-agg float sum), and each rating is an
    exact integer, so both engines produce bit-identical factors after
    any bounded number of rounds (bounded rounds ARE the algorithm —
    the pagerank/kmeans contract).  Scale shape: each half-step is one
    equi-join of the rating relation with the current factor vector +
    one grouped fold — the classic ALS shuffle; factors never visit
    the driver.  Returns (item, v) after ``n_rounds`` full rounds.
    """
    r = F.col(rating_col).cast("long")
    ratings = df.select(
        F.col(user_col).alias("__u__"), F.col(item_col).alias("__j__"), r.alias("__r__")
    )

    def _fold2(grouped, key, sort_key, num_term, den_term, out_name):
        arr = F.array_sort(
            F.collect_list(F.struct(F.col(sort_key), num_term.alias("n"), den_term.alias("d")))
        )
        num = F.aggregate(
            F.transform(arr, lambda s: s.getField("n")), F.lit(0.0), lambda a, x: a + x
        )
        den = F.aggregate(
            F.transform(arr, lambda s: s.getField("d")), F.lit(0.0), lambda a, x: a + x
        )
        return grouped.groupBy(key).agg((num / den).alias(out_name))

    v = None  # v ≡ 1.0 on the first round
    for _ in range(n_rounds):
        if v is None:
            withv = ratings.withColumn("__v__", F.lit(1.0))
        else:
            withv = ratings.join(v, "__j__")
        u = _fold2(
            withv, "__u__", "__j__",
            F.col("__r__") * F.col("__v__"),
            F.col("__v__") * F.col("__v__"),
            "__uf__",
        )
        withu = ratings.join(u, "__u__")
        v = _fold2(
            withu, "__j__", "__u__",
            F.col("__r__") * F.col("__uf__"),
            F.col("__uf__") * F.col("__uf__"),
            "__v__",
        )
    return v.select(F.col("__j__").alias(item_col), F.col("__v__").alias("v"))


def _gale_shapley_round(state: dict, rank_map: dict, t_map: dict) -> dict:
    """One deferred-acceptance round over ``state`` {w: (f | None,
    n_prop)}: ``rank_map`` {(w, rank): (f, t_score)}, ``t_map``
    {(w, f): t_score}. An incumbent with no (w, f) preference row makes
    no bid, so it loses its firm — the replaced loop dropped it in the
    inner join with the preference table. Plain Python, run inside
    q615's grouped Arrow task (queries16._gale_shapley_rounds); it lives
    here because a Python worker can import this module on its own."""
    proposers: set = set()
    cand: list = []  # (f, t_score, w)
    for w, (f, np_) in state.items():
        if f is None:
            nxt = rank_map.get((w, np_ + 1))
            if nxt is not None:
                proposers.add(w)
                cand.append((nxt[0], nxt[1], w))
        else:
            t = t_map.get((w, f))
            if t is not None:
                cand.append((f, t, w))
    best: dict = {}  # f -> (t, w): max t, tie min w
    for f, t, w in cand:
        cur = best.get(f)
        if cur is None or t > cur[0] or (t == cur[0] and w < cur[1]):
            best[f] = (t, w)
    winner_firm = {w: f for f, (_, w) in best.items()}
    return {
        w: (winner_firm.get(w), np_ + (1 if w in proposers else 0))
        for w, (f, np_) in state.items()
    }
